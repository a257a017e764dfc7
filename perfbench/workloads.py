"""The benchmark workloads, each a closed loop: one caller issues a job,
waits for its complete written result, then issues the next.

- ``redact-mixed``: parquet -> ``pipeline.redact_full`` -> parquet over
  5x-fill text+media documents with periodic 20k-span mega documents and
  a fixed share of rotated-page documents that must be quarantined. The
  kernel and the pyarrow direct-scan boundary do nearly all the work; the
  mega documents make task skew visible.
- ``resume-curate``: a leased ``checkpoint.run_resumable`` over small
  (1x-fill) documents, killed after half its batches and finished by a
  fresh call, followed by a pass of curation queries over seeded
  TPC-H-style tables. Per-batch rescans, writes, lineage, manifest
  commits and query shuffles dominate; the kernel does little.

Every run starts with the same set-up measurement: N_SETUPS rounds of
``get_spark`` + Python-worker warm-up at ``local[nproc]`` (the first one
launches the JVM), reported as their median; the last session is kept.
Unmeasured warm-up jobs then fill the JVM's JIT and code caches, and
the timed loop runs for ``--seconds`` (at least a minimum number of
jobs). Times are medians over the loop's jobs. ``peak_rss_mb`` is the
median over the loop's jobs of the summed per-process peak resident
memory of the driver JVM and its Python workers during the job (see
``trace.PeakRss``); the JVM's heap is fixed and resident from launch so
that GC heap sizing does not move it between runs.

With tracing on, the run repeats that untraced measurement, then opens a
session with Spark's event log on and repeats the jobs with spans around
every call into the program. The per-layer numbers come from that traced
part; ``trace.overhead_s`` is its median job time minus the untraced
median of the same run (the traced resumable run is driven one batch per
call, so the overhead includes those extra calls).
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from statistics import median

import pyarrow.dataset as pads

from bench import BENCH_QUERIES
from perfbench import check, inputs, metrics
from perfbench.trace import PeakRss, Tracer, dominant_stage, parse_event_log, stages_of

#: Spark cores of the measured sessions: every core the process may use.
NPROC = len(os.sched_getaffinity(0))

# the first round launches the JVM and is never the median
N_SETUPS = 4
#: unmeasured redact-mixed jobs before timing: on 4 cores the first job
#: of a session takes ~2x a settled one and the second ~1.2x
REDACT_WARMUPS = 2
KERNEL_SAMPLE = 200  # seeded ordinary documents checked and timed per run

REDACT_SPEC = inputs.CorpusSpec(
    n_docs=8_000, fill=5, mega_every=4_000, rotated_per_mille=2,
    hit_percent=70, n_files=16,
)
RESUME_SPEC = inputs.CorpusSpec(
    n_docs=8_000, fill=1, mega_every=0, rotated_per_mille=2,
    hit_percent=70, n_files=16,
)
RESUME_BUCKETS = 16
RESUME_BUCKETS_PER_BATCH = 4
RESUME_KILL_AFTER = 2  # of 4 batches
# Shorter than one batch, so the killed run's lease has always expired
# when the fresh call starts: resume time never includes a lease wait.
RESUME_LEASE_TTL = 0.5

CURATION_SCALE = 0.02
#: The timed subset of bench.BENCH_QUERIES, one per operator family
#: (aggregation, window, range join, multi-way join with top-k, vector
#: search): the full list takes ~40 s per cold pass on 4 cores, more
#: than a run can spend.
CURATION_QUERIES = [
    q for q in BENCH_QUERIES
    if q in {
        "q1_pricing_summary", "gap_sessionize", "interval_overlap_join",
        "shipping_priority", "ann_cosine_topk",
    }
]
CURATION_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


#: End-to-end metrics (tracing off) and their units; every workload
#: reports all of them.
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics (tracing on) and their units. A workload reports 0
#: for the metrics of layer calls it does not make.
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warm_workers_s": "s",
    "kernel.redact_us_per_doc": "us",
    "kernel.mega_redact_ms_per_doc": "ms",
    "kernel.rule_hits": "count",
    "pipeline.redact_full_noop_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.boundary_us_per_doc": "us",
    "pipeline.tasks": "count",
    "pipeline.task_p50_s": "s",
    "pipeline.task_max_s": "s",
    "pipeline.task_skew": "ratio",
    "pipeline.docs_per_s_1core": "docs/s",
    "pipeline.scaling_eff": "ratio",
    "pipeline.input_records_read": "count",
    "pipeline.scan_amplification": "ratio",
    "checkpoint.run_resumable_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.batch_p50_s": "s",
    "checkpoint.batch_max_s": "s",
    "checkpoint.committed_batches_s": "s",
    "checkpoint.read_metrics_s": "s",
    "checkpoint.batches_committed": "count",
    "checkpoint.lineage_rows": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amplification": "ratio",
    **{f"queries.{q}_s": "s" for q in CURATION_QUERIES},
    "queries.shuffle_bytes": "bytes",
    "queries.task_skew": "ratio",
    "queries.oracle_mismatches": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _rules():
    from pdfredact_spark.fixtures import SSN_RULE

    return [SSN_RULE]


class Run:
    """State of one benchmark run: paths, seed, timing budget, tracer and
    the metrics gathered so far."""

    def __init__(
        self, work: str, scratch: str, seed: int, seconds: float, trace: bool,
        rss: PeakRss,
    ):
        self.work = work
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rss = rss
        self.tracer = Tracer(enabled=False)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.setup_times: list[float] = []
        self._event_dir = os.path.join(scratch, "eventlog")
        self._n_out = 0

    # -- sessions ---------------------------------------------------------
    def session(self, cores: int, event_log: bool = False):
        """get_spark + Python-worker warm-up; returns (spark, seconds)."""
        from pdfredact_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.scratch, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                # the whole heap resident from launch: the JVM's share of
                # peak RSS then does not depend on when its GC grows it
                f" -Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
        }
        if event_log:
            os.makedirs(self._event_dir, exist_ok=True)
            extra["spark.eventLog.enabled"] = "true"
            extra["spark.eventLog.dir"] = "file://" + self._event_dir
            extra["spark.eventLog.compress"] = "false"
            extra["spark.eventLog.rolling.enabled"] = "false"
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark(
                master=f"local[{cores}]", app_name="perfbench", extra=extra
            )
            spark.sparkContext.setLogLevel("ERROR")
        tr.bind(spark)
        with tr.span("session.warm_workers"):
            _warm_workers(spark)
        return spark, time.perf_counter() - t0

    def measured_setups(self):
        """N_SETUPS set-up rounds; returns the last session, kept open."""
        spark = None
        for i in range(N_SETUPS):
            spark, dt = self.session(NPROC)
            self.setup_times.append(dt)
            if i + 1 < N_SETUPS:
                spark.stop()
        self.e2e["setup_s"] = median(self.setup_times)
        return spark

    def out_path(self, name: str) -> str:
        self._n_out += 1
        return os.path.join(self.scratch, f"{name}-{self._n_out}")

    def loop(self, job, min_reps: int = 1) -> list[float]:
        """Closed loop: run ``job()`` back to back until ``seconds`` have
        passed (at least ``min_reps`` times); returns each job's seconds."""
        times = []
        t_end = time.perf_counter() + self.seconds
        while len(times) < min_reps or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            job()
            times.append(time.perf_counter() - t0)
        return times

    def measure(self, job, min_reps: int = 1) -> list[float]:
        """The workload's timed loop (tracing off); also records the peak
        resident memory of the Spark processes during each job and
        reports the median over jobs."""
        peaks = []

        def measured_job():
            self.rss.reset()
            job()
            peaks.append(self.rss.peak_mb)

        times = self.loop(measured_job, min_reps)
        self.e2e["peak_rss_mb"] = median(peaks)
        return times

    def traced_session(self):
        """A fresh session with the event log on and spans recorded."""
        self.tracer = Tracer(enabled=True)
        spark, _ = self.session(NPROC, event_log=True)
        return spark

    def finish_trace(self, spark) -> dict:
        """Stop the traced session and return its parsed event log."""
        app_id = spark.sparkContext.applicationId
        spark.stop()
        tr = self.tracer
        self.layer["session.get_spark_s"] = median(tr.durations("session.get_spark"))
        self.layer["session.warm_workers_s"] = median(
            tr.durations("session.warm_workers")
        )
        return parse_event_log(self._event_dir, app_id)

    def record_overhead(self, untraced: list[float], traced: list[float]) -> None:
        self.layer["trace.wall_s"] = median(traced)
        self.layer["trace.overhead_s"] = median(traced) - median(untraced)


def _warm_workers(spark) -> None:
    """Start one Python worker per core (the ``noop`` sink forces it)."""
    n = spark.sparkContext.defaultParallelism

    def ident(batches):
        yield from batches

    spark.range(n, numPartitions=n).mapInArrow(ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _spec_key(name: str, spec, seed: int) -> str:
    digest = hashlib.sha1(repr(spec).encode()).hexdigest()[:10]
    return f"{name}-{digest}-seed{seed}"


def _corpus(run: Run, name: str, spec: inputs.CorpusSpec) -> tuple[str, dict]:
    path, facts = inputs.cached(
        os.path.join(run.work, "inputs"), _spec_key(name, spec, run.seed),
        lambda p: inputs.write_corpus(spec, run.seed, p),
    )
    return os.path.join(path, "data"), facts


def _read_docs(path: str, doc_ids: set[str]) -> dict[str, list]:
    """doc_id -> spans (dicts) for ``doc_ids``, read directly with pyarrow."""
    import pyarrow.compute as pc

    ds = pads.dataset(path, format="parquet", partitioning="hive")
    tbl = ds.to_table(
        columns=["doc_id", "spans"], filter=pc.field("doc_id").isin(sorted(doc_ids))
    )
    return dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("spans").to_pylist()))


def _sample_ids(facts: dict, seed: int, rotated: set[str]) -> list[str]:
    """Seeded ordinary (non-mega, non-rotated) documents for span checks."""
    rng = random.Random(seed ^ 0x5EED)
    mega = set(facts["mega"])
    pool = [
        f"d{i:09d}" for i in range(facts["n_docs"])
        if f"d{i:09d}" not in mega and f"d{i:09d}" not in rotated
    ]
    return rng.sample(pool, min(KERNEL_SAMPLE, len(pool)))


def _kernel_reference(inputs_by_id: dict[str, list], trace_times: dict | None):
    """Reference (spans, hits) per document from the kernel's columnar core
    (what ``kernel.redact_document`` wraps and the Spark stage calls),
    in-process on one thread. When ``trace_times`` is given, records each
    kernel call's seconds under the document id."""
    from pdfredact_spark.kernel import (
        cols_from_spans,
        redact_document_cols,
        spans_from_cols,
    )

    rules = _rules()
    ref = {}
    for d, spans in inputs_by_id.items():
        cols = cols_from_spans(spans)
        t0 = time.perf_counter()
        k, t, r, o, _regions, hits = redact_document_cols(d, *cols, rules)
        if trace_times is not None:
            trace_times[d] = time.perf_counter() - t0
        ref[d] = (check.span_tuples(spans_from_cols(k, t, r, o)), hits)
    return ref


def _check_redacted(
    run: Run, corpus: str, facts: dict, out_ids: list, quarantined: list,
    out_path: str, hits_total: int, trace_times: dict | None,
) -> dict:
    """Exact accounting plus span-sequence equality against the kernel for
    a seeded sample and every mega document; adds to attempted/failed and
    returns the kernel reference as doc_id -> (span tuples, hits)."""
    rotated = set(facts["rotated"])
    input_ids = [f"d{i:09d}" for i in range(facts["n_docs"])]
    failed = check.routing_failures(input_ids, out_ids, quarantined, rotated)

    sample = _sample_ids(facts, run.seed, rotated) + list(facts["mega"])
    ref = _kernel_reference(_read_docs(corpus, set(sample)), trace_times)
    got = _read_docs(out_path, set(sample))
    failed |= check.span_mismatches(
        {d: check.span_tuples(s) for d, s in got.items()},
        {d: spans for d, (spans, _h) in ref.items()},
    )
    run.attempted += facts["n_docs"] + 1
    run.failed += len(failed) + (hits_total != facts["expected_hits"])
    return ref


def _kernel_metrics(run: Run, facts: dict, kernel_times: dict, ref: dict) -> float:
    """kernel.* from the timed reference calls; returns the corpus-weighted
    single-thread kernel microseconds per document."""
    mega = set(facts["mega"])
    small = [t for d, t in kernel_times.items() if d not in mega]
    big = [t for d, t in kernel_times.items() if d in mega]
    small_us = sum(small) / len(small) * 1e6
    mega_ms = sum(big) / len(big) * 1e3 if big else 0.0
    run.layer["kernel.redact_us_per_doc"] = small_us
    run.layer["kernel.mega_redact_ms_per_doc"] = mega_ms
    run.layer["kernel.rule_hits"] = sum(h for _s, h in ref.values())
    return metrics.weighted_kernel_us(
        facts["n_docs"] - len(mega), small_us, len(mega), mega_ms
    )


# ---------------------------------------------------------------------------
# redact-mixed
# ---------------------------------------------------------------------------
def redact_mixed(run: Run) -> None:
    from pdfredact_spark.pipeline import redact_full

    corpus, facts = _corpus(run, "redact-mixed", REDACT_SPEC)
    rules = _rules()
    n = facts["n_docs"]

    def job(spark, out):
        with run.tracer.span("pipeline.redact_full"):
            df = spark.read.parquet(corpus)
            redact_full(df, rules).write.mode("overwrite").parquet(out)

    def noop(spark):
        with run.tracer.span("pipeline.redact_full_noop"):
            df = spark.read.parquet(corpus)
            redact_full(df, rules).write.format("noop").mode("overwrite").save()

    spark = run.measured_setups()
    out = run.out_path("redact")
    try:
        for _ in range(REDACT_WARMUPS):
            job(spark, out)
        times = run.measure(lambda: job(spark, out), min_reps=3)
    finally:
        spark.stop()
    wall = median(times)
    run.e2e["wall_s"] = wall
    run.e2e["docs_per_s"] = n / wall

    kernel_times = None
    if run.trace:
        spark1, _ = run.session(1)
        try:
            t1 = run.loop(lambda: job(spark1, out))
        finally:
            spark1.stop()
        dps1 = n / median(t1)
        run.layer["pipeline.docs_per_s_1core"] = dps1
        run.layer["pipeline.scaling_eff"] = metrics.scaling_eff(n / wall, dps1, NPROC)

        spark = run.traced_session()
        try:
            traced = []
            t_end = time.perf_counter() + run.seconds
            while len(traced) < 2 or time.perf_counter() < t_end:
                t0 = time.perf_counter()
                job(spark, out)
                traced.append(time.perf_counter() - t0)
                noop(spark)
        finally:
            log = run.finish_trace(spark)
        run.record_overhead(times, traced)
        noop_s = median(run.tracer.durations("pipeline.redact_full_noop"))
        run.layer["pipeline.redact_full_noop_s"] = noop_s
        run.layer["pipeline.sink_s"] = median(traced) - noop_s
        st = dominant_stage(stages_of(log, run.tracer.groups("pipeline.redact_full")))
        ts = metrics.task_stats(st["durations"] if st else [])
        run.layer["pipeline.tasks"] = ts["tasks"]
        run.layer["pipeline.task_p50_s"] = ts["p50_s"]
        run.layer["pipeline.task_max_s"] = ts["max_s"]
        run.layer["pipeline.task_skew"] = ts["skew"]
        kernel_times = {}

    tbl = pads.dataset(out, format="parquet").to_table(
        columns=["doc_id", "n_rule_hits", "error"]
    )
    ids = tbl.column("doc_id").to_pylist()
    errs = tbl.column("error").to_pylist()
    ref = _check_redacted(
        run, corpus, facts,
        [d for d, e in zip(ids, errs) if e is None],
        [d for d, e in zip(ids, errs) if e is not None],
        out, sum(tbl.column("n_rule_hits").to_pylist()), kernel_times,
    )

    if run.trace:
        kernel_us = _kernel_metrics(run, facts, kernel_times, ref)
        run.layer["pipeline.boundary_us_per_doc"] = metrics.boundary_us_per_doc(
            NPROC, noop_s, n, kernel_us
        )


# ---------------------------------------------------------------------------
# resume-curate
# ---------------------------------------------------------------------------
class _Resume:
    """The resumable-redaction half of resume-curate: a leased
    ``run_resumable`` over small documents, killed after about half its
    batches and finished by a fresh call."""

    def __init__(self, run: Run):
        from pdfredact_spark.checkpoint import KillSwitch, run_resumable

        self.run = run
        self.corpus, self.facts = _corpus(run, "resume-commit", RESUME_SPEC)
        self._kill = KillSwitch
        self._run_resumable = run_resumable
        self.out = None
        self.resumes: list[float] = []

    def call(self, spark, out_dir: str, kill_after: int | None) -> None:
        with self.run.tracer.span("checkpoint.run_resumable"):
            try:
                self._run_resumable(
                    spark, spark.read.parquet(self.corpus), out_dir, _rules(),
                    n_buckets=RESUME_BUCKETS,
                    buckets_per_batch=RESUME_BUCKETS_PER_BATCH,
                    kill_after_batches=kill_after, lease_ttl_sec=RESUME_LEASE_TTL,
                )
            except self._kill:
                pass

    def warm_up(self, spark) -> None:
        """One killed batch: exercises every per-batch path, unmeasured."""
        self.call(spark, self.run.out_path("resume"), 1)

    def job(self, spark, traced: bool) -> None:
        """Killed run(s) covering RESUME_KILL_AFTER batches, then a fresh
        call that finishes the job. Traced, the killed part is driven one
        batch per call, so each call's time is one batch's."""
        self.out = self.run.out_path("resume")
        for k in [1] * RESUME_KILL_AFTER if traced else [RESUME_KILL_AFTER]:
            self.call(spark, self.out, k)
        t0 = time.perf_counter()
        self.call(spark, self.out, None)
        if not traced:
            self.resumes.append(time.perf_counter() - t0)

    def trace_metrics(self, spark) -> None:
        from pdfredact_spark.checkpoint import committed_batches, read_metrics

        run, tr = self.run, self.run.tracer
        with tr.span("checkpoint.committed_batches"):
            done = committed_batches(self.out)
        with tr.span("checkpoint.read_metrics"):
            lineage = read_metrics(spark, self.out).count()
        calls = tr.durations("checkpoint.run_resumable")
        per_job = RESUME_KILL_AFTER + 1
        batches = [d for i, d in enumerate(calls) if i % per_job != RESUME_KILL_AFTER]
        run.layer["checkpoint.run_resumable_s"] = median(calls)
        run.layer["checkpoint.resume_s"] = median(self.resumes)
        run.layer["checkpoint.batch_p50_s"] = median(batches)
        run.layer["checkpoint.batch_max_s"] = max(batches)
        run.layer["checkpoint.committed_batches_s"] = tr.durations(
            "checkpoint.committed_batches"
        )[0]
        run.layer["checkpoint.read_metrics_s"] = tr.durations("checkpoint.read_metrics")[0]
        run.layer["checkpoint.batches_committed"] = len(done)
        run.layer["checkpoint.lineage_rows"] = lineage
        written = inputs.dir_bytes(self.out)
        run.layer["checkpoint.bytes_written"] = written
        run.layer["checkpoint.write_amplification"] = metrics.ratio(
            written, inputs.dir_bytes(os.path.join(self.out, "data"))
        )

    def scan_metrics(self, log: dict) -> None:
        """Input records the last traced job's calls scanned."""
        per_job = RESUME_KILL_AFTER + 1
        last = self.run.tracer.groups("checkpoint.run_resumable")[-per_job:]
        read = sum(st["input_records"] for st in stages_of(log, last))
        self.run.layer["pipeline.input_records_read"] = read
        self.run.layer["pipeline.scan_amplification"] = metrics.ratio(
            read, self.facts["n_docs"]
        )

    def check(self) -> None:
        """Accounting and span checks on the finished output, one lineage
        row per bucket, and a manifest for every batch."""
        from pdfredact_spark.checkpoint import committed_batches

        run, out = self.run, self.out

        def table(sub, cols):
            return pads.dataset(
                os.path.join(out, sub), format="parquet", partitioning="hive"
            ).to_table(columns=cols)

        ids = table("data", ["doc_id"]).column("doc_id").to_pylist()
        raw = table("raw", ["doc_id", "error"])
        quarantined = [
            d for d, e in zip(raw.column("doc_id").to_pylist(), raw.column("error").to_pylist())
            if e is not None
        ]
        lin = table("metrics", ["bucket", "n_rule_hits"])
        kernel_times = {} if run.trace else None
        ref = _check_redacted(
            run, self.corpus, self.facts, ids, quarantined, os.path.join(out, "data"),
            sum(lin.column("n_rule_hits").to_pylist()), kernel_times,
        )
        if run.trace:
            _kernel_metrics(run, self.facts, kernel_times, ref)
        n_batches = -(-RESUME_BUCKETS // RESUME_BUCKETS_PER_BATCH)
        run.attempted += 2
        run.failed += sorted(lin.column("bucket").to_pylist()) != list(range(RESUME_BUCKETS))
        run.failed += len(committed_batches(out)) != n_batches


class _Curation:
    """The curation half of resume-curate: the CURATION_QUERIES pass over
    seeded tables, each result collected to the driver and compared with
    its DuckDB oracle outside the timed region."""

    def __init__(self, run: Run):
        from pdfredact_spark.queries import ORACLE_SQL, SQL_QUERIES

        self.run = run
        path, facts = inputs.cached(
            os.path.join(run.work, "inputs"), f"curation-{CURATION_SCALE}-seed{run.seed}",
            lambda p: _write_curation(run.seed, p),
        )
        self.tables = os.path.join(path, "data")
        self.n_documents = facts["n_documents"]
        self._queries = SQL_QUERIES
        self._oracles = ORACLE_SQL
        self.results: dict = {}
        self.errors: dict = {}

    def run_pass(self, spark) -> None:
        self.results, self.errors = {}, {}
        for name in CURATION_QUERIES:
            with self.run.tracer.span(f"queries.{name}"):
                try:
                    self.results[name] = self._queries[name](spark, self.tables).toPandas()
                except Exception as e:  # noqa: BLE001 — counted as a failed query
                    self.errors[name] = f"{type(e).__name__}: {e}"

    def failures(self) -> list[str]:
        """Queries that raised or do not match their oracle."""
        bad = list(self.errors) + _oracle_mismatches(self.tables, self.results, self._oracles)
        for name in bad:
            print(f"query {name} failed: {self.errors.get(name, 'oracle mismatch')}")
        return bad

    def trace_metrics(self, log: dict, n_passes: int) -> None:
        run, tr = self.run, self.run.tracer
        all_stages = []
        for name in CURATION_QUERIES:
            run.layer[f"queries.{name}_s"] = median(tr.durations(f"queries.{name}"))
            all_stages += stages_of(log, tr.groups(f"queries.{name}"))
        run.layer["queries.shuffle_bytes"] = sum(
            st["shuffle_write_bytes"] for st in all_stages
        ) / n_passes
        st = dominant_stage(all_stages)
        run.layer["queries.task_skew"] = metrics.task_stats(st["durations"] if st else [])["skew"]
        run.layer["queries.oracle_mismatches"] = len(self.failures())


def resume_curate(run: Run) -> None:
    """One operator batch: a killed-and-resumed resumable redaction of
    small documents, then the curation queries, in one session. docs/s
    counts the redacted and the curated documents."""
    resume, curation = _Resume(run), _Curation(run)
    n = resume.facts["n_docs"] + curation.n_documents

    def job(spark, traced: bool = False) -> None:
        resume.job(spark, traced)
        curation.run_pass(spark)

    spark = run.measured_setups()
    try:
        resume.warm_up(spark)
        curation.run_pass(spark)  # warm-up, unmeasured
        times = run.measure(lambda: job(spark))
    finally:
        spark.stop()
    wall = median(times)
    run.e2e["wall_s"] = wall
    run.e2e["docs_per_s"] = n / wall

    bad = curation.failures()
    run.attempted += len(CURATION_QUERIES)
    run.failed += len(bad)

    if run.trace:
        spark = run.traced_session()
        traced = []
        try:
            t_end = time.perf_counter() + run.seconds
            while not traced or time.perf_counter() < t_end:
                t0 = time.perf_counter()
                job(spark, traced=True)
                traced.append(time.perf_counter() - t0)
            resume.trace_metrics(spark)
        finally:
            log = run.finish_trace(spark)
        run.record_overhead(times, traced)
        resume.scan_metrics(log)
        curation.trace_metrics(log, len(traced))
    resume.check()


def _write_curation(seed: int, path: str) -> dict:
    tables = inputs.curation_tables(seed, CURATION_SCALE)
    inputs.write_tables(tables, path)
    return {"n_documents": tables["documents"].num_rows}


def _oracle_mismatches(tables: str, results: dict, oracle_sql: dict) -> list[str]:
    """Queries whose result differs from its DuckDB oracle under the
    repository's comparison (sorted columns and rows, row count, column
    names, value hash)."""
    import duckdb
    import pandas as pd

    from tools.oracle_sweep import canon

    con = duckdb.connect()
    try:
        for t in CURATION_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')"
            )
        bad = []
        for name, got in results.items():
            sdf = canon(got)
            odf = canon(con.execute(oracle_sql[name]).df())
            same = (
                len(sdf) == len(odf)
                and list(sdf.columns) == list(odf.columns)
                and int(pd.util.hash_pandas_object(sdf, index=False).sum())
                == int(pd.util.hash_pandas_object(odf, index=False).sum())
            )
            if not same:
                bad.append(name)
        return bad
    finally:
        con.close()


WORKLOADS = {
    "redact-mixed": redact_mixed,
    "resume-curate": resume_curate,
}
