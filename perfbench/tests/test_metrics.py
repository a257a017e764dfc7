"""Tests of the benchmark's own arithmetic and correctness checks (no
Spark session). Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import check, inputs, metrics
from perfbench.workloads import E2E_UNITS, LAYER_UNITS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- span self time ---------------------------------------------------------
def test_self_time_subtracts_children():
    spans = [
        (0, None, "job", 0.0, 10.0),
        (1, 0, "a", 1.0, 3.0),
        (2, 0, "b", 5.0, 6.0),
    ]
    st = metrics.self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        (0, None, "job", 0.0, 10.0),
        (1, 0, "a", 1.0, 4.0),
        (2, 0, "b", 3.0, 6.0),
    ]
    assert metrics.self_times(spans)[0] == pytest.approx(5.0)


def test_self_time_clips_child_outliving_parent():
    spans = [(0, None, "job", 0.0, 2.0), (1, 0, "late", 1.0, 5.0)]
    assert metrics.self_times(spans)[0] == pytest.approx(1.0)


def test_self_time_ignores_grandchildren():
    spans = [
        (0, None, "job", 0.0, 10.0),
        (1, 0, "a", 0.0, 4.0),
        (2, 1, "a.inner", 1.0, 3.0),
    ]
    st = metrics.self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)


def test_tracer_reports_self_time_in_start_order():
    import time

    from perfbench.trace import Tracer

    tr = Tracer(enabled=True)
    with tr.span("job"):
        with tr.span("layer"):
            time.sleep(0.05)
        with tr.span("layer"):
            time.sleep(0.02)
    job = tr.durations("job")[0]
    first, second = tr.durations("layer")
    assert first > second
    wall = max(e for *_x, e in tr.spans) - min(s for *_x, s, _e in tr.spans)
    assert job == pytest.approx(wall - first - second)
    assert tr.groups("layer") == ["layer#1", "layer#2"]

    off = Tracer(enabled=False)
    with off.span("job"):
        pass
    assert off.spans == []


def test_peak_rss_keeps_a_childs_spike_until_reset():
    import subprocess
    import sys
    import time

    from perfbench.trace import PeakRss

    # the child touches 200 MB, frees it, then idles: a sampler reading
    # current RSS would miss the spike, the high-water mark keeps it
    code = (
        "import sys, time; b = bytearray(200 * 2**20); del b;"
        " print(flush=True); time.sleep(30)"
    )
    with PeakRss(interval=60) as rss:
        child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
        try:
            child.stdout.readline()
            assert rss.peak_mb >= 200
            rss.reset()
            time.sleep(0.05)
            assert rss.peak_mb < 100
        finally:
            child.kill()
            child.wait()


# -- scaling, boundary, amplification ----------------------------------------
def test_scaling_eff_linear_and_sublinear():
    assert metrics.scaling_eff(400.0, 100.0, 4) == pytest.approx(1.0)
    assert metrics.scaling_eff(300.0, 100.0, 4) == pytest.approx(0.75)


def test_weighted_kernel_us_mixes_small_and_mega_docs():
    # 3 docs at 100 us and one mega doc at 2 ms -> (300 + 2000) / 4
    assert metrics.weighted_kernel_us(3, 100.0, 1, 2.0) == pytest.approx(575.0)


def test_boundary_is_core_time_per_doc_minus_kernel():
    # 4 cores x 2 s over 8000 docs = 1000 core-us per doc; kernel 300 us
    assert metrics.boundary_us_per_doc(4, 2.0, 8000, 300.0) == pytest.approx(700.0)


def test_amplification_ratio():
    assert metrics.ratio(32_000, 8_000) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        metrics.ratio(1, 0)


def test_task_stats_skew():
    ts = metrics.task_stats([1.0, 1.0, 2.0, 4.0])
    assert ts["tasks"] == 4
    assert ts["p50_s"] == pytest.approx(1.5)
    assert ts["max_s"] == pytest.approx(4.0)
    assert ts["skew"] == pytest.approx(4.0 / 1.5)


# -- correctness checks -------------------------------------------------------
def _redacted_reference(doc):
    from pdfredact_spark.fixtures import SSN_RULE
    from pdfredact_spark.kernel import redact_document

    out, _regions, _hits = redact_document(doc["doc_id"], doc["spans"], [SSN_RULE])
    return check.span_tuples(out)


def test_corrupted_span_sequence_is_caught():
    from pdfredact_spark.fixtures import demo_doc

    doc = demo_doc("d1")
    want = {"d1": _redacted_reference(doc)}
    assert check.span_mismatches({"d1": list(want["d1"])}, want) == set()

    # a mask whose text leaked back in
    leaked = [
        (k, "123-45-6789" if k == "mask" else t, r, o) for k, t, r, o in want["d1"]
    ]
    assert check.span_mismatches({"d1": leaked}, want) == {"d1"}
    # two spans swapped
    swapped = list(want["d1"])
    swapped[1], swapped[2] = swapped[2], swapped[1]
    assert check.span_mismatches({"d1": swapped}, want) == {"d1"}
    # a span dropped, and a document missing
    assert check.span_mismatches({"d1": want["d1"][:-1]}, want) == {"d1"}
    assert check.span_mismatches({}, want) == {"d1"}


def test_routing_failures():
    ids = ["a", "b", "c", "r"]
    rotated = {"r"}
    assert check.routing_failures(ids, ["a", "b", "c"], ["r"], rotated) == set()
    assert check.routing_failures(ids, ["a", "b"], ["r"], rotated) == {"c"}
    assert check.routing_failures(ids, ["a", "b", "c", "c"], ["r"], rotated) == {"c"}
    assert check.routing_failures(ids, ["a", "b", "c", "r"], [], rotated) == {"r"}
    assert check.routing_failures(ids, ["b", "c"], ["a", "r"], rotated) == {"a"}
    assert check.routing_failures(ids, ["a", "b", "c", "x"], ["r"], rotated) == {"x"}


# -- seeded inputs ------------------------------------------------------------
SPEC = inputs.CorpusSpec(
    n_docs=300, fill=2, mega_every=100, rotated_per_mille=10, hit_percent=70, n_files=3
)


def test_corpus_is_a_function_of_the_seed():
    a, fa = inputs.corpus_docs(SPEC, 5)
    b, fb = inputs.corpus_docs(SPEC, 5)
    c, fc = inputs.corpus_docs(SPEC, 6)
    assert a == b and fa == fb
    assert a != c
    assert fa["mega"] != fc["mega"] or fa["rotated"] != fc["rotated"]


def test_corpus_facts_match_the_kernel():
    """expected_hits and the quarantine set agree with the kernel."""
    from pdfredact_spark.fixtures import SSN_RULE
    from pdfredact_spark.kernel import RotationError, redact_document_cols

    docs, facts = inputs.corpus_docs(SPEC, 3)
    assert len(facts["mega"]) == 3 and len(facts["rotated"]) == 3
    hits, quarantined = 0, set()
    for d, spans in docs:
        k, t, r, o = (list(x) for x in zip(*spans))
        try:
            hits += redact_document_cols(d, k, t, r, o, [SSN_RULE])[5]
        except RotationError:
            quarantined.add(d)
    assert quarantined == set(facts["rotated"])
    assert hits == facts["expected_hits"]


def test_curation_tables_have_the_query_schema():
    t = inputs.curation_tables(1, 0.001)
    assert set(t) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert t["lineitem"].schema.field("l_shipdate").type == inputs.pa.timestamp("us")
    assert t["embeddings"].column("embedding")[0].values.type == inputs.pa.float32()


# -- BENCHMARK.json agrees with the code ----------------------------------------
def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
