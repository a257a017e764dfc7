"""Seeded input generation for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical parquet. Inputs are generated once per seed outside any
timed region and cached under the work directory; the program under test
only ever receives the files.

Two families:

- span-document corpora (``doc_id, spans``) for the redaction workloads,
  built from the fixture primitives of ``pdfredact_spark.fixtures``;
- a small TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings`` for the curation queries, with the column names, types
  and value ranges of the repository's query test data.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pdfredact_spark.fixtures import DEMO_X, PAGE1_LINES, PAGE2_LINES, mega_doc
from pdfredact_spark.model import DOC_SCHEMA, PAGE_BASE, encode_offset, page_marker_text

_SSN = re.compile(r"(\d{3})-(\d{2})-(\d{4})")

#: the document model as Arrow, exactly as the pipeline's direct scan expects it
DOC_ARROW_SCHEMA = to_arrow_schema(DOC_SCHEMA)


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one span-document corpus. ``mega_every`` = 0 disables mega
    documents; ``rotated_per_mille`` fixes the share of rotated-page
    documents that carry a hit on the rotated page and so must be
    quarantined."""

    n_docs: int
    fill: int
    mega_every: int
    rotated_per_mille: int
    hit_percent: int
    n_files: int


def _doc_spans(doc_id: str, lines1: list, lines2: list, rotation: int) -> list:
    """One document as (kind, text, media_ref, offset) tuples: page 1 text,
    an interleaved media span, then page 2 text — the fixture corpus
    layout with the line content chosen by the caller."""
    spans = [("page", page_marker_text(1, rotation), "", PAGE_BASE)]
    spans += [
        ("text", t, "", encode_offset(1, r, DEMO_X)) for r, t in enumerate(lines1)
    ]
    spans.append(("media", "", f"img:{doc_id}:1", encode_offset(1, len(lines1) + 1, 0.0)))
    spans.append(("page", page_marker_text(2, 0), "", 2 * PAGE_BASE))
    spans += [
        ("text", t, "", encode_offset(2, r, DEMO_X)) for r, t in enumerate(lines2)
    ]
    return spans


def corpus_docs(spec: CorpusSpec, seed: int) -> tuple[list, dict]:
    """Generate the corpus in memory. Returns (docs, facts) where docs is a
    list of (doc_id, spans-as-tuples) and facts records which documents
    the seed made mega, rotated and hit-bearing."""
    rng = random.Random(seed)
    mega_phase = rng.randrange(spec.mega_every) if spec.mega_every else -1
    n_rot = spec.n_docs * spec.rotated_per_mille // 1000
    candidates = [
        i for i in range(spec.n_docs)
        if not (spec.mega_every and i % spec.mega_every == mega_phase)
    ]
    rotated = set(rng.sample(candidates, n_rot))
    docs = []
    mega_ids, rotated_ids, hit_ids = [], [], []
    for i in range(spec.n_docs):
        doc_id = f"d{i:09d}"
        if spec.mega_every and i % spec.mega_every == mega_phase:
            d = mega_doc(doc_id)
            docs.append(
                (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])
            )
            mega_ids.append(doc_id)
            hit_ids.append(doc_id)
            continue
        digits = list("0123456789")
        rng.shuffle(digits)
        perm = str.maketrans("0123456789", "".join(digits))
        is_rot = i in rotated
        hit = is_rot or rng.randrange(100) < spec.hit_percent
        lines1 = [t.translate(perm) for t in PAGE1_LINES] * spec.fill
        lines2 = [t.translate(perm) for t in PAGE2_LINES] * spec.fill
        if not hit:
            # same layout, no SSN-shaped token: the rule finds nothing
            lines1 = [_SSN.sub(r"\1 \2 \3", t) for t in lines1]
            lines2 = [_SSN.sub(r"\1 \2 \3", t) for t in lines2]
        docs.append((doc_id, _doc_spans(doc_id, lines1, lines2, 90 if is_rot else 0)))
        if is_rot:
            rotated_ids.append(doc_id)
        if hit:
            hit_ids.append(doc_id)
    rot = set(rotated_ids)
    facts = {
        "n_docs": spec.n_docs,
        "mega": mega_ids,
        "rotated": rotated_ids,
        "n_hit_docs": len(hit_ids),
        # one rule hit per SSN-shaped token on a text span of every
        # document that is not quarantined
        "expected_hits": sum(
            len(_SSN.findall(t))
            for d, spans in docs if d not in rot
            for k, t, _r, _o in spans if k == "text"
        ),
    }
    return docs, facts


def docs_table(docs: list) -> pa.Table:
    """Columnar Arrow table for (doc_id, spans-as-tuples) documents."""
    offsets = [0]
    kinds, texts, refs, offs = [], [], [], []
    for _doc_id, spans in docs:
        for k, t, r, o in spans:
            kinds.append(k)
            texts.append(t)
            refs.append(r)
            offs.append(o)
        offsets.append(len(kinds))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offs, pa.int32()),
        ],
        fields=list(DOC_ARROW_SCHEMA.field("spans").type.value_type),
    )
    spans = pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), struct, type=DOC_ARROW_SCHEMA.field("spans").type
    )
    return pa.Table.from_arrays(
        [pa.array([d for d, _ in docs], pa.string()), spans], schema=DOC_ARROW_SCHEMA
    )


def write_corpus(spec: CorpusSpec, seed: int, path: str) -> dict:
    """Write the corpus as ``spec.n_files`` contiguous single-row-group
    parquet files under ``path``; returns the generation facts."""
    docs, facts = corpus_docs(spec, seed)
    os.makedirs(path)
    per = -(-len(docs) // spec.n_files)
    for f in range(spec.n_files):
        part = docs[f * per:(f + 1) * per]
        if part:
            pq.write_table(
                docs_table(part), os.path.join(path, f"part-{f:05d}.parquet"),
                row_group_size=len(part),
            )
    return facts


def dir_bytes(path: str) -> int:
    """Total size of the parquet files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# Curation tables
# ---------------------------------------------------------------------------
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _dates(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def curation_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-style tables at ``scale`` (1.0 = 150k orders), seeded."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_users = max(10, int(15_000 * scale))
    n_events = int(1_000_000 * scale)
    n_docs = int(50_000 * scale)
    n_vec = int(20_000 * scale)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, "1995-01-02", 2500, n_line),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    texts = []
    for _ in range(n_docs):
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), rng.integers(10, 100))]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], path: str) -> None:
    os.makedirs(path)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(path, f"{name}.parquet"))


def cached(cache_root: str, key: str, build) -> tuple[str, dict]:
    """Return (path, facts) for ``key``, building it with ``build(path)``
    on first use. A build lands under a temporary name and is renamed into
    place with its facts, so an interrupted build is never reused."""
    final = os.path.join(cache_root, key)
    facts_path = os.path.join(final, "facts.json")
    if os.path.isfile(facts_path):
        with open(facts_path) as fh:
            return final, json.load(fh)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    facts = build(os.path.join(tmp, "data"))
    with open(os.path.join(tmp, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, facts
