"""Metric arithmetic for the benchmark — pure functions, unit-tested in
``perfbench/tests``.

Spans are ``(span_id, parent_id, name, start_s, end_s)`` tuples as the
tracer records them.
"""

from __future__ import annotations

import statistics


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by its direct children (overlapping children count
    once; a child running past its parent is clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, parent, _name, start, end in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _parent, _name, start, end in spans:
        covered = _union_length([
            (max(s, start), min(e, end))
            for s, e in children.get(sid, []) if e > start and s < end
        ])
        out[sid] = (end - start) - covered
    return out


def scaling_eff(docs_per_s_n: float, docs_per_s_1: float, cores: int) -> float:
    """Throughput at ``cores`` divided by ``cores`` x single-core throughput
    (1.0 = linear scaling)."""
    return docs_per_s_n / (cores * docs_per_s_1)


def weighted_kernel_us(
    n_small: int, small_us: float, n_mega: int, mega_ms: float
) -> float:
    """Single-thread kernel microseconds per document of a corpus with
    ``n_small`` ordinary and ``n_mega`` mega documents."""
    return (n_small * small_us + n_mega * mega_ms * 1000.0) / (n_small + n_mega)


def boundary_us_per_doc(
    cores: int, noop_s: float, n_docs: int, kernel_us_per_doc: float
) -> float:
    """Core-microseconds per document the fused job spends outside the
    kernel (scan, Arrow conversion, scheduling): the noop job's
    core-seconds per document minus the kernel's share."""
    return cores * noop_s * 1e6 / n_docs - kernel_us_per_doc


def ratio(numerator: float, denominator: float) -> float:
    """Amplification ratio (e.g. bytes read / corpus bytes)."""
    if denominator <= 0:
        raise ValueError("amplification base must be positive")
    return numerator / denominator


def task_stats(durations: list[float]) -> dict:
    """Count, median, max and skew (max / median) of task durations."""
    if not durations:
        return {"tasks": 0, "p50_s": 0.0, "max_s": 0.0, "skew": 0.0}
    p50 = statistics.median(durations)
    mx = max(durations)
    return {
        "tasks": len(durations),
        "p50_s": p50,
        "max_s": mx,
        "skew": mx / p50 if p50 > 0 else 0.0,
    }
