"""Correctness checks on the program's outputs. Each check returns the set
of failed document ids, so ``failed`` counts documents, not symptoms."""

from __future__ import annotations

import collections


def span_tuples(spans) -> list[tuple]:
    """A span list (dicts or Rows) as ``(kind, text, media_ref, offset)``
    tuples in sequence order."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def span_mismatches(got: dict, want: dict) -> set:
    """Documents whose output span sequence differs from the reference.
    ``got``/``want`` map doc_id -> span tuples; a doc missing from ``got``
    is a mismatch."""
    return {d for d, w in want.items() if got.get(d) != w}


def routing_failures(
    input_ids: list[str],
    out_ids: list[str],
    quarantined_ids: list[str],
    expected_quarantine: set[str],
) -> set:
    """Exact accounting: every input document appears exactly once, in the
    output if it is not expected in quarantine and in quarantine if it is.
    Returns missing, duplicated and misrouted documents."""
    seen = collections.Counter(out_ids) + collections.Counter(quarantined_ids)
    inputs = set(input_ids)
    failed = {d for d in inputs if seen[d] != 1}
    failed |= {d for d in seen if d not in inputs}
    failed |= {d for d in out_ids if d in expected_quarantine}
    failed |= {d for d in quarantined_ids if d not in expected_quarantine}
    return failed
