"""pdfredact_spark — a PySpark-native redaction-extraction engine.

A from-scratch re-creation of the query/data-processing capabilities of
daviburg/PdfRedact (a .NET PDF redaction CLI) re-expressed Spark-first over
an Iceberg-style table of interleaved text+media span documents:

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int32>>

Layers
------
- ``model``      — schemas, geometry<->offset encoding, Rule dataclass
- ``kernel``     — pure numpy/pandas per-page kernels (tokenize / match / group /
                   mask); exact-semantics port targets cited per function
- ``fixtures``   — deterministic fixture corpus mirroring the reference test suite
- ``plan``       — camelCase redaction-plan JSON (serializer parity)
- ``pipeline``   — the distributed engine: one shuffle-free Arrow-native
                   map stage per job (scan -> mapInArrow -> sink)
- ``checkpoint`` — per-partition lineage metrics + commit-log resume
- ``queries``    — driver-contract query inventory (+ DuckDB oracle SQL)
"""

from pdfredact_spark.spanmodel import Rule  # noqa: F401  (Spark-free)


def __getattr__(name):
    """Lazy re-exports of the engine surface (keeps `import pdfredact_spark`
    cheap — no Spark import until a schema or pipeline symbol is touched,
    so the pure kernel/spanmodel stay importable without pyspark)."""
    if name in ("DOC_SCHEMA", "SPAN_SCHEMA"):
        import importlib

        return getattr(importlib.import_module("pdfredact_spark.model"), name)
    surface = {
        "redact": "pipeline",
        "redact_full": "pipeline",
        "redact_with_hits": "pipeline",
        "locate_regions": "pipeline",
        "apply_plans": "pipeline",
        "regions_to_plans": "pipeline",
        "read_plans": "pipeline",
        "docs_to_df": "pipeline",
        "run_resumable": "checkpoint",
        "run_incremental": "streaming",
        "sessionize_stream": "streaming",
        "open_sessions": "streaming",
        "dedup_stream": "streaming",
        "compact_ledger": "streaming",
        "windowed_counts_stream": "streaming",
        "get_spark": "session",
        "Catalog": "catalog",
    }
    if name in surface:
        import importlib

        mod = importlib.import_module(f"pdfredact_spark.{surface[name]}")
        return getattr(mod, name)
    raise AttributeError(name)


__version__ = "0.1.0"
