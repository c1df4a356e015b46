"""beats_spark — a PySpark-native parse → enrich → route → aggregate engine.

A from-scratch reimplementation of the query/data-processing capabilities of
Elastic Beats (reference: mjwolf/beats, studied read-only) re-expressed in
idiomatic Spark: DataFrame/SQL plans optimized by Catalyst, vectorized
pandas/Arrow UDFs for pattern-bank parsing, map-literal lookups for
enrichment, and first-match-wins routing compiled to `coalesce(when(...))`
chains.

Design notes (scale-first):
- The unit of data is a DataFrame row per transcript turn/event, not a
  per-event Go map (reference: libbeat/beat/event.go:52-62). Fixed StructType
  columns make every operator vectorizable and codegen-able.
- Conditions (libbeat/conditions/conditions.go:30-40) compile to Column
  predicates, so Catalyst pushes them into the parquet/Iceberg scan.
- Parsing (dissect/grok) compiles once per pattern bank to one regex
  executed via pandas `str.extract` over Arrow batches — no per-row Python.
- Routing (libbeat/outputs/outil/select.go) compiles to a `_sink` column;
  fan-out writes every sink in one `partitionBy(_sink)` pass.
"""

__version__ = "0.1.0"

from beats_spark.session import get_spark  # noqa: F401


def __getattr__(name):
    """Lazy top-level API (keeps `import beats_spark` JVM-free):

    compile_pipeline, compile_condition, route, fan_out, full_pipeline —
    the main library entry points, importable as `beats_spark.<name>`."""
    lazy = {
        "compile_pipeline": ("beats_spark.compiler", "compile_pipeline"),
        "compile_condition": ("beats_spark.conditions", "compile_condition"),
        "route": ("beats_spark.routing", "route"),
        "fan_out": ("beats_spark.routing", "fan_out"),
        "full_pipeline": ("beats_spark.pipeline", "full_pipeline"),
        "reader_chain": ("beats_spark.sources", "reader_chain"),
    }
    if name in lazy:
        import importlib

        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'beats_spark' has no attribute {name!r}")
