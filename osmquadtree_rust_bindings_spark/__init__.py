"""osmquadtree_rust_bindings_spark — a from-scratch PySpark-native
spatial-join + tiling engine with the query/data-processing capabilities of
``jharris2268/osmquadtree_rust_bindings`` (reference surveyed in SURVEY.md).

Not a port: the reference is a pyo3 binding over a Rust block-streaming
engine; this package re-expresses the same semantics (quadtree key
assignment with the 0.05 bbox buffer, weighted tile-tree grouping,
group-by-tile repartitioning, bbox/PIP/kNN/raster-vector spatial joins,
Count aggregates, differential compare, CDC merge) as DataFrame/Column
plans plus vectorized pandas/Arrow UDF kernels.

Layout
------
- ``kernels``    pure-numpy quadtree / mercator / calc_qts kernels and the
                 key constants (also the test oracle; normative spec =
                 SURVEY.md section 8)
- ``functions``  the key formulas as SQL text (``sqlgen``, shared with the
                 DuckDB oracle) and Column wrappers that parse it
- ``operators``  calc_qts, tiling, spatial joins, counts, diff/CDC, dedup,
                 text analysis, similarity search, image plumbing
- ``sources``    synthetic image+caption table generator (FIXTURES.md) and
                 the Iceberg-or-parquet catalog seam
- ``plans``      staged, checkpoint-resumable pipeline orchestrator
- ``checkpoint`` per-stage / per-partition lineage + metrics
"""

from osmquadtree_rust_bindings_spark import kernels  # noqa: F401

__version__ = "0.1.0"
