"""brontes_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of SorellaLabs/brontes (reference at
/root/reference; see SURVEY.md for the operator-by-operator mapping).

Not a port: the reference's per-block call-tree engine (Rust) is re-expressed
as declarative DataFrame / Spark SQL plans over flat columnar tables so that
Catalyst/Tungsten/AQE pick physical strategies that survive 100 TB-scale
inputs.

Layout:
  session     — tuned SparkSession factory (local test + cluster-ready confs)
  sources     — parquet table loaders (testdata star schema + fixture schemas)
  functions   — scalar/column helpers (hashing, text, vectors, decimal policy)
  operators   — the relational kernel from SURVEY.md §2.9: as-of joins,
                interval/range joins, window kernels, dedup family,
                delta accounting, expanding-window VWAP, similarity search
  plans       — named query plans with DuckDB-oracle SQL twins (driver gate)
  inspectors  — MEV inspector queries over the FIXTURES.md action model
  cli         — the `run` / `db` / `corpus` command line (batch range
                analysis; tip mode is not implemented)
"""

__version__ = "0.1.0"
