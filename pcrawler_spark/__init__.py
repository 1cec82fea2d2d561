"""pcrawler_spark — a from-scratch PySpark-native crawl/extract/dedup engine.

Re-expresses what tranvietphuoc/pcrawler computes (6-phase crawl → extract →
dedup → join/export over web pages) as an idiomatic Spark pipeline:

* ``pcrawler_spark.kernels``   — pure-Python extraction kernels (no Spark),
  the byte-identity layer verified against golden fixtures.
* ``pcrawler_spark.functions`` — JVM-side URL canonicalizer/hash and the
  phone-normalizing pandas UDF.
* ``pcrawler_spark.operators`` — DataFrame-level operators (dedup, seen-set
  anti-join, politeness scheduler, export join/explode, similarity, ANN...).
* ``pcrawler_spark.plans``     — the epoch driver loop + parquet-backed
  atomic-commit table catalog (Iceberg-style snapshot semantics).
* ``pcrawler_spark.sources``   — deterministic synthetic page/seed/host
  generators (seed=42; no external data) and testdata loaders.

Design target: a 10^10-URL frontier on a multi-executor cluster; everything
here is partition-aware, shuffle-minimal and driver-loop-free except the
per-epoch commit decision.
"""

from . import _zipcache  # noqa: F401  (skips per-task zip directory re-reads)

__version__ = "0.1.0"
