"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: shuffle partitions are
sized to cores (not the 200 default), AQE is on (runtime broadcast/skew-join
re-planning), Arrow transfer is on for the pandas-UDF extraction stage, and
the session timezone is pinned to UTC so DuckDB oracle comparisons are exact.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it regardless of the
    driver's cwd — the local-mode equivalent of ``spark-submit --py-files``
    (north_rule deployment shape).

    The zip lives in the temp dir under a digest of the package sources
    (relative paths and bytes): checkouts with different sources get
    different zips, so executors that see only the pyFiles always import
    the driver's own code, and a zip for the same sources is reused."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = {}
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    sources[os.path.relpath(full, os.path.dirname(pkg_dir))] = f.read()
    digest = hashlib.sha256()
    for rel in sorted(sources):
        digest.update(f"{rel}\0{len(sources[rel])}\0".encode())
        digest.update(sources[rel])
    out = os.path.join(tempfile.gettempdir(),
                       f"pcrawler_spark_pyfiles-{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        tmp = out + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel in sorted(sources):
                z.writestr(rel, sources[rel])
        os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "pcrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local[N] → N threads; match shuffle parallelism to it
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # sized for the WIDE rows this engine ships through mapInPandas
        # (html pages ~3 KB/row: 4096 rows ≈ 12 MB/batch; 10000 made 30 MB
        # batches — guide §4.2 says lower it for large binary cells; narrow
        # relations are unaffected, they're never Python-bound here)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # moderate heap beats a huge one here: with 48g+, G1 pauses on
        # humongous binary-column allocations cost ~2× on the extract stage
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # CPU-bound Arrow extraction stages want splits sized for cores, not
        # for IO; 8 MB keeps the extract stage many-waves-wide so the last
        # wave tail is short (34 tasks on 32 slots = a 50% tail)
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # the generated-class cache (static, default 100 entries) must hold
        # the engine's working set: a warm-up plus one 200-company crawl and
        # its export use ~190 distinct classes, so at 100 the LRU cycles and
        # every crawl recompiles 265-280 classes (3.4-4.3 s of Janino time
        # in a ~22 s crawl); at 4096 a repeated crawl compiles none
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    # register at startup (works for local-cluster executors too) and again
    # dynamically for sessions created through a pre-existing context
    pyfiles = _package_zip()
    builder = builder.config("spark.submit.pyFiles", pyfiles)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(pyfiles)
    return spark
