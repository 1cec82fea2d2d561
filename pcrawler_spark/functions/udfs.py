"""Column functions shared by the crawl plans: the JVM-side URL
canonicalizer and hash, and the Arrow-batched phone-normalizing UDF.

Page extraction is not here: every page crosses the Arrow boundary once,
in the fused ``mapInPandas`` stage of ``plans/singlepass.fused_extract``.

The 64-bit url_hash is Spark's built-in ``xxhash64`` over the canonical URL
string (JVM-side, codegen'd) so frontier/seen tables agree everywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import split_phones


@pandas_udf(T.ArrayType(T.StringType()))
def normalize_phones_udf(phone_text: pd.Series) -> pd.Series:
    return pd.Series([split_phones(p) for p in phone_text])


def canon_url_col(url_col) -> Column:
    """URL canonicalizer as pure JVM expressions (whole-stage codegen — the
    hot-path variant of kernels.urlnorm.canonicalize_url; parity asserted in
    tests/test_udfs.py).  Rules: trim; null for ''/N/A/no-host; add https://
    when scheme missing; lowercase scheme+host; drop fragment and default
    port; empty path → '/'.  Userinfo URLs ('user@host') are outside the
    crawl-corpus contract and are rejected (null) on BOTH paths, so url_hash
    and host can never silently diverge between the JVM and Python twins."""
    raw = F.trim(url_col if isinstance(url_col, Column) else F.col(url_col))
    # fast path: one gate regex recognizes already-canonical URLs (lowercase
    # scheme+host, a path, no fragment/port) — the overwhelming majority of a
    # real frontier — and skips the 6-regex normalization chain below
    already_canon = raw.rlike(r"^https?://[a-z0-9.\-]+/[^#]*$") & ~raw.rlike(r"^https?://[^/]*:")
    u = raw
    u = F.when(u.isNull() | u.isin("", "N/A", "n/a"), F.lit(None).cast("string")).otherwise(u)
    u = F.when(u.contains("://"), u).otherwise(F.concat(F.lit("https://"), u))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""), r"#.*$", ""
    )
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == F.lit("http")) & (port == "80"))
        | ((scheme == F.lit("https")) & (port == "443"))
    )
    netloc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    pathq = F.substring(rest, F.length(hostport) + F.lit(1), F.lit(100_000))
    pathq = F.when(pathq == "", F.lit("/")).when(
        pathq.startswith("?"), F.concat(F.lit("/"), pathq)
    ).otherwise(pathq)
    valid = scheme.isin("http", "https") & (host != "") & ~hostport.contains("@")
    slow = F.when(
        u.isNotNull() & valid, F.concat(scheme, F.lit("://"), netloc, pathq)
    ).otherwise(F.lit(None).cast("string"))
    return F.when(already_canon, raw).otherwise(slow)


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``canon_url``/``url_hash``/``host`` columns, all-JVM (codegen'd
    canonicalizer + xxhash64 — zero Python in the frontier/scheduling
    chain)."""
    return (
        df.withColumn("canon_url", canon_url_col(url_col))
        .withColumn("url_hash", F.xxhash64(F.col("canon_url")))
        .withColumn(
            "host",
            F.regexp_extract(F.col("canon_url"), r"^https?://([^/:@]+)", 1),
        )
    )
