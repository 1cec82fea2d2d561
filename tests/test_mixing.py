"""token_budget_mix (operators/mixing.py) — deterministic token-budget
corpus mixing.  The q62 oracle-parity run certifies the sf0.01 corpus
against DuckDB; these pin the semantics and the scale-critical plan:
two-pass-scan ≡ naive single window, exact prefix property (greedy cut
at the first budget-crossing doc), budgets bind per stratum, strata
without budgets are dropped, and the window never partitions by
stratum alone.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from pcrawler_spark.operators.mixing import token_budget_mix


def _docs(spark, n=200, strata=("a", "b", "c")):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(*[F.lit(s) for s in strata]),
                     (F.col("id") % len(strata) + 1).cast("int"))
         .alias("source"),
        # 3-13 tokens, deterministic per id
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), (F.col("id") % 11 + 3).cast("int")),
            lambda i: F.concat(F.lit("w"), i))).alias("text"),
    )


def _naive(df, budgets):
    """Reference implementation: ONE window per stratum (the plan that
    dies at scale but is trivially correct)."""
    from pcrawler_spark.operators.simdedup import _h32
    d = df.select(
        "doc_id", F.col("source").alias("stratum"),
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("n_tokens"),
        _h32(F.col("doc_id").cast("string")).alias("h"),
    ).filter(F.col("stratum").isin(list(budgets)))
    w = (Window.partitionBy("stratum").orderBy("h", "doc_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    budget = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv])[F.col("stratum")]
    return (d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
             .filter(F.col("cum_tokens") <= budget)
             .select("doc_id", F.col("stratum").alias("source"),
                     "n_tokens", "cum_tokens"))


BUDGETS = {"a": 300, "b": 150, "c": 40}


def test_two_pass_scan_equals_naive_single_window(spark):
    df = _docs(spark)
    got = sorted(tuple(r) for r in token_budget_mix(df, BUDGETS).collect())
    want = sorted(tuple(r) for r in _naive(df, BUDGETS).collect())
    assert got == want and len(got) > 0


@pytest.mark.parametrize("n_buckets", [1, 4, 256])
def test_bucket_count_does_not_change_the_sample(spark, n_buckets):
    df = _docs(spark)
    base = sorted(tuple(r) for r in token_budget_mix(df, BUDGETS).collect())
    got = sorted(tuple(r) for r in
                 token_budget_mix(df, BUDGETS, n_buckets=n_buckets).collect())
    assert got == base


def test_greedy_prefix_property(spark):
    """Per stratum: total kept ≤ budget AND the first cut doc (next in
    hash order) would cross it — the sample is the maximal prefix."""
    df = _docs(spark)
    kept = token_budget_mix(df, BUDGETS).collect()
    naive_all = _naive(df, {s: 10**9 for s in BUDGETS}).collect()
    for s, budget in BUDGETS.items():
        rows = sorted((r for r in naive_all if r.source == s),
                      key=lambda r: r.cum_tokens)
        kept_ids = {r.doc_id for r in kept if r.source == s}
        total = sum(r.n_tokens for r in rows if r.doc_id in kept_ids)
        assert total <= budget
        cut = [r for r in rows if r.doc_id not in kept_ids]
        assert cut and total + cut[0].n_tokens > budget
        # and the kept set IS the prefix: every kept row precedes every cut
        last_kept = max((r.cum_tokens for r in rows if r.doc_id in kept_ids),
                        default=0)
        assert all(r.cum_tokens > last_kept for r in cut)


def test_unbudgeted_strata_are_dropped(spark):
    df = _docs(spark)
    out = token_budget_mix(df, {"a": 300}).select("source").distinct().collect()
    assert [r.source for r in out] == ["a"]


def test_deterministic_across_runs(spark):
    df = _docs(spark)
    a = [tuple(r) for r in token_budget_mix(df, BUDGETS).collect()]
    b = [tuple(r) for r in token_budget_mix(df, BUDGETS).collect()]
    assert a == b


def test_non_power_of_two_buckets_rejected(spark):
    with pytest.raises(ValueError):
        token_budget_mix(_docs(spark), BUDGETS, n_buckets=48)


def test_non_string_stratum_rejected(spark):
    # int strata (and int budget keys) used to match no budget: zero rows
    df = _docs(spark).withColumn("source", F.col("doc_id") % 3)
    with pytest.raises(ValueError, match=r"'source'.*bigint"):
        token_budget_mix(df, {0: 300, 1: 300})
    with pytest.raises(ValueError, match="'source'"):
        token_budget_mix(_docs(spark), {0: 300})


def test_window_partitions_by_bucket_not_stratum_alone(spark):
    """The scale property: the running-sum window must partition on
    (stratum, bucket) — a stratum-only window is one reducer per
    stratum.  Checked in the optimized plan's Window spec."""
    plan = token_budget_mix(_docs(spark), BUDGETS)._jdf.queryExecution() \
        .optimizedPlan().toString()
    win = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert win and all(
        "bucket" in ln.split("windowspecdefinition", 1)[1] for ln in win)
