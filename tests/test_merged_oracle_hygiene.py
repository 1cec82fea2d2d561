"""Merged-oracle liveness check (round-5 judge item #6).

Rounds 4-5 consolidated the 58-query registry to the driver's 50-slot
gate by MERGING same-family queries into one slot (q05+q06 semi∪anti,
q09+q10+q14 grouped-agg family, q11+q12 first∪last window, q15+q16
union∪unpivot, q18+q19 json∪regexp, q23+q24 quality+lang, q55+q56
chunk→pack, q57+old-q58 joined text metrics, learned-IVF folded into
q30).  Each merge makes one oracle certify several operators — the risk
is a DEAD BRANCH: if one side stopped contributing rows/values, the
parity test would still pass on the surviving side and the slot would
silently certify less than it claims.

This test proves every merged branch is LIVE in the compared output:
mutate one branch of the ORACLE SQL (a label, a constant, an aggregate)
and assert the canonicalized result CHANGES.  A dead branch is exactly
one whose mutations cannot change the output, so each passing case here
is a branch whose values the driver's hash comparison actually pins.
DuckDB-only — parity of the unmutated oracle against Spark is
tests/test_oracle_parity.py's job; output-sensitivity of each branch is
this one's.
"""

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

# (query, branch label, unique substring in the oracle, mutated form)
BRANCH_MUTATIONS = [
    ("q05_semi_anti_customers", "semi (EXISTS)",
     "'has_order' AS probe", "'has_order_mut' AS probe"),
    ("q05_semi_anti_customers", "anti (NOT EXISTS)",
     "'no_recent_order' AS probe", "'no_recent_order_mut' AS probe"),
    ("q09_group_agg_family", "count",
     "COUNT(*) AS n,", "COUNT(*) + 1 AS n,"),
    ("q09_group_agg_family", "max",
     "MAX(o_orderkey) AS latest_order", "MAX(o_orderkey) + 1 AS latest_order"),
    ("q09_group_agg_family", "count-distinct",
     "COUNT(DISTINCT o_orderstatus) AS n_statuses",
     "COUNT(DISTINCT o_orderstatus) + 1 AS n_statuses"),
    ("q11_window_first_last", "first",
     "event_id AS first_event_id", "event_id + 1 AS first_event_id"),
    ("q11_window_first_last", "last",
     "event_id AS last_event_id", "event_id + 1 AS last_event_id"),
    ("q15_union_unpivot", "union counts",
     "COUNT(*) AS n FROM (", "COUNT(*) + 1 AS n FROM ("),
    ("q15_union_unpivot", "union 'type' arm",
     "UNION ALL SELECT 'type', p_type FROM part",
     "UNION ALL SELECT 'type_mut', p_type FROM part"),
    ("q15_union_unpivot", "unpivot",
     "CAST(1 AS BIGINT) AS n", "CAST(2 AS BIGINT) AS n"),
    ("q18_extract_json_regexp", "json",
     "ROUND(AVG(k), 6) AS avg_k", "ROUND(AVG(k) + 1, 6) AS avg_k"),
    ("q18_extract_json_regexp", "regexp",
     "COUNT(*) AS n_docs", "COUNT(*) + 1 AS n_docs"),
    ("q23_quality_lang", "lang-id",
     "THEN 'en' WHEN", "THEN 'en_mut' WHEN"),
    ("q23_quality_lang", "quality score",
     "LEAST(400 * n_chars, 200000)", "LEAST(401 * n_chars, 200000)"),
    # punct_ppm is constant 0 on the sf0.01 documents (no [.,!?;:] in the
    # synthetic text) — scale mutations can't move it, but the +1 proves
    # the hash pins the column's (all-zero) values in the comparison
    ("q23_quality_lang", "punct ratio",
     "n_punct / GREATEST(n_chars, 1)) AS BIGINT) AS punct_ppm",
     "n_punct / GREATEST(n_chars, 1)) + 1 AS BIGINT) AS punct_ppm"),
    # r6 columns: Gopher composite gate.  The stops rule actually fires on
    # this corpus (label mutation moves rows); the other rules pass
    # everywhere here, so their SIGNAL columns get +1 mutations (the
    # punct_ppm precedent) and the pass bit gets a value mutation
    ("q23_quality_lang", "gopher stops rule label",
     "THEN 'stops' END", "THEN 'stops_mut' END"),
    ("q23_quality_lang", "gopher mean-word-len signal",
     "FLOOR(1000000.0 * sum_len / GREATEST(n_words, 1))",
     "FLOOR(1000000.0 * sum_len / GREATEST(n_words, 1)) + 1"),
    ("q23_quality_lang", "gopher alpha signal",
     "FLOOR(1000000.0 * n_alpha / GREATEST(n_words, 1))",
     "FLOOR(1000000.0 * n_alpha / GREATEST(n_words, 1)) + 1"),
    ("q23_quality_lang", "gopher pass bit",
     "CASE WHEN g3.fail_reasons = '' THEN 1 ELSE 0 END",
     "CASE WHEN g3.fail_reasons = '' THEN 2 ELSE 0 END"),
    ("q55_chunk_pack", "chunking",
     "ceil(len(toks) / 64.0)", "ceil(len(toks) / 63.0)"),
    ("q55_chunk_pack", "packing",
     "/ 512.0", "/ 511.0"),
    ("q57_text_metrics", "log-frequency",
     "FLOOR(SUM(lp_ppm) * 1.0 / COUNT(*))",
     "FLOOR(SUM(lp_ppm) * 1.0 / COUNT(*)) + 1"),
    ("q57_text_metrics", "repetition ratio",
     "1000000.0 * (COUNT(*) - COUNT(DISTINCT s))",
     "2000000.0 * (COUNT(*) - COUNT(DISTINCT s))"),
    # r6 columns: Gopher char-coverage pair.  top2 coverage is nonzero on
    # every doc, so a scale mutation moves it; dup5 coverage is constant 0
    # on the synthetic sf0.01 docs (no repeated 5-gram in random word
    # salad) — like punct_ppm above, mutate the ELSE arm to prove the hash
    # pins the (all-zero) column's values
    ("q57_text_metrics", "gopher top-2-gram coverage",
     "t.cnt * length(MIN(t.s))", "t.cnt * (length(MIN(t.s)) + 1)"),
    ("q57_text_metrics", "gopher dup-5-gram coverage",
     "ELSE 0 END)", "ELSE 1 END)"),
    ("q34_politeness_schedule", "scheduled-urls rank cutoff",
     "FROM r WHERE rk <= budget", "FROM r WHERE rk <= budget - 1"),
    ("q34_politeness_schedule", "decision-counts budget",
     "GREATEST(1, FLOOR(10.0 / delay) * par) AS budget2",
     "GREATEST(1, FLOOR(5.0 / delay) * par) AS budget2"),
    ("q30_knn_ivf", "label variant",
     "'label' AS variant", "'label_mut' AS variant"),
    ("q30_knn_ivf", "learned variant",
     "'learned' AS variant", "'learned_mut' AS variant"),
    # r6 merge: former q59 (flat SQ8 scan) ∪ former q60 (IVF+SQ8+re-rank)
    ("q60_sq8_family", "flat SQ8 branch",
     "'sq8_flat' AS variant", "'sq8_flat_mut' AS variant"),
    ("q60_sq8_family", "IVF+SQ8 branch",
     "'ivf_sq8' AS variant", "'ivf_sq8_mut' AS variant"),
    # r6 merge: simhash-banding near pairs ∪ hyperplane-LSH near pairs
    ("q43_near_pair_family", "simhash branch",
     "'simhash' AS variant", "'simhash_mut' AS variant"),
    ("q43_near_pair_family", "hyperplane branch",
     "'hyperplane' AS variant", "'hyperplane_mut' AS variant"),
    # r6 merge: span family = ExactSubstr repeated spans ∪ benchmark
    # n-gram decontamination spans
    ("q61_repeated_spans", "repeated branch",
     "'repeated' AS variant, doc_id", "'repeated_mut' AS variant, doc_id"),
    ("q61_repeated_spans", "contam branch",
     "'contam' AS variant, doc_id", "'contam_mut' AS variant, doc_id"),
    ("q61_repeated_spans", "contam eval-set membership",
     "WHERE g.doc_id % 7 <> 0", "WHERE g.doc_id % 11 <> 0"),
    # r6 merge: X5 name sanitizer ∪ PII redaction (emails→IPs→phones)
    ("q39_sanitize_pii_family", "name branch",
     "'name' AS variant", "'name_mut' AS variant"),
    ("q39_sanitize_pii_family", "pii redacted-text branch",
     "'<PHONE>', 'g')", "'<FONE>', 'g')"),
    ("q39_sanitize_pii_family", "pii count branch",
     "unnest(['emails', 'ips', 'phones'])",
     "unnest(['emails_mut', 'ips', 'phones'])"),
    # r6 merge: robots host policy ∪ PageRank frontier authority
    ("q46_crawl_policy_family", "robots branch",
     "'robots' AS variant", "'robots_mut' AS variant"),
    ("q46_crawl_policy_family", "pagerank label",
     "'pagerank' AS variant", "'pagerank_mut' AS variant"),
    ("q46_crawl_policy_family", "pagerank final-iteration damping",
     "FROM pr_e e JOIN pr_r2 r ON e.src = r.node",
     "FROM pr_e e JOIN pr_r1 r ON e.src = r.node"),
    # r6 merge: BPE token counts ∪ BM25 lexical top-k
    ("q44_lexical_family", "bpe branch",
     "'bpe' AS variant", "'bpe_mut' AS variant"),
    ("q44_lexical_family", "bm25 label",
     "'bm25' AS variant", "'bm25_mut' AS variant"),
    ("q44_lexical_family", "bm25 saturation constant",
     "tf.tf + 1.5 * (0.25", "tf.tf + 1.4 * (0.25"),
    ("q44_lexical_family", "hybrid RRF branch",
     "'hybrid' AS variant", "'hybrid_mut' AS variant"),
    ("q44_lexical_family", "hybrid RRF constant",
     "1000000.0 / (60.0 + rank)", "1000000.0 / (61.0 + rank)"),
    # r6 merge: xlsx roundtrip ∪ WARC roundtrip
    ("q50_roundtrip_family", "xlsx branch",
     "'xlsx' AS variant", "'xlsx_mut' AS variant"),
    ("q50_roundtrip_family", "warc payload fidelity",
     "|| ' ' || md5(text)", "|| ' ' || md5(text || 'x')"),
    ("q50_roundtrip_family", "warc date derivation",
     "lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')",
     "lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')"),
    # not a merge but a staged pipeline (training_pipeline): each dedup
    # stage's SQL must move the output, or the oracle would certify the
    # product with that stage missing.  The injected exact dups pin the
    # fingerprint keep-min; the full band key pins the near-dup closure.
    ("q52_training_pipeline", "exact dedup keep-min",
     "MIN(doc_id) OVER (PARTITION BY fp)", "MAX(doc_id) OVER (PARTITION BY fp)"),
    ("q52_training_pipeline", "near-dup band key",
     "USING (band, mh_0, mh_1)", "USING (band, mh_0)"),
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(con, sql):
    tbl = con.execute(sql).arrow()
    cols = sorted(tbl.column_names)
    rows = sorted(tuple(str(row[c]) for c in cols) for row in tbl.to_pylist())
    return rows


def test_every_merged_query_has_mutations():
    merged = {q for q, *_ in BRANCH_MUTATIONS}
    assert merged == {
        "q05_semi_anti_customers", "q09_group_agg_family",
        "q11_window_first_last", "q15_union_unpivot",
        "q18_extract_json_regexp", "q23_quality_lang",
        "q55_chunk_pack", "q57_text_metrics", "q30_knn_ivf",
        "q34_politeness_schedule", "q60_sq8_family",
        "q43_near_pair_family", "q61_repeated_spans",
        "q39_sanitize_pii_family", "q46_crawl_policy_family",
        "q50_roundtrip_family", "q44_lexical_family",
        "q52_training_pipeline",
    }


@pytest.mark.parametrize("query,branch,old,new",
                         BRANCH_MUTATIONS,
                         ids=[f"{q}-{b}" for q, b, _, _ in BRANCH_MUTATIONS])
def test_branch_is_live(ddb, query, branch, old, new):
    sql = entry_mod.oracle_sql()[query]
    # surgical mutation: the substring must still exist and be unique, or
    # the spec went stale against a reworded oracle — fail loudly then
    assert sql.count(old) == 1, (
        f"{query}: mutation target {old!r} occurs {sql.count(old)}× "
        "(oracle reworded? update BRANCH_MUTATIONS)")
    baseline = _canon(ddb, sql)
    mutated = _canon(ddb, sql.replace(old, new))
    assert mutated != baseline, (
        f"{query} branch '{branch}' is DEAD: mutating {old!r} did not "
        "change the oracle output, so the parity hash never pinned it")
