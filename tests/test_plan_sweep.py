"""Registry-wide physical-plan anti-pattern gate.

Mechanizes the scale audit that was previously done by hand each round:
build the physical plan of EVERY registry query at sf0.001 and assert
the two markers that would be scale-killers at 100 TB never appear, and
that broadcast nested-loop joins stay confined to the documented sites.

Runtime note (suite_time_budget): ~70-90s on local[4] — plan-only for
batch queries, but the streaming entries execute their one-shot drain
during construction, which is most of the wall time.
"""

from data_warehouse_migrate_spark.plans.dryrun import explain_plan
from data_warehouse_migrate_spark.queries import QUERIES

# BroadcastNestedLoopJoin is legitimate ONLY where one side is a
# broadcast scalar/tiny frame or the operator is a disclosed
# brute-force oracle twin (never the 100 TB path):
#   unigram_logprob / vocab_topk / pmi_collocations / tfidf_top_terms /
#   fluency_band — lm.py crossJoin against a broadcast 1-row totals agg;
#   embedding_topk / embedding_near_dup_exact / hard_negatives —
#   broadcast brute-force cosine twins that pin the LSH/IVF operators'
#   recall (similarity.py), corpus side explicitly broadcast.
BNLJ_ALLOWED = {
    "unigram_logprob", "vocab_topk", "pmi_collocations", "tfidf_top_terms",
    "fluency_band", "embedding_topk", "embedding_near_dup_exact",
    "hard_negatives",
}


def test_no_plan_antipatterns_across_registry(spark, sf_dir):
    cart, pyudf, bnlj_extra = [], [], []
    for name, fn in QUERIES.items():
        plan = explain_plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BatchEvalPython" in plan:  # row-at-a-time Python UDF
            pyudf.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            bnlj_extra.append(name)
    assert cart == [], f"cartesian product on a data path: {cart}"
    assert pyudf == [], f"row-at-a-time Python UDF: {pyudf}"
    assert bnlj_extra == [], (
        f"undocumented broadcast nested-loop join: {bnlj_extra} "
        f"(extend BNLJ_ALLOWED only for broadcast-scalar or disclosed "
        f"brute-force-twin sites)")


def test_scan_family_plan_contracts(spark, sf_dir):
    """Registry-level pins of the plan properties promised for the
    scan family: predicate pushdown reaches the parquet scan, projection
    prunes ReadSchema, and the whole pipeline stays exchange-free."""
    from data_warehouse_migrate_spark.plans.dryrun import plan_report

    r = plan_report(QUERIES["scan_project_filter"](spark, sf_dir))
    assert r["num_exchanges"] == 0
    assert any("l_quantity" in p for p in r["pushed_filters"]), r
    assert "l_comment" not in "".join(r["read_schema"])

    r = plan_report(QUERIES["latest_partition_scan"](spark, sf_dir))
    assert any("o_orderdate" in p for p in r["pushed_filters"]), r

    r = plan_report(QUERIES["scan_orderby_limit"](spark, sf_dir))
    # ORDER BY + LIMIT must be TakeOrdered, not a global sort exchange,
    # and the scan must read only the two projected columns
    assert r["num_exchanges"] == 0
    assert "o_comment" not in "".join(r["read_schema"])

    r = plan_report(QUERIES["migrate_pipeline"](spark, sf_dir))
    assert r["num_exchanges"] == 0          # flagship: narrow end-to-end
    assert not r["has_python_udf"]
    assert r["whole_stage_codegen"]
