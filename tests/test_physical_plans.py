"""Physical-plan assertions: the scale properties the engine promises.

SURVEY.md §4/§7: filters reach the parquet scan, columns are pruned,
small dims broadcast, native queries never fall off the codegen path
into Python, and the repo has zero row-at-a-time Python UDFs / rdd.map
in the data plane.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from comparador_de_registros_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: 6 of lineitem's 11 columns read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 6, m.group(1)


def test_broadcast_join_for_small_dims(spark):
    for name in ("top_customer_revenue", "part_type_revenue", "nation_customer_counts"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_topn_uses_take_ordered(spark):
    # top-n must not be a global sort + limit
    plan = _plan(spark, "top_customer_revenue")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_present(spark):
    plan = _plan(spark, "pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_native_queries_have_no_python(spark):
    """Everything except the signature/SRP queries must stay JVM-side."""
    native = [
        "pricing_summary", "top_customer_revenue", "orders_running_total",
        "events_assembly", "events_minute_stats", "part_type_revenue",
        "nation_customer_counts", "text_token_counts", "text_lang_id",
        "text_quality", "padroniza_token_freq", "doc_fingerprints",
        "exact_dup_clusters", "ngram_jaccard_pairs", "compare_dates",
        "compare_names_basic", "cosine_topk",
    ]
    for name in native:
        plan = _plan(spark, name)
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"


def test_verify_shares_one_signature_exchange(spark):
    """The verify stage's shingle-set joins must feed BOTH join sides
    from ONE participant-filtered sig exchange (round-4 verdict: the
    full sig table was the pipeline's dominant shuffle-byte line).
    The executed plan must show a ReusedExchange over the shingle
    exchange instead of a second full exchange, and the participant
    semi-join must be a static broadcast (pre-exchange filtering)."""
    import dataclasses

    from pyspark.sql import functions as F

    from comparador_de_registros_spark.operators.verify import (
        release_scored,
        verify_pairs,
    )
    from comparador_de_registros_spark.plans.configs import DedupConfig

    sigs = spark.createDataFrame(
        [(f"c{i}", list(range(i, i + 40))) for i in range(300)],
        "conv_id string, shingles array<int>",
    )
    cand = spark.createDataFrame(
        [(f"c{2 * i}", f"c{2 * i + 1}", ["lsh"]) for i in range(100)],
        "a string, b string, sources array<string>",
    )
    docs = spark.createDataFrame(
        [(f"c{i}", f"text {i}") for i in range(300)],
        "conv_id string, norm string",
    )
    cfg = dataclasses.replace(
        DedupConfig(),
        verify_small_candidates_max=0,
        verify_broadcast_sigs_max=0,  # force the shared-exchange plan
    )
    out = verify_pairs(cand, sigs, docs, cfg, n_candidates=100)
    try:
        out.where(F.col("is_dup")).count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        reused_shingle = [
            ln
            for ln in plan.splitlines()
            if "ReusedExchange" in ln and "shingles" in ln
        ]
        assert reused_shingle, "no ReusedExchange over the sig exchange"
    finally:
        release_scored(out)


def test_no_row_at_a_time_python_in_repo():
    """The input_hint mandates vectorized pandas/Arrow UDFs only —
    grep-gate the package for F.udf(/@udf/rdd.map (SURVEY.md §7)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "comparador_de_registros_spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#")[0]
            if re.search(r"\bF\.udf\s*\(", code) or re.search(
                r"import\s+udf\b", code
            ):
                offenders.append(f"{py.name}:{i}: row-wise udf")
            if re.search(r"\.rdd\.(map|flatMap|mapPartitions)\b", code):
                offenders.append(f"{py.name}:{i}: rdd transform")
    assert not offenders, offenders
