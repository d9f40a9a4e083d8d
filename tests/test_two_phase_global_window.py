"""r10 verdict item #5: full-table unpartitioned windows
(window_ntile, equi_depth_histogram) must not single-partition the
table above the corpus cutover — they switch to the two-phase global
rank (operators/prefix_sum.two_phase_row_number), value-identical to
the windowed form."""

import pytest
from pyspark.sql import functions as F

import citus_spark.queries as q
from citus_spark.operators.prefix_sum import (
    ntile_from_rank,
    two_phase_row_number,
)
from citus_spark.scale import ScalePolicy
from tests.conftest import forced_policy


@pytest.fixture()
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def force_above_cutover(spark, sf_dir):
    """Run the test with the fixture corpus's policy above the cutover
    (so corpus_above_cutover(sf_dir) is True), restoring the real
    policy and its confs afterward."""
    with forced_policy(spark, sf_dir, total=ScalePolicy.cutover):
        yield


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_two_phase_rank_matches_window_rank(spark, sf_dir):
    q.load_views(spark, sf_dir)
    df = spark.table("customer")
    ranked, total = two_phase_row_number(
        df, [F.col("c_acctbal").desc(), F.col("c_custkey")], out_col="rk"
    )
    expect = spark.sql(
        "SELECT c_custkey, row_number() OVER "
        "(ORDER BY c_acctbal DESC, c_custkey) AS rk FROM customer"
    )
    assert total == df.count()
    assert sorted(_rows(ranked.select("c_custkey", "rk"))) == sorted(
        _rows(expect)
    )


@pytest.mark.parametrize("n_buckets,rows", [(4, 23), (7, 6), (3, 9), (5, 5)])
def test_ntile_from_rank_matches_pg_semantics(spark, n_buckets, rows):
    # windowed NTILE over a tiny frame vs the arithmetic form, for
    # N % n both zero and nonzero, and N < n
    df = spark.range(1, rows + 1).toDF("k")
    windowed = df.selectExpr(
        "k", f"ntile({n_buckets}) OVER (ORDER BY k) AS b"
    )
    arith = df.select(
        "k", ntile_from_rank(F.col("k"), rows, n_buckets).alias("b")
    )
    assert sorted(_rows(windowed)) == sorted(_rows(arith))


@pytest.mark.parametrize("name", ["window_ntile", "equi_depth_histogram",
                                  "window_percentiles",
                                  "compaction_binpack_plan"])
def test_scale_path_values_match_windowed_form(
    spark, sf_dir, force_above_cutover, name
):
    scale_df = q.QUERIES[name](spark, sf_dir)
    plan = scale_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    # the two-phase path's only Window is partitioned by _pid
    sql = q.ORACLES[name]
    q.load_views(spark, sf_dir)
    assert sorted(_rows(scale_df)) == sorted(_rows(spark.sql(sql)))


@pytest.mark.parametrize("name", ["window_ntile", "equi_depth_histogram",
                                  "window_percentiles",
                                  "compaction_binpack_plan"])
def test_below_cutover_keeps_the_windowed_plan(spark, sf_dir, name):
    # fixture corpora sit far below the cutover: the single small
    # sort beats two extra stages there, so the windowed form stands
    df = q.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "_pid" not in plan
