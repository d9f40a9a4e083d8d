"""ScalePolicy: every corpus-scale threshold in one object.

- the table test checks each derived value at the byte edges of every
  threshold against formulas written out here, independently of
  citus_spark/scale.py (no Spark);
- the differential test runs every registry entry that sits behind a
  scale switch on both sides of it — the real policy and one
  dataclasses.replace'd to a corpus size past the gate — and requires
  identical results;
- the staleness test rewrites a table in place and requires a new
  policy and fresh statistics.
"""

import dataclasses
import os
import re
import shutil

import pytest

from citus_spark.scale import ScalePolicy, corpus_policy, fanout_width
from tests.conftest import SF_SMALL, forced_policy

MiB = 1 << 20
GiB = 1 << 30
TiB = 1 << 40

EDGES = [4 * MiB, 32 * MiB, 256 * MiB, GiB, 8 * TiB]
TOTALS = sorted({max(0, e + d) for e in EDGES for d in (-1, 0, 1)} | {0})


def _clamp(v, lo, hi):
    return max(lo, min(hi, v))


@pytest.mark.parametrize("par", [1, 4, 32])
@pytest.mark.parametrize("total", TOTALS)
def test_policy_fields_at_byte_edges(total, par):
    p = ScalePolicy(total, par)
    at_scale = total >= 256 * MiB
    split = _clamp(total // (2 * par) or 1, 16 * MiB, 128 * MiB)
    bcast = _clamp(total // 8, 8 * MiB, 64 * MiB)
    reducers = _clamp(total // (32 * MiB), 8, 2 * par)
    assert p.above_cutover is at_scale
    assert p.small_corpus is (total < 32 * MiB)
    assert p.split_bytes == split
    assert p.broadcast_bytes == bcast
    assert p.reducers == reducers
    assert p.fold_max_groups == 32768
    # the serial-final fold: a provable group count decides, an
    # unknowable one falls back to the small-corpus band
    assert p.fold_ok(32768) and not p.fold_ok(32769)
    assert p.fold_ok(None) is (total < 32 * MiB)
    assert p.confs() == {
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.adaptive.enabled": str(at_scale).lower(),
        "spark.sql.autoBroadcastJoinThreshold": str(bcast),
        "spark.sql.join.preferSortMergeJoin": str(at_scale).lower(),
        "spark.sql.shuffle.partitions": str(reducers),
    }
    # the fan-out rule, read per table: ≥4 MiB fans at 1 file per MiB,
    # at least 4 files and at most one per core
    want = None if total < 4 * MiB else min(par, max(4, total // MiB))
    assert fanout_width(total, par) == want


def test_policy_is_only_size_and_cores():
    # every threshold is a class constant: nothing but the corpus's
    # size and the session's cores can set a policy
    assert [f.name for f in dataclasses.fields(ScalePolicy)] == [
        "total", "par", "fingerprint"
    ]


def test_policy_is_computed_once_per_content(tmp_path):
    a = tmp_path / "a.parquet"
    a.write_bytes(b"x" * 10)
    paths = {"a": str(a)}
    p1 = corpus_policy(str(tmp_path), paths, 4)
    assert corpus_policy(str(tmp_path), paths, 4) is p1
    assert p1.total == 10
    # cores are part of the fingerprint
    assert corpus_policy(str(tmp_path), paths, 8) is not p1
    # so is every table's size (and mtime)
    a.write_bytes(b"x" * 11)
    p2 = corpus_policy(str(tmp_path), paths, 4)
    assert p2.fingerprint != p1.fingerprint and p2.total == 11


# ---------------------------------------------------------------------------
# differential: each scale switch, both sides, identical results

SWITCHES = {
    # corpus_above_cutover: the two-phase global-rank scale paths,
    # minhash's dropped repartition, pagerank's shuffling loop; AQE
    # and SMJ turn on with it
    "cutover": {"total": ScalePolicy.cutover},
    # q3/q10 broadcast reassociation
    "small": {"total": ScalePolicy.small},
    # the serial-final fold, whether its group count is provable (the
    # grouping columns' NDVs then bound it above fold_max_groups) or
    # not (the corpus is then past `small`)
    "fold": {
        "total": ScalePolicy.small,
        "ndv": dict.fromkeys(("o_custkey", "event_type", "user_id"), 10**7),
    },
}

DIFFERENTIAL = [
    ("window_ntile", "cutover"),
    ("window_percentiles", "cutover"),
    ("equi_depth_histogram", "cutover"),
    ("compaction_binpack_plan", "cutover"),
    ("minhash_signatures", "cutover"),
    ("minhash_lsh_pairs", "cutover"),
    ("pagerank_event_entities", "cutover"),
    ("tpch_q3", "small"),
    ("tpch_q10", "small"),
    ("having_filter", "fold"),
    ("having_filter", "cutover"),
    ("topn_operator", "fold"),
    ("topn_operator", "cutover"),
]


def _run(spark, name):
    from citus_spark.queries import QUERIES
    from tools.oracle_check import canon

    df = QUERIES[name](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = sorted(
        (tuple(canon(v) for v in r) for r in df.collect()), key=repr
    )
    spark.catalog.clearCache()
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan), rows


@pytest.mark.parametrize("name,switch", DIFFERENTIAL)
def test_gate_flip_keeps_results(spark, name, switch):
    plan, rows = _run(spark, name)
    with forced_policy(spark, SF_SMALL, **SWITCHES[switch]):
        flipped_plan, flipped_rows = _run(spark, name)
    assert flipped_plan != plan, "the switch did not change the plan"
    assert rows and flipped_rows == rows


# ---------------------------------------------------------------------------
# staleness: a table rewritten in place is a new corpus


def test_rewritten_table_gets_a_fresh_policy_and_statistics(spark, tmp_path):
    import pyarrow.parquet as pq

    from citus_spark.queries import load_views, scale_policy
    from citus_spark.queries.tpch import _supplier_count

    corpus = tmp_path / "corpus"
    shutil.copytree(SF_SMALL, corpus)
    d = str(corpus)
    try:
        load_views(spark, d)
        before = scale_policy(spark, d)
        n = _supplier_count(spark, d)
        assert n == pq.read_metadata(os.path.join(d, "supplier.parquet")).num_rows
        table = pq.read_table(os.path.join(d, "supplier.parquet"))
        pq.write_table(
            table.slice(0, n // 2), os.path.join(d, "supplier.parquet")
        )
        load_views(spark, d)
        after = scale_policy(spark, d)
        assert after.fingerprint != before.fingerprint
        assert _supplier_count(spark, d) == n // 2
        assert spark.table("supplier").count() == n // 2
    finally:
        load_views(spark, SF_SMALL)
