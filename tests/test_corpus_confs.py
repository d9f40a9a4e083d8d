"""Per-corpus session confs must follow the corpus, not the first
load (r7 verdict finding #3): a session alternating between two
fixture dirs must see each dir's intended AQE/reducer/split settings
at query time, because Spark reads these confs at EXECUTION, not at
DataFrame construction."""

import os

import pytest

from tests.conftest import SF_MED, SF_SMALL


def _on_disk_bytes(sf_dir):
    from citus_spark.queries import ALL_TABLES

    total = 0
    for t in ALL_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isfile(path):
            total += os.path.getsize(path)
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _expected_confs(spark, sf_dir):
    total = _on_disk_bytes(sf_dir)
    par = spark.sparkContext.defaultParallelism or 8
    return {
        "spark.sql.files.maxPartitionBytes": str(
            max(16 << 20, min(128 << 20, total // (2 * par) or 1))
        ),
        "spark.sql.adaptive.enabled": str(total >= 256 << 20).lower(),
        "spark.sql.shuffle.partitions": str(
            max(8, min(2 * par, total // (32 << 20)))
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(
            max(8 << 20, min(64 << 20, total // 8))
        ),
        "spark.sql.join.preferSortMergeJoin": str(
            total >= 256 << 20
        ).lower(),
    }


def _assert_confs(spark, expected):
    for k, v in expected.items():
        assert spark.conf.get(k) == v, k


def test_confs_follow_the_corpus_across_alternation(spark):
    from citus_spark.queries import QUERIES, load_views

    if not (os.path.isdir(SF_SMALL) and os.path.isdir(SF_MED)):
        pytest.skip("both fixture dirs required")

    exp_small = _expected_confs(spark, SF_SMALL)
    exp_med = _expected_confs(spark, SF_MED)

    # alternate corpora; after each load (even a view-cache hit) the
    # session confs must belong to THAT corpus
    load_views(spark, SF_SMALL)
    _assert_confs(spark, exp_small)
    load_views(spark, SF_MED)
    _assert_confs(spark, exp_med)
    load_views(spark, SF_SMALL)
    _assert_confs(spark, exp_small)

    # the registry-wrapper pattern (build via load_views, execute
    # immediately) runs under its own corpus's confs end-to-end:
    # a query built-and-run against MED after a SMALL query sees
    # MED's confs during execution and returns correct rows
    df_small = QUERIES["tpch_q6"](spark, SF_SMALL)
    n_small = df_small.count()
    _assert_confs(spark, exp_small)
    df_med = QUERIES["tpch_q6"](spark, SF_MED)
    n_med = df_med.count()
    _assert_confs(spark, exp_med)
    assert n_small == n_med == 1


def test_conf_reapplication_skips_the_expensive_path(spark):
    """The every-call conf re-application must NOT re-register views
    (that is the 0.8 s/call cost the idempotent guard exists to
    avoid): each call walks the corpus once, one stat per table file,
    to fingerprint it, and then only sets confs."""
    import time

    from citus_spark.queries import load_views

    load_views(spark, SF_SMALL)  # register the views
    t0 = time.time()
    for _ in range(20):
        load_views(spark, SF_SMALL)
    per_call = (time.time() - t0) / 20
    assert per_call < 0.05, f"conf re-application too slow: {per_call:.3f}s"


def test_non_local_master_keeps_compression_defaults():
    """The compression-off I/O posture is local-mode-only: a cluster
    master URL must NOT receive the three compress=false confs
    (review fix: the gate was a comment, now it's code)."""
    from citus_spark.session import session_confs

    local = session_confs("local[32]", 32)
    assert local["spark.shuffle.compress"] == "false"
    assert local["spark.shuffle.spill.compress"] == "false"
    assert local["spark.broadcast.compress"] == "false"
    for master in (
        "spark://coordinator:7077",
        "yarn",
        "k8s://https://host:6443",
    ):
        confs = session_confs(master, 512)
        assert "spark.shuffle.compress" not in confs
        assert "spark.shuffle.spill.compress" not in confs
        assert "spark.broadcast.compress" not in confs
