"""PG declarative partitioning DDL (plans/ddl_sql.py parsers +
plans/partition_ddl.py bounds + session routing) ↔ reference
src/test/regress/sql/multi_partitioning.sql:16-40,116,292-311."""

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def sess(spark):
    from citus_spark.session import register_views

    s = register_views(spark, SF_SMALL)
    for t in (
        "pt", "pt_2009", "pt_2010", "pt_2012", "pt_def",
        "ph", "ph_0", "ph_1", "ph_2", "pl", "pl_a", "pl_b",
    ):
        s.sql(f"DROP TABLE IF EXISTS {t}")
    yield s


def test_parse_partition_forms():
    from citus_spark.plans.ddl_sql import (
        parse_attach_partition,
        parse_create_partition_of,
        parse_create_table,
        parse_detach_partition,
        parse_partition_bound,
    )

    created = parse_create_table(
        "CREATE TABLE t(id int, time date) PARTITION BY RANGE (time);"
    )
    assert created[0] == "t" and created[7] == {
        "method": "range", "col": "time",
    }
    # non-partitioned form unaffected
    assert parse_create_table("CREATE TABLE t(id int)")[7] is None
    child = parse_create_partition_of(
        "CREATE TABLE t_2009 PARTITION OF t "
        "FOR VALUES FROM ('2009-01-01') TO ('2010-01-01');"
    )
    assert child == (
        "t_2009", "t",
        {"kind": "range", "lo": "'2009-01-01'", "hi": "'2010-01-01'"},
        False,
    )
    assert parse_create_partition_of(
        "CREATE TABLE t_def PARTITION OF t DEFAULT"
    )[2] == {"kind": "default"}
    assert parse_partition_bound("IN ('a', 'b', NULL)") == {
        "kind": "list", "in": ["'a'", "'b'"], "has_null": True,
    }
    assert parse_partition_bound("WITH (MODULUS 3, REMAINDER 2)") == {
        "kind": "hash", "modulus": 3, "remainder": 2,
    }
    assert parse_partition_bound("FROM (MINVALUE) TO (10)") == {
        "kind": "range", "lo": None, "hi": "10",
    }
    att = parse_attach_partition(
        "ALTER TABLE t ATTACH PARTITION t_2012 "
        "FOR VALUES FROM ('2012-01-01') TO ('2013-01-01')"
    )
    assert att[0] == "t" and att[1] == "t_2012"
    assert parse_detach_partition(
        "ALTER TABLE t DETACH PARTITION t_2009"
    ) == ("t", "t_2009")
    # a partitioned CREATE is not claimed by the plain-table regex
    # with the clause silently dropped
    with pytest.raises(ValueError, match="not a column"):
        parse_create_table(
            "CREATE TABLE t(id int) PARTITION BY RANGE (nope)"
        )


def test_range_partition_lifecycle(sess):
    """The multi_partitioning.sql:16-40 flow: create, route, direct
    child inserts, ONLY, detach/attach, drop cascade."""
    s = sess
    s.sql("CREATE TABLE pt(id int, time date) PARTITION BY RANGE (time)")
    s.sql(
        "CREATE TABLE pt_2009 PARTITION OF pt "
        "FOR VALUES FROM ('2009-01-01') TO ('2010-01-01')"
    )
    s.sql(
        "CREATE TABLE pt_2010 PARTITION OF pt "
        "FOR VALUES FROM ('2010-01-01') TO ('2011-01-01')"
    )
    s.sql("INSERT INTO pt VALUES (1, '2009-06-06')")
    s.sql("INSERT INTO pt VALUES (2, '2010-07-07')")
    s.sql("INSERT INTO pt_2009 VALUES (3, '2009-09-09')")
    s.sql("INSERT INTO pt_2010 VALUES (4, '2010-03-03')")
    assert s.sql("SELECT count(*) FROM pt").collect()[0][0] == 4
    assert sorted(
        r.id for r in s.sql("SELECT id FROM pt_2009").collect()
    ) == [1, 3]
    # parent stores nothing itself
    assert s.sql("SELECT * FROM ONLY pt").collect() == []
    # direct child insert violating the bound
    with pytest.raises(ValueError, match="partition constraint"):
        s.sql("INSERT INTO pt_2009 VALUES (9, '2012-01-01')")
    # no partition for the row
    with pytest.raises(ValueError, match="no partition of relation"):
        s.sql("INSERT INTO pt VALUES (9, '2014-01-01')")
    # UPDATE on the parent moves rows across partitions (PG 11)
    s.sql("UPDATE pt SET time = '2010-02-02' WHERE id = 1")
    assert sorted(
        r.id for r in s.sql("SELECT id FROM pt_2010").collect()
    ) == [1, 2, 4]
    # DELETE through the parent
    s.sql("DELETE FROM pt WHERE id = 3")
    assert s.sql("SELECT count(*) FROM pt_2009").collect()[0][0] == 0
    # DETACH keeps the child's rows, shrinks the parent
    s.sql("ALTER TABLE pt DETACH PARTITION pt_2010")
    assert s.sql("SELECT count(*) FROM pt").collect()[0][0] == 0
    assert s.sql("SELECT count(*) FROM pt_2010").collect()[0][0] == 3
    # ATTACH validates rows against the bound, then re-joins
    s.sql(
        "ALTER TABLE pt ATTACH PARTITION pt_2010 "
        "FOR VALUES FROM ('2010-01-01') TO ('2011-01-01')"
    )
    assert s.sql("SELECT count(*) FROM pt").collect()[0][0] == 3
    # DROP parent drops partitions
    s.sql("DROP TABLE pt")
    with pytest.raises(Exception):
        s.sql("SELECT * FROM pt_2009").collect()


def test_default_partition_and_bound_validation(sess):
    s = sess
    s.sql("CREATE TABLE pt(id int, time date) PARTITION BY RANGE (time)")
    s.sql(
        "CREATE TABLE pt_2009 PARTITION OF pt "
        "FOR VALUES FROM ('2009-01-01') TO ('2010-01-01')"
    )
    # overlap rejected
    with pytest.raises(ValueError, match="overlaps"):
        s.sql(
            "CREATE TABLE pt_bad PARTITION OF pt "
            "FOR VALUES FROM ('2009-06-01') TO ('2009-08-01')"
        )
    s.sql("CREATE TABLE pt_def PARTITION OF pt DEFAULT")
    with pytest.raises(ValueError, match="DEFAULT partition"):
        s.sql("CREATE TABLE pt_def2 PARTITION OF pt DEFAULT")
    s.sql("INSERT INTO pt VALUES (1, '2014-05-05')")
    assert s.sql("SELECT count(*) FROM pt_def").collect()[0][0] == 1
    # a new bound claiming rows held by the default partition → error
    with pytest.raises(ValueError, match="default partition"):
        s.sql(
            "CREATE TABLE pt_2014 PARTITION OF pt "
            "FOR VALUES FROM ('2014-01-01') TO ('2015-01-01')"
        )
    # attach validation: rows outside the bound refuse the attach
    s.sql("CREATE TABLE pt_2012 (id int, time date)")
    s.sql("INSERT INTO pt_2012 VALUES (7, '2013-07-07')")
    with pytest.raises(ValueError, match="violated by some row"):
        s.sql(
            "ALTER TABLE pt ATTACH PARTITION pt_2012 "
            "FOR VALUES FROM ('2012-01-01') TO ('2013-01-01')"
        )
    s.sql("DROP TABLE pt")
    s.sql("DROP TABLE pt_2012")


def test_hash_and_list_partitions(sess):
    s = sess
    s.sql("CREATE TABLE ph(id int, subid int) PARTITION BY HASH (subid)")
    for r in range(3):
        s.sql(
            f"CREATE TABLE ph_{r} PARTITION OF ph "
            f"FOR VALUES WITH (MODULUS 3, REMAINDER {r})"
        )
    with pytest.raises(ValueError, match="already taken"):
        s.sql(
            "CREATE TABLE ph_dup PARTITION OF ph "
            "FOR VALUES WITH (MODULUS 3, REMAINDER 1)"
        )
    with pytest.raises(ValueError, match="MODULUS"):
        s.sql(
            "CREATE TABLE ph_mix PARTITION OF ph "
            "FOR VALUES WITH (MODULUS 4, REMAINDER 3)"
        )
    s.sql("INSERT INTO ph VALUES (1, 2), (2, 13), (3, 7), (4, 4)")
    counts = [
        s.sql(f"SELECT count(*) FROM ph_{r}").collect()[0][0]
        for r in range(3)
    ]
    assert sum(counts) == 4
    assert s.sql("SELECT count(*) FROM ph").collect()[0][0] == 4
    s.sql("DROP TABLE ph")

    s.sql("CREATE TABLE pl(id int, tag text) PARTITION BY LIST (tag)")
    s.sql(
        "CREATE TABLE pl_a PARTITION OF pl FOR VALUES IN ('a', 'b', NULL)"
    )
    s.sql("CREATE TABLE pl_b PARTITION OF pl FOR VALUES IN ('c')")
    with pytest.raises(ValueError, match="overlaps|already"):
        s.sql("CREATE TABLE pl_c PARTITION OF pl FOR VALUES IN ('b')")
    s.sql("INSERT INTO pl VALUES (1, 'a'), (2, 'c'), (3, NULL)")
    assert s.sql("SELECT count(*) FROM pl_a").collect()[0][0] == 2
    assert s.sql("SELECT count(*) FROM pl_b").collect()[0][0] == 1
    with pytest.raises(ValueError, match="no partition"):
        s.sql("INSERT INTO pl VALUES (4, 'z')")
    s.sql("DROP TABLE pl")


def test_truncate_and_copy_route_through_partitions(sess):
    s = sess
    s.sql("CREATE TABLE pt(id int, time date) PARTITION BY RANGE (time)")
    s.sql(
        "CREATE TABLE pt_2009 PARTITION OF pt "
        "FOR VALUES FROM ('2009-01-01') TO ('2010-01-01')"
    )
    s.sql("CREATE TABLE pt_def PARTITION OF pt DEFAULT")
    s.sql("INSERT INTO pt VALUES (1, '2009-02-02'), (2, '2013-01-01')")
    s.sql("TRUNCATE pt")
    assert s.sql("SELECT count(*) FROM pt").collect()[0][0] == 0
    assert s.sql("SELECT count(*) FROM pt_2009").collect()[0][0] == 0
    assert s.sql("SELECT count(*) FROM pt_def").collect()[0][0] == 0
    s.sql("DROP TABLE pt")


def test_from_only_not_rewritten_inside_literals(sess):
    """'FROM ONLY <parent>' inside a string literal is DATA even when
    the named table IS a partitioned parent — the rewrite must not
    mangle it (review fix)."""
    sess.sql("CREATE TABLE pt(id int, time date) PARTITION BY RANGE (time)")
    sess.sql("CREATE TABLE pd_log (msg text)")
    try:
        sess.sql(
            "INSERT INTO pd_log VALUES "
            "('rows FROM ONLY pt were archived')"
        )
        got = sess.sql("SELECT msg FROM pd_log").collect()[0][0]
        assert got == "rows FROM ONLY pt were archived"
    finally:
        sess.sql("DROP TABLE IF EXISTS pd_log")


def test_fanout_gate_respects_existing_width(monkeypatch):
    """A source already split at least as wide as the
    data-proportional width passes through untouched — never
    repartitioned DOWN (review fix)."""
    import citus_spark.queries as q

    # 8 MiB in 12 parquet files
    monkeypatch.setattr(q, "tree_stat", lambda p: (8 << 20, 0, 12))
    # width = min(32, max(4, 8 MiB // 1 MiB)) = 8; 12 existing >= 8
    assert q._fanout_cache(None, "t", "/nonexistent", 32) is None
