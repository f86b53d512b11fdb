"""Merge family semantics (SURVEY.md §2.6 M1–M13) on literal frames; M14
(null-key quarantine) is covered in tests/test_pipeline.py."""

from __future__ import annotations

from airflow_pipelines_from_mongo_to_postgres_spark.operators.merge import (
    insert_if_absent,
    merge_upsert,
)

COLS = ["_id", "status", "amount", "origin"]


def _target(spark):
    return spark.createDataFrame(
        [("a", "new", 10.0, "t"), ("b", "new", 20.0, "t"), ("c", "old", 30.0, "t")],
        COLS)


def _updates(spark):
    return spark.createDataFrame(
        [("b", "done", 99.0, "u"), ("d", "new", 40.0, "u")], COLS)


def test_merge_updates_only_mutable(spark):
    out = merge_upsert(_target(spark), _updates(spark), key="_id",
                       mutable=["status"])
    rows = {r._id: r for r in out.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    # matched row: mutable refreshed, frozen kept
    assert rows["b"].status == "done" and rows["b"].amount == 20.0
    assert rows["b"].origin == "t"
    # untouched rows unchanged; new row fully from updates
    assert rows["a"].status == "new" and rows["d"].origin == "u"


def test_merge_idempotent(spark):
    once = merge_upsert(_target(spark), _updates(spark), "_id", ["status"])
    twice = merge_upsert(once, _updates(spark), "_id", ["status"])
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_insert_if_absent_do_nothing(spark):
    out = insert_if_absent(_target(spark), _updates(spark), key="_id")
    rows = {r._id: r for r in out.collect()}
    assert set(rows) == {"a", "b", "c", "d"}
    assert rows["b"].status == "new"  # conflict → DO NOTHING (M11–M13)
    assert rows["d"].amount == 40.0


def test_merge_column_order_agnostic(spark):
    upd = _updates(spark).select("origin", "amount", "status", "_id")
    out = merge_upsert(_target(spark), upd, "_id", ["status"])
    assert {r._id: r.status for r in out.collect()}["b"] == "done"


def test_combine_partial_aggs_multi_batch_equals_full(spark):
    """Incremental maintenance over THREE delta slices, combined in two
    different orders, must equal the direct full aggregation — the
    associativity contract decimal sums provide (and double sums don't)."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.operators.aggmaint import (
        combine_partial_aggs,
    )

    rows = [(k, i, float(v) / 100) for i, (k, v) in enumerate(
        [("a", 123), ("b", 457), ("a", 999), ("c", 31), ("b", 8),
         ("a", 77), ("c", 4501), ("a", 6), ("b", 10000)])]
    df = spark.createDataFrame(rows, ["k", "i", "v"])

    def part(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,4)")).cast("decimal(28,4)")
            .alias("s"))

    s1, s2, s3 = (part(df.filter(F.col("i") % 3 == r)) for r in range(3))
    keys, cc, sc = ["k"], ["n"], ["s"]
    left = combine_partial_aggs(combine_partial_aggs(s1, s2, keys, cc, sc),
                                s3, keys, cc, sc)
    right = combine_partial_aggs(s1, combine_partial_aggs(s2, s3, keys, cc, sc),
                                 keys, cc, sc)
    full = part(df)
    as_rows = lambda d: sorted(map(tuple, d.collect()))
    assert as_rows(left) == as_rows(right) == as_rows(full)


def test_combine_partial_aggs_null_key_matches_full(spark):
    """A NULL grouping key must merge across sides (eqNullSafe), or the
    maintained aggregate silently diverges from a full recomputation."""
    from pyspark.sql import functions as F

    from airflow_pipelines_from_mongo_to_postgres_spark.operators.aggmaint import (
        combine_partial_aggs,
    )

    from decimal import Decimal

    schema = "k string, n bigint, s decimal(28,4)"
    base = spark.createDataFrame(
        [(None, 2, Decimal("10.0")), ("a", 1, Decimal("1.0"))], schema)
    delta = spark.createDataFrame(
        [(None, 3, Decimal("20.0")), ("b", 4, Decimal("4.0"))], schema)
    out = {r.k: (r.n, float(r.s)) for r in combine_partial_aggs(
        base, delta, ["k"], count_cols=["n"], sum_cols=["s"]).collect()}
    assert out[None] == (5, 30.0)       # null group combined, not duplicated
    assert out["a"] == (1, 1.0) and out["b"] == (4, 4.0)
    assert len(out) == 3
