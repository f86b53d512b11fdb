"""Surrogate-key assignment (J1+J2): deterministic _id-ordered continuation
from max existing id (ref dags/includes/utils.py:5-39)."""

from __future__ import annotations

from airflow_pipelines_from_mongo_to_postgres_spark.operators.keygen import (
    assign_surrogate_keys,
)


def _existing(spark):
    return spark.createDataFrame([(1, "aaa"), (2, "bbb"), (7, "ccc")],
                                 ["id", "_id"])


def test_matched_rows_keep_ids(spark):
    incoming = spark.createDataFrame([("bbb", "x"), ("ccc", "y")],
                                     ["_id", "payload"])
    out = {r._id: r.id for r in
           assign_surrogate_keys(_existing(spark), incoming).collect()}
    assert out == {"bbb": 2, "ccc": 7}


def test_new_keys_continue_from_max_in_sorted_order(spark):
    incoming = spark.createDataFrame(
        [("zzz", "3"), ("mmm", "2"), ("bbb", "1"), ("aab", "0")],
        ["_id", "payload"])
    out = {r._id: r.id for r in
           assign_surrogate_keys(_existing(spark), incoming).collect()}
    # misses sorted: aab < mmm < zzz → 8, 9, 10 (max=7); match keeps 2
    assert out == {"bbb": 2, "aab": 8, "mmm": 9, "zzz": 10}


def test_empty_existing_starts_at_one(spark):
    existing = spark.createDataFrame([], "id long, _id string")
    incoming = spark.createDataFrame([("b", "x"), ("a", "y")],
                                     ["_id", "payload"])
    out = {r._id: r.id for r in
           assign_surrogate_keys(existing, incoming).collect()}
    assert out == {"a": 1, "b": 2}


def test_deterministic_under_reshuffle(spark):
    incoming = spark.createDataFrame(
        [(f"k{i:03d}", str(i)) for i in range(50)], ["_id", "payload"]
    ).repartition(8)
    a = assign_surrogate_keys(_existing(spark), incoming).collect()
    b = assign_surrogate_keys(_existing(spark), incoming.repartition(3)).collect()
    assert sorted((r._id, r.id) for r in a) == sorted((r._id, r.id) for r in b)


def test_parallel_dense_ids_equal_serial_window(spark):
    """The scale path must produce EXACTLY the serial window's ids
    (same values, same key order), with no single-partition window in
    its plan — dense ordered assignment without the global sort."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.keygen import (
        assign_surrogate_keys,
        dense_ranks_parallel,
    )

    existing = spark.createDataFrame(
        [(1, "a"), (2, "c")], "id long, _id string")
    incoming = spark.createDataFrame(
        [(f"k{i:03d}",) for i in range(500)] + [("a",), ("c",)],
        "_id string").repartition(8)

    serial = {r._id: r.id for r in
              assign_surrogate_keys(existing, incoming).collect()}
    par = {r._id: r.id for r in
           assign_surrogate_keys(existing, incoming,
                                 parallel=True).collect()}
    assert par == serial
    assert par["a"] == 1 and par["c"] == 2           # hits keep their ids
    assert sorted(v for k, v in par.items() if k.startswith("k")) == \
        list(range(3, 503))                          # dense from max+1

    ranked = dense_ranks_parallel(
        spark.range(1000).withColumnRenamed("id", "k").repartition(16), "k")
    got = {r.k: r["__rank"] for r in ranked.collect()}
    assert got == {k: k + 1 for k in range(1000)}


def test_parallel_dense_ids_edge_shapes(spark):
    """dense_ranks_parallel degenerate shapes: tiny inputs (rows <
    shuffle partitions), a single row, and an empty frame all produce
    exactly the dense 1..n ranks (or nothing) — no off-by-one from
    empty range partitions."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.keygen import (
        dense_ranks_parallel,
    )

    tiny = spark.createDataFrame([(5,), (1,), (9,)], "k int")
    got = {r.k: r["__rank"] for r in
           dense_ranks_parallel(tiny, "k").collect()}
    assert got == {1: 1, 5: 2, 9: 3}

    one = spark.createDataFrame([(42,)], "k int")
    assert dense_ranks_parallel(one, "k").first()["__rank"] == 1

    empty = spark.createDataFrame([], "k int")
    assert dense_ranks_parallel(empty, "k").count() == 0
