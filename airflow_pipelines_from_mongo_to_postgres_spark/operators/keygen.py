"""Surrogate-key assignment (SURVEY.md §2.5, J1+J2).

Reference semantics (ref dags/includes/utils.py:5-39): for an incoming batch,
look up each natural key ``_id`` in the target table (one SELECT per row —
the N+1 antipattern, utils.py:27-37); keys found keep their surrogate id;
misses get ``max_id + i`` with ``i`` assigned in ``_id``-sorted scan order
(sort at user_table.py:143, counter at utils.py:26,36-37).

Spark-first: ONE left join replaces the N+1 lookups, ONE max() aggregation
replaces the top-1 query (ref utils.py:13-20), and a row_number window over
the misses reproduces the deterministic ordered assignment.

Scale note: ``row_number`` over a global ordering is a single-partition
bottleneck — acceptable because only the *misses* (the new-key slice of one
incremental batch) pass through it, not the 100 TB target table. Bulk
backfills use ``parallel=True`` (``dense_ranks_parallel``): the same
dense ordered ids with every stage partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ranks_parallel(df: DataFrame, order_col: str,
                         out_col: str = "__rank") -> DataFrame:
    """Dense 1..n ranks in ``order_col`` order WITHOUT a global
    single-partition sort: range-partition on the key (global order
    holds ACROSS partitions), count each partition (one bounded collect
    of ≤ spark.sql.shuffle.partitions rows), broadcast the cumulative
    offsets back, and row_number within each partition — rank =
    offset(partition) + local row_number. Every stage is
    partition-parallel; the rank of a row is #{keys < key}, so the
    result is independent of where the sampled range boundaries land
    (ties share a partition under range partitioning; unique keys make
    the rank fully deterministic). The classic zipWithIndex shape, in
    pure DataFrame ops."""
    rp = df.repartitionByRange(F.col(order_col)) \
        .withColumn("__pid", F.spark_partition_id())
    # the count pass materializes rp once; persist so the rank pass
    # reuses the same partitioning AND the same sampled boundaries
    # (recomputing could resample and shift rows across partitions
    # between the two passes)
    rp = rp.persist()
    counts = sorted((r["__pid"], r["c"]) for r in
                    rp.groupBy("__pid").agg(F.count(F.lit(1)).alias("c"))
                    .collect())
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(int(p)) for p in offsets]),
            F.array(*[F.lit(int(o)) for o in offsets.values()])),
        F.col("__pid"))
    w = Window.partitionBy("__pid").orderBy(order_col)
    out = rp.withColumn(out_col,
                        (off + F.row_number().over(w)).cast("long")) \
        .drop("__pid")
    out = out.localCheckpoint(eager=True)   # cut the lineage before unpersist
    rp.unpersist()
    return out


def assign_surrogate_keys(existing: DataFrame, incoming: DataFrame,
                          natural_key: str = "_id", surrogate: str = "id",
                          parallel: bool = False) -> DataFrame:
    """Return ``incoming`` with a ``surrogate`` column: matched rows keep the
    existing id; new rows get max(existing id) + row_number() in
    ``natural_key`` order (J2 determinism, ref utils.py:22-39).

    ``existing`` needs columns (surrogate, natural_key). Two id modes:

    * default: ordered window — EXACT reference parity, but the misses
      sort through one task (fine for incremental batches, the gated
      q22 scenario).
    * ``parallel=True``: the same dense ordered ids via
      ``dense_ranks_parallel`` — identical values, no single-partition
      stage; the bulk-backfill scale path.
    """
    lookup = existing.select(F.col(natural_key), F.col(surrogate).alias("__existing_id"))
    joined = incoming.join(lookup, on=natural_key, how="left")  # J1: one join, not N+1
    max_id = existing.select(F.coalesce(F.max(surrogate), F.lit(0)).alias("m"))
    if parallel:
        misses = joined.filter(F.col("__existing_id").isNull()) \
            .drop("__existing_id")
        ranked = dense_ranks_parallel(misses, natural_key) \
            .join(F.broadcast(max_id)) \
            .withColumn(surrogate, (F.col("m") + F.col("__rank")).cast("long")) \
            .drop("__rank", "m")
        hits = joined.filter(F.col("__existing_id").isNotNull()) \
            .withColumn(surrogate, F.col("__existing_id").cast("long")) \
            .drop("__existing_id")
        return hits.unionByName(ranked.select(*hits.columns))
    joined = joined.join(F.broadcast(max_id))  # attach scalar max, broadcast 1-row side
    w = Window.partitionBy(F.col("__existing_id").isNull()).orderBy(natural_key)
    new_id = F.col("m") + F.row_number().over(w)
    out = joined.withColumn(surrogate, F.coalesce(F.col("__existing_id"),
                                                  new_id.cast("long")))
    return out.drop("__existing_id", "m")
