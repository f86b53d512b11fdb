"""Catalog of the driver-provided parquet fixtures (TESTDATA.md).

Replaces the reference's source layer (MongoDB collection scan S1 + CSV
staging S2/S5, SURVEY.md §2.1) with direct columnar parquet scans: Catalyst
pushes column pruning and predicates into the scan (``PushedFilters`` /
``ReadSchema`` in .explain), so — unlike the reference, which materializes
whole collections in worker memory (user_table.py:25) — only the needed
bytes are read.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """One lazy DataFrame per fixture table — no eager materialization.

    Self-contained w.r.t. session config: the driver may hand us a vanilla
    SparkSession, so the two confs correctness depends on are set here at
    runtime (both are SQLConf-level, runtime-settable).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Keep InferFiltersFromGenerate off even on a vanilla session: it clones
    # the generator's whole expression tree into a pushed-down filter, which
    # re-tokenizes documents inside every element_at (18x on winnowing /
    # shingle explodes — see session.py for the full story).
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), rejected by default readers.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is parquet TIMESTAMP(NANOS): read as nanos-long (legacy conf
    # in session.py) and truncate to micros — same behavior as engines whose
    # native timestamp is microseconds.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _parse_bytes(s: str) -> int:
    """'128m' / '134217728' / '4MB' → bytes (SparkConf byte-string forms)."""
    s = s.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suf, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("t", 1 << 40)):
        if s.endswith(suf):
            mult, s = m, s[:-1]
            break
    return int(float(s) * mult)


def _scan_file_sizes(df: DataFrame) -> list[int] | None:
    """On-disk sizes of the files behind a bare ``load_table`` frame, from
    file metadata alone (no job, no RDD, no physical planning). ``None`` —
    'already wide' to callers — for a frame past a shuffle (its leaf files
    say nothing about its width), object stores and in-memory frames."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter"):  # keep the scan's splits
        node = node.child()
    if node.nodeName() != "LogicalRelation":
        return None
    sizes = []
    for uri in df.inputFiles():
        if uri.startswith("file:"):
            path = "/" + uri[5:].lstrip("/")
        elif "://" in uri:
            return None  # remote store: never narrow at scale
        else:
            path = uri
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    return sizes or None


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Split count by Spark's own packing arithmetic: each file charged
    size + openCostInBytes, packed into maxPartitionBytes bins."""
    sizes = _scan_file_sizes(df)
    if sizes is None:
        return None
    conf = df.sparkSession.conf
    max_pb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    return max(1, math.ceil(sum(s + open_cost for s in sizes) / max(max_pb, 1)))


def scan_is_narrow(df: DataFrame) -> bool:
    """True iff ``df``, a bare ``load_table`` frame, is (estimated) narrower
    than the session parallelism; a derived frame answers False."""
    splits = _estimated_scan_splits(df)
    return splits is not None and splits < df.sparkSession.sparkContext.defaultParallelism


def fits_broadcast(df: DataFrame) -> bool:
    """True iff a bare ``load_table`` frame is narrow AND its file bytes fit
    autoBroadcastJoinThreshold — the guard for pinning it as a broadcast
    build side, a hint that overrides the planner's own size check."""
    limit = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    return scan_is_narrow(df) and sum(_scan_file_sizes(df)) <= _parse_bytes(limit)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a bare ``load_table`` frame iff its scan
    is narrower than the session's parallelism. Small fixture files arrive
    as a single split, serializing CPU-bound stages (shingling, md5
    hashing) on one core; at 100 TB a scan has thousands of splits and
    this is a no-op. Widening happens only here, at a plan's file scan:
    operators never repartition their input."""
    if scan_is_narrow(df):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so plans can use spark.sql(...) alongside the
    DataFrame API (same Catalyst plan either way)."""
    for n in names:
        load_table(spark, n, sf_dir).createOrReplaceTempView(n)
