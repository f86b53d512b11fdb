"""Pipeline runner — replaces the reference's five Airflow DAGs with a
topologically-ordered, partition-parallel load (SURVEY.md §3, §7d).

Full migration (ref mongo_to_postgres_migration.py): nested source →
conform → warehouse. Daily update (ref mongo_to_postgres_updation.py):
incremental batch → surrogate-key reconciliation → merge-upsert →
warehouse. The warehouse holds one snapshot table per entity
(sources/snapshots.py). No Postgres write is wired in here:
``jdbc_merge`` (sources/sinks.py) is the set-based Postgres merge, and
its one package caller is the ``$merge`` jdbc target.

No CSV staging between stages (ref user_table.py:90,97) — the lazy
DataFrame is the inter-stage IR; Spark checkpoints only at the sink.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.operators.keygen import assign_surrogate_keys
from airflow_pipelines_from_mongo_to_postgres_spark.operators.merge import (
    insert_if_absent,
    merge_upsert,
)
from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import ENTITIES, topo_order
from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
    current_version,
    read_snapshot,
    snap_overwrite,
)


class Warehouse:
    """Snapshot-table warehouse with the reference's table contract:
    surrogate ``id`` + unique natural key, one snapshot table
    (sources/snapshots.py) per table under ``root``.

    Every write is one manifest commit, so a crash at any point leaves
    the old or the new table readable, never neither, and a frame read
    before a write keeps reading the snapshot it resolved. That is also
    what lets an incremental merge READ the table it replaces. Superseded
    snapshots stay on disk until ``snapshots.vacuum`` runs (the
    Delta/Iceberg retention convention); writes never vacuum."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)

    def exists(self, table: str) -> bool:
        return current_version(self.spark, str(self.root / table)) > 0

    def read(self, table: str) -> DataFrame:
        return read_snapshot(self.spark, str(self.root / table))

    def write(self, table: str, df: DataFrame) -> None:
        snap_overwrite(self.spark, str(self.root / table), df)


@dataclass
class TableRun:
    """Outcome of one entity's load attempt(s)."""
    entity: str
    status: str               # "loaded" | "failed"
    attempts: int = 1
    quarantined: int = 0      # M14 rows diverted to {entity}__quarantine
    error: str | None = None


@dataclass
class RunReport:
    """Per-table outcomes of a pipeline run (the engine-idiomatic form of
    the reference's DAG-level retries=5 / retry_delay=5min policy, ref
    mongo_to_postgres_migration.py:21-27 — plus the failure isolation the
    reference lacks: one poisoned collection no longer aborts siblings)."""
    tables: list[TableRun] = field(default_factory=list)

    @property
    def loaded(self) -> list[str]:
        return [t.entity for t in self.tables if t.status == "loaded"]

    @property
    def failed(self) -> list[str]:
        return [t.entity for t in self.tables if t.status == "failed"]

    @property
    def ok(self) -> bool:
        return not self.failed


def _run_entities(names, step, on_error: str, retries: int,
                  retry_delay_s: float) -> RunReport:
    """Shared per-table loop: ``step(name) -> quarantined_count``; each
    table gets ``1 + retries`` attempts; with ``on_error='continue'`` a
    table that exhausts its attempts is recorded and its siblings still
    run (children of a failed parent still attempt — the q23 FK-orphan
    audit is the cross-table integrity check, not load ordering)."""
    if on_error not in ("raise", "continue"):
        raise ValueError(f"on_error must be 'raise' or 'continue': {on_error}")
    report = RunReport()
    for name in names:
        attempts = 0
        while True:
            attempts += 1
            try:
                q = step(name)
                report.tables.append(TableRun(name, "loaded", attempts, q))
                break
            except Exception as e:  # noqa: BLE001 — isolation boundary
                if attempts <= retries:
                    if retry_delay_s:
                        time.sleep(retry_delay_s)
                    continue
                if on_error == "raise":
                    raise
                report.tables.append(TableRun(
                    name, "failed", attempts,
                    error=f"{type(e).__name__}: {e}"))
                break
    return report


def _load(warehouse: Warehouse, name: str, src: DataFrame,
          target: DataFrame | None) -> int:
    """One table step: conform ``src``, divert null-key rows (M14), assign
    surrogate ids (J1+J2), merge into ``target`` (the current table;
    ``None`` on the initial load) and write. Returns the quarantined row
    count.

    Null natural keys can never merge (the key is the UNIQUE/ON CONFLICT
    column), so they go to ``{name}__quarantine`` instead of poisoning
    the join. An Observation on the table write counts them, so the
    source runs once; only a non-empty quarantine costs its own
    (filtered) write. The batch needs no sort: keygen's window orders the
    new ids by natural key (O1)."""
    spec = ENTITIES[name]
    key = F.col(spec.merge_key)
    flat = spec.conform(src)
    nulls = Observation()
    clean = flat.observe(nulls, F.count_if(key.isNull()).alias("n")) \
        .filter(key.isNotNull())
    # the empty id lookup comes from the frame WITHOUT the observation,
    # so the plan carries exactly one CollectMetrics
    existing = (flat.select(F.lit(None).cast("long").alias("id"), key).limit(0)
                if target is None else target.select("id", key))
    keyed = assign_surrogate_keys(existing, clean, natural_key=spec.merge_key,
                                  surrogate="id").select("id", *flat.columns)
    if target is None:
        merged = keyed
    elif spec.insert_only:
        merged = insert_if_absent(target, keyed, key=spec.merge_key)
    else:
        merged = merge_upsert(target, keyed, key=spec.merge_key,
                              mutable=list(spec.mutable))
    warehouse.write(name, merged)
    bad = flat.filter(key.isNull())
    try:
        n_bad = nulls.get["n"]
    except Py4JJavaError:
        # Spark drops the metrics of a subtree it prunes as empty, which
        # happens when no row has a key: only then count the nulls apart
        n_bad = bad.count()
    if n_bad:
        warehouse.write(f"{name}__quarantine", bad)
    return n_bad


def migrate(spark: SparkSession, warehouse: Warehouse,
            sources: dict[str, DataFrame],
            entities: list[str] | None = None,
            on_error: str = "raise", retries: int = 0,
            retry_delay_s: float = 0.0) -> RunReport:
    """Initial full load: conform each nested source and write it with
    fresh surrogate ids, parents before children (J3)."""
    names = [n for n in topo_order(entities or list(sources)) if n in sources]
    return _run_entities(
        names, lambda n: _load(warehouse, n, sources[n], None),
        on_error, retries, retry_delay_s)


def daily_update(spark: SparkSession, warehouse: Warehouse,
                 batches: dict[str, DataFrame],
                 entities: list[str] | None = None,
                 on_error: str = "raise", retries: int = 0,
                 retry_delay_s: float = 0.0) -> RunReport:
    """Incremental upsert path (ref DAG 3.2): conform each batch,
    reconcile surrogate keys against the current table (J1+J2; new ids
    continue from its max in natural-key order, O1) and merge with the
    per-entity mutable-column policy (M1–M13)."""
    names = [n for n in topo_order(entities or list(batches)) if n in batches]
    return _run_entities(
        names, lambda n: _load(warehouse, n, batches[n], warehouse.read(n)),
        on_error, retries, retry_delay_s)
