"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``) and runs
units back to back (``run_unit``): first ``warm_units`` untimed ones, the
JIT warm-up paid inside set-up time, then the timed ones. ``verify``
finally checks what the units produced. A unit is the workload's
fixed amount of work: one pass over its queries, or one ETL cycle (migrate
into a fresh warehouse, then the day-2 ``daily_update``).
Operations are single queries or single (entity, phase) table steps;
``Harness.op`` times them one at a time, a closed loop with one client.
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor

#: per-query and per-ETL-step inputs; see DESIGN.md for the sizing
QUERY_SCALE = 0.02
ETL_DOCS_PER_ENTITY = 1000

CORPUS = ["q28_minhash_lsh_pairs"]
#: one entity per merge shape: merge_upsert with a frozen column
#: (organizations), the $match + $unwind pipeline keyed on an exploded
#: array (loanapplications), insert-only (loanoffers)
ETL_ENTITIES = ["organizations", "loanapplications", "loanoffers"]


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


class QueryWorkload:
    #: untimed full-size units before timing: the first pays codegen and
    #: class loading, the second the bulk of the JIT compilation
    warm_units = 2

    def __init__(self, h, names: list[str]):
        self.h, self.names = h, names
        self.results: dict[tuple, list] = {}    # (unit, query) -> canon rows
        self.bad: set[tuple] = set()

    def prepare(self) -> dict:
        from gen_tables import write_tables

        from airflow_pipelines_from_mongo_to_postgres_spark.plans import all_queries
        self.data = self.h.work / "tables"
        rows = write_tables(self.data, self.h.seed, QUERY_SCALE)
        registry = all_queries()
        self.plans = {n: registry[n] for n in self.names}
        sys.path.insert(0, str(self.h.root / "tools"))
        return {"scale": QUERY_SCALE, "rows": rows}

    def _clear(self) -> None:
        from airflow_pipelines_from_mongo_to_postgres_spark.plans import llmdata
        llmdata.clear_caches()
        self.h.spark.catalog.clearCache()
        self.h.spark._jvm.System.gc()

    def warm_up(self) -> list[float]:
        """Run the untimed units; returns each one's seconds."""
        return [_timed(self.run_unit, u) for u in range(-self.warm_units, 0)]

    def run_unit(self, unit: int) -> None:
        from check_oracle import canon

        for name in self.names:
            out = self.h.op(unit, name, lambda n=name: self._query(n, self.data))
            if out is not None:
                self.results[(unit, name)] = canon(*out)
            self._clear()

    def _query(self, name: str, data) -> tuple[list, list]:
        tr = self.h.tracer
        with tr.span("plans.build"):
            df = self.plans[name](self.h.spark, str(data))
        with tr.span("exec.action"):
            rows = [tuple(r) for r in df.collect()]
        return rows, df.columns

    def verify(self) -> set[tuple]:
        """Oracle-check every execution's rows; returns the (unit, query)
        pairs that differ from their DuckDB oracle."""
        import duckdb
        from check_oracle import TABLES, canon

        from airflow_pipelines_from_mongo_to_postgres_spark.plans import all_oracles
        oracles = all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data / t}.parquet'")
        for name in self.names:
            res = con.execute(oracles[name])
            want = canon(res.fetchall(), [d[0] for d in res.description])
            for key, got in self.results.items():
                if key[1] == name and got != want:
                    self.h.log(f"{name} (unit {key[0]}): rows differ from "
                               "its DuckDB oracle")
                    self.bad.add(key)
        return self.bad

    def failed_ops(self, ops: list[dict]) -> int:
        return sum(1 for o in ops if (o["unit"], o["op"]) in self.bad)


class EtlWorkload:
    #: the first cycle pays codegen and class loading, the second most of
    #: the JIT compilation
    warm_units = 2

    def __init__(self, h):
        self.h = h
        self.cycles: dict[int, dict] = {}   # unit -> {root, quarantined}
        self.bad_units: set[int] = set()

    def prepare(self) -> dict:
        from gen_docs import expectations, write_docs

        from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import (
            ENTITIES, topo_order)
        specs = {n: ENTITIES[n] for n in ETL_ENTITIES}
        self.docs = self.h.work / "docs"
        self.tables = write_docs(self.docs, self.h.seed, ETL_DOCS_PER_ENTITY,
                                 specs)
        self.expect = expectations(self.tables)
        self.order = topo_order(ETL_ENTITIES)
        self.source_bytes = sum(p.stat().st_size
                                for p in self.docs.rglob("*.parquet"))
        self.n_docs = sum(d1.num_rows + d2.num_rows
                          for d1, d2 in self.tables.values())
        return {"docs_per_entity": ETL_DOCS_PER_ENTITY,
                "entities": self.order, "source_docs": self.n_docs,
                "source_bytes": self.source_bytes}

    def _step(self, unit: int, phase: str, name: str, wh, docs) -> None:
        from airflow_pipelines_from_mongo_to_postgres_spark.plans import pipeline
        from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import (
            ENTITIES, REFERENCE_PIPELINES)
        from airflow_pipelines_from_mongo_to_postgres_spark.sources import mongoql

        spark = self.h.spark
        day = 1 if phase == "migrate" else 2
        raw = spark.read.schema(ENTITIES[name].schema).parquet(
            str(docs / f"day{day}" / f"{name}.parquet"))
        src = mongoql.apply_pipeline(raw, REFERENCE_PIPELINES[name])
        run = pipeline.migrate if phase == "migrate" else pipeline.daily_update
        report = run(spark, wh, {name: src})
        self.cycles[unit]["quarantined"][(phase, name)] = report.tables[0].quarantined

    def warm_up(self) -> list[float]:
        """Run the untimed cycles; returns each one's seconds. The first,
        cold, cycle runs each entity's migrate + daily_update chain side by
        side: its cost is mostly driver-side compilation, single-threaded
        per chain."""
        first = -self.warm_units
        times = [_timed(self.run_unit, first, len(self.order))]
        return times + [_timed(self.run_unit, u) for u in range(first + 1, 0)]

    def run_unit(self, unit: int, threads: int = 1) -> None:
        from airflow_pipelines_from_mongo_to_postgres_spark.plans.pipeline import Warehouse

        root = self.h.work / "warehouse" / f"cycle{unit}"
        wh = Warehouse(self.h.spark, str(root))
        self.cycles[unit] = {"root": root, "quarantined": {}}

        def chain(name):
            for phase in ("migrate", "daily_update"):
                self.h.op(unit, f"{phase}:{name}",
                          lambda: self._step(unit, phase, name, wh, self.docs))
        if threads > 1:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                list(pool.map(chain, self.order))
            return
        for phase in ("migrate", "daily_update"):
            for name in self.order:
                self.h.op(unit, f"{phase}:{name}",
                          lambda p=phase, n=name: self._step(unit, p, n, wh, self.docs))

    def _check_cycle(self, unit: int) -> list[str]:
        from airflow_pipelines_from_mongo_to_postgres_spark.plans.pipeline import Warehouse
        from pyspark.sql import functions as F

        wh = Warehouse(self.h.spark, str(self.cycles[unit]["root"]))
        quarantined = self.cycles[unit]["quarantined"]
        errors = []
        for name in self.order:
            want = self.expect[name]
            got_q = (quarantined.get(("migrate", name)),
                     quarantined.get(("daily_update", name)))
            if got_q != tuple(want["quarantined"]):
                errors.append(f"{name}: quarantined {got_q} != {want['quarantined']}")
            if not wh.exists(name):
                errors.append(f"{name}: table missing")
                continue
            n, lo, hi, distinct = wh.read(name).agg(
                F.count(F.lit(1)), F.min("id"), F.max("id"),
                F.countDistinct("id")).first()
            if n != want["rows"][1]:
                errors.append(f"{name}: {n} rows != {want['rows'][1]}")
            if n and (lo, hi, distinct) != (1, n, n):
                errors.append(f"{name}: ids are not 1..{n}")
        frozen = {"organizations": ("businessName", "business_name"),
                  "loanoffers": ("financedAmount", "financedAmount")}
        for name, (src_col, wh_col) in frozen.items():
            if name not in self.order or not wh.exists(name):
                continue
            day1 = self.tables[name][0]
            first = {k: v for k, v in zip(day1["_id"].to_pylist(),
                                          day1[src_col].to_pylist())
                     if k is not None}
            rows = wh.read(name).select("_id", wh_col).collect()
            changed = sum(1 for r in rows if r[0] in first and r[1] != first[r[0]])
            if changed:
                errors.append(f"{name}: {changed} first-insert {wh_col} values changed")
        return errors

    def verify(self) -> set[int]:
        # the timed cycles only: a warm-up cycle is the same work, and
        # checking one costs as much as running it
        for unit in (u for u in self.cycles if u >= 0):
            errors = self._check_cycle(unit)
            for e in errors:
                self.h.log(f"cycle {unit}: {e}")
            if errors:
                self.bad_units.add(unit)
        return self.bad_units

    def failed_ops(self, ops: list[dict]) -> int:
        return sum(1 for o in ops if o["unit"] in self.bad_units)


def make(name: str, h):
    if name == "corpus_curation":
        return QueryWorkload(h, CORPUS)
    if name == "etl_migrate_daily":
        return EtlWorkload(h)
    raise SystemExit(f"unknown workload {name!r}")


