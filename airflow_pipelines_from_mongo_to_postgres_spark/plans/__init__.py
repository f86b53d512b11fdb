"""Named query plans exposed through ``__spark_entry__``.

Each module exports ``QUERIES: dict[name -> (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[name -> ANSI SQL str]`` (DuckDB-runnable on the same
parquet views). Names must agree; computed columns are aliased identically
on both sides (the driver hash-compares by sorted column name).

``all_queries()`` / ``all_oracles()`` merge the per-module dicts in
``ALL_PLAN_MODULES`` order; correctness is the three-SF
``tools/check_oracle.py`` sweep over every entry, where order does not
matter.
"""

from airflow_pipelines_from_mongo_to_postgres_spark.plans import (
    analytics,
    docmodel,
    extras,
    llmdata,
    mergeops,
    relational,
    sketchmaint,
    streamsql,
    temporal,
)

ALL_PLAN_MODULES = [relational, mergeops, streamsql, temporal, analytics,
                    llmdata, sketchmaint, extras, docmodel]


def all_queries():
    out = {}
    for m in ALL_PLAN_MODULES:
        out.update(m.QUERIES)
    return out


def all_oracles():
    out = {}
    for m in ALL_PLAN_MODULES:
        out.update(m.ORACLES)
    return out
