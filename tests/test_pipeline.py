"""End-to-end pipeline: migration day-1 → daily delta day-2 (SURVEY.md §3.1
then §3.2), parquet warehouse, FIXTURES.md cross-cutting requirements."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import ENTITIES, topo_order
from airflow_pipelines_from_mongo_to_postgres_spark.plans.pipeline import (
    Warehouse,
    daily_update,
    migrate,
)
from tests.datagen import day2_delta, gen_rows


def test_topo_order_parents_first():
    order = topo_order()
    assert set(order) == set(ENTITIES)
    assert order.index("users") < order.index("organizations")
    assert order.index("organizations") < order.index("trades")
    assert order.index("loandeals") < order.index("loanapplications")
    assert order.index("loanapplications") < order.index("mlscore")


@pytest.fixture()
def sources(spark):
    return {
        name: spark.createDataFrame(gen_rows(ENTITIES[name].schema, 30, seed=i),
                                    ENTITIES[name].schema)
        for i, name in enumerate(["users", "organizations", "trades", "loanoffers"])
    }


def test_migrate_then_daily_update(spark, tmp_path, sources):
    wh = Warehouse(spark, str(tmp_path))
    loaded = migrate(spark, wh, sources)
    assert set(loaded.loaded) == set(sources) and loaded.ok

    users = wh.read("users")
    n1 = users.count()
    assert users.columns[0] == "id"
    ids = [r.id for r in users.select("id").collect()]
    assert sorted(ids) == list(range(1, n1 + 1))  # serial ids from 1

    # day-2: half mutated + 10 new users
    day1 = gen_rows(ENTITIES["users"].schema, 30, seed=0)
    delta_rows = day2_delta(ENTITIES["users"].schema, day1,
                            ENTITIES["users"].mutable, n_new=10)
    delta = spark.createDataFrame(delta_rows, ENTITIES["users"].schema)
    daily_update(spark, wh, {"users": delta})

    after = wh.read("users")
    n2 = after.count()
    assert n2 == n1 + 10  # existing ids updated in place, new appended
    ids2 = [r.id for r in after.select("id").collect()]
    assert sorted(ids2) == list(range(1, n2 + 1))  # keys continue from max


def test_frozen_columns_survive_day2(spark, tmp_path):
    spec = ENTITIES["organizations"]  # mutable = (deleted,) only
    day1 = gen_rows(spec.schema, 20, seed=5)
    wh = Warehouse(spark, str(tmp_path))
    migrate(spark, wh, {"organizations":
                        spark.createDataFrame(day1, spec.schema)})
    before = {r._id: r.business_name
              for r in wh.read("organizations").collect()}

    mutated = []
    for row in day1:
        m = dict(row)
        m["businessName"] = "HACKED"
        m["deleted"] = True
        mutated.append(m)
    daily_update(spark, wh, {"organizations":
                             spark.createDataFrame(mutated, spec.schema)})
    after = wh.read("organizations")
    got = {r._id: (r.business_name, r.deleted) for r in after.collect()}
    for _id, (bn, dl) in got.items():
        assert bn == before[_id]  # frozen column kept first-insert value
        assert dl is True         # mutable column refreshed


def test_insert_only_entity_ignores_conflicts(spark, tmp_path):
    spec = ENTITIES["loanoffers"]
    day1 = gen_rows(spec.schema, 15, seed=8)
    wh = Warehouse(spark, str(tmp_path))
    migrate(spark, wh, {"loanoffers": spark.createDataFrame(day1, spec.schema)})
    before = {r._id: r.financedAmount for r in wh.read("loanoffers").collect()}

    mutated = [dict(r, financedAmount=-1.0) for r in day1[:5]]
    mutated += gen_rows(spec.schema, 5, seed=99)
    daily_update(spark, wh, {"loanoffers":
                             spark.createDataFrame(mutated, spec.schema)})
    after = {r._id: r.financedAmount for r in wh.read("loanoffers").collect()}
    assert len(after) == 20
    for _id, v in before.items():
        assert after[_id] == v  # DO NOTHING: conflicting updates dropped


def test_poisoned_entity_does_not_abort_siblings(spark, tmp_path, sources):
    """Failure isolation (engine form of ref retries=5 policy): one bad
    source is reported failed; every sibling still loads."""
    bad = dict(sources)
    # organizations source missing every column the spec projects → the
    # conform select raises at plan time for that entity only
    bad["organizations"] = spark.createDataFrame([("x",)], ["wrong_col"])
    wh = Warehouse(spark, str(tmp_path))
    report = migrate(spark, wh, bad, on_error="continue")
    assert report.failed == ["organizations"]
    assert set(report.loaded) == {"users", "trades", "loanoffers"}
    assert not report.ok
    for t in report.tables:
        if t.status == "failed":
            assert t.error and t.attempts == 1
    # siblings really are on disk
    assert wh.exists("users") and not wh.exists("organizations")


def test_retries_exhaust_then_report(spark, tmp_path, sources):
    bad = {"organizations": spark.createDataFrame([("x",)], ["wrong_col"])}
    wh = Warehouse(spark, str(tmp_path))
    report = migrate(spark, wh, bad, on_error="continue", retries=2)
    assert report.tables[0].attempts == 3  # 1 + 2 retries

    with pytest.raises(Exception):
        migrate(spark, wh, bad, on_error="raise")

    with pytest.raises(ValueError):
        migrate(spark, wh, bad, on_error="never-heard-of-it")


def test_null_key_rows_quarantined_not_merged(spark, tmp_path):
    """M14 surfaced in the report: null natural keys can never satisfy the
    UNIQUE/ON CONFLICT contract — they land in {entity}__quarantine."""
    spec = ENTITIES["organizations"]
    rows = gen_rows(spec.schema, 10, seed=3)
    poisoned = [dict(r, _id=None) for r in rows[:3]] + rows[3:]
    wh = Warehouse(spark, str(tmp_path))
    report = migrate(spark, wh, {"organizations":
                                 spark.createDataFrame(poisoned, spec.schema)})
    assert report.tables[0].quarantined == 3
    assert wh.read("organizations").count() == 7
    quarantined = wh.read("organizations__quarantine")
    assert quarantined.count() == 3
    assert {r._id for r in quarantined.collect()} == {None}



@pytest.mark.parametrize("phase", ["migrate", "daily_update"])
def test_table_step_reads_its_source_once(spark, tmp_path, phase):
    """One pass per table step: the quarantine count rides the table
    write (no separate count action) and the batch is not pre-sorted, so
    every source row is evaluated exactly once. The natural key goes
    through a Python UDF that bumps an accumulator per evaluation."""
    spec = ENTITIES["organizations"]
    wh = Warehouse(spark, str(tmp_path))
    day1 = gen_rows(spec.schema, 40, seed=11)
    rows = day1
    if phase == "daily_update":
        migrate(spark, wh, {"organizations":
                            spark.createDataFrame(day1, spec.schema)})
        rows = day1[:15] + gen_rows(spec.schema, 10, seed=12)
    evals = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def counted(v):
        evals.add(1)
        return v

    src = spark.createDataFrame(rows, spec.schema) \
        .withColumn("_id", counted("_id"))
    run = migrate if phase == "migrate" else daily_update
    report = run(spark, wh, {"organizations": src})
    assert report.ok and report.tables[0].quarantined == 0
    assert evals.value == len(rows)
    n = 40 if phase == "migrate" else 50
    assert sorted(r.id for r in wh.read("organizations").collect()) \
        == list(range(1, n + 1))


@pytest.mark.parametrize("batch", ["all_null_keys", "no_rows"])
@pytest.mark.parametrize("phase", ["migrate", "daily_update"])
def test_batch_without_a_valid_key(spark, tmp_path, phase, batch):
    """A batch in which no row has a key still reports its quarantine
    count and leaves the table as it was (Spark prunes the empty
    key-side subtree, metrics and all)."""
    spec = ENTITIES["organizations"]
    wh = Warehouse(spark, str(tmp_path))
    n0 = 0
    if phase == "daily_update":
        n0 = 8
        migrate(spark, wh, {"organizations": spark.createDataFrame(
            gen_rows(spec.schema, n0, seed=13), spec.schema)})
    rows = ([dict(r, _id=None) for r in gen_rows(spec.schema, 5, seed=14)]
            if batch == "all_null_keys" else [])
    run = migrate if phase == "migrate" else daily_update
    report = run(spark, wh, {"organizations":
                             spark.createDataFrame(rows, spec.schema)})
    assert report.ok and report.tables[0].quarantined == len(rows)
    assert wh.read("organizations").count() == n0

def test_unknown_source_fails_in_isolation(spark, tmp_path):
    """An unknown source key must be recorded as its OWN table failure
    with on_error='continue' — never abort the siblings before the
    isolation loop even starts."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import topo_order

    order = topo_order(["users", "no_such_entity"])
    assert order[-1] == "no_such_entity" and "users" in order


# -- the table-commit protocol under Warehouse --------------------------------

_SCHEMA = "id long, v string"


def _rows(df):
    return sorted((r.id, r.v) for r in df.collect())


def test_frame_read_before_a_write_keeps_its_snapshot(spark, tmp_path):
    """Snapshot isolation: a frame resolved before a rewrite still
    collects the rows it saw, after the rewrite has committed."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write("t", spark.createDataFrame([(1, "old")], _SCHEMA))
    before = wh.read("t")
    wh.write("t", spark.createDataFrame([(2, "new"), (3, "new")], _SCHEMA))
    assert _rows(before) == [(1, "old")]
    assert _rows(wh.read("t")) == [(2, "new"), (3, "new")]


@pytest.mark.parametrize("crash_at", ["commit", "head_update"])
def test_crashed_write_leaves_old_or_new_table(spark, tmp_path, monkeypatch,
                                               crash_at):
    """Kill the rewrite between its steps: after the data files are
    written but before the manifest commit, the old table is what reads;
    after the manifest is created but before HEAD moves, the new one is
    (``current_version`` heals forward). Never neither, and the next
    write commits normally."""
    from airflow_pipelines_from_mongo_to_postgres_spark.sources import snapshots as S

    wh = Warehouse(spark, str(tmp_path))
    old = [(1, "old")]
    new = [(2, "new"), (3, "new")]
    wh.write("t", spark.createDataFrame(old, _SCHEMA))

    if crash_at == "commit":
        def crash(*args, **kwargs):
            raise OSError("crash after the data files, before the commit")
        monkeypatch.setattr(S, "_commit", crash)
    else:
        write_text = S._write_text_atomic

        def crash(spark_, p, text):
            if p.endswith("/_manifests/HEAD"):
                raise OSError("crash after the manifest, before HEAD")
            write_text(spark_, p, text)
        monkeypatch.setattr(S, "_write_text_atomic", crash)
    with pytest.raises(OSError, match="crash"):
        wh.write("t", spark.createDataFrame(new, _SCHEMA))
    monkeypatch.undo()

    assert wh.exists("t")
    assert _rows(wh.read("t")) == (old if crash_at == "commit" else new)
    wh.write("t", spark.createDataFrame([(4, "next")], _SCHEMA))
    assert _rows(wh.read("t")) == [(4, "next")]


@pytest.mark.parametrize("empty", ["limit0", "no_rows"])
def test_zero_row_frames_round_trip(spark, tmp_path, empty):
    """A zero-row frame is a table: it writes, exists, and reads back 0
    rows with its schema — fresh or over a populated table."""
    full = spark.createDataFrame([(1, "a")], _SCHEMA)
    frame = (full.limit(0) if empty == "limit0"
             else spark.createDataFrame([], _SCHEMA))
    wh = Warehouse(spark, str(tmp_path))
    wh.write("fresh", frame)
    wh.write("t", full)
    wh.write("t", frame)
    for table in ("fresh", "t"):
        got = wh.read(table)
        assert wh.exists(table)
        assert got.count() == 0 and got.schema == full.schema


def test_warehouse_py4j_sends_are_capped(spark, tmp_path, monkeypatch):
    """Driver-side cost of one table write and one read, in py4j sends
    from this thread (memory-release commands, ``m\\n``, are skipped: the
    GC issues them at random points). A per-call JVM class lookup costs
    one send per hop of ``org.apache.hadoop.fs.Path``; with the lookups
    uncached the same calls took write 120 / read 73."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    main = threading.get_ident()
    sends = [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == main and not command.startswith("m\n"):
            sends[0] += 1
        return send(command, *args, **kwargs)

    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(40, numPartitions=4)
    wh.write("warm", df)
    monkeypatch.setattr(client, "send_command", counting)

    wh.write("t", df)
    write_sends, sends[0] = sends[0], 0
    got = wh.read("t")
    read_sends = sends[0]
    monkeypatch.undo()

    assert got.count() == 40
    assert write_sends <= 70, write_sends
    assert read_sends <= 40, read_sends
