"""Checks of the benchmark's own generators and tracing.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))


def test_generators_repeat_per_seed():
    import gen_docs
    import gen_tables

    from airflow_pipelines_from_mongo_to_postgres_spark.plans.entities import ENTITIES

    a, b = gen_tables.build_tables(5, 0.001), gen_tables.build_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(gen_tables.build_tables(6, 0.001)["lineitem"])
    for name, spec in ENTITIES.items():
        d1 = gen_docs.build_day1(5, name, spec.schema, 50)
        assert d1.equals(gen_docs.build_day1(5, name, spec.schema, 50))
        d2 = gen_docs.build_day2(5, name, spec.schema, d1)
        assert d2.num_rows == 25 + 5 and d2["_id"].null_count == gen_docs.NULL_IDS[2]


@pytest.fixture(scope="module")
def spark():
    from airflow_pipelines_from_mongo_to_postgres_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    from gen_tables import write_tables

    out = tmp_path_factory.mktemp("tables")
    write_tables(out, 7, 0.001)
    return str(out)


def test_q01_records_all_catalyst_phases(spark, tables):
    """The phases come from the query execution that ran (the noop write's
    own QueryExecution), not from the DataFrame's tracker."""
    from tracing import PhaseListener, register_phase_listener

    from airflow_pipelines_from_mongo_to_postgres_spark.plans.relational import (
        q01_pricing_summary)

    listener = register_phase_listener(spark)
    q01_pricing_summary(spark, tables).write.format("noop").mode("overwrite").save()
    rec = listener.wait_for(1)[-1]
    assert set(PhaseListener.PHASES) <= set(rec), rec
    assert all(rec[k] >= 0 for k in PhaseListener.PHASES)


def test_build_jvm_calls_repeat_exactly(spark, tables):
    from tracing import Tracer

    from airflow_pipelines_from_mongo_to_postgres_spark.plans import llmdata
    from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import (
        q134_corpus_build_semantic)

    tracer = Tracer()
    tracer.install(spark.sparkContext._gateway._gateway_client)
    tracer.enabled = True
    calls = []
    try:
        for _ in range(2):
            with tracer.span("plans.build") as rec:
                q134_corpus_build_semantic(spark, tables)
            calls.append(rec["jvm_calls"])
            llmdata.clear_caches()
    finally:
        tracer.uninstall()
    assert calls[0] == calls[1] > 0
    names = {s["name"] for s in tracer.spans}
    assert "sources.load_table" in names
    assert spark.sparkContext._gateway._gateway_client.send_command.__name__ \
        == "send_command"           # uninstall restored the real method
