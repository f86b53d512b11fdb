"""Streaming corpus curation: the q50 training-data pipeline (language +
quality gates → fingerprint dedup) running as a Structured Streaming
micro-batch job with persistent cross-batch state.

State is a per-epoch DELTA LEDGER: a manifest-snapshot table
(sources/snapshots.py) to which each micro-batch appends only its own
rows, EXACTLY-ONCE — ``snap_append_txn`` advances the stream's epoch
mark (app id ``"<prefix>-<sid>"``, ``incremental._stream_id``) in the
commit, so a batch the checkpoint replays after a crash finds its epoch
at or under the head's mark and skips, and a crash before the commit
leaves nothing a reader can see. An epoch writes O(batch) rows; the
standing state is never rewritten.

* Curation appends ``plans.llmdata.curated_fingerprint_agg(batch)`` —
  the SAME plan the batch query runs, not a reimplementation — and
  ``read_curated_state`` rolls the ledger up at read time: keeper_id =
  min, copies = sum per fp (the HLL ledger's read-time rollup shape).
  Both combiners are associative, so any file→batch partitioning of the
  corpus converges to exactly the batch answer (asserted in
  tests/test_streaming.py). At 100 TB the rollup is one shuffle on the
  uniform fp key.
* SemDeDup appends the ``(vid, v, cell, is_kept)`` rows of each batch's
  new vectors; the ledger itself is the standing state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import curated_fingerprint_agg
from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import (
    _read_raw_manifest,
    current_version,
    read_snapshot,
    snap_append_txn,
)
from airflow_pipelines_from_mongo_to_postgres_spark.streaming.incremental import (
    _stream_id,
    run_incremental_merge,
)

#: Schema of the documents drop files (matches the fixture tables).
DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def read_curated_state(spark: SparkSession,
                       state_dir: str) -> DataFrame | None:
    """Curated-corpus state ``(fp, keeper_id, copies)`` as of the latest
    committed epoch, or None before the first batch."""
    if current_version(spark, state_dir) == 0:
        return None
    return read_snapshot(spark, state_dir).groupBy("fp").agg(
        F.min("keeper_id").alias("keeper_id"),
        F.sum("copies").alias("copies"))


def run_incremental_curation(spark: SparkSession, drop_dir: str,
                             checkpoint_dir: str, state_dir: str,
                             schema: StructType | str = DOC_SCHEMA,
                             max_files_per_trigger: int | None = None) -> None:
    """Drain all pending document files through the curation gates and
    append each batch's aggregate to the state ledger (Trigger.
    AvailableNow; ``max_files_per_trigger`` bounds each micro-batch,
    which also forces the multi-epoch path under test)."""
    sid = _stream_id(checkpoint_dir)

    def fold(batch: DataFrame, epoch: int) -> None:
        snap_append_txn(spark, state_dir, curated_fingerprint_agg(batch),
                        app_id=f"curation-{sid}", epoch=epoch)

    run_incremental_merge(spark, drop_dir, schema, fold, checkpoint_dir,
                          fmt="parquet",
                          max_files_per_trigger=max_files_per_trigger)


#: Schema of embedding drop files (matches the embeddings fixture).
EMB_SCHEMA = "vec_id long, embedding array<double>, label int"


def run_incremental_semantic_dedup(spark: SparkSession, drop_dir: str,
                                   checkpoint_dir: str, state_dir: str,
                                   threshold: float, centroids: list,
                                   schema: StructType | str = EMB_SCHEMA,
                                   max_files_per_trigger: int | None = None
                                   ) -> None:
    """Streaming SemDeDup maintenance — the embedding twin of
    ``run_incremental_curation``: each appended micro-batch of vectors
    is judged against the standing ``(vid, v, cell, is_kept)`` ledger
    (``read_snapshot``) through ``operators.similarity.
    incremental_semantic_dedup`` (batch-proportional pair work, same
    frozen quantizer), and only its delta rows are appended, under the
    same exactly-once epoch mark. One head read gives the mark (a replay
    at or under it returns before reading: the monotone-id guard would
    reject its own rows) and the version the ledger read is pinned to.
    Stream == batch parity is the test: any file→batch partitioning
    converges to ``semantic_dedup_state`` over the union, because the
    min-id keeper under the monotone-append contract is associative
    across batches. Out-of-order ids raise through that guard and fail
    the batch loudly, before anything is committed."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_dedup_state,
    )

    sid = _stream_id(checkpoint_dir)

    def fold(batch: DataFrame, epoch: int) -> None:
        app_id = f"semdedup-{sid}"
        head = _read_raw_manifest(spark, state_dir)
        if (head.get("txns") or {}).get(app_id, -1) >= epoch:
            return
        if head["version"] == 0:
            delta = semantic_dedup_state(batch, "vec_id", "embedding",
                                         threshold, centroids)
        else:
            delta, _ = incremental_semantic_dedup(
                read_snapshot(spark, state_dir, version=head["version"]),
                batch, "vec_id", "embedding", threshold, centroids)
        snap_append_txn(spark, state_dir, delta, app_id, epoch)

    run_incremental_merge(spark, drop_dir, schema, fold, checkpoint_dir,
                          fmt="parquet",
                          max_files_per_trigger=max_files_per_trigger)
