"""Streaming corpus curation: the q50 training-data pipeline (language +
quality gates → fingerprint dedup) running as a Structured Streaming
micro-batch job with persistent cross-batch state.

Each micro-batch applies `plans.llmdata.curated_fingerprint_agg` — the
SAME plan the batch query runs, not a reimplementation — and merges its
(fp, keeper_id, copies) aggregate into the durable state with a
full-outer combine: keeper_id = min across generations, copies = sum.
Both combiners are associative, so any file→batch partitioning of the
corpus converges to exactly the batch answer (asserted in
tests/test_streaming.py).

State is generation-addressed parquet (``state_dir/gen=N``): a batch
reads the latest generation and writes the next, so a reader never
observes a half-written state and a crashed batch is retried by the
checkpoint with the same epoch id. At 100 TB the state table is
fingerprint-keyed (≈ one row per distinct document), the combine is one
shuffle on the uniform fp key, and compaction of old generations is a
directory delete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airflow_pipelines_from_mongo_to_postgres_spark.plans.llmdata import curated_fingerprint_agg
from airflow_pipelines_from_mongo_to_postgres_spark.sources.snapshots import _jvm_classes, _jvm_fs

#: Schema of the documents drop files (matches the fixture tables).
DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def _latest_gen(spark: SparkSession, state_dir: str,
                below: int | None = None) -> int | None:
    fs, jpath = _jvm_fs(spark, state_dir)
    if not fs.exists(jpath):
        return None
    # Only COMMITTED generations count: a parquet directory overwrite is
    # not atomic, so a terminal reader (no before_epoch) could otherwise
    # observe the half-written output of a batch that crashed mid-write.
    # Spark's committer drops _SUCCESS last — its presence is the commit
    # marker. (Retried batches were already safe via before_epoch.)
    gens = []
    Path = _jvm_classes(spark).Path
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("gen=")):
            continue
        if fs.exists(Path(f"{state_dir}/{name}/_SUCCESS")):
            gens.append(int(name.split("=", 1)[1]))
    gens = [g for g in gens if below is None or g < below]
    return max(gens) if gens else None


def read_curated_state(spark: SparkSession, state_dir: str,
                       before_epoch: int | None = None) -> DataFrame | None:
    """Latest curated-corpus state, or None before the first batch.

    ``before_epoch`` excludes generations >= that epoch: a RETRIED batch
    must fold into the state as of the previous epoch, never into its own
    crashed attempt's partial output (which would double-count the
    batch). Epochs are monotonically assigned by the checkpoint, so
    gen < epoch is exactly 'state before this batch'."""
    gen = _latest_gen(spark, state_dir, below=before_epoch)
    if gen is None:
        return None
    return spark.read.parquet(f"{state_dir}/gen={gen}")


def combine_curated(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Associative merge of two (fp, keeper_id, copies) aggregates."""
    if old is None:
        return delta
    o = old.select(F.col("fp"), F.col("keeper_id").alias("k_old"),
                   F.col("copies").alias("c_old"))
    n = delta.select(F.col("fp"), F.col("keeper_id").alias("k_new"),
                     F.col("copies").alias("c_new"))
    return (
        o.join(n, "fp", "full_outer")
        .select(
            "fp",
            F.least(F.coalesce("k_old", "k_new"),
                    F.coalesce("k_new", "k_old")).alias("keeper_id"),
            (F.coalesce("c_old", F.lit(0))
             + F.coalesce("c_new", F.lit(0))).alias("copies"),
        )
    )


def run_incremental_curation(spark: SparkSession, drop_dir: str,
                             checkpoint_dir: str, state_dir: str,
                             schema: StructType | str = DOC_SCHEMA,
                             max_files_per_trigger: int | None = None) -> None:
    """Drain all pending document files through the curation gates and
    fold them into the persistent state (Trigger.AvailableNow;
    ``max_files_per_trigger`` bounds each micro-batch, which also forces
    the multi-generation path under test)."""

    def fold(batch: DataFrame, epoch: int) -> None:
        delta = curated_fingerprint_agg(batch)
        prior = read_curated_state(spark, state_dir, before_epoch=epoch)
        merged = combine_curated(prior, delta)
        merged.write.mode("overwrite").parquet(f"{state_dir}/gen={epoch}")

    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    query = (
        reader.load(drop_dir)
        .writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


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
    folds into the standing ``(vid, v, cell, is_kept)`` state through
    ``operators.similarity.incremental_semantic_dedup`` (batch-
    proportional pair work, same frozen quantizer), using the same
    generation-addressed state protocol (``gen=epoch`` + _SUCCESS
    commit marker; a retried batch reads the state BEFORE its own
    crashed attempt). Stream == batch parity is the test: any file→
    batch partitioning converges to ``semantic_dedup_state`` over the
    union, because the min-id keeper under the monotone-append contract
    is associative across batches. Out-of-order ids raise through the
    operator's guard and fail the batch loudly — replaying into the
    prior generation, never corrupting standing verdicts."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_dedup_state,
    )

    def fold(batch: DataFrame, epoch: int) -> None:
        prior = read_curated_state(spark, state_dir, before_epoch=epoch)
        if prior is None:
            updated = semantic_dedup_state(batch, "vec_id", "embedding",
                                           threshold, centroids)
        else:
            _, updated = incremental_semantic_dedup(
                prior, batch, "vec_id", "embedding", threshold, centroids)
        updated.write.mode("overwrite").parquet(f"{state_dir}/gen={epoch}")

    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    query = (
        reader.load(drop_dir)
        .writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
