"""Document fingerprinting by rolling-hash winnowing (Schleimer et al.,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003).

Pipeline per document: tokens → k-gram hashes (the "rolling" hash stream)
→ sliding windows of w consecutive hashes → min hash per window →
distinct selected values = the fingerprint set. Guarantee: any shared
substring of at least w+k-1 tokens between two documents yields at least
one shared fingerprint, while only ~2/(w+1) of all k-gram hashes are kept.

Everything is array expressions inside one projection — zero shuffles
until the final explode+distinct, which shuffles (doc, fp) pairs only
(~2/(w+1) × token count). Hashes are md5-derived (functions/text.py) so a
DuckDB oracle reproduces the exact fingerprint sets.

Replaces nothing in the reference (it has no text analytics); part of the
training-data operator family (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.functions import text as T


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, w: int = 4) -> DataFrame:
    """Distinct (doc, fp) winnowing fingerprints; k = gram size in tokens,
    w = window size in grams. Docs shorter than k tokens yield no rows.

    Each array stage is materialized as its own projection so the previous
    stage's expression is evaluated once, not once per element_at of the
    next lambda (no CSE across higher-order-function boundaries — same
    pitfall as operators/dedup.py::_shingle_table, measured 18× there).
    """
    toks = df.select(F.col(id_col).alias("doc"),
                     T.tokens(text_col).alias("ts"))
    gram = F.transform(
        F.sequence(F.lit(1), F.size("ts") - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at("ts", i + j) for j in range(k)]),
    )
    grams = toks.select(
        "doc",
        F.when(F.size("ts") >= k, gram)
        .otherwise(F.array().cast("array<string>")).alias("grams"),
    )
    hashes = grams.select(
        "doc", F.transform("grams", lambda g: T.hash28(g)).alias("hs"))
    wins = F.transform(
        F.sequence(F.lit(1), F.size("hs") - (w - 1)),
        lambda i: F.array_min(F.slice("hs", i, w)),
    )
    fps = hashes.select(
        "doc",
        # Fewer than w grams: keep the global min (degenerate window), so
        # short-but-tokenizable docs still carry one fingerprint.
        F.when(F.size("hs") >= w, F.array_distinct(wins))
        .when(F.size("hs") > 0, F.array(F.array_min("hs")))
        .otherwise(F.array().cast("array<long>")).alias("fps"),
    )
    # array_distinct above already makes fingerprints unique per doc — no
    # dropDuplicates (that would be a whole-row shuffle for nothing).
    return fps.select("doc", F.explode("fps").alias("fp"))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.5,
                      k: int = 3, w: int = 4) -> DataFrame:
    """Document pairs where either side's winnowing-fingerprint set is
    largely contained in the other's: c(A|B) = |fp(A)∩fp(B)| / |fp(A)|
    (Broder's containment). Asymmetric by nature — a short quote inside a
    long document scores high containment but low Jaccard, which is why
    dedup pipelines run containment ALONGSIDE the Jaccard family.

    Same inverted-index shape as jaccard_pairs: fingerprints are already
    a winnowed (sub-sampled) representation, so the posting lists are a
    w-th of the shingle table's — containment inherits winnowing's
    guarantee of detecting matches longer than w+k-1 tokens. Integer
    intersections + one division per side: hash-exact across engines.
    Emits d1 < d2 with both directions' containment.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).cache()
    sizes = fps.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fps.alias("a"), fps.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "d1", "n_fp": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc": "d2", "n_fp": "n2"}), "d2")
        .withColumn("containment_1_in_2", F.round(F.col("inter") / F.col("n1"), 6))
        .withColumn("containment_2_in_1", F.round(F.col("inter") / F.col("n2"), 6))
        .filter(F.greatest("containment_1_in_2", "containment_2_in_1")
                >= threshold)
        .select("d1", "d2", "containment_1_in_2", "containment_2_in_1")
    )
