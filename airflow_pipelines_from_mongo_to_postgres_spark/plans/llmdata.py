"""LLM-training-data operators over the ``documents`` / ``embeddings``
fixtures: dedup family (exact / n-gram Jaccard / MinHash-LSH / SimHash /
transitive clusters), similarity search (brute-force + IVF-bucketed +
frozen-k-means-IVF + hyperplane-LSH ANN), text analysis (language-ID /
quality / token counting / fingerprinting / repetition stats / PII
scan+scrub / unigram-LM scoring), corpus mechanics (deterministic
sampling and splits, stop-shingle inventory, curriculum bins, eval-set
decontamination, sequence packing, source mixing weights, near-dup-graph
PageRank, end-to-end corpus build).

Oracle strategy: every hash that must agree across engines is md5-based
(functions/text.py), so DuckDB reproduces signatures bit-for-bit. The
LSH-based queries verify candidates with EXACT measures, so their output
equals the brute-force definition whenever recall is 1 — SimHash banding
guarantees that by pigeonhole; MinHash banding achieves it at the chosen
(threshold, bands, rows) on data with the fixtures' similarity profile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.functions import text as T
from airflow_pipelines_from_mongo_to_postgres_spark.operators import (
    dedup,
    fingerprint,
    graph,
    similarity,
)
from airflow_pipelines_from_mongo_to_postgres_spark.sources.catalog import load_table, spread

# ---------------------------------------------------------------- SQL pieces
_TOKENS_SQL = "list_filter(string_split_regex(lower({col}), '\\s+'), t -> t <> '')"


def _shingles_sql(col: str, n: int = 3) -> str:
    toks = _TOKENS_SQL.format(col=col)
    join = " || ' ' || ".join(f"ts[i+{j}]" for j in range(n))
    return (f"(SELECT list_distinct(list_transform(range(1, greatest(len(ts) - {n - 1}, 0) + 1), "
            f"i -> {join})) FROM (SELECT {toks} AS ts) __sh)")


def _shingle_table_sql(max_df: int | None = None, source: str = "documents") -> str:
    """CTE chain ``sh`` + ``sizes``; with ``max_df`` the hot shingles
    (document frequency > max_df) are removed BEFORE sizes are counted —
    the exact mirror of ``operators/dedup.py::_shingle_table``'s pruning."""
    base = f"""
sh0 AS (
  SELECT DISTINCT doc_id AS doc, s.shingle AS shingle
  FROM {source}, LATERAL unnest({_shingles_sql('text')}) s(shingle)
)"""
    if max_df is None:
        sh = "sh AS (SELECT doc, shingle FROM sh0)"
    else:
        sh = f"""
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {max_df}),
sh AS (SELECT doc, shingle FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot))"""
    return f"{base},\n{sh},\nsizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc)"


_SHINGLE_TABLE_SQL = _shingle_table_sql()


def _jaccard_pairs_sql(threshold: float, max_df: int | None = None) -> str:
    return f"""
WITH {_shingle_table_sql(max_df)},
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2,
       round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) AS jaccard
FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= {threshold}
"""


#: Stop-shingle cutoff shared by every PRUNED near-dup query (q51/q53/q58/
#: q63): shingles in more than this many documents are dropped before the
#: inverted-index self-join. 3 makes q59's df>=4 inventory exactly the
#: pruned set. At 100 TB this is what bounds the join fan-out to
#: Σ|posting list ≤ max_df|² instead of quadratic in the hottest shingle.
NEAR_DUP_MAX_DF = 3

#: Shared Jaccard pair tables, one per (app, sf_dir, threshold, n, max_df):
#: q51/q53 (and any future consumer) reuse ONE persisted pair plan instead
#: of re-running the shingle join per query — the single biggest cost in
#: the sf0.01 correctness sweep. Bounded: a handful of keys per session.
_PAIR_CACHE: dict[tuple, DataFrame] = {}

#: Shared unpruned (doc, shingle) tables, one per (app, sf_dir, n): the
#: shingle build (tokenize + n-gram transform + explode + distinct) is the
#: common prefix of q26/q27/q28 and every pair-cache consumer — computing
#: it once per corpus snapshot is the production pattern
#: (operators/dedup.py::build_shingle_table) and roughly halves the
#: correctness sweep's llmdata cost.
_SHINGLE_CACHE: dict[tuple, DataFrame] = {}


def _shared(cache: dict, key: tuple, build) -> DataFrame:
    """Lazy-UPGRADE sharing: the first consumer gets the plain lazy plan
    (no persist mark — a single-consumer run, like one timed bench query,
    must not pay cache-materialization it never amortizes; round 4's q26
    +12% drift was exactly that tax). The SECOND consumer upgrades the
    entry to .persist(), so the sweep's 3rd..Nth consumers read the
    materialized cache. Worst case the plan computes twice (consumer 1 +
    the upgrade's materialization) vs N times unshared."""
    entry = cache.get(key)
    if entry is None:
        df = build()
        cache[key] = (df, False)
        return df
    df, persisted = entry
    if not persisted:
        df = df.persist()
        cache[key] = (df, True)
    return df


def _shingles_shared(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, n)
    return _shared(
        _SHINGLE_CACHE, key,
        lambda: dedup.build_shingle_table(
            spread(load_table(spark, "documents", sf_dir)), "doc_id", "text", n=n))


def clear_caches() -> None:
    """Unpersist every session-level shared plan (bench isolation: without
    this, earlier queries' caches distort later queries' timings)."""
    for cache in (_PAIR_CACHE, _SHINGLE_CACHE):
        for df, persisted in cache.values():
            if persisted:
                df.unpersist()
        cache.clear()


def _jaccard_pairs_shared(spark: SparkSession, sf_dir: str, threshold: float,
                          n: int = 3, max_df: int | None = None) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, threshold, n, max_df)
    return _shared(
        _PAIR_CACHE, key,
        lambda: dedup.jaccard_pairs(
            load_table(spark, "documents", sf_dir), "doc_id", "text",
            threshold=threshold, n=n, max_df=max_df,
            shingle_table=_shingles_shared(spark, sf_dir, n),
        ))


# --- q25: exact dedup via content fingerprint --------------------------------
def q25_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return dedup.exact_duplicates(d, "doc_id", "text")


Q25_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keeper_id, count(*) AS copies
FROM documents GROUP BY 1
"""


# --- q26: exact n-gram Jaccard near-dup pairs --------------------------------
def q26_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.2, n=3,
                               shingle_table=_shingles_shared(spark, sf_dir))


Q26_SQL = _jaccard_pairs_sql(threshold=0.2)


# --- q27: MinHash signatures (cross-engine bit parity) ------------------------
_N_PERM_SIG = 16


def q27_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return dedup.minhash_signatures(d, "doc_id", "text", num_perm=_N_PERM_SIG,
                                    n=3,
                                    shingle_table=_shingles_shared(spark, sf_dir))


def _minhash_sig_sql() -> str:
    perms = dedup.minhash_perms(_N_PERM_SIG)
    h = "CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT)"
    mins = ",\n       ".join(
        f"min(({a} * {h} + {b}) % {dedup.MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(perms)
    )
    return f"WITH {_SHINGLE_TABLE_SQL} SELECT doc, {mins} FROM sh GROUP BY doc"


Q27_SQL = _minhash_sig_sql()


# --- q28: MinHash-LSH near-dup pairs (verified) -------------------------------
#: Verification-payload cap: per-doc collect_list is bounded at 4096 hashes
#: (32 KB/row) so ONE book-length outlier can't blow a task at 100×. The
#: bottom-k estimator is EXACT for any pair whose shingle union fits the
#: cap — fixture docs carry ≤ ~100 shingles (measured at sf0.01/sf0.1), so
#: the hash gate still compares exact Jaccard against the exact oracle,
#: with ~40× headroom for regenerated fixtures.
_Q28_MAX_SHINGLES = 4096


def q28_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # num_perm=32 / bands=16 / r=2: near-dup pairs in the fixtures sit at
    # jaccard ≥ 0.8, so per-pair recall is 1-(1-s^2)^16 ≥ 1 - 0.36^16
    # ≈ 1-8.5e-8 — exact-oracle-safe with 4× less signature work than 128/64.
    d = load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", threshold=0.2,
                                   num_perm=32, bands=16, n=3,
                                   shingle_table=_shingles_shared(spark, sf_dir),
                                   max_shingles=_Q28_MAX_SHINGLES)


Q28_SQL = _jaccard_pairs_sql(threshold=0.2)  # exact == LSH-verified at recall 1


# --- q29: SimHash Hamming pairs (guaranteed-recall banding) --------------------
def q29_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, "documents", sf_dir))
    return dedup.simhash_pairs(d, "doc_id", "text", max_hamming=8, bits=60)


def _simhash_sql(max_hamming: int = 8, bits: int = 60) -> str:
    h = "CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)"
    sums = ",\n       ".join(
        f"sum(CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(bits)
    )
    bitexpr = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, t.tok AS tok
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
sums AS (SELECT doc, {sums} FROM tok GROUP BY doc),
sig AS (SELECT doc, {bitexpr} AS simhash FROM sums)
SELECT a.doc AS d1, b.doc AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


Q29_SQL = _simhash_sql()


# --- q30: language identification ----------------------------------------------
def q30_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return d.select("doc_id", T.lang_id("text").alias("predicted_lang"))


def _lang_id_sql() -> str:
    toks = _TOKENS_SQL.format(col="text")
    branches = " UNION ALL ".join(
        "SELECT doc_id, '{lang}' AS lang, len(list_intersect(list_distinct({toks}), [{words}])) AS score FROM documents"
        .format(lang=lang, toks=toks,
                words=", ".join(f"'{w}'" for w in T.LANG_MARKERS[lang]))
        for lang in sorted(T.LANG_MARKERS)
    )
    return f"""
WITH scored AS ({branches}),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scored
)
SELECT doc_id, lang AS predicted_lang FROM ranked WHERE rn = 1
"""


Q30_SQL = _lang_id_sql()


# --- q31: quality scoring --------------------------------------------------------
def q31_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    feats = T.quality_features("text")
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_hits"].alias("stopword_hits"),
        T.quality_score("text").alias("quality"),
    ).filter(F.col("quality") >= 0.5)


def _quality_sql(min_quality: float | None = 0.5) -> str:
    toks = _TOKENS_SQL.format(col="text")
    en = ", ".join(f"'{w}'" for w in T.LANG_MARKERS["en"])
    gate = f"WHERE quality >= {min_quality}" if min_quality is not None else ""
    return f"""
WITH feats AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
         len(list_intersect(list_distinct({toks}), [{en}])) AS stopword_hits
  FROM documents
), scored AS (
  SELECT doc_id, n_tokens,
         round(punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
         stopword_hits,
         round(least(n_tokens / 64.0, 1.0) * 0.5
               + least(stopword_hits / 3.0, 1.0) * 0.3
               + (1 - least(round(punct * 1.0 / greatest(n_chars, 1), 6) * 10, 1.0)) * 0.2,
               6) AS quality
  FROM feats
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, punct_ratio,
       CAST(stopword_hits AS INT) AS stopword_hits, quality
FROM scored {gate}
"""


Q31_SQL = _quality_sql()


# --- q32: BPE-ish token counting ---------------------------------------------------
def q32_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return (
        d.select("lang", T.token_count_bpe("text").alias("bpe_tokens"),
                 F.size(T.tokens("text")).alias("ws_tokens"))
        .groupBy("lang")
        .agg(F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
             F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
             F.round(F.avg("bpe_tokens"), 6).alias("avg_bpe_tokens"))
    )


Q32_SQL = f"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(lower(text), '{T.BPE_TOKEN_RE}'))) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(len({_TOKENS_SQL.format(col='text')})) AS BIGINT) AS total_ws_tokens,
       round(avg(len(regexp_extract_all(lower(text), '{T.BPE_TOKEN_RE}'))), 6) AS avg_bpe_tokens
FROM documents GROUP BY lang
"""


# --- q41: winnowing rolling-hash fingerprints (Schleimer et al. 2003) ---------------
_WINNOW_K, _WINNOW_W = 3, 4


def q41_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, "documents", sf_dir))
    return fingerprint.winnow_fingerprints(d, "doc_id", "text",
                                           k=_WINNOW_K, w=_WINNOW_W)


def _winnow_sql(k: int = _WINNOW_K, w: int = _WINNOW_W) -> str:
    toks = _TOKENS_SQL.format(col="text")
    gram = " || ' ' || ".join(f"ts[i+{j}]" for j in range(k))
    return f"""
WITH toks AS (SELECT doc_id AS doc, {toks} AS ts FROM documents),
grams AS (
  SELECT doc, CASE WHEN len(ts) >= {k}
    THEN list_transform(range(1, len(ts) - {k - 1} + 1), i -> {gram})
    ELSE [] END AS gs
  FROM toks
),
hs AS (
  SELECT doc, list_transform(gs, g ->
    CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT)) AS hs
  FROM grams
),
fps AS (
  SELECT doc, CASE
    WHEN len(hs) >= {w} THEN list_distinct(list_transform(
      range(1, len(hs) - {w - 1} + 1), i -> list_min(hs[i:i+{w - 1}])))
    WHEN len(hs) > 0 THEN [list_min(hs)]
    ELSE [] END AS fps
  FROM hs
)
SELECT doc, unnest(fps) AS fp FROM fps
"""


Q41_SQL = _winnow_sql()



def _unit_sql(v: str) -> str:
    dv = f"{v}::DOUBLE[]"
    return f"list_transform({dv}, x -> x / sqrt(list_dot_product({dv}, {dv})))"


def _cosine_sql(a: str, b: str) -> str:
    """round(dot(unit(a), unit(b)), 6) — the SAME floating-point procedure
    as Spark's V.unit + V.dot (normalize per element, then one sequential
    dot), not DuckDB's list_cosine_similarity (which divides once at the
    end). The divide-once path differs in the last ulps, and a cosine
    landing within ~1e-15 of a 6-dp boundary would round differently —
    the same last-ulp hash-flake class the decimal sums eliminate."""
    return f"round(list_dot_product({_unit_sql(a)}, {_unit_sql(b)}), 6)"


#: Shared oracle CTE: unit-normalize every embedding ONCE per row (the
#: inline _cosine_sql form re-normalizes per pair — measured ~10× slower
#: DuckDB-side on the all-pairs queries).
_UNIT_CTE = ("uembed AS (SELECT vec_id, label, "
             + _unit_sql("embedding") + " AS uv FROM embeddings)")


# --- q86: fingerprint containment pairs (asymmetric near-dup) -----------------------
def q86_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment over winnowing fingerprints — the asymmetric near-dup
    notion Jaccard misses (a short quote inside a long doc). Same
    inverted-index join shape as q26, on the winnowed (w×-smaller)
    posting lists."""
    d = spread(load_table(spark, "documents", sf_dir))
    return fingerprint.containment_pairs(d, "doc_id", "text",
                                         threshold=0.5,
                                         k=_WINNOW_K, w=_WINNOW_W)


def _containment_sql(threshold: float = 0.5) -> str:
    return f"""
WITH fps AS ({_winnow_sql().strip()}),
fsizes AS (SELECT doc, count(*) AS n_fp FROM fps GROUP BY doc),
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2,
       round(inter * 1.0 / s1.n_fp, 6) AS containment_1_in_2,
       round(inter * 1.0 / s2.n_fp, 6) AS containment_2_in_1
FROM pairs
JOIN fsizes s1 ON d1 = s1.doc
JOIN fsizes s2 ON d2 = s2.doc
WHERE greatest(round(inter * 1.0 / s1.n_fp, 6),
               round(inter * 1.0 / s2.n_fp, 6)) >= {threshold}
"""


Q86_SQL = _containment_sql()


# --- q33: brute-force cosine top-k ANN ----------------------------------------------
def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(probe, spread(e), "vec_id", "embedding", k=5)


Q33_SQL = f"""
WITH {_UNIT_CTE},
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(p.uv, c.uv), 6) AS cosine
  FROM uembed p JOIN uembed c ON p.vec_id <> c.vec_id
  WHERE p.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


# --- q34: cosine threshold pairs ------------------------------------------------------
def q34_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.45 sits in the fixtures' tail (7/14/144 pairs at sf0.001/0.01/0.1) —
    # high enough to be "near-dup", low enough that the query has output to
    # hash-check (max pairwise cosine in the fixtures is ~0.5-0.6).
    e = spread(load_table(spark, "embeddings", sf_dir))
    return similarity.cosine_threshold_pairs(e, "vec_id", "embedding",
                                             threshold=0.45)


Q34_SQL = f"""
WITH {_UNIT_CTE}
SELECT a.vec_id AS d1, b.vec_id AS d2,
       round(list_dot_product(a.uv, b.uv), 6) AS cosine
FROM uembed a JOIN uembed b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.uv, b.uv), 6) >= 0.45
"""


# --- q35: IVF-style bucketed ANN (search within coarse cell = label) -------------------
def q35_ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_bucketed(probe, spread(e), "vec_id", "embedding",
                                           bucket_col="label", k=3)


Q35_SQL = f"""
WITH {_UNIT_CTE},
scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(p.uv, c.uv), 6) AS cosine
  FROM uembed p JOIN uembed c
    ON p.label = c.label AND p.vec_id <> c.vec_id
  WHERE p.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


# --- q36: multimodal plumbing — opaque binary payload + typed metadata ------------------
def q36_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns are opaque binary + metadata; decode is a stubbed
    Pandas-UDF stage (operators/multimodal.py). The metadata path (size,
    content hash, format tag) is real and oracle-checked here."""
    d = load_table(spark, "documents", sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("payload_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
        F.lit("text/plain").alias("media_type"),
    )


Q36_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
       sha256(text) AS payload_sha256,
       'text/plain' AS media_type
FROM documents
"""


# --- q52: random-hyperplane LSH ANN (approximate, but hash-gated) -------------------
#: Fixture embedding dimensionality (all SFs; generator-fixed). The LSH
#: sign literals and the IVF centroid literals are dim-bound, and the
#: oracle SQL string is built at import time, so the plan pins the same
#: constant instead of peeking the parquet per call.
_EMB_DIM = 64
_Q52_PLANES, _Q52_TABLES = 4, 8


def q52_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k — yet hash-gated: the hyperplanes are md5-derived
    sign literals (operators/similarity.py::rademacher_signs), so DuckDB
    replays bucketing, candidate generation, and exact rerank and the
    output matches bit-for-bit even where recall < 1. Recall vs the exact
    q33 is separately gated in tests/test_similarity.py."""
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_lsh(probe, spread(e), "vec_id", "embedding", k=5,
                                      planes=_Q52_PLANES, tables=_Q52_TABLES,
                                      dim=_EMB_DIM)


def _sql_darray(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]::DOUBLE[]"


def _lsh_buckets_sql(planes: int, tables: int) -> str:
    """UNION-ALL CTE body assigning every embedding row its (t, b) bucket
    per hash table, from the SAME md5-derived sign literals the Spark
    operator embeds. Projections are on the raw (double) vector — sign is
    scale-invariant, so normalization stays out of the bucket boundary."""
    signs = similarity.rademacher_signs(planes, tables, _EMB_DIM)
    parts = []
    for t in range(tables):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_sql_darray(signs[t][j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(planes)
        )
        parts.append(
            f"SELECT vec_id, {t} AS t, CAST({bits} AS BIGINT) AS b FROM embeddings")
    return "\nUNION ALL\n".join(parts)


def _q52_sql() -> str:
    return f"""
WITH {_UNIT_CTE},
buckets AS (
{_lsh_buckets_sql(_Q52_PLANES, _Q52_TABLES)}
),
cand AS (
  SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets p JOIN buckets c ON p.t = c.t AND p.b = c.b AND p.vec_id <> c.vec_id
  WHERE p.vec_id < 10
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(a.uv, b.uv), 6) AS cosine
  FROM cand
  JOIN uembed a ON a.vec_id = cand.query_id
  JOIN uembed b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


Q52_SQL = _q52_sql()


def _exact_dedup_keep_min(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Rows of ``df`` whose id is the MIN id of their exact-content
    fingerprint group — the single-scan exact-dedup shape (r17
    optimization, guide §2.4): one window shuffle keyed on the
    fingerprint. The groupBy(fp)+left_semi join-back it replaces
    computed the upstream subplan TWICE (once under the aggregate, once
    as the join's left side — for q219 that meant running the whole LM
    scorer twice) and paid a second join shuffle at scale. Row set is
    identical: doc_id == min(doc_id) over its own fp partition ⇔
    doc_id ∈ {min(doc_id) per fp}."""
    w = Window.partitionBy("__fp")
    return (df.withColumn("__fp", T.fingerprint(text_col))
            .withColumn("__keep", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("__keep"))
            .drop("__fp", "__keep"))


# --- q58: composed corpus build — gates → exact dedup → near-dedup → split ----------
def q58_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus pipeline as ONE lazy plan: language gate →
    quality gate → exact dedup (min-id keeper) → near-dedup (jaccard
    >= 0.2 drop) → deterministic split assignment. Every stage has an
    exact SQL mirror, so the composition is value-hash-checked end to end
    — the pipeline a user of this engine actually ships.

    Shuffle ledger: fingerprint window (1 — single-scan exact dedup,
    r17; the old groupBy+semi shape scanned and gated the corpus twice),
    shingle inverted-index join + pair groupBy (2-3), split is
    shuffle-free — the gates fuse into the scan. Same count at 100 TB;
    only partition counts grow. The near-dedup
    stage runs PRUNED (stop shingles with df > NEAR_DUP_MAX_DF dropped, df
    counted on the post-exact-dedup corpus) — the declared pipeline is the
    skew-safe plan, not just the operator knob.

    Perf note (r5, the r4 +9% drift question): 5 cold-cache runs at
    sf0.1 span 3.42-4.12 s (median ~3.5); persisting the base shingle
    table to halve the tokenize passes measures the SAME distribution
    (3.37-4.48), so tokenization is not the bottleneck — the spread is
    self-join/groupBy scheduling jitter at this corpus size, and the
    r3→r4→r5 medians (3.16/3.43/3.5) all sit inside one run's spread."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    kept = d.select("doc_id", "text",
                    T.lang_id("text").alias("plang"),
                    T.quality_score("text").alias("quality")) \
        .filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    exact = _exact_dedup_keep_min(kept)
    deduped = dedup.drop_near_duplicates(exact, "doc_id", "text",
                                         threshold=0.2, n=3,
                                         max_df=NEAR_DUP_MAX_DF)
    return sampling.train_val_test_split(deduped, "doc_id") \
        .select("doc_id", "split")


def _corpus_build_sql() -> str:
    lang = _lang_id_sql()
    quality = _quality_sql()
    toks = _TOKENS_SQL.format(col="text")
    shingles = _shingles_sql("text")
    return f"""
WITH lang_t AS ({lang}), qual_t AS ({quality}),
kept AS (
  SELECT d.doc_id, d.text,
         md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp
  FROM documents d
  JOIN lang_t ON d.doc_id = lang_t.doc_id
  JOIN qual_t ON d.doc_id = qual_t.doc_id
  WHERE lang_t.predicted_lang = 'en'
),
keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp),
ex AS (SELECT k.doc_id, k.text FROM kept k JOIN keepers USING (doc_id)),
sh0 AS (
  SELECT DISTINCT doc_id AS doc, s.shingle AS shingle
  FROM ex, LATERAL unnest({shingles}) s(shingle)
),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {NEAR_DUP_MAX_DF}),
sh AS (SELECT doc, shingle FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT d2 AS doc_id
  FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
  WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= 0.2
)
SELECT doc_id,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
           / 268435456.0 AS u
  FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
)
"""


Q58_SQL = _corpus_build_sql()


# --- q62: exact ANN top-k on the Arrow/BLAS path ------------------------------------
def q62_ann_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as q33, different physical strategy: mapInPandas gemm
    with per-batch partial top-k instead of JVM per-element expressions.
    Exact, so it shares q33's oracle — the Python hot path gets a full
    value-hash gate, proving the Arrow batch plumbing loses nothing."""
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_np(probe, spread(e), "vec_id", "embedding", k=5)


# --- q59: stop-shingle inventory (df > threshold) -----------------------------------
def q59_stop_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles whose document frequency exceeds a cutoff — the exact
    artifact ``jaccard_pairs(max_df=...)`` prunes with. At 100 TB a hot
    shingle in 10^6 docs turns the inverted-index self-join into 10^12
    rows; this inventory is computed with one groupBy and broadcast back
    as an anti-join filter (operators/dedup.py::_shingle_table). Reads
    the session-shared PERSISTED shingle plan (same prefix as
    q26/q27/q28 and the pair-cache consumers) instead of re-tokenizing
    the corpus."""
    sh = _shingles_shared(spark, sf_dir, n=3)
    return (sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_docs"))
            .filter(F.col("df_docs") >= 4))


Q59_SQL = f"""
WITH {_SHINGLE_TABLE_SQL}
SELECT shingle, count(*) AS df_docs
FROM sh GROUP BY shingle HAVING count(*) >= 4
"""


# --- q60: curriculum bins — quality deciles ------------------------------------------
_DECILE_ACCURACY = 1 << 17  # rank-exact whenever n < accuracy (fixture scale)


def q60_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bin documents by quality score (curriculum ordering /
    quality-stratified sampling input) — MAP-SIDE binning, no global sort:
    nine cutpoints come from one ``percentile_approx`` aggregate (partial +
    final merge, GK sketch), ride to every partition via a broadcast
    cross-join, and each row bins itself with an O(9) array filter. The
    plan has no Window at all (gated in tests/test_plans.py) — a global
    ntile would pull every row through one task's sort at 100 TB.

    Bin semantics are value-based: decile = 1 + #{cutpoints < quality},
    cutpoint_j = the ceil(j·n/10)-th smallest quality. GK with
    accuracy > n returns exactly that rank's value, so the DuckDB oracle
    states the same definition with an explicit row_number selection —
    hash-green at fixture scale; at cluster scale the cutpoints degrade
    gracefully to rank-error ≤ n/accuracy while the plan shape is
    unchanged. (Unlike ntile, rows that tie on quality always share a bin,
    so bins are equal-sized only up to tie mass.)"""
    d = load_table(spark, "documents", sf_dir)
    q = d.select("doc_id", F.round(T.quality_score("text"), 6).alias("quality"))
    cuts = q.agg(F.percentile_approx(
        "quality", [j / 10.0 for j in range(1, 10)],
        F.lit(_DECILE_ACCURACY)).alias("cuts"))
    return (q.crossJoin(F.broadcast(cuts))
            .select("doc_id", "quality",
                    (F.size(F.filter("cuts", lambda c: c < F.col("quality")))
                     + 1).cast("int").alias("decile")))


Q60_SQL = f"""
WITH q AS ({_quality_sql(min_quality=None)}),
ranked AS (
  SELECT quality, row_number() OVER (ORDER BY quality) AS r,
         count(*) OVER () AS n
  FROM q
),
cuts AS (
  SELECT list(quality ORDER BY r) AS cuts
  FROM ranked
  WHERE list_contains(list_transform(range(1, 10),
                                     j -> CAST(ceil(j * n / 10.0) AS BIGINT)), r)
)
SELECT doc_id, quality,
       CAST(1 + len(list_filter(cuts.cuts, c -> c < quality)) AS INT) AS decile
FROM q, cuts
"""


# --- q61: split decontamination — exact-dup leakage across train/test ----------------
def q61_split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test/val documents whose content fingerprint also appears in train
    — the exact-duplicate contamination an eval set must not have. One
    fingerprint projection + self-join on fp across split classes; at
    scale the train-side fp set is the big side and the probe (eval) side
    is broadcast."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    split = sampling.train_val_test_split(d, "doc_id") \
        .select("doc_id", T.fingerprint("text").alias("fp"), "split")
    train = split.filter(F.col("split") == "train").select("fp").distinct()
    return (split.filter(F.col("split") != "train")
            .join(train, "fp", "left_semi")
            .select("doc_id", "split")
            .withColumnRenamed("split", "leaked_split"))


Q61_SQL = """
WITH split AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         CASE WHEN u < 0.8 THEN 'train'
              WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, text,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
             / 268435456.0 AS u
    FROM documents
  )
)
SELECT doc_id, split AS leaked_split
FROM split
WHERE split <> 'train'
  AND fp IN (SELECT fp FROM split WHERE split = 'train')
"""


# --- q84: n-gram decontamination score (train↔eval shingle overlap) -----------------
_SPLIT_SQL_CTE = """
split AS (
  SELECT doc_id,
         CASE WHEN u < 0.8 THEN 'train'
              WHEN u < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
             / 268435456.0 AS u
    FROM documents
  )
)"""


def q84_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TRAIN-document n-gram contamination against the eval splits:
    the fraction of the doc's distinct shingles that also occur in any
    val/test document. Exact-dup decontamination (q61) misses partial
    copies; n-gram overlap is the standard stronger gate (a train doc
    sharing most of its shingles with a test doc leaks the benchmark).
    Shares the session shingle table; the eval-side distinct shingle set
    is corpus-vocabulary-sized → AQE broadcasts the probe side. Integer
    counts + one division — hash-exact."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    split = sampling.train_val_test_split(d, "doc_id").select("doc_id", "split")
    sh = _shingles_shared(spark, sf_dir).join(
        split, F.col("doc") == F.col("doc_id")).select("doc", "shingle", "split")
    eval_sh = sh.filter(F.col("split") != "train") \
        .select("shingle").distinct()
    train_sh = sh.filter(F.col("split") == "train")
    hits = (train_sh.join(eval_sh, "shingle", "left_semi")
            .groupBy("doc").agg(F.count(F.lit(1)).alias("contaminated")))
    sizes = train_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        sizes.join(hits, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"), "n_shingles",
            F.coalesce("contaminated", F.lit(0)).alias("contaminated"),
            F.round(F.coalesce("contaminated", F.lit(0))
                    / F.col("n_shingles"), 6).alias("contamination_ratio"),
        )
    )


Q84_SQL = f"""
WITH {_SHINGLE_TABLE_SQL},
{_SPLIT_SQL_CTE},
tagged AS (
  SELECT sh.doc, sh.shingle, split.split
  FROM sh JOIN split ON sh.doc = split.doc_id
),
eval_sh AS (SELECT DISTINCT shingle FROM tagged WHERE split <> 'train'),
train_sh AS (SELECT doc, shingle FROM tagged WHERE split = 'train'),
hits AS (
  SELECT doc, count(*) AS contaminated
  FROM train_sh WHERE shingle IN (SELECT shingle FROM eval_sh)
  GROUP BY doc
),
tsizes AS (SELECT doc, count(*) AS n_shingles FROM train_sh GROUP BY doc)
SELECT tsizes.doc AS doc_id, n_shingles,
       coalesce(contaminated, 0) AS contaminated,
       round(coalesce(contaminated, 0) * 1.0 / n_shingles, 6) AS contamination_ratio
FROM tsizes LEFT JOIN hits ON tsizes.doc = hits.doc
"""


# --- q57: deterministic train/val/test split (hash-based, engine-portable) ----------
def q57_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-stable 80/10/10 split: membership is a pure function of the
    md5 variate of doc_id, so DuckDB reproduces every assignment —
    RNG-free sampling is what makes training-set membership auditable."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    return sampling.train_val_test_split(d, "doc_id").select("doc_id", "split")


Q57_SQL = """
SELECT doc_id,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
           / 268435456.0 AS u
  FROM documents
)
"""


# --- q56: embedding near-dup pairs via LSH (hash-gated) -----------------------------
_Q56_PLANES, _Q56_TABLES = 3, 16


def q56_embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding near-dup through random-hyperplane LSH with
    exact rerank — the scale path for q34 (brute n²/2, the oracle).
    Hash-gated: md5-derived sign literals let DuckDB replay the bucketing
    + rerank pipeline exactly, so the driver checks values, not just row
    counts. Precision is exact; recall ≈ 1-(1-(1-θ/π)³)¹⁶ ≈ 0.99 at the
    fixtures' pair angle, gated in tests/test_similarity.py."""
    e = spread(load_table(spark, "embeddings", sf_dir))
    return similarity.cosine_threshold_pairs_lsh(e, "vec_id", "embedding",
                                                 threshold=0.45,
                                                 planes=_Q56_PLANES,
                                                 tables=_Q56_TABLES,
                                                 dim=_EMB_DIM)


def _q56_sql() -> str:
    return f"""
WITH {_UNIT_CTE},
buckets AS (
{_lsh_buckets_sql(_Q56_PLANES, _Q56_TABLES)}
),
cand AS (
  SELECT DISTINCT p.vec_id AS d1, c.vec_id AS d2
  FROM buckets p JOIN buckets c ON p.t = c.t AND p.b = c.b AND p.vec_id < c.vec_id
)
SELECT d1, d2,
       round(list_dot_product(a.uv, b.uv), 6) AS cosine
FROM cand
JOIN uembed a ON a.vec_id = cand.d1
JOIN uembed b ON b.vec_id = cand.d2
WHERE round(list_dot_product(a.uv, b.uv), 6) >= 0.45
"""


Q56_SQL = _q56_sql()


# --- q55: trained-IVF ANN (frozen k-means coarse quantizer — hash-gated) ------------
_IVF_NPROBE = 3


def q55_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-trained coarse quantizer and nprobe>1 search.
    The quantizer is trained ONCE (tools/train_ivf_centroids.py: MLlib
    k-means k=8 seed=42 on the sf0.01 corpus) and frozen into
    plans/_ivf_centroids.py — the production serving pattern, and what
    makes the approximate pipeline hash-gateable: assignment + probe-cell
    ranking + exact rerank all derive from literals DuckDB replays.
    Recall vs brute-force q33 is separately gated in
    tests/test_similarity.py."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_ivf(probe, spread(e), "vec_id", "embedding",
                                      k=5, nprobe=_IVF_NPROBE,
                                      centroids=IVF_CENTROIDS)


def _q55_sql() -> str:
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    # |c|² literals computed HERE (plain Python left-to-right sum) and the
    # identical values flow into the Spark plan's centroid table — both
    # engines compare the same doubles.
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_darray(c)}, {float(sum(x * x for x in c))!r})"
        for i, c in enumerate(IVF_CENTROIDS)
    )
    return f"""
WITH {_UNIT_CTE},
cent(cell, cvec, c2) AS (
  VALUES
    {cent_rows}
),
u AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
  FROM embeddings
),
scored_cells AS (
  SELECT u.vec_id, cent.cell,
         cent.c2 - 2 * list_dot_product(u.v, cent.cvec) AS cdist
  FROM u CROSS JOIN cent
),
assigned AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cdist ASC, cell ASC) AS rn
    FROM scored_cells) WHERE rn = 1
),
probe_cells AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cdist ASC, cell ASC) AS rn
    FROM scored_cells WHERE vec_id < 10) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT query_id, neighbor_id
  FROM probe_cells JOIN assigned USING (cell)
  WHERE query_id <> neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(a.uv, b.uv), 6) AS cosine
  FROM cand
  JOIN uembed a ON a.vec_id = cand.query_id
  JOIN uembed b ON b.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


Q55_SQL = _q55_sql()


# --- q50: end-to-end corpus curation (lang gate → quality gate → exact dedup) -----
def curated_fingerprint_agg(d: DataFrame) -> DataFrame:
    """The q50 gate + dedup aggregate, factored so the BATCH plan (q50)
    and the STREAMING micro-batch path (streaming/curation.py) run the
    identical logic: keep English docs of acceptable quality, fingerprint,
    collapse to (fp, min keeper_id, copies). Both outputs are mergeable
    across batches because min and count are associative."""
    kept = d.select("doc_id", "text",
                    T.lang_id("text").alias("plang"),
                    T.quality_score("text").alias("quality")) \
        .filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    return (
        kept.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("copies"))
    )


def q50_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: keep English docs of acceptable
    quality, then collapse exact duplicates to a min-id keeper. One shuffle
    (the fingerprint groupBy) — the two gates are scan-side filters."""
    return curated_fingerprint_agg(load_table(spark, "documents", sf_dir))


def _curation_sql() -> str:
    lang = _lang_id_sql()
    quality = _quality_sql()
    return f"""
WITH lang_t AS ({lang}), qual_t AS ({quality}),
kept AS (
  SELECT d.doc_id,
         md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS fp
  FROM documents d
  JOIN lang_t ON d.doc_id = lang_t.doc_id
  JOIN qual_t ON d.doc_id = qual_t.doc_id
  WHERE lang_t.predicted_lang = 'en'
)
SELECT fp, min(doc_id) AS keeper_id, count(*) AS copies
FROM kept GROUP BY fp
"""


Q50_SQL = _curation_sql()


# --- q51: near-dedup corpus (min-id keeper policy over Jaccard pairs) ---------------
def q51_near_dup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup with the min-id keeper policy, on the PRUNED scale path:
    stop shingles (df > NEAR_DUP_MAX_DF) never enter the inverted-index
    join, and the pair table is shared with q53 (one persisted plan)."""
    d = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                  max_df=NEAR_DUP_MAX_DF)
    dropped = pairs.select(F.col("d2").alias("doc_id")).distinct()
    return d.join(dropped, "doc_id", "left_anti") \
        .select("doc_id", "lang", "source")


Q51_SQL = f"""
WITH pairs AS ({_jaccard_pairs_sql(threshold=0.2, max_df=NEAR_DUP_MAX_DF)})
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM pairs)
"""


# --- q63: pruned Jaccard pairs (the declared skew-safe scale path, benched) ----------
def q63_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``jaccard_pairs`` with stop-shingle pruning ON — the plan that
    survives a hot shingle at 100 TB (join fan-out bounded by
    Σ|posting ≤ max_df|²). Benched in bench.py next to the unpruned q26 so
    the pruning's cost/benefit carries a perf gate round over round."""
    return _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                 max_df=NEAR_DUP_MAX_DF)


Q63_SQL = _jaccard_pairs_sql(threshold=0.2, max_df=NEAR_DUP_MAX_DF)


# --- q64: embedding-cosine near-dup corpus (min-id keeper) --------------------------
def q64_embed_near_dup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup in EMBEDDING space: drop every vector whose cosine with a
    lower-id vector is ≥ 0.45, keep the min-id representative — the same
    keeper policy as the n-gram path (q51), on semantic rather than
    lexical similarity. Declared on the exact threshold-pairs operator so
    the result is hash-checkable; the LSH twin (q56, random-hyperplane
    banding + exact rerank) is the 100 TB candidate-generation path, and
    the keeper anti-join is identical either way."""
    e = load_table(spark, "embeddings", sf_dir)
    pairs = similarity.cosine_threshold_pairs(spread(e), "vec_id", "embedding",
                                              threshold=0.45)
    dropped = pairs.select(F.col("d2").alias("vec_id")).distinct()
    return e.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


Q64_SQL = f"""
WITH pairs AS ({Q34_SQL.strip()})
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT DISTINCT d2 FROM pairs)
"""


# --- q53: transitive near-dup clusters (connected components) -----------------------
def q53_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive clusters: every document labeled with
    the min doc_id reachable through jaccard ≥ 0.2 edges (singletons label
    themselves). Iterative min-label propagation (operators/graph.py);
    the oracle is a DuckDB recursive CTE over the same edge set — the
    fixpoint is hash-checked, not just row-counted. Edges come from the
    PRUNED pair table (stop shingles dropped, shared plan with q51)."""
    d = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                  max_df=NEAR_DUP_MAX_DF)
    comps = graph.connected_components(pairs, "d1", "d2",
                                       nodes=d.select("doc_id"))
    return comps.select(F.col("node").alias("doc_id"),
                        F.col("label").alias("cluster_id"))


Q53_SQL = f"""
WITH RECURSIVE {_shingle_table_sql(NEAR_DUP_MAX_DF)},
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
jp AS (
  SELECT d1, d2
  FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
  WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= 0.2
),
edges AS (SELECT d1 AS s, d2 AS d FROM jp UNION ALL SELECT d2 AS s, d1 AS d FROM jp),
reach AS (
  SELECT doc_id AS node, doc_id AS label FROM documents
  UNION
  SELECT e.d AS node, r.label AS label FROM reach r JOIN edges e ON e.s = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
"""


# --- q125: best-representative keeper per dedup cluster -----------------------------
def q125_cluster_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup curation beyond min-id: each transitive cluster keeps its
    HIGHEST-QUALITY member (quality score ties → lowest doc_id) — the
    "best representative" policy real pipelines prefer over arbitrary-id
    keepers when duplicates differ in boilerplate or truncation. One
    argmax hash-agg over the q53 component labels joined with the q31
    quality scores: ``max(struct(quality, -doc_id))`` recovers the
    keeper without any per-cluster sort or window. The oracle replays
    components with the recursive CTE and picks the keeper with a
    ranked window — two different algorithms, one answer."""
    d = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                  max_df=NEAR_DUP_MAX_DF)
    comps = graph.connected_components(pairs, "d1", "d2",
                                       nodes=d.select("doc_id"))
    scored = d.select("doc_id", T.quality_score("text").alias("_q"))
    return (
        comps.select(F.col("node").alias("doc_id"),
                     F.col("label").alias("cluster_id"))
        .join(scored, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"),
             F.max(F.struct(F.col("_q").alias("q"),
                            (-F.col("doc_id")).alias("nid"))).alias("m"))
        .select("cluster_id",
                (-F.col("m.nid")).alias("keeper_id"),
                F.col("m.q").alias("keeper_quality"),
                "cluster_size")
    )


def _q125_sql() -> str:
    toks = _TOKENS_SQL.format(col="text")
    en = ", ".join(f"'{w}'" for w in T.LANG_MARKERS["en"])
    return f"""
WITH RECURSIVE {_shingle_table_sql(NEAR_DUP_MAX_DF)},
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
jp AS (
  SELECT d1, d2
  FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
  WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= 0.2
),
edges AS (SELECT d1 AS s, d2 AS d FROM jp UNION ALL SELECT d2 AS s, d1 AS d FROM jp),
reach AS (
  SELECT doc_id AS node, doc_id AS label FROM documents
  UNION
  SELECT e.d AS node, r.label AS label FROM reach r JOIN edges e ON e.s = r.node
),
comps AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node),
feats AS (
  SELECT doc_id,
         len({toks}) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
         len(list_intersect(list_distinct({toks}), [{en}])) AS stopword_hits
  FROM documents
),
scored AS (
  SELECT doc_id,
         round(least(n_tokens / 64.0, 1.0) * 0.5
               + least(stopword_hits / 3.0, 1.0) * 0.3
               + (1 - least(round(punct * 1.0 / greatest(n_chars, 1), 6) * 10, 1.0)) * 0.2,
               6) AS quality
  FROM feats
),
ranked AS (
  SELECT c.cluster_id, c.doc_id, s.quality,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY s.quality DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
  FROM comps c JOIN scored s USING (doc_id)
)
SELECT cluster_id, doc_id AS keeper_id, quality AS keeper_quality,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
"""


Q125_SQL = _q125_sql()


# --- q73: within-document repetition stats (Gopher-style quality rules) -------------
def q73_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram fractions + token diversity per document —
    boilerplate and degenerate-generation detection. Pure Column
    expressions over one scan: integer gram counts and a single division,
    so both engines produce bit-identical doubles."""
    d = load_table(spark, "documents", sf_dir)
    # Stage the token array in its own projection FIRST — the gram
    # lambdas then index a plain column instead of re-running the regex
    # tokenizer per element (no CSE across HOF boundaries; measured 18×).
    staged = d.select("doc_id", T.tokens("text").alias("__toks"))
    f = T.repetition_features("__toks")
    return staged.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["token_diversity"].alias("token_diversity"),
        f["dup_2gram_ratio"].alias("dup_2gram_ratio"),
        f["dup_3gram_ratio"].alias("dup_3gram_ratio"),
    )


def _grams_dup_sql(col: str, n: int) -> str:
    toks = _TOKENS_SQL.format(col=col)
    join = " || ' ' || ".join(f"ts[i+{j}]" for j in range(n))
    return (f"(SELECT list_transform(range(1, greatest(len(ts) - {n - 1}, 0) + 1), "
            f"i -> {join}) FROM (SELECT {toks} AS ts) __g{n})")


Q73_SQL = f"""
WITH g AS (
  SELECT doc_id,
         {_TOKENS_SQL.format(col='text')} AS toks,
         {_grams_dup_sql('text', 2)} AS g2,
         {_grams_dup_sql('text', 3)} AS g3
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_tokens,
       round(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6) AS token_diversity,
       round((len(g2) - len(list_distinct(g2))) * 1.0 / greatest(len(g2), 1), 6) AS dup_2gram_ratio,
       round((len(g3) - len(list_distinct(g3))) * 1.0 / greatest(len(g3), 1), 6) AS dup_3gram_ratio
FROM g
"""


# --- q74: PII scan + scrub (emails / phones / IPv4) ---------------------------------
def q74_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII occurrence counts and the fingerprint of the
    scrubbed text (each match replaced by its [CLASS] tag). The pattern
    set is the engine-portable subset (no lookarounds) so Java regex and
    RE2 agree; at 100 TB this is one scan-side projection, no shuffle."""
    d = load_table(spark, "documents", sf_dir)
    counts = T.pii_counts("text")
    return d.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ipv4"),
        F.md5(T.scrub_pii("text")).alias("scrubbed_fp"),
    )


def _pii_sql() -> str:
    # DuckDB single-quoted strings treat backslash literally — do NOT
    # double-escape regex backslashes (only quote-escape).
    pats = {k: v.replace("'", "''") for k, v in T.PII_PATTERNS.items()}
    scrub = "lower(text)"
    for name, pat in T.PII_PATTERNS.items():
        sql_pat = pat.replace("'", "''")
        scrub = (f"regexp_replace({scrub}, '{sql_pat}', "
                 f"'[{name.upper()}]', 'g')")
    alias = {"email": "n_emails", "phone": "n_phones", "ipv4": "n_ipv4"}
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS INT) AS {alias[name]}"
        for name, pat in pats.items()
    )
    return f"""
SELECT doc_id,
       {counts},
       md5({scrub}) AS scrubbed_fp
FROM documents
"""


Q74_SQL = _pii_sql()


# --- q75: sequence packing (token-budget bins for training batches) -----------------
_PACK_BUDGET, _PACK_BUCKETS = 2048, 32


def q75_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing of documents into fixed token budgets —
    the batch-assembly step of a training pipeline. Documents hash into
    ``_PACK_BUCKETS`` independent streams (md5-derived, append-stable);
    within a stream, a running token total assigns each doc the pack
    whose budget window its first token lands in.

    Scale: the window partitions on the bucket — ``_PACK_BUCKETS``-way
    parallel, never a global sort; integer arithmetic end to end, so the
    oracle matches exactly."""
    from pyspark.sql import Window
    d = load_table(spark, "documents", sf_dir)
    staged = d.select(
        "doc_id",
        F.pmod(T.hash28(F.col("doc_id").cast("string")),
               F.lit(_PACK_BUCKETS)).cast("int").alias("bucket"),
        T.token_count_bpe("text").alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    return staged.select(
        "doc_id", "bucket", "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / _PACK_BUDGET).cast("int").alias("pack_id"),
    )


Q75_SQL = f"""
WITH staged AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
              % {_PACK_BUCKETS} AS INT) AS bucket,
         len(regexp_extract_all(lower(text), '{T.BPE_TOKEN_RE}')) AS n_tokens
  FROM documents
)
SELECT doc_id, bucket, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens)
                  / {_PACK_BUDGET}) AS INT) AS pack_id
FROM staged
"""


# --- q78: corpus-unigram language-model score (perplexity-proxy curation) ----------
def q78_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's own
    unigram distribution — the cheap perplexity proxy curation pipelines
    use to rank documents before an expensive LM pass. One explode + one
    vocabulary join (vocab ≪ corpus → AQE broadcast) + one groupBy.

    Cross-engine exactness: each token's ln p is rounded to 9 dp FIRST
    (ln bit-parity between the JVM and DuckDB holds on these magnitudes —
    the same assumption q65's idf already relies on), then summed as
    DECIMAL(18,9) — order-independent — and only then averaged, so the
    6-dp output can't flip on aggregation order (sums of logs land
    anywhere, unlike 2-dp money there is NO distance-to-boundary margin
    to lean on)."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(F.log(F.col("cnt") / F.col("total")), 9)
            .cast("decimal(18,9)").alias("lp"))
    )
    return (
        logp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # cast the exact decimal sum to double BEFORE dividing, so both
            # engines perform the same double/long division (DuckDB casts
            # DECIMAL/BIGINT operands to double first; Spark would divide in
            # decimal — one-ulp divergence that round(·,6) can flip)
            F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6)
            .alias("mean_logp"),
        )
    )


Q78_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
total AS (SELECT sum(cnt) AS total FROM vocab),
logp AS (
  SELECT doc_id,
         CAST(round(ln(cnt * 1.0 / total), 9) AS DECIMAL(18,9)) AS lp
  FROM toks JOIN vocab USING (token), total
)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_logp
FROM logp GROUP BY doc_id
"""


def bigram_backoff_scores(docs: DataFrame, train_flag,
                          key: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """CCNet-class perplexity filter (cf. Wenzek et al. 2020, CCNet;
    backoff per Brants et al. 2007 "Stupid Backoff"): score every
    document's mean bigram log-likelihood under a bigram LM trained on
    the REFERENCE subset ``train_flag`` (a boolean Column — the
    realistic shape: LM trained on a clean corpus, scoring the crawl).

    Model, exactly (the documented cross-engine contract):

    - ``S(w2|w1) = c(w1,w2) / c(w1)`` when the bigram was seen in
      training, with ``c(w1) = Σ_w2 c(w1,w2)`` (context counts, so the
      conditionals sum to 1 per context);
    - else ``S(w2|w1) = 0.4 · coalesce(c(w2), 0.5) / N`` — Stupid
      Backoff's unnormalized unigram leg with the 0.4 constant from
      the paper; an out-of-vocabulary ``w2`` takes a half-count floor
      (deterministic, never ln(0));
    - per-doc output: bigram count, mean of per-bigram ln S, and the
      backoff rate (fraction of unseen bigrams — itself a useful
      contamination/novelty signal).

    Distributed shape (100 TB): bigram extraction is ARRAY-side (one
    transform over the token array — no window, no per-token explode
    until after pairing); training counts are two hash aggregations on
    token keys; scoring is three equi-joins (bigram / context /
    unigram keys — AQE broadcasts the LM when it is small, plain
    shuffle joins otherwise) + one groupBy on the doc key. No driver
    state, no collect, no global sort.

    Cross-engine exactness (the q78 discipline): each bigram's ln S is
    rounded to 9 dp FIRST, summed as DECIMAL(18,9) (order-free), cast
    to double before the division; S itself is a ratio of small
    integers (or the identically-associated backoff product), so both
    engines feed ln the same double."""
    toks = docs.select(F.col(key), train_flag.alias("__tr"),
                       T.tokens(text_col).alias("__ts"))
    # slice length clamps at 0: an empty token array would otherwise
    # feed slice a negative length (runtime error), and 0/1-token docs
    # have no bigrams by definition
    n_t = F.greatest(F.size("__ts") - 1, F.lit(0))
    bgs = F.transform(
        F.slice("__ts", 1, n_t),
        lambda w, i: F.struct(w.alias("w1"),
                              F.get(F.col("__ts"), i + 1).alias("w2")))
    bi = toks.select(F.col(key), "__tr", F.explode(bgs).alias("bg")) \
        .select(F.col(key), "__tr", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2"))
    tb = bi.filter(F.col("__tr"))
    big = tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cbg"))
    # c(w1) = Σ_w2 c(w1,w2) DERIVED from the bigram counts (r17
    # optimization, guide §2.3): aggregating tb a second time re-ran
    # tokenization + shuffled every training bigram occurrence again;
    # rolling up `big` shuffles one row per DISTINCT bigram instead, and
    # AQE reuses big's exchange for both consumers. Integer sums —
    # bit-identical cw1.
    ctx = big.groupBy("w1").agg(F.sum("cbg").alias("cw1"))
    tuni = (toks.filter(F.col("__tr"))
            .select(F.explode("__ts").alias("w2"))
            .groupBy("w2").agg(F.count(F.lit(1)).alias("cu")))
    total = tuni.agg(F.sum("cu").alias("nn"))
    s = (F.when(F.col("cbg").isNotNull(),
                F.col("cbg") / F.col("cw1"))
         .otherwise(F.lit(0.4)
                    * (F.coalesce(F.col("cu"), F.lit(0.5)) / F.col("nn"))))
    scored = (bi.join(big, ["w1", "w2"], "left")
              .join(ctx, ["w1"], "left")
              .join(tuni, ["w2"], "left")
              .crossJoin(F.broadcast(total))
              .select(F.col(key),
                      F.col("cbg").isNull().cast("int").alias("bo"),
                      F.round(F.log(s), 9).cast("decimal(18,9)")
                      .alias("lp")))
    return (scored.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum("lp").cast("double")
                         / F.count(F.lit(1)), 6).alias("mean_lp"),
                 F.round(F.sum("bo").cast("double")
                         / F.count(F.lit(1)), 6).alias("bo_rate")))


# --- q216: bigram Stupid-Backoff LM score (CCNet-class perplexity filter) ----------
def q216_lm_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Stupid-Backoff scores for EVERY document, LM trained on
    the hash-split train subset (u < 0.8 — the exact q57 membership
    function, so training membership is auditable and the DuckDB
    oracle reproduces it bit-for-bit). See
    :func:`bigram_backoff_scores` for the model/scale/exactness
    contracts."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    return bigram_backoff_scores(
        d, sampling.hash_uniform("doc_id") < F.lit(0.8))


Q216_SQL = f"""
WITH d AS (
  SELECT doc_id, {_TOKENS_SQL.format(col='text')} AS ts,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
              AS BIGINT) / 268435456.0 < 0.8 AS tr
  FROM documents
),
bi AS (
  SELECT d.doc_id, d.tr, ts[t.i] AS w1, ts[t.i + 1] AS w2
  FROM d, LATERAL unnest(range(1, len(ts))) t(i)
),
big AS (SELECT w1, w2, count(*) AS cbg FROM bi WHERE tr GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS cw1 FROM bi WHERE tr GROUP BY 1),
tuni AS (
  SELECT t.tok AS w2, count(*) AS cu
  FROM d, LATERAL unnest(ts) t(tok) WHERE tr GROUP BY 1
),
total AS (SELECT sum(cu) AS nn FROM tuni),
scored AS (
  SELECT bi.doc_id,
         CASE WHEN big.cbg IS NULL THEN 1 ELSE 0 END AS bo,
         CAST(round(ln(
           CASE WHEN big.cbg IS NOT NULL THEN big.cbg / ctx.cw1
                ELSE 0.4 * (coalesce(tuni.cu, 0.5) / total.nn) END
         ), 9) AS DECIMAL(18,9)) AS lp
  FROM bi
  LEFT JOIN big USING (w1, w2)
  LEFT JOIN ctx USING (w1)
  LEFT JOIN tuni USING (w2)
  CROSS JOIN total
)
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS mean_lp,
       round(CAST(sum(bo) AS DOUBLE) / count(*), 6) AS bo_rate
FROM scored GROUP BY doc_id
"""


#: q219 perplexity band (CCNet's head/middle cut on the mean bigram
#: log-likelihood) + backoff-rate ceiling. Literals chosen against the
#: fixtures' measured distribution (medians −3.39..−3.40 across all
#: three SFs) so the band does REAL cutting at every scale — roughly
#: the middle half survives, both tails drop.
_LM_BAND_LO, _LM_BAND_HI, _LM_BO_MAX = -3.43, -3.36, 0.2


# --- q219: LM-band gated corpus build (the scorer as a GATE, r17) -------------------
def q219_lm_band_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet use of the q216 scorer: the Stupid-Backoff mean
    log-likelihood as a CURATION GATE inside a corpus build, not a
    report — language + quality gates, LM trained on the q57 hash-split
    train subset scoring every doc, keep only docs inside the
    perplexity band [−3.43, −3.36] with backoff rate ≤ 0.2 (both tails
    drop: gibberish scores low, boilerplate-degenerate text scores
    high), then exact dedup to min-id keepers. ONE lazy plan end to
    end — the scorer's three equi-joins and two hash aggs compose with
    the gates and the fingerprint agg with no materialization barrier;
    per-row rounded-6dp outputs reuse q216's decimal discipline, so
    the band comparison sees identical doubles on both engines."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    scores = bigram_backoff_scores(
        d, sampling.hash_uniform("doc_id") < F.lit(0.8))
    gated = (d.select("doc_id", "text",
                      T.lang_id("text").alias("plang"),
                      T.quality_score("text").alias("quality"))
             .filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
             .join(scores, "doc_id")
             .filter((F.col("mean_lp") >= F.lit(_LM_BAND_LO))
                     & (F.col("mean_lp") <= F.lit(_LM_BAND_HI))
                     & (F.col("bo_rate") <= F.lit(_LM_BO_MAX))))
    return (_exact_dedup_keep_min(gated)
            .select("doc_id", "mean_lp", "bo_rate"))


Q219_SQL = f"""
WITH lang_t AS ({_lang_id_sql()}), qual_t AS ({_quality_sql()}),
sc AS ({Q216_SQL}),
gated AS (
  SELECT d.doc_id, d.text, sc.mean_lp, sc.bo_rate
  FROM documents d
  JOIN lang_t ON d.doc_id = lang_t.doc_id
  JOIN qual_t ON d.doc_id = qual_t.doc_id
  JOIN sc ON d.doc_id = sc.doc_id
  WHERE lang_t.predicted_lang = 'en'
    AND sc.mean_lp >= {_LM_BAND_LO!r} AND sc.mean_lp <= {_LM_BAND_HI!r}
    AND sc.bo_rate <= {_LM_BO_MAX!r}
),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 AS fp
        FROM gated)
  GROUP BY fp
)
SELECT g.doc_id, g.mean_lp, g.bo_rate
FROM gated g JOIN keep USING (doc_id)
"""


# --- q81: PageRank over the near-dup graph (iterative numeric fixpoint) ------------
_PR_ITERS, _PR_DAMP = 5, 0.85


def q81_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank power iterations over the PRUNED near-dup pair graph
    (same persisted pair plan as q51/q53/q63) — ranks the most-connected
    documents inside duplicate neighborhoods (dedup keeps the hub, or
    flags it for manual review). Demonstrates the iterative-numeric
    counterpart of q53's connected components with a FULL value oracle:
    the SQL unrolls the five iterations into chained CTEs and reproduces
    the decimal-stabilized arithmetic bit-for-bit."""
    from airflow_pipelines_from_mongo_to_postgres_spark.operators import graph
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2,
                                  max_df=NEAR_DUP_MAX_DF)
    return graph.pagerank(pairs, "d1", "d2", iterations=_PR_ITERS,
                          damping=_PR_DAMP)


def _pagerank_sql() -> str:
    base = 1.0 - _PR_DAMP
    its = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        its.append(f"""
r{i} AS (
  SELECT sym.d AS node,
         {base!r} + {_PR_DAMP!r} * (CAST(sum(
             CAST(floor(r.rank / deg.deg * 1000000000.0 + 0.5) AS BIGINT)
         ) AS BIGINT)::DOUBLE / 1000000000.0) AS rank
  FROM sym JOIN deg ON deg.s = sym.s JOIN {prev} r ON r.node = sym.s
  GROUP BY sym.d
)""")
        prev = f"r{i}"
    return f"""
WITH {_shingle_table_sql(NEAR_DUP_MAX_DF)},
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
edges AS (
  SELECT d1, d2
  FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
  WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= 0.2
),
sym AS (
  SELECT d1 AS s, d2 AS d FROM edges
  UNION
  SELECT d2 AS s, d1 AS d FROM edges
),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
r0 AS (SELECT s AS node, 1.0::DOUBLE AS rank FROM deg),
{",".join(its)}
SELECT node, rank FROM {prev}
"""


Q81_SQL = _pagerank_sql()


# --- q80: source mixing weights (domain-balance resampling factors) ----------------
def q80_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition + the resampling weight that equalizes
    each source's TOKEN contribution (weight = 1 / (n_sources ·
    token_share)) — the 'domain mixing' step of a training-data build.
    Token counts are integers (shares and weights are single deterministic
    divisions); mean quality goes through a DECIMAL(18,6) sum of the
    already-6dp-rounded per-row score. One groupBy + two broadcast
    singleton aggregates."""
    d = load_table(spark, "documents", sf_dir)
    per_doc = d.select(
        "source",
        T.token_count_bpe("text").alias("toks"),
        T.quality_score("text").cast("decimal(18,6)").alias("q"))
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("toks").alias("tokens"),
        # sum cast to double before dividing — both engines then do the
        # same double/long division (see q78 mean_logp)
        F.round(F.sum("q").cast("double") / F.count(F.lit(1)), 6)
        .alias("mean_quality"))
    totals = per_src.agg(F.sum("tokens").alias("all_tokens"),
                         F.count(F.lit(1)).alias("n_sources"))
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source", "docs", "tokens", "mean_quality",
            F.round(F.col("tokens") / F.col("all_tokens"), 6).alias("token_share"),
            F.round(F.col("all_tokens") / (F.col("n_sources") * F.col("tokens")), 6)
            .alias("mix_weight"),
        )
    )


#: per-doc quality comes from the ONE SQL source of truth
#: (_quality_sql — the same string q31/q50/q60 gate against), not a
#: hand-maintained copy that could drift from the Spark formula.
Q80_SQL = f"""
WITH qual AS ({_quality_sql(min_quality=None)}),
per_doc AS (
  SELECT d.source,
         len(regexp_extract_all(lower(d.text), '{T.BPE_TOKEN_RE}')) AS toks,
         CAST(qual.quality AS DECIMAL(18,6)) AS q
  FROM documents d JOIN qual ON d.doc_id = qual.doc_id
),
per_src AS (
  SELECT source, count(*) AS docs,
         CAST(sum(toks) AS BIGINT) AS tokens,
         round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_quality
  FROM per_doc GROUP BY source
),
totals AS (SELECT sum(tokens) AS all_tokens, count(*) AS n_sources FROM per_src)
SELECT source, docs, tokens, mean_quality,
       round(tokens * 1.0 / all_tokens, 6) AS token_share,
       round(all_tokens * 1.0 / (n_sources * tokens), 6) AS mix_weight
FROM per_src, totals
"""


# --- q90: document chunking with overlap (context-window assembly) -----------
_CHUNK_LEN, _CHUNK_STRIDE = 64, 48


def q90_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice each document's token stream into fixed-size chunks with a
    stride overlap (the context-window assembly step between curation and
    tokenization: max_len=64 tokens, stride=48 → 16-token overlap so no
    span is ever split across a boundary without context). One explode of
    the chunk-start sequence per doc — rows out ≈ n_tokens/stride, no
    shuffle at all until a downstream consumer groups; chunk identity is
    md5 of the joined tokens so the payload stays hash-gateable and
    small. Scale: a pure map-side 1→N expansion; the sequence() bound
    keeps the expansion proportional to document length (a book yields
    len/stride chunks, never a cross product)."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", T.tokens("text").alias("ts")) \
        .withColumn("n", F.size("ts")).filter(F.col("n") > 0)
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_STRIDE))
    return (
        toks.select("doc_id", "ts", "n",
                    F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.least(F.lit(_CHUNK_LEN), F.col("n") - F.col("chunk_start"))
            .cast("int").alias("chunk_len"),
            F.md5(F.concat_ws(
                " ", F.slice("ts", F.col("chunk_start") + 1, _CHUNK_LEN)))
            .alias("chunk_md5"),
        )
    )


Q90_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL.format(col='text')} AS ts FROM documents
),
nz AS (SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0)
SELECT doc_id,
       CAST(s.start AS INT) AS chunk_start,
       CAST(least({_CHUNK_LEN}, n - s.start) AS INT) AS chunk_len,
       md5(array_to_string(ts[s.start + 1 : s.start + {_CHUNK_LEN}], ' ')) AS chunk_md5
FROM nz, LATERAL unnest(generate_series(0, n - 1, {_CHUNK_STRIDE})) s(start)
"""


# --- q91: vocabulary coverage / OOV rate per source ---------------------------
_VOCAB_K = 1000


def q91_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the top-K corpus vocabulary (count desc, token asc — the
    tiebreak makes the K-boundary deterministic across engines) and
    report each source's out-of-vocabulary token rate — the coverage
    check run before committing to a tokenizer vocab. The vocab is a
    TakeOrdered (parallel partial top-K, no global window) and joins
    back broadcast: the corpus-sized token stream shuffles once for the
    frequency count and once for the per-source rollup; the K-row vocab
    never shuffles anything."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("source", F.explode(T.tokens("text")).alias("token"))
    vocab = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.col("c").desc(), F.col("token").asc())
             .limit(_VOCAB_K)
             .select("token", F.lit(1).alias("__v")))
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .alias("oov_tokens"),
            F.round(
                F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
                .cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


Q91_SQL = f"""
WITH toks AS (
  SELECT source, t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM toks GROUP BY 1
    ORDER BY c DESC, token ASC LIMIT {_VOCAB_K})
)
SELECT source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM toks LEFT JOIN vocab v ON toks.token = v.token
GROUP BY source
"""


# --- q92: embedding int8 scalar quantization + reconstruction error ----------------
def q92_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the compression
    step before shipping an embedding table to an ANN index or a GPU
    host (4× smaller than float32, 8× smaller than the double working
    form). scale = max|v|/127, q_i = round(v_i/scale) ∈ [-127, 127],
    and the output reports the reconstruction MSE so a curation pipeline
    can gate on quantization loss. Pure map-side per-vector math (the
    explode is 1→dim within a partition); the only shuffle is the final
    per-vector groupBy, keyed on the unique vec_id — uniform by
    construction. Cross-engine exactness: both engines do the same IEEE
    double ops on identical inputs; the per-element squared error is
    rounded to 12 dp and summed as DECIMAL (order-independent) before
    the final double division."""
    e = load_table(spark, "embeddings", sf_dir)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    s = v.select(
        "vec_id", "emb",
        (F.array_max(F.transform("emb", F.abs)) / F.lit(127.0)).alias("scale"))
    per = s.select("vec_id", "scale", F.explode("emb").alias("x"))
    qv = F.when(F.col("scale") == 0, F.lit(0)) \
        .otherwise(F.round(F.col("x") / F.col("scale"), 0).cast("int"))
    err = F.col("x") - qv.cast("double") * F.col("scale")
    return (
        per.select("vec_id", "scale",
                   F.round(err * err, 12).cast("decimal(18,12)").alias("sq"))
        .groupBy("vec_id", "scale")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_dims"),
            F.round(F.sum("sq").cast("double") / F.count(F.lit(1)), 9)
            .alias("mse"),
        )
        .select("vec_id", F.round("scale", 9).alias("scale"), "n_dims", "mse")
    )


Q92_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM v
),
per AS (SELECT vec_id, scale, u.x AS x FROM s, LATERAL unnest(emb) u(x)),
err AS (
  SELECT vec_id, scale,
         CAST(round(
           (x - (CASE WHEN scale = 0 THEN 0
                      ELSE CAST(round(x / scale) AS INT) END) * scale)
           * (x - (CASE WHEN scale = 0 THEN 0
                        ELSE CAST(round(x / scale) AS INT) END) * scale),
           12) AS DECIMAL(18,12)) AS sq
  FROM per
)
SELECT vec_id, round(scale, 9) AS scale,
       CAST(count(*) AS INT) AS n_dims,
       round(CAST(sum(sq) AS DOUBLE) / count(*), 9) AS mse
FROM err GROUP BY vec_id, scale
"""


# --- q93: Bloom-filter eval-set decontamination -------------------------------------
#: m = 8192 bit positions, k = 3 hash functions — sized for the fixture
#: eval set (~100 docs → ~300 set bits → FP rate ≈ (300/8192)^3 ≈ 5e-5).
#: At 100 TB the SAME plan holds with m scaled to the eval-set size (the
#: position table is |set bits| ≤ m rows — always broadcastable).
_BLOOM_M, _BLOOM_K = 8192, 3


def _bloom_pos(fp_col, i: int):
    return F.pmod(T.hash28(F.concat(F.lit(f"bloom{i}:"), fp_col)),
                  F.lit(_BLOOM_M))


def q93_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership decontamination: the eval split's document
    fingerprints are folded into an m-bit / k-hash Bloom set, and every
    TRAIN document is probed against it. This is how decontamination runs
    when the eval set is too large to broadcast verbatim but its Bloom
    bits are not (m bits ≪ the fingerprint table) — no false negatives
    by construction, and the output carries BOTH the bloom verdict and
    the exact verdict so the false-positive rate is observable. The
    position set is distinct-bounded at m rows → broadcast join; the
    train side streams map-side. Hashes are md5-derived (hash28), so
    DuckDB replays every bit decision."""
    from airflow_pipelines_from_mongo_to_postgres_spark.functions import sampling
    d = load_table(spark, "documents", sf_dir)
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    split = sampling.train_val_test_split(fp, "doc_id")
    pos = split.select(
        "doc_id", "fp", "split",
        *[_bloom_pos(F.col("fp"), i).alias(f"p{i}") for i in range(_BLOOM_K)])
    evl = pos.filter(F.col("split") != "train")
    eval_pos = (evl.select(F.explode(F.array(*[f"p{i}" for i in range(_BLOOM_K)]))
                           .alias("p")).distinct()
                .withColumn("__hit", F.lit(1)))
    eval_fp = evl.select("fp").distinct().withColumn("__exact", F.lit(1))
    train = (pos.filter(F.col("split") == "train")
             .select("doc_id", "fp",
                     F.explode(F.array(*[f"p{i}" for i in range(_BLOOM_K)]))
                     .alias("p")))
    return (
        train
        .join(F.broadcast(eval_pos), "p", "left")
        .join(F.broadcast(eval_fp), "fp", "left")
        .groupBy("doc_id")
        .agg(
            (F.sum(F.coalesce("__hit", F.lit(0))) == _BLOOM_K).alias("bloom_hit"),
            (F.max(F.coalesce("__exact", F.lit(0))) == 1).alias("exact_hit"),
        )
    )


Q93_SQL = f"""
WITH base AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
           / 268435456.0 AS u
  FROM documents
),
split AS (
  SELECT doc_id, fp,
         CASE WHEN u < 0.8 THEN 'train'
              WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
  FROM base
),
pos AS (
  SELECT doc_id, fp, split,
         CAST(concat('0x', substr(md5(concat('bloom0:', fp)), 1, 7)) AS BIGINT) % {_BLOOM_M} AS p0,
         CAST(concat('0x', substr(md5(concat('bloom1:', fp)), 1, 7)) AS BIGINT) % {_BLOOM_M} AS p1,
         CAST(concat('0x', substr(md5(concat('bloom2:', fp)), 1, 7)) AS BIGINT) % {_BLOOM_M} AS p2
  FROM split
),
eval_pos AS (
  SELECT DISTINCT p FROM (
    SELECT p0 AS p FROM pos WHERE split <> 'train'
    UNION ALL SELECT p1 FROM pos WHERE split <> 'train'
    UNION ALL SELECT p2 FROM pos WHERE split <> 'train')
),
eval_fp AS (SELECT DISTINCT fp FROM pos WHERE split <> 'train'),
train_exp AS (
  SELECT doc_id, fp, u.p
  FROM pos, LATERAL unnest([p0, p1, p2]) u(p)
  WHERE split = 'train'
)
SELECT t.doc_id,
       (sum(CASE WHEN ep.p IS NOT NULL THEN 1 ELSE 0 END) = {_BLOOM_K}) AS bloom_hit,
       (max(CASE WHEN ef.fp IS NOT NULL THEN 1 ELSE 0 END) = 1) AS exact_hit
FROM train_exp t
LEFT JOIN eval_pos ep ON t.p = ep.p
LEFT JOIN eval_fp ef ON t.fp = ef.fp
GROUP BY t.doc_id
"""


# --- q94: stratified source-balancing sample ----------------------------------------
#: Per-stratum quota = (3/5)·min-source-count — a rational, so the keep
#: decision stays in exact integer arithmetic (no float rate exists).
_Q94_NUM, _Q94_DEN = 3, 5


def _global_rows():
    """Whole-frame window over a BOUNDED summary table (quota tables:
    per-stratum / per-cell counts) — attaches a global aggregate without
    a second pass over the subplan that produced the summary. A function,
    not a module constant: WindowSpec construction talks to the JVM, and
    this module must import before any SparkSession exists."""
    return Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)


def q94_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample equalizing the source mix:
    every source is hash-sampled toward the same quota (3/5 of the
    smallest source's count), so over-represented sources are cut
    hardest. The membership decision is the pure integer comparison
    hash28(doc)·n_s·DEN < min_n·NUM·2^28 — append-stable and
    bit-identical across engines; no float rate ever materializes.
    Per-source counts are a broadcast scalar table; the sample itself is
    a map-side filter directly over the scan. Integer headroom: the
    comparison stays in int64 up to n_s·DEN < 2^35 (≈ 7 B docs per
    stratum); past that, drop the variate to 20 bits."""
    d = load_table(spark, "documents", sf_dir)
    # Quota table: per-stratum counts AND the global min in ONE subplan
    # (r17, guide §2.4) — `counts.agg(min)` as a separate broadcast
    # crossJoin side re-ran the counts subplan (and everything under
    # it); the global-window min runs over the ≤|strata|-row count
    # table, bounded by stratum cardinality, not data (ALLOW-listed in
    # test_no_query_windows_over_single_partition).
    counts = (d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
              .withColumn("min_n", F.min("n_s").over(_global_rows())))
    h = T.hash28(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    return (
        d.join(F.broadcast(counts), "source")
        .filter(h * F.col("n_s") * F.lit(_Q94_DEN)
                < F.col("min_n") * F.lit(_Q94_NUM * (1 << 28)))
        .select("doc_id", "source")
    )


Q94_SQL = f"""
WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
t AS (SELECT min(n_s) AS min_n FROM counts)
SELECT d.doc_id, d.source
FROM documents d JOIN counts USING (source), t
WHERE CAST(concat('0x', substr(md5(concat('strat:', CAST(d.doc_id AS VARCHAR))), 1, 7))
           AS BIGINT) * n_s * {_Q94_DEN} < min_n * {_Q94_NUM * (1 << 28)}
"""


# --- q126: cluster-balanced corpus sampling (semantic-diversity quota) --------------
def q126_cluster_balanced_sample(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Semantic diversity by construction: every frozen-IVF cell is
    hash-sampled toward the same quota (3/5 of the SMALLEST cell's
    count), so over-represented embedding clusters are cut hardest —
    q94's source-balancing rule lifted from metadata strata to
    LEARNED semantic strata (the data-mixing step that follows
    SemDeDup-style curation). Assignment is the map-side argmin
    expression shared with q108/q55 (r17); membership is the pure integer
    comparison hash28(vid)·n_c·DEN < min_n·NUM·2^28 — append-stable,
    no float rate, bit-identical across engines. Cell counts are a
    broadcast scalar table; the sample itself is a map-side filter over
    the assignment."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    e = spread(load_table(spark, "embeddings", sf_dir))
    assigned = similarity._assign_cells(e, "vec_id", "embedding",
                                        IVF_CENTROIDS).select("vid", "cell")
    # quota table: see q94 — the global min rides the ≤nlist-row count
    # table as a bounded whole-frame window instead of a second agg pass
    counts = (assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_c"))
              .withColumn("min_n", F.min("n_c").over(_global_rows())))
    h = T.hash28(F.concat(F.lit("cbal:"), F.col("vid").cast("string")))
    return (
        assigned.join(F.broadcast(counts), "cell")
        .filter(h * F.col("n_c") * F.lit(_Q94_DEN)
                < F.col("min_n") * F.lit(_Q94_NUM * (1 << 28)))
        .select(F.col("vid").alias("vec_id"), "cell")
    )


def _q126_sql() -> str:
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_darray(c)}, {float(sum(x * x for x in c))!r})"
        for i, c in enumerate(IVF_CENTROIDS)
    )
    return f"""
WITH cent(cell, cvec, c2) AS (
  VALUES
    {cent_rows}
),
u AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
            x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
  FROM embeddings
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT u.vec_id, cent.cell,
           row_number() OVER (PARTITION BY u.vec_id
                              ORDER BY cent.c2 - 2 * list_dot_product(u.v, cent.cvec) ASC,
                                       cent.cell ASC) AS rn
    FROM u CROSS JOIN cent) WHERE rn = 1
),
counts AS (SELECT cell, count(*) AS n_c FROM assigned GROUP BY 1),
t AS (SELECT min(n_c) AS min_n FROM counts)
SELECT a.vec_id, a.cell
FROM assigned a JOIN counts USING (cell), t
WHERE CAST(concat('0x', substr(md5(concat('cbal:', CAST(a.vec_id AS VARCHAR))), 1, 7))
           AS BIGINT) * n_c * {_Q94_DEN} < min_n * {_Q94_NUM * (1 << 28)}
"""


Q126_SQL = _q126_sql()


# --- q95: cross-source near-duplication matrix --------------------------------------
def q95_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where is the duplication coming FROM: near-dup pair counts and
    mean similarity per (source, source) cell — the report that tells a
    corpus owner whether crawl A is recopying crawl B before they pay
    for another pass. Reuses the session's persisted pruned pair plan
    (one inverted-index join shared with q51/q53/q58/q63); the two
    source lookups join against the slim (doc_id, source) projection and
    the final matrix is a handful of rows. Mean jaccard is summed as
    DECIMAL of the already-6dp-rounded pair values — order-independent."""
    d = load_table(spark, "documents", sf_dir)
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                  max_df=NEAR_DUP_MAX_DF)
    src = d.select("doc_id", "source")
    j = (pairs
         .join(src.select(F.col("doc_id").alias("d1"),
                          F.col("source").alias("s1")), "d1")
         .join(src.select(F.col("doc_id").alias("d2"),
                          F.col("source").alias("s2")), "d2"))
    return (
        j.select(
            F.least("s1", "s2").alias("src_a"),
            F.greatest("s1", "s2").alias("src_b"),
            F.col("jaccard").cast("decimal(10,6)").alias("jd"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("jd").cast("double") / F.count(F.lit(1)), 6)
            .alias("mean_jaccard"),
        )
    )


Q95_SQL = f"""
WITH pairs AS ({_jaccard_pairs_sql(threshold=0.2, max_df=NEAR_DUP_MAX_DF)})
SELECT least(da.source, db.source) AS src_a,
       greatest(da.source, db.source) AS src_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(jaccard AS DECIMAL(10,6))) AS DOUBLE) / count(*), 6)
         AS mean_jaccard
FROM pairs
JOIN documents da ON pairs.d1 = da.doc_id
JOIN documents db ON pairs.d2 = db.doc_id
GROUP BY 1, 2
"""


# --- q96: per-source token-distribution KL divergence --------------------------------
def q96_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions — the drift gauge
    that flags a source whose token mix diverges from the corpus before
    it skews a tokenizer or mixing-weight fit. Every source term's
    support is a subset of the corpus support (p_c > 0 wherever
    p_s > 0), so the sum is always finite. One explode feeds two
    aggregations (per-source-term and corpus-term); the corpus vocab
    joins back on the term key and the per-source rollup is a
    sources-sized result. Cross-engine exactness: identical double
    divisions of exact integer counts, ln at 9 dp (the q78/q65 parity
    assumption), DECIMAL term sum — order-independent."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("source", F.explode(T.tokens("text")).alias("token"))
    corpus = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c_all"))
    total = toks.agg(F.count(F.lit(1)).alias("t_all"))
    per_src = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c_s"))
    n_src = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    p_s = F.col("c_s") / F.col("n_s")
    p_c = F.col("c_all") / F.col("t_all")
    contrib = F.round(p_s * F.log(p_s / p_c), 9).cast("decimal(18,9)")
    return (
        per_src.join(corpus, "token")
        .join(F.broadcast(n_src), "source")
        .crossJoin(F.broadcast(total))
        .select("source", "n_s", contrib.alias("kt"))
        .groupBy("source", "n_s")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("kt").cast("double"), 6).alias("kl_divergence"),
        )
        .select(F.col("source"), F.col("n_s").alias("n_tokens"),
                "n_terms", "kl_divergence")
    )


Q96_SQL = f"""
WITH toks AS (
  SELECT source, t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
corpus AS (SELECT token, count(*) AS c_all FROM toks GROUP BY 1),
total AS (SELECT count(*) AS t_all FROM toks),
per_src AS (SELECT source, token, count(*) AS c_s FROM toks GROUP BY 1, 2),
n_src AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
terms AS (
  SELECT p.source, n.n_s,
         CAST(round((c_s * 1.0 / n_s) * ln((c_s * 1.0 / n_s) / (c_all * 1.0 / t_all)), 9)
              AS DECIMAL(18,9)) AS kt
  FROM per_src p JOIN corpus USING (token) JOIN n_src n ON p.source = n.source, total
)
SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_terms,
       round(CAST(sum(kt) AS DOUBLE), 6) AS kl_divergence
FROM terms GROUP BY source, n_s
"""


# --- q97: BM25 ranked retrieval ----------------------------------------------------
#: Query terms, BM25 hyperparameters, result size. The terms are drawn
#: from the fixture vocabulary; the operator is the standard Okapi BM25
#: ranking used to mine "relevant to topic T" subsets out of a corpus.
_BM25_TERMS = ("spark", "merge", "window", "hash")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def q97_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the corpus for a fixed term set —
    the scoring half of a keyword-mining pass (pull the top-k documents
    about a topic into a fine-tune subset). Shape: the token stream is
    FILTERED to the query terms before any aggregation, so the per-term
    tf table is query-sized, not corpus-sized; document lengths are one
    corpus aggregation (shared shape with q91's vocab scan); df and the
    (N, avgdl) scalars broadcast. Top-k is orderBy+limit = TakeOrdered —
    per-partition heaps, no global sort. Cross-engine exactness: identical
    double operand order on both engines, per-term score rounded to 9 dp
    and summed as DECIMAL (order-independent), final score the rounded
    double both engines sort on with a doc_id tiebreak."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_tokens"))
    tf = (toks.filter(F.col("token").isin(*_BM25_TERMS))
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(F.lit(1.0) + (F.col("n_docs").cast("double")
                              - F.col("df").cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5)))
    norm = F.lit(1.0 - _BM25_B) \
        + F.lit(_BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
    contrib = idf * (F.col("tf").cast("double") * F.lit(_BM25_K1 + 1)) \
        / (F.col("tf").cast("double") + F.lit(_BM25_K1) * norm)
    return (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", avgdl)
        .select("doc_id", "dl",
                F.round(contrib, 9).cast("decimal(18,9)").alias("c"))
        .groupBy("doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("matched_terms"),
             F.round(F.sum("c").cast("double"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
        .select("doc_id", F.col("dl").alias("doc_tokens"), "matched_terms",
                "bm25")
    )


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)
Q97_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ({_BM25_IN}) GROUP BY 1, 2
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, dl.dl,
         CAST(round(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * (CAST(tf AS DOUBLE) * {_BM25_K1 + 1!r})
           / (CAST(tf AS DOUBLE)
              + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * CAST(dl.dl AS DOUBLE)
                       / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
           9) AS DECIMAL(18,9)) AS c
  FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id, stats
)
SELECT doc_id, CAST(dl AS BIGINT) AS doc_tokens,
       CAST(count(*) AS BIGINT) AS matched_terms,
       round(CAST(sum(c) AS DOUBLE), 6) AS bm25
FROM contrib GROUP BY doc_id, dl
ORDER BY bm25 DESC, doc_id ASC LIMIT {_BM25_TOPK}
"""


# --- q133: tf-idf cosine document pairs (sparse inverted-index dot) -----------------
_TFIDF_MAX_DF = 30
_TFIDF_TOPK = 50


def q133_tfidf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document pairs by SPARSE tf-idf cosine — the lexical twin of
    the embedding pair scans: the dot product runs through the term
    inverted index (equi-join on token), so pair work is Σ df² over the
    kept terms, never n²/2 dense dots. Terms with df=1 (no pair) or
    df > max_df (stop terms — the q26/q59 posting-list skew rule)
    drop first. Float discipline: per-term contributions and per-doc
    squared weights round to 9 dp and sum as DECIMAL (order-
    independent); the cosine divides the resulting doubles — identical
    operands on both engines. Top-50 via TakeOrdered."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
             .filter((F.col("df") >= 2) & (F.col("df") <= _TFIDF_MAX_DF)))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (tf.join(F.broadcast(dfreq), "token")
         .crossJoin(F.broadcast(n))
         .select("doc_id", "token",
                 (F.col("tf") * F.log((1.0 + F.col("n_docs"))
                                      / (1.0 + F.col("df")))).alias("w")))
    norms = (w.select("doc_id",
                      F.round(F.col("w") * F.col("w"), 9)
                      .cast("decimal(18,9)").alias("w2"))
             .groupBy("doc_id")
             .agg(F.sqrt(F.sum("w2").cast("double")).alias("norm")))
    a = w.select(F.col("doc_id").alias("d1"), "token",
                 F.col("w").alias("w1"))
    b = w.select(F.col("doc_id").alias("d2"), "token",
                 F.col("w").alias("w2"))
    dots = (a.join(b, "token")
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2",
                    F.round(F.col("w1") * F.col("w2"), 9)
                    .cast("decimal(18,9)").alias("c"))
            .groupBy("d1", "d2")
            .agg(F.sum("c").cast("double").alias("_dot"),
                 F.count(F.lit(1)).alias("shared_terms")))
    n1 = norms.select(F.col("doc_id").alias("d1"), F.col("norm").alias("_n1"))
    n2 = norms.select(F.col("doc_id").alias("d2"), F.col("norm").alias("_n2"))
    return (
        dots.join(n1, "d1").join(n2, "d2")
        .select("d1", "d2", "shared_terms",
                F.round(F.col("_dot") / (F.col("_n1") * F.col("_n2")), 6)
                .alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("d1").asc(),
                 F.col("d2").asc())
        .limit(_TFIDF_TOPK)
    )


Q133_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents, LATERAL unnest({{toks}}) t(tok)
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
  HAVING count(*) >= 2 AND count(*) <= {_TFIDF_MAX_DF}
),
n AS (SELECT count(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln((1.0 + n_docs) / (1.0 + df)) AS w
  FROM tf JOIN dfreq USING (token), n
),
norms AS (
  SELECT doc_id,
         sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(18,9))) AS DOUBLE))
           AS norm
  FROM w GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(sum(CAST(round(a.w * b.w, 9) AS DECIMAL(18,9))) AS DOUBLE)
           AS _dot,
         count(*) AS shared_terms
  FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.d1, d.d2, d.shared_terms,
       round(d._dot / (x.norm * y.norm), 6) AS cosine
FROM dots d JOIN norms x ON d.d1 = x.doc_id JOIN norms y ON d.d2 = y.doc_id
ORDER BY cosine DESC, d1 ASC, d2 ASC LIMIT {_TFIDF_TOPK}
"""
Q133_SQL = Q133_SQL.replace("{toks}", _TOKENS_SQL.format(col="text"))


# --- q129: per-dimension embedding feature-scaling statistics -----------------------
def q129_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding corpus — the
    statistics pass behind feature standardization (the z-scored vectors
    themselves are the map-side ``standardize_embeddings`` operator,
    pytest-gated for mean≈0/std≈1). One posexplode + one dim-keyed
    hash-agg: the shuffle carries vector-width rows, not corpus rows.
    Exact-decimal moments (q98 discipline) so the closed-form std runs
    on identical scalars in both engines."""
    e = load_table(spark, "embeddings", sf_dir)
    return similarity.embedding_dim_stats(e, "vec_id", "embedding")


Q129_SQL = """
WITH ex AS (
  SELECT t.i - 1 AS dim, CAST(round(arr[t.i], 6) AS DECIMAL(18,6)) AS r
  FROM (SELECT embedding::DOUBLE[] AS arr FROM embeddings) e,
       LATERAL unnest(generate_series(1, len(e.arr))) t(i)
),
agg AS (
  SELECT dim, count(*) AS n, sum(r) AS sv,
         sum(CAST(r * r AS DECIMAL(38,12))) AS svv,
         min(r) AS mn, max(r) AS mx
  FROM ex GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim, n,
       round(CAST(sv AS DOUBLE) / n, 6) AS mean,
       round(sqrt(greatest(n * CAST(svv AS DOUBLE)
                           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE), 0)
                  / (n * (n - 1.0))), 6) AS std,
       CAST(mn AS DOUBLE) AS mn, CAST(mx AS DOUBLE) AS mx
FROM agg
"""


# --- q128: cross-document repeated exact spans --------------------------------------
_SPAN_N = 5


def q128_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document EXACT substring duplication audit (the
    exact-substring dedup signal at token-span granularity): every
    5-token span occurring in ≥ 2 distinct documents, with its document
    frequency, total occurrence count, and canonical (min) carrier doc.
    One explode + one hash-agg — duplicates KEPT in the explode so
    n_occurrences counts true repetitions, unlike the shingle tables
    (which are per-doc distinct). At 100 TB the group key would be
    xxhash64(span) with the text resolved only for survivors; gated here
    on the text itself so the oracle replays byte-for-byte."""
    d = load_table(spark, "documents", sf_dir)
    staged = d.select("doc_id", T.tokens("text").alias("ts"))
    spans = staged.select(
        "doc_id",
        F.explode(T.ngrams_from_tokens("ts", _SPAN_N)).alias("span"))
    return (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 2)
    )


Q128_SQL = f"""
WITH g AS (
  SELECT doc_id, t.s AS span
  FROM (SELECT doc_id, {_grams_dup_sql('text', _SPAN_N)} AS gs
        FROM documents),
       LATERAL unnest(gs) t(s)
)
SELECT span, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences, min(doc_id) AS first_doc
FROM g GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""


# --- q127: hybrid retrieval — BM25 ⊕ embedding cosine via RRF -----------------------
_RRF_K = 60
_HYB_TOPK = 10


def q127_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic arm — the
    standard hybrid-search combiner (RRF: score = Σ 1/(60+rank), robust
    to incomparable raw scores). Lexical arm = q97's BM25 top-20;
    semantic arm = cosine top-20 around probe vec 0 (rank comes from
    cosine_topk's per-query window). The lexical ranks are derived with
    a bounded better-than SELF-JOIN COUNT over the 20-row top-k (20×20
    nested loop on a broadcast list) instead of a global window — rank
    needs a total order, and this keeps the no-global-window rule intact
    without an allowlist entry. Fusion is a full outer join of two
    ≤20-row lists; 1/(60+rank) terms are identical integer-denominator
    doubles on both engines."""
    lex = q97_bm25_search(spark, sf_dir).select("doc_id", "bm25")
    a, b = lex.alias("a"), lex.alias("b")
    better = (F.col("b.bm25") > F.col("a.bm25")) \
        | ((F.col("b.bm25") == F.col("a.bm25"))
           & (F.col("b.doc_id") < F.col("a.doc_id")))
    lexr = (a.join(F.broadcast(b), better, "left")
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg((F.count(F.col("b.doc_id")) + 1).alias("lex_rank")))
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") == 0)
    sem = similarity.cosine_topk(probe, spread(e), "vec_id", "embedding",
                                 k=_BM25_TOPK) \
        .select(F.col("neighbor_id").alias("doc_id"),
                F.col("rank").cast("long").alias("sem_rank"))
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")),
                   F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")),
                     F.lit(0.0)), 6)
    return (
        lexr.join(sem, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(_HYB_TOPK)
    )


Q127_SQL = f"""
WITH {_UNIT_CTE},
lex AS ({Q97_SQL}),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lex
),
sem AS (
  SELECT b.vec_id AS doc_id,
         round(list_dot_product(a.uv, b.uv), 6) AS cosine
  FROM uembed a JOIN uembed b ON a.vec_id = 0 AND b.vec_id <> 0
),
semr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS sem_rank
  FROM sem
  ORDER BY cosine DESC, doc_id ASC LIMIT {_BM25_TOPK}
)
SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
       round(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0)
             + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0), 6) AS rrf
FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT {_HYB_TOPK}
"""


# --- q100: deterministic weighted sampling (Efraimidis–Spirakis) -------------------
_WS_K = 100


def q100_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via exponential keys
    (Efraimidis–Spirakis A-ES): key = ln(u)/w with u a DETERMINISTIC
    md5-derived uniform in (0,1) — maximizing key is maximizing u^(1/w),
    so each document's inclusion probability is proportional to its
    weight (n_chars: longer documents over-sampled, the usual
    char-budget-proportional draw). Deterministic u makes the sample
    reproducible and append-stable (adding documents never changes an
    existing doc's key — the same property q57's split relies on), and
    makes the query hash-gateable. One map-side projection + TakeOrdered
    top-k: no shuffle at all beyond the k·P driver merge."""
    d = load_table(spark, "documents", sf_dir)
    u = (T.hash28(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
         + F.lit(1)).cast("double") / F.lit(1 << 28).cast("double")
    key = F.round(F.log(u) / F.col("n_chars").cast("double"), 12)
    return (
        d.select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(_WS_K)
    )


Q100_SQL = f"""
SELECT doc_id, n_chars,
       round(ln(CAST(CAST(concat('0x', substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT)
                     + 1 AS DOUBLE) / CAST({1 << 28} AS DOUBLE))
             / CAST(n_chars AS DOUBLE), 12) AS es_key
FROM documents
ORDER BY es_key DESC, doc_id ASC LIMIT {_WS_K}
"""


# --- q101: near-dup graph local clustering coefficients ----------------------------
def q101_graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree, triangle count, and local clustering coefficient
    over the near-dup pair graph — the graph-shape diagnostic run before
    trusting transitive dedup clusters (high clustering = genuine dup
    cliques; low clustering + high degree = a hub shingle chaining
    unrelated docs). Reuses the SAME persisted pruned pair plan as
    q51/q53/q63. Triangles are counted as closed wedges joined against
    the (d1 < d2)-oriented edge list — each triangle matched once per
    apex, no enumeration of non-edges, so the cost is Σ deg(v)² on a
    pruned graph whose degrees max_df already bounds. The oracle mirrors
    the same wedge join verbatim."""
    pairs = _jaccard_pairs_shared(spark, sf_dir, threshold=0.2, n=3,
                                  max_df=NEAR_DUP_MAX_DF)
    edges = pairs.select("d1", "d2")
    und = edges.select(F.col("d1").alias("v"), F.col("d2").alias("n")) \
        .unionAll(edges.select(F.col("d2").alias("v"), F.col("d1").alias("n")))
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("degree")) \
        .withColumnRenamed("v", "node")
    wedges = (und.alias("x")
              .join(und.alias("y"),
                    (F.col("x.v") == F.col("y.v"))
                    & (F.col("x.n") < F.col("y.n")))
              .select(F.col("x.v").alias("node"), F.col("x.n").alias("a"),
                      F.col("y.n").alias("b")))
    tri = (wedges.join(edges, (F.col("a") == F.col("d1"))
                       & (F.col("b") == F.col("d2")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    t = F.coalesce(F.col("triangles"), F.lit(0))
    coeff = F.when(
        F.col("degree") > 1,
        F.round((F.lit(2) * t).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"), 6))
    return (
        deg.join(tri, "node", "left")
        .select("node", "degree", t.alias("triangles"),
                coeff.alias("clustering_coeff"))
    )


Q101_SQL = f"""
WITH pairs AS ({_jaccard_pairs_sql(threshold=0.2, max_df=NEAR_DUP_MAX_DF)}),
edges AS (SELECT d1, d2 FROM pairs),
und AS (SELECT d1 AS v, d2 AS n FROM edges
        UNION ALL SELECT d2 AS v, d1 AS n FROM edges),
deg AS (SELECT v AS node, count(*) AS degree FROM und GROUP BY 1),
wedges AS (
  SELECT x.v AS node, x.n AS a, y.n AS b
  FROM und x JOIN und y ON x.v = y.v AND x.n < y.n
),
tri AS (
  SELECT w.node, count(*) AS triangles
  FROM wedges w JOIN edges e ON w.a = e.d1 AND w.b = e.d2
  GROUP BY 1
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree > 1
            THEN round(CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
                       / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
            ELSE NULL END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON d.node = t.node
"""


# --- q106: product-quantization ANN (ADC) -------------------------------------------
_PQ_RERANK = 50


def q106_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k: the index-compression member of the ANN family
    (q33 brute, q35 IVF-label, q52 LSH, q55 trained-IVF, q62 Arrow-BLAS).
    The codebooks are trained ONCE (tools/train_pq_codebooks.py: MLlib
    k-means per 8-dim subvector, seeds 42..49, sf0.01 corpus) and frozen
    into plans/_pq_codebooks.py, so assignment, the probe lookup tables,
    the decimal ADC sums, and both tiebreaks all derive from literals
    DuckDB replays — the approximate pipeline hash-gates exactly like
    q55. Recall vs brute-force q33 is gated in tests/test_similarity.py."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._pq_codebooks import PQ_CODEBOOKS
    e = load_table(spark, "embeddings", sf_dir)
    probe = e.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_pq(probe, spread(e), "vec_id", "embedding",
                                     k=5, codebooks=PQ_CODEBOOKS,
                                     rerank=_PQ_RERANK)


def _q106_sql() -> str:
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._pq_codebooks import (
        PQ_CODEBOOKS,
        PQ_M,
        PQ_SUBDIM,
    )
    cb_rows = ",\n    ".join(
        f"({j}, {ci}, {_sql_darray(c)}, {float(sum(x * x for x in c))!r})"
        for j, book in enumerate(PQ_CODEBOOKS)
        for ci, c in enumerate(book))
    return f"""
WITH {_UNIT_CTE},
cb(j, cell, cvec, c2) AS (
  VALUES
    {cb_rows}
),
subs AS (
  SELECT vec_id, CAST(r.j AS INT) AS j,
         uv[CAST(r.j AS INT) * {PQ_SUBDIM} + 1 : CAST(r.j AS INT) * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM uembed, LATERAL unnest(range(0, {PQ_M})) r(j)
),
scored AS (
  SELECT s.vec_id, s.j, cb.cell,
         cb.c2 - 2 * list_dot_product(s.sv, cb.cvec) AS pd
  FROM subs s JOIN cb ON s.j = cb.j
),
codes AS (
  SELECT vec_id, j, cell FROM (
    SELECT vec_id, j, cell,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY pd, cell) AS rn
    FROM scored)
  WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, j, cell,
         CAST(round(pd, 9) AS DECIMAL(18,9)) AS pd
  FROM scored WHERE vec_id < 10
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.pd) AS adc
  FROM codes c JOIN lut l ON c.j = l.j AND c.cell = l.cell
  WHERE l.query_id <> c.vec_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc ASC, neighbor_id ASC) AS rn
    FROM adc)
  WHERE rn <= {_PQ_RERANK}
),
rer AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_dot_product(q.uv, n.uv), 6) AS cosine
  FROM short s
  JOIN uembed q ON s.query_id = q.vec_id
  JOIN uembed n ON s.neighbor_id = n.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer)
WHERE rank <= 5
"""


# --- q107: count-min sketch (approximate frequency with overcount bound) ------------
#: d hash rows × w counters; ε = e/w ≈ 0.27% of the token stream,
#: δ = e^-d ≈ 5%. At 100 TB the sketch is STILL d·w counters — the point:
#: frequency estimation in O(1) memory per executor with a mergeable
#: (sum-per-cell) structure, where the exact count table grows with the
#: vocabulary.
_CMS_D, _CMS_W = 3, 1024
_CMS_PROBE_K = 20


def q107_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed with the
    top-K true-frequency tokens: output carries BOTH the exact count and
    the CMS estimate so the overcount (estimate >= truth, the CMS
    guarantee) is observable — the same sketch-plus-truth audit shape as
    q93's Bloom decontamination. Hashes are md5-derived (hash28), so
    every counter placement replays in DuckDB and the query hash-gates.
    Build: one explode ×d of the token stream into (row, pos) cells →
    ONE groupBy onto at most d·w rows (the sketch — broadcastable
    anywhere). Probe: the K probe tokens join the sketch on d cells each
    and take the min estimate."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select(F.explode(T.tokens("text")).alias("token"))
    cells = toks.select("token", F.explode(F.array(*[
        F.struct(F.lit(i).alias("r"),
                 F.pmod(T.hash28(F.concat(F.lit(f"cms{i}:"), F.col("token"))),
                        F.lit(_CMS_W)).alias("pos"))
        for i in range(_CMS_D)])).alias("c")) \
        .select(F.col("c.r").alias("r"), F.col("c.pos").alias("pos"))
    sketch = cells.groupBy("r", "pos").agg(F.count(F.lit(1)).alias("cnt"))
    probes = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
              .orderBy(F.col("true_count").desc(), F.col("token").asc())
              .limit(_CMS_PROBE_K))
    probe_cells = probes.select("token", "true_count", F.explode(F.array(*[
        F.struct(F.lit(i).alias("r"),
                 F.pmod(T.hash28(F.concat(F.lit(f"cms{i}:"), F.col("token"))),
                        F.lit(_CMS_W)).alias("pos"))
        for i in range(_CMS_D)])).alias("c")) \
        .select("token", "true_count", F.col("c.r").alias("r"),
                F.col("c.pos").alias("pos"))
    return (
        probe_cells.join(F.broadcast(sketch), ["r", "pos"])
        .groupBy("token", "true_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )


_CMS_POS = ("CAST(concat('0x', substr(md5(concat('cms{i}:', token)), 1, 7)) "
            f"AS BIGINT) % {_CMS_W}")
Q107_SQL = f"""
WITH toks AS (
  SELECT t.tok AS token
  FROM documents, LATERAL unnest({_TOKENS_SQL.format(col='text')}) t(tok)
),
cells AS (
  {" UNION ALL ".join(f"SELECT {i} AS r, {_CMS_POS.format(i=i)} AS pos FROM toks"
                      for i in range(_CMS_D))}
),
sketch AS (SELECT r, pos, count(*) AS cnt FROM cells GROUP BY 1, 2),
probes AS (
  SELECT token, count(*) AS true_count FROM toks GROUP BY 1
  ORDER BY true_count DESC, token ASC LIMIT {_CMS_PROBE_K}
),
probe_cells AS (
  {" UNION ALL ".join(f"SELECT token, true_count, {i} AS r, {_CMS_POS.format(i=i)} AS pos FROM probes"
                      for i in range(_CMS_D))}
)
SELECT p.token, CAST(p.true_count AS BIGINT) AS true_count,
       CAST(min(s.cnt) AS BIGINT) AS cms_estimate
FROM probe_cells p JOIN sketch s ON p.r = s.r AND p.pos = s.pos
GROUP BY 1, 2
"""


# --- q104: BPE merge-pair statistics ------------------------------------------------
_BPE_TOPK = 200


def q104_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies — the counting step at the heart
    of byte-pair-encoding tokenizer training (each BPE iteration merges
    the most frequent adjacent pair; this op IS that argmax, generalized
    to the top-K candidate table). The pair stream is built map-side by
    zipping each token array with its own tail (``arrays_zip`` of two
    slices — no self-join, no positional explode+join), so the only
    shuffle is the pair-count groupBy and the top-K is a TakeOrdered
    with a full (count desc, pair asc) tiebreak for a deterministic
    K-boundary. At 100 TB this is exactly the WordPiece/BPE corpus-scan
    shape: one pass, one shuffle on uniformly-hashed string pairs."""
    d = load_table(spark, "documents", sf_dir)
    ts = d.select(T.tokens("text").alias("ts")).filter(F.size("ts") > 1)
    n = F.size("ts")
    z = F.arrays_zip(
        F.slice(F.col("ts"), 1, n - 1).alias("first_tok"),
        F.slice(F.col("ts"), 2, n - 1).alias("second_tok"))
    return (
        ts.select(F.explode(z).alias("p"))
        .groupBy(F.col("p.first_tok").alias("first_tok"),
                 F.col("p.second_tok").alias("second_tok"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("first_tok").asc(),
                 F.col("second_tok").asc())
        .limit(_BPE_TOPK)
    )


Q104_SQL = f"""
WITH toks AS (
  SELECT {_TOKENS_SQL.format(col='text')} AS ts FROM documents
),
pairs AS (
  SELECT ts[r.i] AS first_tok, ts[r.i + 1] AS second_tok
  FROM toks, LATERAL unnest(range(1, len(ts))) r(i)
  WHERE len(ts) > 1
)
SELECT first_tok, second_tok, count(*) AS pair_count
FROM pairs GROUP BY 1, 2
ORDER BY pair_count DESC, first_tok ASC, second_tok ASC LIMIT {_BPE_TOPK}
"""


# --- q108: semantic dedup (SemDeDup shape: IVF cells bound the pair scan) -----------
_SEMANTIC_DEDUP_T = 0.42


def q108_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dedup bounded by the frozen IVF quantizer's
    cells (the SemDeDup recipe: cluster, compare within cluster, keep
    one per near-identical group). One row per vector with its cell and
    keep/drop verdict — the curation-join-ready shape. Σ|cell|² pair
    work, never n²; the quantizer literals make the whole approximate
    pipeline DuckDB-replayable (same construction as q55)."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    e = spread(load_table(spark, "embeddings", sf_dir))
    return similarity.semantic_dedup_ivf(e, "vec_id", "embedding",
                                         threshold=_SEMANTIC_DEDUP_T,
                                         centroids=IVF_CENTROIDS)


def _q108_sql() -> str:
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_darray(c)}, {float(sum(x * x for x in c))!r})"
        for i, c in enumerate(IVF_CENTROIDS)
    )
    return f"""
WITH cent(cell, cvec, c2) AS (
  VALUES
    {cent_rows}
),
u AS (
  SELECT vec_id, {_unit_sql('embedding')} AS v FROM embeddings
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (
             PARTITION BY vec_id
             ORDER BY c2 - 2 * list_dot_product(v, cvec) ASC, cell ASC) AS rn
    FROM u CROSS JOIN cent) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 6) >= {_SEMANTIC_DEDUP_T}
)
SELECT a.vec_id, a.cell,
       (d.vec_id IS NULL) AS is_kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


Q108_SQL = _q108_sql()


# --- q134: SEMANTIC corpus build (gates → exact dedup → SemDeDup → balance) ---------
def q134_corpus_build_semantic(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The embedding-era twin of q58's lexical corpus build, composed
    END-TO-END as one lazy plan: language+quality gates (scan-side
    filters) → exact dedup to min-id keepers (one fingerprint hash-agg)
    → SemDeDup over the keepers' embeddings (frozen-IVF cells, min-id
    keeper within cell, Σ|cell|² pair work) → cluster-balanced quota
    sample over the SURVIVORS (each cell cut to 3/5 of the smallest
    surviving cell, integer hash rule). Every stage's literals are
    DuckDB-replayable, so the full four-stage pipeline hash-gates —
    the strongest end-to-end claim the registry makes about the
    semantic curation path."""
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    d = load_table(spark, "documents", sf_dir)
    e = load_table(spark, "embeddings", sf_dir)
    gated = d.select("doc_id", "text",
                     T.lang_id("text").alias("plang"),
                     T.quality_score("text").alias("quality")) \
        .filter((F.col("quality") >= 0.5) & (F.col("plang") == "en"))
    keepers = (gated.select("doc_id", T.fingerprint("text").alias("fp"))
               .groupBy("fp")
               .agg(F.min("doc_id").alias("vec_id")))
    vecs = e.join(keepers.select("vec_id"), "vec_id")
    state = similarity.semantic_dedup_state(
        vecs, "vec_id", "embedding", _SEMANTIC_DEDUP_T, IVF_CENTROIDS)
    surv = state.filter(F.col("is_kept")).select("vid", "cell")
    # quota table: see q94 — here the separate `counts.agg(min)`
    # crossJoin side re-ran the WHOLE four-stage surv pipeline a third
    # time (its agg exchange only partially reused); the bounded
    # whole-frame window over the ≤nlist-row count table cuts that.
    # Measured 4.33s -> 3.73s median at sf0.1, value-identical.
    counts = (surv.groupBy("cell").agg(F.count(F.lit(1)).alias("n_c"))
              .withColumn("min_n", F.min("n_c").over(_global_rows())))
    h = T.hash28(F.concat(F.lit("cbal:"), F.col("vid").cast("string")))
    return (
        surv.join(F.broadcast(counts), "cell")
        .filter(h * F.col("n_c") * F.lit(_Q94_DEN)
                < F.col("min_n") * F.lit(_Q94_NUM * (1 << 28)))
        .select(F.col("vid").alias("doc_id"), "cell")
    )


def _q134_sql() -> str:
    from airflow_pipelines_from_mongo_to_postgres_spark.plans._ivf_centroids import (
        IVF_CENTROIDS,
    )
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_darray(c)}, {float(sum(x * x for x in c))!r})"
        for i, c in enumerate(IVF_CENTROIDS)
    )
    return f"""
WITH lang_t AS ({_lang_id_sql()}), qual_t AS ({_quality_sql()}),
gated AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN lang_t ON d.doc_id = lang_t.doc_id
  JOIN qual_t ON d.doc_id = qual_t.doc_id
  WHERE lang_t.predicted_lang = 'en'
),
keepers AS (
  SELECT min(doc_id) AS vec_id
  FROM (SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM gated)
  GROUP BY fp
),
cent(cell, cvec, c2) AS (
  VALUES
    {cent_rows}
),
u AS (
  SELECT e.vec_id, {_unit_sql('embedding')} AS v
  FROM embeddings e JOIN keepers k ON e.vec_id = k.vec_id
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           row_number() OVER (
             PARTITION BY vec_id
             ORDER BY c2 - 2 * list_dot_product(v, cvec) ASC, cell ASC) AS rn
    FROM u CROSS JOIN cent) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 6) >= {_SEMANTIC_DEDUP_T}
),
surv AS (
  SELECT a.vec_id, a.cell
  FROM assigned a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
  WHERE dr.vec_id IS NULL
),
counts AS (SELECT cell, count(*) AS n_c FROM surv GROUP BY 1),
t AS (SELECT min(n_c) AS min_n FROM counts)
SELECT s.vec_id AS doc_id, s.cell
FROM surv s JOIN counts USING (cell), t
WHERE CAST(concat('0x', substr(md5(concat('cbal:', CAST(s.vec_id AS VARCHAR))), 1, 7))
           AS BIGINT) * n_c * {_Q94_DEN} < min_n * {_Q94_NUM * (1 << 28)}
"""


Q134_SQL = _q134_sql()


# --- q109: intra-document repetition ratio (Gopher-style dup-n-gram filter) ---------
_REP_N = 2
_REP_FLAG_T = 0.05


def q109_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of a document's word bigrams that are repeats — the
    Gopher/MassiveText "duplicated n-gram fraction" quality filter.
    Entirely map-side Column math (tokenize once, one n-gram transform,
    two array sizes): zero shuffles, fuses into the scan at any scale.
    NON-distinct grams, unlike the shingle table — repetition is the
    signal here, not the noise."""
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", T.tokens("text").alias("ts"))
    gram = F.when(
        F.size("ts") >= _REP_N,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - (_REP_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("ts", i + j) for j in range(_REP_N)]),
        )).otherwise(F.array().cast("array<string>"))
    g = toks.select("doc_id", gram.alias("gs"))
    total = F.size("gs").cast("long")
    dist = F.size(F.array_distinct("gs")).cast("long")
    dup = F.when(total > 0,
                 F.round(F.lit(1.0) - dist.cast("double") / total, 6)) \
        .otherwise(F.lit(0.0))
    return g.select(
        "doc_id",
        total.alias("total_ngrams"),
        dist.alias("distinct_ngrams"),
        dup.alias("dup_frac"),
        (dup > F.lit(_REP_FLAG_T)).alias("flagged"),
    )


def _rep_grams_sql(col: str = "text") -> str:
    toks = _TOKENS_SQL.format(col=col)
    join = " || ' ' || ".join(f"ts[i+{j}]" for j in range(_REP_N))
    return (f"(SELECT list_transform(range(1, greatest(len(ts) - {_REP_N - 1}, 0) + 1), "
            f"i -> {join}) FROM (SELECT {toks} AS ts) __g)")


Q109_SQL = f"""
WITH g AS (
  SELECT doc_id, {_rep_grams_sql()} AS gs FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(gs) AS BIGINT) AS total_ngrams,
         CAST(len(list_distinct(gs)) AS BIGINT) AS distinct_ngrams
  FROM g
)
SELECT doc_id, total_ngrams, distinct_ngrams,
       CASE WHEN total_ngrams > 0
            THEN round(1.0 - distinct_ngrams::DOUBLE / total_ngrams, 6)
            ELSE 0.0 END AS dup_frac,
       (CASE WHEN total_ngrams > 0
             THEN round(1.0 - distinct_ngrams::DOUBLE / total_ngrams, 6)
             ELSE 0.0 END) > {_REP_FLAG_T} AS flagged
FROM m
"""


# --- q110: PII redaction (regex replace + audit counts) ------------------------------
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def q110_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact (not just detect) emails and phone numbers, emitting audit
    counts plus a fingerprint of the redacted text. The fixture corpus
    carries no PII, so the query PLANTS deterministic PII first (same
    construction on both engines) — the regexes are exercised on rows
    that actually match, never vacuously. Map-side only: regexp_count +
    two regexp_replace per row, zero shuffles."""
    d = load_table(spark, "documents", sf_dir)
    planted = F.concat(
        F.col("text"), F.lit(" contact "), F.col("source"),
        F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" and backup."), F.col("source"),
                        F.lit("@mail.org"))).otherwise(F.lit("")),
        F.lit(" phone 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    t = d.select("doc_id", planted.alias("t2"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t2"), F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE), F.lit("[PHONE]"))
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t2"), F.lit(_EMAIL_RE)).cast("long")
        .alias("n_emails"),
        F.regexp_count(F.col("t2"), F.lit(_PHONE_RE)).cast("long")
        .alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_fp"),
    )


Q110_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact ' || source || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' and backup.' || source || '@mail.org'
                 ELSE '' END
         || ' phone 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t2
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t2, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t2, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(
             regexp_replace(t2, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
FROM t
"""


# --- q111: cross-source n-gram novelty (per-document leakage gauge) -----------------
def q111_cross_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every document: what fraction of its distinct shingles also
    occurs in at least one OTHER source? (A shingle present in ≥2
    sources is shared by construction — the document's own source is one
    of them.) The per-document twin of q95's source-level dup matrix:
    q95 says WHICH sources leak into each other, this says WHICH
    DOCUMENTS carry the leaked content. Reuses the session-shared
    shingle table; one distinct + two hash-agg shuffles on shingle."""
    d = load_table(spark, "documents", sf_dir)
    sh = _shingles_shared(spark, sf_dir)
    src = d.select(F.col("doc_id").alias("doc"), "source")
    nsrc = (sh.join(src, "doc")
            .select("shingle", "source").distinct()
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("n_sources")))
    return (
        sh.join(nsrc, "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.when(F.col("n_sources") >= 2, 1).otherwise(0))
             .cast("long").alias("shared_shingles"))
        .select(F.col("doc").alias("doc_id"), "n_shingles",
                "shared_shingles",
                F.round(F.col("shared_shingles").cast("double")
                        / F.col("n_shingles"), 6).alias("leak_frac"))
    )


Q111_SQL = f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id AS doc, s.shingle AS shingle
  FROM documents, LATERAL unnest({_shingles_sql('text')}) s(shingle)
),
shs AS (
  SELECT DISTINCT sh0.shingle, d.source
  FROM sh0 JOIN documents d ON sh0.doc = d.doc_id
),
nsrc AS (SELECT shingle, count(*) AS n_sources FROM shs GROUP BY 1)
SELECT sh0.doc AS doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN nsrc.n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_shingles,
       round(sum(CASE WHEN nsrc.n_sources >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS leak_frac
FROM sh0 JOIN nsrc ON sh0.shingle = nsrc.shingle
GROUP BY 1
"""


# --- q112: sequence-length bucket packing stats (padding-waste audit) ----------------
_LEN_BUCKETS = [16, 32, 64, 128, 256, 512]


def q112_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram at power-of-two context buckets with the
    padding waste each bucket pays — the audit that decides batch-packing
    strategy for training (pad-to-bucket vs pack-to-fill). Bucket edges
    are an exact integer CASE chain (identical on both engines — a
    float log2 at a boundary would be a hash hazard); one small
    hash-agg shuffle onto ≤ len(buckets) rows."""
    d = load_table(spark, "documents", sf_dir)
    tok = F.size(T.tokens("text"))
    expr = F.lit(_LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS[:-1]):
        expr = F.when(tok <= b, F.lit(b)).otherwise(expr)
    agg = (d.select(expr.cast("int").alias("bucket"),
                    tok.cast("long").alias("tok"))
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("tok").alias("sum_tokens")))
    return agg.select(
        "bucket", "n_docs", "sum_tokens",
        F.round(F.lit(1.0) - F.col("sum_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket")), 6)
        .alias("waste_frac"))


def _bucket_case_sql(tok: str) -> str:
    whens = " ".join(f"WHEN {tok} <= {b} THEN {b}"
                     for b in _LEN_BUCKETS[:-1])
    return f"CASE {whens} ELSE {_LEN_BUCKETS[-1]} END"


Q112_SQL = f"""
WITH t AS (
  SELECT CAST({_bucket_case_sql(f"len({_TOKENS_SQL.format(col='text')})")} AS INT)
           AS bucket,
         CAST(len({_TOKENS_SQL.format(col='text')}) AS BIGINT) AS tok
  FROM documents
)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS sum_tokens,
       round(1.0 - sum(tok)::DOUBLE / (count(*) * bucket), 6) AS waste_frac
FROM t GROUP BY 1
"""


# --- q137: per-source corpus quality report -----------------------------------------
def q137_source_quality_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The corpus-owner dashboard in one pass: per source, document
    count, mean quality score, mean token count, fraction flagged by
    the Gopher repetition rule, and fraction carrying any PII — every
    per-document metric is a map-side Column expression (the q31/q109/
    q74 family), so the whole report is one scan + one groupBy(source).
    Means divide exact integer/decimal sums; fractions are integer
    flag-count ÷ count — nothing order-dependent anywhere."""
    d = load_table(spark, "documents", sf_dir)
    staged = d.select(
        "source",
        T.quality_score("text").alias("q"),
        T.tokens("text").alias("ts"),
        *[v.alias(f"_p_{k}") for k, v in T.pii_counts("text").items()],
    )
    gram = F.when(
        F.size("ts") >= _REP_N,
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - (_REP_N - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at("ts", i + j) for j in range(_REP_N)]),
        )).otherwise(F.array().cast("array<string>"))
    staged = staged.withColumn("gs", gram)
    total = F.size("gs").cast("long")
    dist = F.size(F.array_distinct("gs")).cast("long")
    dup = F.when(total > 0,
                 F.round(F.lit(1.0) - dist.cast("double") / total, 6)) \
        .otherwise(F.lit(0.0))
    has_pii = sum(F.col(f"_p_{k}") for k in T.PII_PATTERNS) > 0
    per_doc = staged.select(
        "source", "q",
        F.size("ts").cast("long").alias("n_toks"),
        (dup > F.lit(_REP_FLAG_T)).cast("int").alias("rep_flag"),
        has_pii.cast("int").alias("pii_flag"),
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.round(F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
                / n, 6).alias("mean_quality"),
        F.round(F.sum("n_toks").cast("double") / n, 6).alias("mean_tokens"),
        F.round(F.sum("rep_flag").cast("double") / n, 6)
        .alias("pct_repetitive"),
        F.round(F.sum("pii_flag").cast("double") / n, 6).alias("pct_pii"),
    )


def _q137_sql() -> str:
    pii_any = " + ".join(
        f"len(regexp_extract_all(lower(text), '{pat.replace(chr(39), chr(39) * 2)}'))"
        for pat in T.PII_PATTERNS.values())
    return f"""
WITH qual AS ({_quality_sql(None)}),
rep AS (
  SELECT doc_id,
         CASE WHEN len(gs) > 0
              THEN round(1.0 - len(list_distinct(gs))::DOUBLE / len(gs), 6)
              ELSE 0.0 END AS dup_frac
  FROM (SELECT doc_id, {_rep_grams_sql()} AS gs FROM documents)
),
pii AS (
  SELECT doc_id, ({pii_any}) > 0 AS has_pii FROM documents
)
SELECT d.source,
       count(*) AS n_docs,
       round(CAST(sum(CAST(q.quality AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS mean_quality,
       round(CAST(sum(q.n_tokens) AS DOUBLE) / count(*), 6) AS mean_tokens,
       round(CAST(sum(CASE WHEN r.dup_frac > {_REP_FLAG_T} THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS pct_repetitive,
       round(CAST(sum(CASE WHEN p.has_pii THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS pct_pii
FROM documents d
JOIN qual q ON d.doc_id = q.doc_id
JOIN rep r ON d.doc_id = r.doc_id
JOIN pii p ON d.doc_id = p.doc_id
GROUP BY 1
"""


Q137_SQL = _q137_sql()



# --- q140: MinHash estimator calibration audit --------------------------------------
def q140_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-vs-truth audit for the MinHash estimator (the q107
    count-min audit pattern applied to Jaccard): for every true pair at
    jaccard ≥ 0.2, the signature-agreement fraction (the estimator LSH
    banding acts on) sits next to the exact Jaccard and their absolute
    error — the calibration table that justifies the q28 banding
    thresholds. Both quantities derive from the SAME unpruned shingle
    table, so the estimator is audited against its true target. Cost:
    the q26 pair scan + one P-column signature join per side."""
    d = load_table(spark, "documents", sf_dir)
    shared = _shingles_shared(spark, sf_dir)
    pairs = dedup.jaccard_pairs(d, "doc_id", "text", threshold=0.2, n=3,
                                shingle_table=shared)
    sig = dedup.minhash_signatures(d, "doc_id", "text",
                                   num_perm=_N_PERM_SIG, n=3,
                                   shingle_table=shared)
    s1 = sig.select(F.col("doc").alias("d1"),
                    *[F.col(f"mh_{i}").alias(f"a_{i}")
                      for i in range(_N_PERM_SIG)])
    s2 = sig.select(F.col("doc").alias("d2"),
                    *[F.col(f"mh_{i}").alias(f"b_{i}")
                      for i in range(_N_PERM_SIG)])
    agree = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
                for i in range(_N_PERM_SIG))
    est = F.round(agree.cast("double") / F.lit(float(_N_PERM_SIG)), 6)
    return (
        pairs.join(s1, "d1").join(s2, "d2")
        .select("d1", "d2", F.col("jaccard").alias("true_jaccard"),
                est.alias("estimated"),
                F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"))
    )


def _q140_sql() -> str:
    perms = dedup.minhash_perms(_N_PERM_SIG)
    h = "CAST(concat('0x', substr(md5(shingle), 1, 7)) AS BIGINT)"
    mins = ",\n       ".join(
        f"min(({a} * {h} + {b}) % {dedup.MINHASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(perms))
    agree = " + ".join(
        f"CASE WHEN s1.mh_{i} = s2.mh_{i} THEN 1 ELSE 0 END"
        for i in range(_N_PERM_SIG))
    return f"""
WITH {_SHINGLE_TABLE_SQL},
pairs AS (
  SELECT a.doc AS d1, b.doc AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
jp AS (
  SELECT d1, d2,
         round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) AS jaccard
  FROM pairs JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
  WHERE round(inter * 1.0 / (s1.n_sh + s2.n_sh - inter), 6) >= 0.2
),
sig AS (SELECT doc, {mins} FROM sh GROUP BY doc)
SELECT jp.d1, jp.d2, jp.jaccard AS true_jaccard,
       round(({agree}) * 1.0 / {_N_PERM_SIG}, 6) AS estimated,
       round(abs(round(({agree}) * 1.0 / {_N_PERM_SIG}, 6) - jp.jaccard), 6)
         AS abs_err
FROM jp JOIN sig s1 ON jp.d1 = s1.doc JOIN sig s2 ON jp.d2 = s2.doc
"""


Q140_SQL = _q140_sql()


# --- q138: exact-k per-source sample (min-k-hash reservoir) -------------------------
_FIXK = 50


def q138_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k documents per source — the fixed-budget complement of
    q94's fractional stratified sample: rank by a deterministic
    md5-derived hash within each source and keep the k smallest (the
    distributed min-k-hash reservoir; a uniform draw because the hash
    is uniform, reproducible because it is deterministic). Appending
    documents evicts at most the boundary members — a new doc enters
    only by hashing below the group's current k-th smallest. One
    source-partitioned window; never a global sort."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    h = T.hash28(F.concat(F.lit("fixk:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (d.select("doc_id", "source")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= _FIXK)
            .select("doc_id", "source"))


Q138_SQL = f"""
SELECT doc_id, source
FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(concat('fixk:',
                      CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) ASC,
                    doc_id ASC) AS rn
  FROM documents
)
WHERE rn <= {_FIXK}
"""


QUERIES = {
    "q25_dedup_exact": q25_dedup_exact,
    "q26_ngram_jaccard_pairs": q26_ngram_jaccard_pairs,
    "q27_minhash_signatures": q27_minhash_signatures,
    "q28_minhash_lsh_pairs": q28_minhash_lsh_pairs,
    "q29_simhash_pairs": q29_simhash_pairs,
    "q30_lang_id": q30_lang_id,
    "q31_quality_filter": q31_quality_filter,
    "q32_token_stats": q32_token_stats,
    "q33_cosine_topk": q33_cosine_topk,
    "q34_cosine_pairs": q34_cosine_pairs,
    "q35_ann_ivf_label": q35_ann_ivf_label,
    "q36_binary_metadata": q36_binary_metadata,
    "q41_winnow_fingerprints": q41_winnow_fingerprints,
    "q50_corpus_curation": q50_corpus_curation,
    "q51_near_dup_drop": q51_near_dup_drop,
    "q52_ann_lsh": q52_ann_lsh,
    "q53_dedup_clusters": q53_dedup_clusters,
    "q125_cluster_best_keeper": q125_cluster_best_keeper,
    "q55_ann_ivf_kmeans": q55_ann_ivf_kmeans,
    "q56_embed_near_dup_lsh": q56_embed_near_dup_lsh,
    "q57_dataset_split": q57_dataset_split,
    "q58_corpus_build": q58_corpus_build,
    "q59_stop_shingles": q59_stop_shingles,
    "q60_quality_deciles": q60_quality_deciles,
    "q61_split_decontamination": q61_split_decontamination,
    "q62_ann_topk_numpy": q62_ann_topk_numpy,
    "q63_jaccard_pruned": q63_jaccard_pruned,
    "q64_embed_near_dup_drop": q64_embed_near_dup_drop,
    "q73_repetition_stats": q73_repetition_stats,
    "q74_pii_scan": q74_pii_scan,
    "q75_sequence_packing": q75_sequence_packing,
    "q78_lm_unigram_score": q78_lm_unigram_score,
    "q216_lm_bigram_backoff": q216_lm_bigram_backoff,
    "q219_lm_band_corpus": q219_lm_band_corpus,
    "q80_source_mix": q80_source_mix,
    "q81_pagerank_neardup": q81_pagerank_neardup,
    "q84_ngram_contamination": q84_ngram_contamination,
    "q86_containment_pairs": q86_containment_pairs,
    "q90_doc_chunking": q90_doc_chunking,
    "q91_vocab_oov": q91_vocab_oov,
    "q92_embedding_quantization": q92_embedding_quantization,
    "q93_bloom_decontamination": q93_bloom_decontamination,
    "q94_stratified_sample": q94_stratified_sample,
    "q126_cluster_balanced_sample": q126_cluster_balanced_sample,
    "q95_cross_source_dups": q95_cross_source_dups,
    "q96_source_kl_divergence": q96_source_kl_divergence,
    "q97_bm25_search": q97_bm25_search,
    "q127_hybrid_retrieval": q127_hybrid_retrieval,
    "q128_repeated_spans": q128_repeated_spans,
    "q129_embedding_dim_stats": q129_embedding_dim_stats,
    "q133_tfidf_similarity": q133_tfidf_similarity,
    "q100_weighted_sample": q100_weighted_sample,
    "q101_graph_clustering": q101_graph_clustering,
    "q104_bpe_pair_stats": q104_bpe_pair_stats,
    "q106_ann_pq": q106_ann_pq,
    "q107_count_min": q107_count_min,
    "q108_semantic_dedup": q108_semantic_dedup,
    "q134_corpus_build_semantic": q134_corpus_build_semantic,
    "q137_source_quality_report": q137_source_quality_report,
    "q138_fixed_k_sample": q138_fixed_k_sample,
    "q140_minhash_calibration": q140_minhash_calibration,
    "q109_repetition_ratio": q109_repetition_ratio,
    "q110_pii_redaction": q110_pii_redaction,
    "q111_cross_source_novelty": q111_cross_source_novelty,
    "q112_length_bucket_packing": q112_length_bucket_packing,
}

ORACLES = {
    "q41_winnow_fingerprints": Q41_SQL,
    "q25_dedup_exact": Q25_SQL,
    "q26_ngram_jaccard_pairs": Q26_SQL,
    "q27_minhash_signatures": Q27_SQL,
    "q28_minhash_lsh_pairs": Q28_SQL,
    "q29_simhash_pairs": Q29_SQL,
    "q30_lang_id": Q30_SQL,
    "q31_quality_filter": Q31_SQL,
    "q32_token_stats": Q32_SQL,
    "q33_cosine_topk": Q33_SQL,
    "q34_cosine_pairs": Q34_SQL,
    "q35_ann_ivf_label": Q35_SQL,
    "q36_binary_metadata": Q36_SQL,
    "q50_corpus_curation": Q50_SQL,
    "q51_near_dup_drop": Q51_SQL,
    "q52_ann_lsh": Q52_SQL,
    "q53_dedup_clusters": Q53_SQL,
    "q125_cluster_best_keeper": Q125_SQL,
    "q55_ann_ivf_kmeans": Q55_SQL,
    "q56_embed_near_dup_lsh": Q56_SQL,
    "q57_dataset_split": Q57_SQL,
    "q58_corpus_build": Q58_SQL,
    "q59_stop_shingles": Q59_SQL,
    "q60_quality_deciles": Q60_SQL,
    "q61_split_decontamination": Q61_SQL,
    "q62_ann_topk_numpy": Q33_SQL,  # exact twin of q33: same oracle
    "q63_jaccard_pruned": Q63_SQL,
    "q64_embed_near_dup_drop": Q64_SQL,
    "q73_repetition_stats": Q73_SQL,
    "q74_pii_scan": Q74_SQL,
    "q75_sequence_packing": Q75_SQL,
    "q78_lm_unigram_score": Q78_SQL,
    "q216_lm_bigram_backoff": Q216_SQL,
    "q219_lm_band_corpus": Q219_SQL,
    "q80_source_mix": Q80_SQL,
    "q81_pagerank_neardup": Q81_SQL,
    "q84_ngram_contamination": Q84_SQL,
    "q86_containment_pairs": Q86_SQL,
    "q90_doc_chunking": Q90_SQL,
    "q91_vocab_oov": Q91_SQL,
    "q92_embedding_quantization": Q92_SQL,
    "q93_bloom_decontamination": Q93_SQL,
    "q94_stratified_sample": Q94_SQL,
    "q126_cluster_balanced_sample": Q126_SQL,
    "q95_cross_source_dups": Q95_SQL,
    "q96_source_kl_divergence": Q96_SQL,
    "q97_bm25_search": Q97_SQL,
    "q127_hybrid_retrieval": Q127_SQL,
    "q128_repeated_spans": Q128_SQL,
    "q129_embedding_dim_stats": Q129_SQL,
    "q133_tfidf_similarity": Q133_SQL,
    "q100_weighted_sample": Q100_SQL,
    "q101_graph_clustering": Q101_SQL,
    "q104_bpe_pair_stats": Q104_SQL,
    "q106_ann_pq": _q106_sql(),
    "q107_count_min": Q107_SQL,
    "q108_semantic_dedup": Q108_SQL,
    "q134_corpus_build_semantic": Q134_SQL,
    "q137_source_quality_report": Q137_SQL,
    "q138_fixed_k_sample": Q138_SQL,
    "q140_minhash_calibration": Q140_SQL,
    "q109_repetition_ratio": Q109_SQL,
    "q110_pii_redaction": Q110_SQL,
    "q111_cross_source_novelty": Q111_SQL,
    "q112_length_bucket_packing": Q112_SQL,
}
