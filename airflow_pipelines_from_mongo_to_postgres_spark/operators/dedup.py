"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash. All pure DataFrame ops (SURVEY.md §7 step 7).

Scale design
------------
* Exact dedup: one hash-groupBy on a 128-bit fingerprint — a single shuffle
  on a uniformly-distributed key; no skew by construction.
* Jaccard pairs, pruned (the scale path): per-shingle posting arrays
  (r18; one grouping shuffle of the inverted index, pairs fanned out
  array-side, ``max_df`` pruning as a free size filter on the posting
  row). Unpruned: inverted-index self-join (unbounded postings must not
  be collect_list'ed — a stop-shingle appearing in 10^6 docs is the
  classic skew bomb either way; pruning is what kills it).
* MinHash+LSH: signature is one groupBy producing ``num_perm`` min-columns;
  candidate generation groups on (band, band_hash) buckets so the pair
  fan-out is |bucket|², never |corpus|². Candidates are verified with exact
  Jaccard, so precision is exact and only recall depends on (bands × rows).
* SimHash: 60-bit signature; pairs at Hamming distance ≤ k are found by
  splitting the signature into ``k+1`` chunks and joining on chunk equality
  — pigeonhole guarantees recall = 1 (any pair with ≤ k differing bits has
  at least one identical chunk), then exact bit_count verification.

Cross-engine determinism: md5-based hashes (functions/text.py) so a DuckDB
oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from airflow_pipelines_from_mongo_to_postgres_spark.functions import text as T

#: Affine MinHash permutation constants (deterministic, engine-version-fixed;
#: 31-bit multipliers keep a*h+b within int64 for 28-bit shingle hashes).
MINHASH_MOD = 1 << 32


def minhash_perms(num_perm: int) -> list[tuple[int, int]]:
    """(a_i, b_i) pairs from a fixed LCG so Spark and oracle SQL share them."""
    perms, state = [], 0x5DEECE66D
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % ((1 << 31) - 1) | 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % MINHASH_MOD
        perms.append((a, b))
    return perms


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint: one row per distinct
    content, with the keeper id (min id) and duplicate count."""
    return (
        df.select(F.col(id_col), T.fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("copies"))
    )


def build_shingle_table(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3) -> DataFrame:
    """Unpruned distinct ``(doc, shingle)`` pairs — the shared base every
    shingle-consuming operator derives from. In production this is computed
    ONCE per corpus snapshot, persisted, and reused across jaccard /
    MinHash / near-dedup jobs (the plan layer caches it the same way,
    plans/llmdata.py::_shingles_shared).

    The token array is materialized in its own projection BEFORE the
    n-gram transform: composing ``T.shingles`` directly would re-evaluate
    the regex tokenizer inside every ``element_at`` of the lambda (no CSE
    across higher-order-function boundaries) — O(tokens²) regex splits
    per row, measured 18× slower at sf0.1.
    """
    toks = df.select(F.col(id_col).alias("doc"),
                     T.tokens(text_col).alias("ts"))
    gram = F.transform(
        F.sequence(F.lit(1), F.size("ts") - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at("ts", i + j) for j in range(n)]),
    )
    # sequence(1, k) counts DOWN for k < 1, so guard docs shorter than n tokens.
    gram = F.when(F.size("ts") >= n, F.array_distinct(gram)) \
        .otherwise(F.array().cast("array<string>"))
    return toks.select("doc", F.explode(gram).alias("shingle"))


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int,
                   max_df: int | None = None,
                   stop_shingles: DataFrame | None = None,
                   shingle_table: DataFrame | None = None) -> DataFrame:
    """Distinct (id, shingle) pairs; optional stop-shingle pruning.

    ``shingle_table`` injects a precomputed ``build_shingle_table`` result
    (possibly persisted and shared across operators); pruning still applies
    on top. Pruning sources, in precedence order: ``stop_shingles`` (a
    DataFrame whose ``shingle`` column lists the hot shingles — e.g. q59's
    materialized inventory, the production pattern: count document
    frequencies ONCE per corpus snapshot, reuse across every dedup job) or
    ``max_df`` (count inline — a second pass over the corpus within this
    plan). Both end in the same broadcast anti-join. This precedence holds
    for callers that pass both to this function; ``jaccard_pairs`` passes
    only ``stop_shingles`` here and applies ``max_df`` itself, so there the
    two compose.
    """
    sh = shingle_table if shingle_table is not None \
        else build_shingle_table(df, id_col, text_col, n)
    if stop_shingles is not None:
        sh = sh.join(F.broadcast(stop_shingles.select("shingle")),
                     "shingle", "left_anti")
    elif max_df is not None:
        hot = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
               .filter(F.col("df_") > max_df).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def _posting_pairs(posting: DataFrame, arr_col: str = "ds") -> DataFrame:
    """(d1, d2) with d1 < d2 from a SORTED posting-array column — the
    array-side candidate generator shared by the Jaccard and LSH paths
    (r18, guide §2.3/§2.4): posexplode emits each member once, then the
    strictly-later tail slice pairs it with every larger id. Memory per
    generated row stays O(|posting|) (the slice), never O(|posting|²) —
    the pair volume streams through the two generators exactly like a
    self-join's output would, but without shuffling the posting table a
    second time or building a join hash relation over it."""
    return (posting
            .select(F.col(arr_col), F.posexplode(arr_col).alias("i", "d1"))
            .select("d1", F.explode(F.slice(
                F.col(arr_col), F.col("i") + 2, F.size(arr_col))).alias("d2")))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float, n: int = 3,
                  max_df: int | None = None,
                  stop_shingles: DataFrame | None = None,
                  shingle_table: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold, via per-shingle
    POSTING ARRAYS (intersection counts) + per-doc shingle-set sizes.

    The grouping key is ``xxhash64(shingle)`` rather than the shingle
    string: same intersection counts (collision odds across distinct
    shingles are ~|shingles|²/2⁶⁵), but the shuffle carries 8-byte longs
    instead of ~n·word-length strings.

    Plan shape (r18, guide §2.3/§2.4): on the PRUNED paths (``max_df`` /
    ``stop_shingles`` — the declared scale operators, NEAR_DUP_MAX_DF),
    ``groupBy(shingle).collect_list(doc)`` shuffles each posting ONCE
    (the self-join shape shuffled/hash-built the posting table twice,
    once per join side), the d1<d2 pair fan-out happens array-side
    (``_posting_pairs``), and ``max_df`` pruning becomes a FREE
    ``size(posting) <= max_df`` filter on the aggregated row — the old
    shape paid a SECOND full aggregation over the shingle table plus a
    broadcast anti-join just to find the hot shingles. Per-doc sizes
    re-derive from exploding the pruned postings (cached — they feed
    sizes AND pairs), counting exactly the rows the old post-prune
    groupBy(doc) counted. Skew bound: only the pair fan-out is bounded —
    after the size filter |posting| ≤ max_df, so the array-side blow-up
    is ≤ max_df·(max_df−1)/2 pairs per shingle. The collect_list buffer
    is NOT bounded by max_df: it holds the shingle's true document
    frequency until the ``size(ds) <= max_df`` filter runs on the
    aggregated row. ``stop_shingles`` and ``max_df`` compose here: the
    stop list is anti-joined out first, then the size filter drops any
    remaining posting above ``max_df``.

    The UNPRUNED form keeps the inverted-index self-join: its posting
    arrays have no bound (a stop-shingle's collect_list buffer would be
    the skew bomb the pruning exists to kill), and the r18 quiet A/B
    measured the posting shape SLOWER for q26 at sf0.1 (fresh-JVM
    medians ~2.2-2.8 s vs ~1.8-2.2 s: at fixture scale the planner
    broadcasts one join side, which beats the extra grouping shuffle) —
    an examined-and-declined negative result, kept measured.
    """
    if max_df is not None or stop_shingles is not None:
        sh = _shingle_table(df, id_col, text_col, n, None, stop_shingles,
                            shingle_table) \
            .select("doc", F.xxhash64("shingle").alias("shingle"))
        posting = sh.groupBy("shingle").agg(
            F.sort_array(F.collect_list("doc")).alias("ds"))
        if max_df is not None:
            posting = posting.filter(F.size("ds") <= max_df)
        posting = posting.cache()
        sizes = (posting.select(F.explode("ds").alias("doc"))
                 .groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh")))
        inter = (_posting_pairs(posting.filter(F.size("ds") >= 2))
                 .groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("inter")))
    else:
        sh = _shingle_table(df, id_col, text_col, n, None, None,
                            shingle_table) \
            .select("doc", F.xxhash64("shingle").alias("shingle")).cache()
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "d1", "n_sh": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc": "d2", "n_sh": "n2"}), "d2")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 128, n: int = 3,
                       shingle_table: DataFrame | None = None) -> DataFrame:
    """MinHash signature: column ``mh_i`` = min over shingles of
    ``(a_i * h28(shingle) + b_i) % 2^32``. One explode + one groupBy."""
    # Materialize the md5-derived hash ONCE per shingle row — referencing
    # T.hash28 inside each of the num_perm aggregates would recompute the
    # md5 num_perm× per row (no CSE across aggregate expressions).
    sh = _shingle_table(df, id_col, text_col, n, shingle_table=shingle_table) \
        .select("doc", T.hash28(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_MOD)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_perms(num_perm))
    ]
    return sh.groupBy(F.col("doc")).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      threshold: float, num_perm: int = 128, bands: int = 32,
                      n: int = 3,
                      shingle_table: DataFrame | None = None,
                      max_shingles: int | None = None) -> DataFrame:
    """Near-dup pairs via MinHash LSH banding, verified with exact Jaccard.

    Rows per band r = num_perm/bands; candidate pairs share ≥1 band hash.
    Verification makes precision exact; recall at similarity s is
    1-(1-s^r)^bands (≈1 for s ≥ threshold with the defaults).

    ``max_shingles`` bounds the per-document verification payload: the
    ``collect_list`` array is otherwise proportional to document length,
    and one book-length outlier (10⁶ shingles ≈ 8 MB) can blow a task.
    With a cap, each document STORES only its ``max_shingles`` SMALLEST
    xxhash64 shingle hashes — a bottom-k sketch, i.e. a uniform sample of
    the shingle set — and verification switches to the standard bottom-k
    Jaccard estimator: |A∩B ∩ bottom_k(A∪B)| / |bottom_k(A∪B)|
    (Broder 1997; unbiased, err ~ 1/√k). MinHash signatures always come
    from the full shingle set (they are min-aggregates, already O(1) per
    doc), so the cap never costs banding recall. The estimator is EXACT
    for a pair whose union fits the cap (the sliced union is then the
    full union); a pair whose union exceeds it gets the estimate even
    when both documents are individually under the cap. The hash-gated
    q28 entry runs with a cap sized above the fixture's largest union,
    so its oracle comparison stays exact.
    """
    assert num_perm % bands == 0
    r = num_perm // bands
    # Both hashes come from the same pass over the shingle table; the
    # shingle STRING never leaves the map side.
    sh = _shingle_table(df, id_col, text_col, n,
                        shingle_table=shingle_table).select(
        "doc", T.hash28(F.col("shingle")).alias("h"),
        F.xxhash64("shingle").alias("sh64"))
    # ONE groupBy produces the MinHash signature AND the verification
    # payload (shingle-hash set + size): signature generation and exact-
    # Jaccard verification need the same shuffle of the same rows by the
    # same key, so fusing them halves the shuffled shingle volume. With a
    # cap, the payload is the bottom-k slice of the sorted hash array —
    # computed INSIDE the same aggregation (no pre-agg row_number window:
    # that inserted a per-doc sort AND lost the map-side partial
    # aggregation of the num_perm min()s, a measured ~20% on the bench
    # entry). The signatures always come from the FULL shingle set, so
    # banding recall never degrades; only the stored verification array
    # is capped. per_doc is cached (memory-and-disk, spills at scale): it
    # feeds the banding branch plus both sides of the verification join,
    # and recomputing it means re-reading + re-shingling the corpus.
    arr_agg = F.collect_list("sh64")
    if max_shingles is not None:
        arr_agg = F.slice(F.array_sort(arr_agg), 1, max_shingles)
    per_doc = sh.groupBy("doc").agg(
        *[F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_MOD)).alias(f"mh_{i}")
          for i, (a, b) in enumerate(minhash_perms(num_perm))],
        arr_agg.alias("arr"),
        F.count(F.lit(1)).alias("n_sh")).cache()
    band_cols = F.array(*[
        F.struct(F.lit(bi).alias("band"),
                 F.xxhash64(*[F.col(f"mh_{bi * r + j}") for j in range(r)]).alias("bh"))
        for bi in range(bands)
    ])
    buckets = per_doc.select(F.col("doc"), F.explode(band_cols).alias("b")) \
        .select("doc", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    # Candidate pairs from per-bucket POSTING ARRAYS (r18, guide §2.3 —
    # replaces the (band, bh) self-join): one groupBy shuffle of the
    # bucket table instead of two join-side shuffles + a hash relation
    # over it. Array-side blow-up is Σ|bucket|² — identical to the join's
    # fan-out (a bucket's rows met in one task under both shapes); the
    # collect_list buffer is O(|bucket|) ids, and near-identical-doc mega
    # buckets are a banding-parameter signal, not a plan problem.
    cand = (_posting_pairs(
        buckets.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2))
        .dropDuplicates()
    )
    # Verify ONLY the candidates (this is the LSH payoff: exact Jaccard is
    # computed for |candidates| pairs, never |corpus|²/2) by joining the
    # tiny pair set back to the cached per-doc table. No broadcast() hints:
    # a hint makes the driver build the broadcast relation eagerly on its
    # own thread, and concurrent builds over a not-yet-materialized cached
    # plan race to compute it (measured 2x wall-clock). As shuffle joins,
    # AQE converts them to broadcasts at runtime from observed sizes.
    pd1 = per_doc.select(F.col("doc").alias("d1"),
                         F.col("arr").alias("arr1"), F.col("n_sh").alias("n1"))
    pd2 = per_doc.select(F.col("doc").alias("d2"),
                         F.col("arr").alias("arr2"), F.col("n_sh").alias("n2"))
    joined = cand.join(pd1, "d1").join(pd2, "d2")
    if max_shingles is None:
        # exact: |A∩B| / |A∪B|
        verified = (
            joined.withColumn("inter", F.size(F.array_intersect("arr1", "arr2")))
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6))
        )
    else:
        # bottom-k estimator: restrict to the k smallest hashes of the
        # UNION (the arrays are already bottom-k per side, so their union's
        # bottom-k is the pair's bottom-k sketch).
        union_k = F.slice(F.array_sort(F.array_union("arr1", "arr2")),
                          1, max_shingles)
        inter_k = F.size(F.array_intersect(
            union_k, F.array_intersect("arr1", "arr2")))
        verified = joined.withColumn(
            "jaccard", F.round(inter_k / F.size(union_k), 6))
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def drop_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                         threshold: float, n: int = 3,
                         max_df: int | None = None,
                         stop_shingles: DataFrame | None = None,
                         shingle_table: DataFrame | None = None) -> DataFrame:
    """Corpus after near-dedup with the standard min-id-keeper policy: for
    every similar pair (d1 < d2, jaccard ≥ threshold) the larger id is
    dropped. One left_anti join against the distinct drop set — the pair
    table is the expensive part and is the same plan as ``jaccard_pairs``.

    (Min-id-keeper is the greedy approximation used by large-scale dedup
    pipelines; it equals connected-component dedup when similarity clusters
    are cliques, which near-dup clusters practically are.)"""
    pairs = jaccard_pairs(df, id_col, text_col, threshold, n, max_df,
                          stop_shingles, shingle_table)
    dropped = pairs.select(F.col("d2").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 60) -> DataFrame:
    """SimHash over token 60-bit hashes: bit j of the signature is the sign
    of Σ_tokens (±1 by token bit j). One explode + one groupBy with ``bits``
    conditional sums — all codegen'd."""
    # h materialized once per token row; inlining T.hash60 in all ``bits``
    # aggregates would recompute the md5 ``bits``× per row.
    tok = df.select(F.col(id_col).alias("doc"),
                    F.explode(T.tokens(text_col)).alias("tok")) \
        .select("doc", T.hash60(F.col("tok")).alias("h"))
    sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"s_{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc").agg(*sums)
    sig = sum(
        (F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
         for j in range(bits)),
        F.lit(0).cast("long"),
    )
    return agg.select("doc", sig.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, bits: int = 60) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming. Banding on k+1 chunks gives
    guaranteed recall 1 (pigeonhole); bit_count verification gives exact
    precision — so output equals the brute-force O(n²) definition."""
    chunks = max_hamming + 1
    width = bits // chunks + (1 if bits % chunks else 0)
    sig = simhash_signatures(df, id_col, text_col, bits).cache()
    chunk_arr = F.array(*[
        F.struct(F.lit(ci).alias("chunk"),
                 F.shiftright(F.col("simhash"), ci * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("cv"))
        for ci in range(chunks)
    ])
    buckets = sig.select("doc", "simhash", F.explode(chunk_arr).alias("c")) \
        .select("doc", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    x, y = buckets.alias("x"), buckets.alias("y")
    return (
        x.join(y, (F.col("x.chunk") == F.col("y.chunk"))
               & (F.col("x.cv") == F.col("y.cv"))
               & (F.col("x.doc") < F.col("y.doc")))
        .select(F.col("x.doc").alias("d1"), F.col("y.doc").alias("d2"),
                F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"))
        .dropDuplicates(["d1", "d2"])
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_jaccard_pairs(old_shingles: DataFrame, new_docs: DataFrame,
                              id_col: str, text_col: str,
                              threshold: float, n: int = 3,
                              max_df: int | None = None,
                              enforce_disjoint: bool = True) -> tuple[DataFrame, DataFrame]:
    """Near-dup index maintenance for an APPENDED batch: pairs are
    computed only where a NEW document participates — (new × old) ∪
    (new × new) — never old × old, which the standing pair index already
    holds. Returns ``(delta_pairs, updated_shingle_table)``; full-recompute
    equivalence (standing ∪ delta == recompute over the union) is the
    property test in tests/test_dedup.py.

    This is the daily-corpus-append shape at 100 TB: the posting-list
    join probes the lake-sized inverted index WITH the batch-sized new
    side, so the shuffle/join cost is Σ|posting ∩ new| — proportional to
    the batch, not the lake. ``max_df`` pruning applies over the UNION's
    document frequencies, so the DELTA matches what a recompute would
    emit; standing old×old pairs keep their original pruning (a shingle
    that became hot only with this batch cannot retroactively remove
    them) — periodic re-prune/compaction restores exact equivalence,
    the standard index-maintenance trade-off. With ``max_df=None`` the
    union property is exact, which is what the parity test pins.

    Append-only contract: ``new_docs`` ids must be disjoint from the
    standing corpus (re-ingested ids belong to the merge path, not
    here) — ENFORCED: a re-ingested id would duplicate its (doc,
    shingle) rows in the union, silently inflating n_sh and
    intersection counts, so overlap raises instead. The check
    broadcast-semi-joins the batch's ids against the index's doc column:
    a map-side filter, no index shuffle (zero survivors on the clean
    path → the distinct is free), but it IS one extra single-column
    pass over the index before useful work — pipelines that already
    guarantee disjoint ids at the ingest boundary (e.g. a monotone
    id-assignment service) can pass ``enforce_disjoint=False`` to skip
    it; the per-batch pair computation below is unaffected either way.
    """
    new_sh = build_shingle_table(new_docs, id_col, text_col, n=n)
    if enforce_disjoint:
        overlap = (old_shingles.select("doc")
                   .join(F.broadcast(
                       new_docs.select(F.col(id_col).alias("doc")).distinct()),
                       "doc", "left_semi")
                   .distinct())
        sample = [r.doc for r in overlap.limit(5).collect()]
        if sample:
            raise ValueError(
                "incremental_jaccard_pairs: new_docs re-ingests ids already "
                f"in the standing corpus (e.g. {sample}); append-only "
                "contract violated — route re-ingested documents through "
                "the merge path")
    union_sh = old_shingles.unionByName(new_sh)
    if max_df is not None:
        hot = (union_sh.groupBy("shingle")
               .agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_df)
               .select("shingle"))
        union_pruned = union_sh.join(hot, "shingle", "left_anti")
        new_pruned = new_sh.join(hot, "shingle", "left_anti")
    else:
        union_pruned, new_pruned = union_sh, new_sh
    h_union = union_pruned.select(
        "doc", F.xxhash64("shingle").alias("shingle")).cache()
    h_new = new_pruned.select("doc", F.xxhash64("shingle").alias("shingle"))
    sizes = h_union.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    new_ids = new_pruned.select("doc").distinct()
    a, b = h_union.alias("a"), h_new.alias("b")
    # one side of every candidate pair is NEW; normalize to d1 < d2 and
    # drop new×new duplicates counted from both sides via the id order.
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc") != F.col("b.doc")))
        .select(F.least("a.doc", "b.doc").alias("d1"),
                F.greatest("a.doc", "b.doc").alias("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("raw"))
    )
    # a new×new pair is found from BOTH sides (each member probes the
    # other), so its raw count is 2×|intersection|; new×old pairs are
    # found once. Divide by the number of new members in the pair.
    both_new = F.col("__n1").isNotNull() & F.col("__n2").isNotNull()
    marked = (
        inter
        .join(new_ids.select(F.col("doc").alias("d1"),
                             F.lit(1).alias("__n1")), "d1", "left")
        .join(new_ids.select(F.col("doc").alias("d2"),
                             F.lit(1).alias("__n2")), "d2", "left")
        .withColumn("inter", F.when(both_new, F.col("raw") / 2)
                    .otherwise(F.col("raw")).cast("long"))
    )
    delta = (
        marked
        .join(sizes.withColumnsRenamed({"doc": "d1", "n_sh": "n1"}), "d1")
        .join(sizes.withColumnsRenamed({"doc": "d2", "n_sh": "n2"}), "d2")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )
    return delta, old_shingles.unionByName(new_sh)


def scrub_repeated_spans(df: DataFrame, id_col: str, text_col: str,
                         span_n: int = 5, min_docs: int = 2,
                         out_col: str = "scrubbed",
                         hash_spans: bool = False) -> DataFrame:
    """Exact-substring dedup at SPAN granularity (the Lee et al. 2021
    "Deduplicating Training Data" removal semantics, token-window
    variant): every ``span_n``-token window occurring in >= ``min_docs``
    distinct documents marks its token positions covered; covered
    tokens are REMOVED and the document rebuilt from the survivors —
    so boilerplate shared across documents disappears while each
    document's unique prose stays. Returns (id, original text, out_col,
    n_tokens, covered_tokens).

    Scale shape: one explode to the positioned span table, one
    hash-agg for cross-doc frequencies, one self-join back on span, an
    interval explode (span_n rows per duplicated span) for coverage,
    and an order-free rebuild — sort_array over (pos, token) structs
    inside groupBy, no window, no driver state. The reference has no
    dedup at all.

    ``hash_spans=True`` keys the frequency agg and the join-back on
    ``xxhash64(span)`` instead of the raw span string — the
    ``jaccard_pairs`` discipline: the shuffle carries 8-byte longs
    instead of ~span_n·word-length strings and the hash-join compares
    longs. The trade: a cross-span xxhash64 collision (odds
    ~|spans|²/2⁶⁵) would wrongly mark a unique span as duplicated and
    scrub it, so the collision-free exact-string mode stays the
    default; at 100 TB the hashed mode is the one to run."""
    toks = df.select(F.col(id_col).alias("__id"),
                     F.col(text_col).alias("__text"),
                     T.tokens(text_col).alias("__ts"))
    pos_spans = toks.select(
        "__id",
        F.posexplode(T.ngrams_from_tokens("__ts", span_n))
        .alias("__pos", "__span"))
    if hash_spans:
        # every downstream op keys on __span only — hashing here swaps
        # the shuffle/join payload without touching the plan shape
        pos_spans = pos_spans.withColumn("__span", F.xxhash64("__span"))
    dup = (pos_spans.groupBy("__span")
           .agg(F.countDistinct("__id").alias("__nd"))
           .filter(F.col("__nd") >= min_docs)
           .select("__span"))
    covered = (pos_spans.join(dup, "__span")
               .select("__id", F.explode(F.sequence(
                   F.col("__pos"), F.col("__pos") + span_n - 1))
                   .alias("__cov"))
               .distinct())
    toks_pos = toks.select(
        "__id", "__text",
        F.posexplode("__ts").alias("__p", "__tok"))
    kept = toks_pos.join(
        covered,
        (toks_pos["__id"] == covered["__id"])
        & (toks_pos["__p"] == covered["__cov"]), "left_anti")
    rebuilt = (kept.groupBy("__id")
               .agg(F.first("__text").alias("__text"),
                    F.count(F.lit(1)).alias("__kept"),
                    F.concat_ws(" ", F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("__p", "__tok"))),
                        lambda s: s["__tok"])).alias(out_col)))
    base = toks.select("__id", "__text", F.size("__ts").alias("n_tokens"))
    return (base.join(rebuilt.drop("__text"), "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.col("__text").alias(text_col),
                    F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
                    "n_tokens",
                    (F.col("n_tokens")
                     - F.coalesce(F.col("__kept"), F.lit(0)))
                    .alias("covered_tokens")))


def positioned_spans(df: DataFrame, id_col: str, text_col: str,
                     span_n: int = 5) -> DataFrame:
    """(doc, pos, span) — the positioned-window table span-scrub state
    is built from (duplicates kept; 0-indexed positions)."""
    return (df.select(F.col(id_col).alias("doc"),
                      T.tokens(text_col).alias("__ts"))
            .select("doc", F.posexplode(
                T.ngrams_from_tokens("__ts", span_n))
                .alias("pos", "span")))


def incremental_scrub_repeated_spans(
        standing_docs: DataFrame, standing_spans: DataFrame,
        new_docs: DataFrame, id_col: str, text_col: str,
        span_n: int = 5, min_docs: int = 2,
        out_col: str = "scrubbed") -> tuple:
    """Span-scrub maintenance for an APPENDED batch: returns
    ``(rescrubbed, updated_docs, updated_spans)`` where ``rescrubbed``
    holds fresh scrub output ONLY for the docs whose result can have
    changed — the batch itself plus standing docs carrying a span the
    batch just pushed over ``min_docs`` (a new duplicate anywhere
    re-covers every older carrier). Docs outside that set keep their
    previous output untouched, so the per-batch cost is
    O(batch + affected), never O(corpus): the standing span table is
    probed with the BATCH's spans (posting-list shape, same as
    incremental_jaccard_pairs), and only affected docs re-tokenize.
    Full-recompute parity (rescrubbed rows == the same docs' rows from
    scrub_repeated_spans over the union) is the property test. Same
    append-only contract as the other incremental indexes: re-ingested
    ids belong to the merge path."""
    new_spans = positioned_spans(new_docs, id_col, text_col, span_n)
    union_docs = standing_docs.select(
        F.col(id_col), F.col(text_col)).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col)))
    union_spans = standing_spans.unionByName(new_spans)

    # spans whose duplicate status can have CHANGED: only spans present
    # in the batch (counts elsewhere are untouched)
    batch_span_docs = new_spans.select("doc", "span").distinct()
    now_dup = (union_spans.join(
        F.broadcast(batch_span_docs.select("span").distinct()), "span")
        .groupBy("span")
        .agg(F.countDistinct("doc").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span"))
    affected = (union_spans.join(now_dup, "span")
                .select("doc").distinct())
    affected_docs = union_docs.join(
        affected.withColumnRenamed("doc", id_col), id_col, "left_semi") \
        .unionByName(new_docs.select(F.col(id_col), F.col(text_col))) \
        .dropDuplicates([id_col])

    # scrub the affected docs against the UNION's duplicate set: their
    # spans join the union-wide counts, so coverage matches a full
    # recompute exactly
    aff_spans = positioned_spans(affected_docs, id_col, text_col, span_n)
    union_dup = (union_spans.groupBy("span")
                 .agg(F.countDistinct("doc").alias("nd"))
                 .filter(F.col("nd") >= min_docs).select("span"))
    covered = (aff_spans.join(union_dup, "span")
               .select("doc", F.explode(F.sequence(
                   F.col("pos"), F.col("pos") + span_n - 1))
                   .alias("cov"))
               .distinct())
    toks_pos = affected_docs.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__text"),
        F.posexplode(T.tokens(text_col)).alias("p", "tok"))
    kept = toks_pos.join(
        covered, (toks_pos["doc"] == covered["doc"])
        & (toks_pos["p"] == covered["cov"]), "left_anti")
    rebuilt = (kept.groupBy("doc")
               .agg(F.first("__text").alias("__text"),
                    F.count(F.lit(1)).alias("__kept"),
                    F.concat_ws(" ", F.transform(
                        F.sort_array(F.collect_list(F.struct("p", "tok"))),
                        lambda s: s["tok"])).alias(out_col)))
    base = affected_docs.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("__t0"),
        F.size(T.tokens(text_col)).alias("n_tokens"))
    rescrubbed = (base.join(rebuilt.drop("__text"), "doc", "left")
                  .select(F.col("doc").alias(id_col),
                          F.col("__t0").alias(text_col),
                          F.coalesce(F.col(out_col), F.lit(""))
                          .alias(out_col),
                          "n_tokens",
                          (F.col("n_tokens")
                           - F.coalesce(F.col("__kept"), F.lit(0)))
                          .alias("covered_tokens")))
    return rescrubbed, union_docs, union_spans
