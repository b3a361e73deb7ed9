"""Deduplication operators for large text/embedding corpora.

Four families, all shuffle-bounded (never O(n²) over the corpus):

- exact:      hash-groupBy on content digest
- ngram/jaccard: shingle inverted index -> candidate pairs that SHARE a
              shingle -> exact Jaccard verify (pairs only)
- minhash+LSH: per-row signatures (Kirsch-Mitzenmacher double
              hashing off one md5 per shingle), band keys, bucket
              self-join -> candidates -> exact verify. The integer
              construction is deliberately SQL-expressible so the
              DuckDB oracle replays it verbatim.
- simhash:    64-bit sign-of-sums fingerprint, 16-bit band buckets,
              hamming verify via xor/bit_count
- embedding:  cosine pairs (brute force here; LSH/IVF variants live in
              operators/similarity.py)

At 100 TB the shingle/band self-joins shuffle on high-cardinality hash
keys (uniform by construction); a document-frequency cap (`max_df`)
drops degenerate hot shingles before the join — the standard guard
against quadratic buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpx_etl_spark.operators.cut import cut
from cpx_etl_spark.scratch import IndexHandle, Table, append_index, write_index


def observe_count(df: DataFrame, stats: dict | None, name: str) -> DataFrame:
    """Attach a zero-cost row-count metric to a plan stage.

    When ``stats`` is a dict, wraps ``df`` in a CollectMetrics node
    (``Observation``) named ``name`` and stores the Observation there;
    after the caller's action, ``stats[name].get["n"]`` is the number
    of rows that flowed through this stage IN THAT JOB — no second
    scan, no extra shuffle. This is the candidate-volume guard for the
    dedup/similarity families: at 100 TB a quadratic candidate
    regression (hot bucket, threshold drift) shows up here as a
    pair-count explosion long before the stage OOMs — pipelines should
    alert on candidates >> expected. ``stats=None`` (default) is a
    no-op passthrough."""
    if stats is None:
        return df
    from pyspark.sql import Observation

    obs = Observation(name)
    stats[name] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("n"))


def exact_dedup_stats(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Group by content digest: surviving id + copy count per group."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep the min-id row per distinct content (the dedup'd corpus)."""
    keep = (
        df.groupBy(F.md5(F.col(content_col)).alias("_h"))
        .agg(F.min(id_col).alias(id_col))
        .drop("_h")
    )
    return df.join(keep, on=id_col, how="left_semi")


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Non-distinct (id, sh) shingle rows — NARROW (zero shuffles).

    The n-gram at position i is the elementwise zip of n shifted
    slices of the token array, so shingling is a pure projection:
    read -> split -> arrays_zip -> explode -> concat_ws, all inside
    whole-stage codegen. (Round 1 used posexplode + window lead(),
    which costs a partitionBy(id) shuffle+sort per use; the earlier
    nested-HOF formulation — transform over per-position slice —
    fell out of codegen entirely. This keeps both properties: codegen
    AND no shuffle.) Docs with fewer than n tokens emit no rows.
    """
    arr = F.split(F.col(text_col), " ")
    if n == 1:
        return df.select(F.col(id_col), F.explode(arr).alias("sh"))
    width = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(arr, i + 1, width).alias(f"w{i}") for i in range(n)])
    return (
        df.select(F.col(id_col), F.explode(z).alias("_t"))
        .select(
            F.col(id_col),
            F.concat_ws(" ", *[F.col(f"_t.w{i}") for i in range(n)]).alias("sh"),
        )
    )


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 2) -> tuple[DataFrame, DataFrame]:
    """(distinct inverted index [id, sh], per-doc shingle counts [id, n_sh])."""
    index = shingle_rows(df, id_col, text_col, n).dropDuplicates()
    counts = index.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return index, counts


def prune_hot_shingles(
    index: DataFrame, max_df: int, *, with_hot: bool = False
):
    """Drop shingles appearing in more than max_df docs — candidate
    GENERATION only (verification always counts the full sets), the
    standard guard against quadratic buckets at corpus scale. Plain
    join, not broadcast-hinted: the hot list is tiny on healthy corpora
    (AQE broadcasts it at runtime) but unbounded on adversarial ones —
    same rationale as prune_hot_buckets. With ``with_hot`` also returns
    the pruned-shingle frame so callers can REPORT the truncation (the
    no-silent-caps rule) without re-deriving the df aggregate."""
    hot = index.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
    pruned = index.join(hot, on="sh", how="left_anti")
    return (pruned, hot) if with_hot else pruned


def _verify_jaccard_two(pairs: DataFrame,
                        idx_a: DataFrame, cnt_a: DataFrame,
                        idx_b: DataFrame, cnt_b: DataFrame,
                        id_col: str, threshold: float,
                        prune_index: bool = False) -> DataFrame:
    """Exact Jaccard for candidate pairs, with independent shingle
    index/count frames per pair side (doc_a side vs doc_b side) — the
    general form needed by the cross-corpus paths, where the doc_b side
    may come from a PERSISTED index instead of a fresh derivation.

    With ``prune_index``, each side's inverted index is semi-joined down
    to the documents that actually appear in a candidate pair before the
    shared-shingle join — when candidates are sparse (the LSH path after
    the band-collision pre-filter), this keeps the verify shuffle
    proportional to the candidate docs' shingles instead of the whole
    corpus. Results are identical either way (per-doc counts always come
    from the full index), so oracles need no mirror. A pruned verify
    reads ``pairs`` three times (both semi-join doc lists and the
    shared-shingle join), so callers whose candidate subtree is costly
    pass ``cut(pairs)``.
    """
    if prune_index:
        # no broadcast hint: candidate-doc lists are usually small but
        # scale with corpus dup density — AQE broadcasts when the
        # runtime size actually allows it (VERDICT r4 item 2).
        if idx_a is idx_b:
            # self-join verify: both sides prune from ONE index, so
            # semi-join it to the union of candidate docs once and cut
            # THAT — the cut frame is candidate-bounded (narrow).
            # Catalyst pushes the semi-join below the index's
            # dropDuplicates aggregate (the key is a grouping column),
            # so the distinct shuffle itself carries only candidate
            # docs' shingles. The inner joins on doc_a/doc_b below
            # make the per-side doc split redundant — pruning to the
            # union is identical.
            docs = (
                pairs.select(F.col("doc_a").alias(id_col))
                .union(pairs.select(F.col("doc_b").alias(id_col)))
                .distinct()
            )
            # kept: dedup_doc_fuzzy_verdict 4.04 s cut vs 4.71 s uncut,
            # sf0.1 local[4]
            idx_a = idx_b = idx_a.join(
                docs, on=id_col, how="left_semi"
            ).transform(cut)
        else:
            docs_a = pairs.select(F.col("doc_a").alias(id_col)).distinct()
            docs_b = pairs.select(F.col("doc_b").alias(id_col)).distinct()
            idx_a = idx_a.join(docs_a, on=id_col, how="left_semi")
            idx_b = idx_b.join(docs_b, on=id_col, how="left_semi")
    t1 = idx_a.select(F.col(id_col).alias("doc_a"), "sh")
    t2 = idx_b.select(F.col(id_col).alias("doc_b"), "sh")
    shared = (
        pairs.join(t1, on="doc_a")
        .join(t2, on=["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt_a.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = cnt_b.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.join(ca, on="doc_a")
        .join(cb, on="doc_b")
        .withColumn("jaccard", F.round(jac - 1e-9, 6))  # tie-safe (queries.EPS)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _verify_jaccard(pairs: DataFrame, index: DataFrame, counts: DataFrame,
                    id_col: str, threshold: float,
                    prune_index: bool = False) -> DataFrame:
    """Exact Jaccard verify where both pair sides share one index."""
    return _verify_jaccard_two(
        pairs, index, counts, index, counts, id_col, threshold,
        prune_index=prune_index,
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 2, threshold: float = 0.5,
                        max_df: int | None = None,
                        stats: dict | None = None) -> DataFrame:
    """Near-dup pairs: any shared n-gram shingle proposes a candidate,
    exact Jaccard >= threshold confirms. ``stats`` (observe_count)
    exposes the candidate-pair count of the run."""
    # Per-doc counts read the cut index (measured cheaper than an
    # independent count_distinct re-aggregation of the raw rows).
    rows = shingle_rows(df, id_col, text_col, n)
    # kept: dedup_ngram_jaccard 1.63 s cut vs 1.91 s uncut, sf0.1 local[4]
    index = cut(rows.dropDuplicates())
    counts = index.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is None:
        # fast path: the candidate self-join already touches every
        # shared shingle of every pair, so COUNTING it (groupBy instead
        # of distinct) yields the exact intersection size for free —
        # no separate verify join re-deriving the index for both sides
        t1 = index.select(F.col(id_col).alias("doc_a"), "sh")
        t2 = index.select(F.col(id_col).alias("doc_b"), "sh")
        shared = (
            t1.join(t2, on="sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        shared = observe_count(shared, stats, "ngram_candidates")
        ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
        cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
        jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
        return (
            shared.join(ca, on="doc_a")
            .join(cb, on="doc_b")
            .withColumn("jaccard", F.round(jac - 1e-9, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    # with hot-shingle pruning, the pruned join undercounts shared
    # shingles, so candidates and verification must stay separate
    # (verification always counts the FULL sets)
    cand_index = prune_hot_shingles(index, max_df)
    t1 = cand_index.select(F.col(id_col).alias("doc_a"), "sh")
    t2 = cand_index.select(F.col(id_col).alias("doc_b"), "sh")
    cand = observe_count(
        t1.join(t2, on="sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct(),
        stats, "ngram_candidates",
    )
    return _verify_jaccard(cand, index, counts, id_col, threshold)


# Kirsch-Mitzenmacher double hashing: k hash functions from ONE md5
# digest. h1/h2 are the digest's two 32-bit hex halves; function i is
# (a_i*h1 + b_i*h2) mod P with md5-seeded literal coefficients. All
# arithmetic stays under 2^62 (a,b < P < 2^31; h mod P < 2^31), so
# int64 is exact in every engine and DuckDB replays it verbatim
# ('0x'-prefixed CAST parses the hex halves). k=64 signatures cost one
# digest per shingle row instead of eight — measured 5.1s -> 1.3s at
# sf1 for the signature stage.
KM_PRIME = 2147483629  # largest prime below 2^31


def km_coefficients(k: int, tag: str = "km") -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i != 0 mod P — reproducible in
    any engine/language (same construction style as hyperplane_weights)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [
        (h(f"{tag}:a:{i}") % (KM_PRIME - 1) + 1, h(f"{tag}:b:{i}") % KM_PRIME)
        for i in range(k)
    ]


def minhash_signatures(index: DataFrame, id_col: str, k: int) -> DataFrame:
    """k minhash components per doc via double hashing (one md5 digest
    per shingle row, k codegen'd linear combos), the cross-engine
    construction the DuckDB oracles replay. One aggregation over the
    exploded index. End to end the operator is shuffle-bound (band join
    and signature groupBy), not digest-bound: two JVM xxhash64 draws in
    place of the md5 measured 5.24 s vs 5.26 s at sf1 (PERF.md, r6)."""
    d = F.md5(F.col("sh"))
    h1 = F.conv(F.substring(d, 1, 8), 16, 10).cast("long") % KM_PRIME
    h2 = F.conv(F.substring(d, 9, 8), 16, 10).cast("long") % KM_PRIME
    base = index.select(F.col(id_col), h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min((F.lit(a) * F.col("_h1") + F.lit(b) * F.col("_h2")) % KM_PRIME).alias(
            f"mh_{i}"
        )
        for i, (a, b) in enumerate(km_coefficients(k))
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 2, k: int = 8, bands: int = 4,
                      threshold: float = 0.5,
                      min_band_collisions: int = 1,
                      stats: dict | None = None,
                      prune_verify: bool | None = None) -> DataFrame:
    """MinHash signatures -> LSH band buckets -> candidate pairs ->
    exact Jaccard verify. rows_per_band = k // bands.

    ``min_band_collisions`` pre-filters candidates by how many of the
    ``bands`` band keys collide — a signature-derived Jaccard estimate
    (each band collides with probability J^r) that is already in hand
    before the expensive exact-verify join. Random non-dup collisions
    are overwhelmingly single-band, so requiring >= 2 discards most of
    the verify input while keeping high-J pairs with near-certainty
    (at J=0.9, r=4: P(band)=0.656, P(<2 of 16 bands) ~ 2e-7). The
    filter is part of the operator's result definition: pairs must
    collide in >= min_band_collisions bands AND pass exact Jaccard —
    oracles replay the same HAVING clause.
    """
    # Signatures come from the NON-distinct shingle rows: min() is
    # duplicate-insensitive, so skipping dropDuplicates saves a full
    # shuffle — the sig path is read -> narrow shingling -> one
    # groupBy(id) shuffle with map-side partial mins. (Cutting the full
    # distinct index in front of the signatures regressed the family
    # 15-27% at local[32]: the sig path gained a corpus-wide distinct
    # shuffle and waited on a corpus-token-sized materialization.)
    rows = shingle_rows(df, id_col, text_col, n)
    index = rows.dropDuplicates()
    # counts in ONE aggregate over the raw rows (count_distinct plans
    # as the same partial-on-(id, sh) two-phase shape the old
    # dropDuplicates+count pair cost, but in a single subtree)
    # kept: dedup_doc_fuzzy_verdict 20.62 s cut vs 23.83 s with this and
    # `cand` uncut, sf1 local[4]; tie at sf0.1
    counts = rows.groupBy(id_col).agg(
        F.count_distinct(F.col("sh")).alias("n_sh")
    ).transform(cut)
    sig = minhash_signatures(rows, id_col, k)
    # kept: dedup_doc_fuzzy_verdict 3.31 s cut vs 3.63 s uncut, sf0.1 local[4]
    stacked = band_rows(sig, id_col, k, bands).transform(cut)
    s1 = stacked.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
    s2 = stacked.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
    # each doc contributes one row per band_idx, so count(*) per pair
    # == number of colliding bands; the groupBy replaces the former
    # .distinct() at the same one-shuffle cost.
    cand = observe_count(
        s1.join(s2, on=["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_n_bands"))
        .filter(F.col("_n_bands") >= min_band_collisions)
        .select("doc_a", "doc_b"),
        stats, "minhash_candidates",
    )
    # prune_verify: semi-join the verify index down to candidate docs
    # before its one distinct shuffle (results identical — the verify
    # joins are inner on the pair ids). Default follows the band
    # pre-filter (collisions >= 2 makes candidates sparse); callers
    # whose candidate sets are sparse for other reasons opt in.
    prune = min_band_collisions > 1 if prune_verify is None else prune_verify
    if prune:
        # the pruned verify reads the candidates three times
        # kept: dedup_doc_fuzzy_verdict 20.62 s cut vs 23.83 s with this
        # and `counts` uncut, sf1 local[4]; tie at sf0.1
        cand = cut(cand)
    return _verify_jaccard(cand, index, counts, id_col, threshold,
                           prune_index=prune)


SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits int64 in every engine


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3, n_bands: int = 4,
                  stats: dict | None = None) -> DataFrame:
    """SimHash near-dup: 60-bit sign-of-weighted-bit-sums fingerprint,
    15-bit band buckets, hamming distance via xor+bit_count.

    Token hashes are the first 15 hex chars of md5 parsed as int64 —
    60 bits, so the value is exactly representable in a signed BIGINT
    in both Spark (conv) and ANSI SQL (positional hex-digit sum), which
    makes the whole construction DuckDB-replayable (the same trick that
    oracled the LSH paths; round 1 used xxhash64, which no other engine
    implements). One shuffle builds the fingerprints (explode tokens ->
    60 partial sums per doc), one bucket self-join proposes candidates.
    """
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("t")
    ).withColumn("h", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long"))
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        sim = sim.bitwiseOR(
            F.shiftleft(F.when(F.col(f"b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
        )
    fps = bit_sums.select(F.col(id_col), sim.alias("simhash"))
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    stacked = fps.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
                for b in range(n_bands)
            ])
        ).alias("band_idx", "band_key"),
    )
    s1 = stacked.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band_idx", "band_key")
    s2 = stacked.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band_idx", "band_key")
    cand = observe_count(
        s1.join(s2, on=["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct(),
        stats, "simhash_candidates",
    )
    # cast pins the cross-engine dtype: Spark bit_count yields int32,
    # DuckDB's yields int8 — the gate compares schemas exactly
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def band_rows(sig: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """Stack a k-component signature frame into LSH band rows
    (id, band_idx, band_key): band b's key is the md5 of its r = k/bands
    signature components. Narrow (projection + posexplode, no shuffle)."""
    if k % bands:
        raise ValueError("k must divide evenly into bands")
    r = k // bands
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh_{b * r + j}") for j in range(r)])).alias(f"band_{b}")
        for b in range(bands)
    ]
    return (
        sig.select(F.col(id_col), *band_cols)
        .select(
            F.col(id_col),
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(bands)])
            ).alias("band_idx", "band_key"),
        )
        .filter(F.col("band_key").isNotNull())
    )


def prune_hot_bands(banded_ref: DataFrame, max_df: int) -> DataFrame:
    """Drop (band_idx, band_key) buckets holding more than ``max_df``
    standing-corpus docs before the cross-corpus band join — candidate
    GENERATION only (verification still counts full shingle sets). A
    boilerplate-heavy standing corpus (cookie banners, license headers)
    concentrates signatures into a few buckets; without the cap one hot
    key pairs every matching crawl doc with the whole pile. Same
    rationale as prune_hot_shingles; plain anti-join, AQE decides the
    strategy."""
    hot = (
        banded_ref.groupBy("band_idx", "band_key")
        .count()
        .filter(F.col("count") > max_df)
        .select("band_idx", "band_key")
    )
    return banded_ref.join(hot, on=["band_idx", "band_key"], how="left_anti")


def _cross_candidates(banded_new: DataFrame, banded_ref: DataFrame,
                      min_band_collisions: int,
                      max_ref_band_df: int | None,
                      stats: dict | None) -> DataFrame:
    """new x ref band join -> (doc_a, doc_b) candidates with the
    band-collision pre-filter; optional hot-band cap on the ref side."""
    if max_ref_band_df is not None:
        banded_ref = prune_hot_bands(banded_ref, max_ref_band_df)
    return observe_count(
        banded_new.join(banded_ref, on=["band_idx", "band_key"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_n_bands"))
        .filter(F.col("_n_bands") >= min_band_collisions)
        .select("doc_a", "doc_b"),
        stats, "cross_corpus_candidates",
    )


def cross_corpus_minhash_pairs(
    df_new: DataFrame, df_ref: DataFrame, id_col: str, text_col: str,
    n: int = 2, k: int = 8, bands: int = 4, threshold: float = 0.5,
    min_band_collisions: int = 1, max_ref_band_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Asymmetric near-dup join: docs in ``df_new`` (a fresh crawl)
    whose near-duplicate already exists in ``df_ref`` (the standing
    corpus) — the cross-corpus dedup every incremental ingestion
    pipeline runs so re-crawled content never re-enters training data.

    Same double-hashed MinHash banding as minhash_lsh_pairs, but the
    band join is new x ref instead of a self-join, so candidate volume
    is driven by CROSS-corpus collisions only — the (usually much
    larger) ref side is never joined to itself. ``max_ref_band_df``
    caps ref-side band-bucket occupancy (prune_hot_bands) against
    boilerplate-heavy standing corpora. Requires globally unique ids
    across the two frames. Returns (doc_a=new id, doc_b=ref id,
    jaccard).

    NOTE: this recomputes the standing corpus's shingles + signatures
    every run. An incremental pipeline should instead persist them once
    (write_signature_index) and join each crawl against the stored
    index (cross_corpus_minhash_pairs_indexed).
    """

    def banded(df: DataFrame, out: str) -> tuple[DataFrame, DataFrame]:
        # signatures off the NON-distinct shingle rows (min() is
        # duplicate-insensitive): no dropDuplicates shuffle on the sig
        # path, and no corpus-token-sized materialization (r18 — the
        # narrow-cut rule; see minhash_lsh_pairs)
        rows = shingle_rows(df, id_col, text_col, n)
        sig = minhash_signatures(rows, id_col, k)
        return rows, band_rows(sig, id_col, k, bands).withColumnRenamed(id_col, out)

    rows_new, banded_new = banded(df_new, "doc_a")
    rows_ref, banded_ref = banded(df_ref, "doc_b")
    cand = _cross_candidates(banded_new, banded_ref, min_band_collisions,
                             max_ref_band_df, stats)
    idx_new = rows_new.dropDuplicates()
    idx_ref = rows_ref.dropDuplicates()
    # one-pass per-doc distinct counts over the raw shingle rows (r17:
    # no second dropDuplicates evaluation just to count); single
    # consumer each (one verify join per side) — no checkpoint
    cnt_new = rows_new.groupBy(id_col).agg(
        F.count_distinct(F.col("sh")).alias("n_sh"))
    cnt_ref = rows_ref.groupBy(id_col).agg(
        F.count_distinct(F.col("sh")).alias("n_sh"))
    prune = min_band_collisions > 1
    if prune:
        # kept: dedup_cross_corpus 4.68 s cut vs 5.51 s uncut, sf0.1 local[4]
        cand = cut(cand)
    return _verify_jaccard_two(
        cand, idx_new, cnt_new, idx_ref, cnt_ref, id_col, threshold,
        prune_index=prune,
    )


# ---------------------------------------------------------------------------
# Persisted signature index (VERDICT r5 item 1)
#
# The artifact a 100 TB incremental-ingestion deployment actually
# operates: the standing corpus's shingle index, per-doc shingle
# counts, and LSH band rows, computed ONCE and stored as parquet.
# Each fresh crawl then shingles/signs only ITSELF and joins against
# the stored band rows — the ref side of the pipeline is three column-
# pruned parquet scans instead of a full re-derivation. Layout:
#
#   <path>/_META.json         kind signature: {id_col, text_col, n, k, bands}
#   <path>/bands/             (id, band_idx, band_key)   parquet
#   <path>/shingles/          (id, sh) distinct          parquet
#   <path>/counts/            (id, n_sh)                 parquet
#
# bands/ is written clustered by band_key so file-level min/max stats
# keep each band bucket in few files; shingles/ clustered by id so the
# verify-time semi-join on candidate docs touches few files.
# ---------------------------------------------------------------------------

def _signature_tables(df: DataFrame, id_col: str, text_col: str,
                      n: int, k: int, bands: int) -> list[Table]:
    # each frame is written exactly once, so no checkpoint: signatures
    # off the raw rows (min() is duplicate-insensitive — no distinct
    # shuffle on the sig path), counts in one count_distinct aggregate
    # (r18 narrow-cut rule: never materialize the corpus-token-sized
    # index on executor-local storage; the index write IS its
    # materialization)
    rows = shingle_rows(df, id_col, text_col, n)
    sig = minhash_signatures(rows, id_col, k)
    counts = rows.groupBy(id_col).agg(
        F.count_distinct(F.col("sh")).alias("n_sh"))
    return [
        Table("bands", band_rows(sig, id_col, k, bands), id_col,
              cluster=("band_key",)),
        Table("shingles", rows.dropDuplicates(), id_col, cluster=(id_col,)),
        Table("counts", counts, id_col),
    ]


def write_signature_index(df: DataFrame, path: str, id_col: str,
                          text_col: str, n: int = 2, k: int = 8,
                          bands: int = 4) -> None:
    """Derive and persist the full signature index for ``df`` (the
    standing corpus). Overwrites any existing index at ``path``."""
    write_index(path, "signature",
                {"id_col": id_col, "text_col": text_col, "n": n, "k": k,
                 "bands": bands},
                _signature_tables(df, id_col, text_col, n, k, bands))


def append_to_signature_index(df: DataFrame, path: str) -> None:
    """Add a new batch of docs (e.g. the crawl docs that SURVIVED dedup)
    to an existing index — the step that closes the incremental loop:
    sign once on ingestion, never re-derive. Parameters come from the
    stored meta; the tables land bands, shingles, counts under
    scratch.append_index's contract."""
    idx = read_signature_index(df.sparkSession, path)
    m = idx.meta
    append_index(df, idx, _signature_tables(
        df, m["id_col"], m["text_col"], m["n"], m["k"], m["bands"]))


def read_signature_index(spark, path: str) -> IndexHandle:
    return IndexHandle(spark, path, "signature")


def cross_corpus_minhash_pairs_indexed(
    df_new: DataFrame, index: IndexHandle, threshold: float = 0.5,
    min_band_collisions: int = 1, max_ref_band_df: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """cross_corpus_minhash_pairs against a PERSISTED standing-corpus
    index: only the fresh crawl is shingled/signed; the ref side is
    parquet scans of the stored band rows (candidate join), shingles
    (exact verify), and counts. Same result as the recompute path by
    construction — the stored frames are the same derivation, written
    once."""
    meta = index.meta
    id_col, text_col = meta["id_col"], meta["text_col"]
    # signatures off the crawl's NON-distinct shingle rows (min() is
    # duplicate-insensitive): no distinct shuffle on the sig path, no
    # corpus-token-sized materialization (r18 narrow-cut rule)
    rows_new = shingle_rows(df_new, id_col, text_col, meta["n"])
    idx_new = rows_new.dropDuplicates()
    sig_new = minhash_signatures(rows_new, id_col, meta["k"])
    # the candidate frame is NOT cut, so the stored index's band scans
    # stay visible in the executed plan (tests/test_plans.py pins the
    # ref side to the stored index's parquet)
    # kept: dedup_cross_corpus_indexed 2.87 s cut vs 3.47 s uncut,
    # sf0.1 local[4]
    banded_new = band_rows(sig_new, id_col, meta["k"], meta["bands"]) \
        .withColumnRenamed(id_col, "doc_a").transform(cut)
    banded_ref = index.table("bands").withColumnRenamed(id_col, "doc_b")
    cand = _cross_candidates(banded_new, banded_ref, min_band_collisions,
                             max_ref_band_df, stats)
    cnt_new = rows_new.groupBy(id_col).agg(
        F.count_distinct(F.col("sh")).alias("n_sh"))
    return _verify_jaccard_two(
        cand, idx_new, cnt_new, index.table("shingles"), index.table("counts"),
        id_col, threshold, prune_index=min_band_collisions > 1,
    )


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 2, threshold: float = 0.8,
                      max_df: int | None = None,
                      stats: dict | None = None) -> DataFrame:
    """ASYMMETRIC near-dup: ordered pairs where doc_a's shingle set is
    mostly CONTAINED in doc_b's (|A ∩ B| / |A| >= threshold, a != b) —
    the quotation/subset detector Jaccard misses: a paragraph quoted
    inside a much larger document scores near-zero Jaccard but full
    containment. Same inverted-index candidate generation as
    ngram_jaccard_pairs (shared-shingle join, optional hot-shingle
    cap), same one-groupBy exact verify; only the normalizer differs
    (|A| instead of the union)."""
    # same shape as ngram_jaccard_pairs: the candidate self-join reads
    # the distinct index on both sides, counts read off it
    rows = shingle_rows(df, id_col, text_col, n)
    # kept: dedup_containment 7.42 s cut vs 9.17 s uncut, sf1 local[4]; tie at sf0.1
    index = cut(rows.dropDuplicates())
    counts = index.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    cand_index = index if max_df is None else prune_hot_shingles(index, max_df)
    t1 = cand_index.select(F.col(id_col).alias("doc_a"), "sh")
    t2 = cand_index.select(F.col(id_col).alias("doc_b"), "sh")
    shared = observe_count(
        t1.join(t2, on="sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared")),
        stats, "containment_candidates",
    )
    if max_df is not None:
        # pruned join undercounts; verify against the FULL index
        pairs = shared.select("doc_a", "doc_b")
        shared = (
            pairs.join(index.select(F.col(id_col).alias("doc_a"), "sh"), on="doc_a")
            .join(index.select(F.col(id_col).alias("doc_b"), "sh"),
                  on=["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    return (
        shared.join(ca, on="doc_a")
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.col("n_a") - 1e-9, 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 4, w: int = 4) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003,
    the MOSS selector): hash every k-token gram (60-bit md5 prefix),
    slide a window of w consecutive hashes, select each window's
    minimum — RIGHTMOST on ties, encoded as a lexicographic struct-min
    over (h, -pos) — and return the distinct (id, h) fingerprint set.
    The paper's guarantee, pinned by a hypothesis property test: any
    two documents sharing a token run of length >= k + w - 1 share at
    least one selected fingerprint, while only ~2/(w+1) of positions
    are stored. Narrow projection + per-document window (session-scale
    partitions, never a global sort)."""
    from pyspark.sql import Window as W

    tk = F.split(F.col(text_col), " ")
    width = F.greatest(F.size(tk) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(tk, i + 1, width) for i in range(k)])
    kg = df.select(
        F.col(id_col), F.posexplode(z).alias("pos0", "g")
    ).select(
        F.col(id_col),
        (F.col("pos0") + 1).alias("pos"),
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", *[F.col(f"g.{i}") for i in range(k)])),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), W.currentRow)
    return (
        kg.withColumn(
            "m", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(win)
        )
        .filter(F.col("pos") >= w)
        .select(F.col(id_col), F.col("m.h").alias("h"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Persisted winnowing fingerprint index (VERDICT r12 item 5)
#
# The MinHash signature index above, applied to the OTHER fingerprint
# family: the standing corpus's winnowing fingerprints and per-doc
# counts, computed once on ingestion and stored as parquet, so each
# fresh crawl fingerprints only ITSELF and probes the stored set —
# q_winnow_fingerprints' derivation never re-runs over the standing
# side. Layout:
#
#   <path>/_META.json         kind winnow: {id_col, text_col, k, w}
#   <path>/fps/               (id, h) distinct fingerprints  parquet
#   <path>/counts/            (id, nf)                       parquet
#
# fps/ is written clustered by h so the candidate hash-join on a
# fingerprint touches few files (file-level min/max pruning).
# ---------------------------------------------------------------------------


def _winnow_frames(df: DataFrame, id_col: str, text_col: str,
                   k: int, w: int):
    # the fingerprint frame feeds candidates, verification AND the
    # per-doc count (and both index writes)
    # kept: write_winnow_index 1.31 s cut vs 1.93 s uncut, sf0.1 local[4]
    fps = cut(
        winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    )
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("nf"))
    return fps, counts


def _winnow_tables(df: DataFrame, id_col: str, text_col: str,
                   k: int, w: int) -> list[Table]:
    fps, counts = _winnow_frames(df, id_col, text_col, k, w)
    return [Table("counts", counts, id_col),
            Table("fps", fps, id_col, cluster=("h",))]


def write_winnow_index(df: DataFrame, path: str, id_col: str,
                       text_col: str, k: int = 4, w: int = 4) -> None:
    """Derive and persist the winnowing index for ``df`` (the standing
    corpus). Overwrites any existing index at ``path``."""
    write_index(path, "winnow",
                {"id_col": id_col, "text_col": text_col, "k": k, "w": w},
                _winnow_tables(df, id_col, text_col, k, w))


def append_to_winnow_index(df: DataFrame, path: str) -> None:
    """Add a new batch (e.g. the crawl docs that SURVIVED the dedup
    decision) to an existing winnowing index — fingerprint once on
    ingestion, never re-derive. Parameters come from the stored meta;
    the tables land counts, then fps, under scratch.append_index's
    contract."""
    idx = read_winnow_index(df.sparkSession, path)
    m = idx.meta
    append_index(df, idx, _winnow_tables(
        df, m["id_col"], m["text_col"], m["k"], m["w"]))


def read_winnow_index(spark, path: str) -> IndexHandle:
    return IndexHandle(spark, path, "winnow")


def cross_corpus_winnow_pairs_indexed(
    df_new: DataFrame, index: IndexHandle, min_shared: int = 2,
    max_ref_df: int | None = 64,
) -> DataFrame:
    """New-batch-vs-standing containment over the PERSISTED winnowing
    index: only the fresh crawl is fingerprinted; the standing corpus
    contributes two column-pruned parquet scans (fps, counts).
    Candidates come from the fingerprint hash-join new x ref with the
    house df-cap on REF-side fingerprint occupancy (a fingerprint
    shared by > max_ref_df standing docs is boilerplate and proposes
    no candidates — never all-pairs); verification counts shared
    fingerprints over the FULL sets (caps gate candidates, never
    verification). Returns (doc_a=new id, doc_b=ref id, n_shared,
    containment = shared / min(|fps_a|, |fps_b|))."""
    meta = index.meta
    id_col = meta["id_col"]
    fps_new, cnt_new = _winnow_frames(
        df_new, id_col, meta["text_col"], meta["k"], meta["w"]
    )
    ref_ok = (
        index.table("fps").groupBy("h").count()
        .filter(
            F.col("count")
            <= (1 << 62 if max_ref_df is None else max_ref_df)
        )
        .select("h")
    )
    cand = (
        fps_new.select(F.col(id_col).alias("doc_a"), "h")
        .join(index.table("fps").join(ref_ok, on="h", how="left_semi")
              .select(F.col(id_col).alias("doc_b"), "h"), on="h")
        .select("doc_a", "doc_b")
        .distinct()
    )
    f1 = fps_new.select(F.col(id_col).alias("doc_a"), "h")
    f2 = index.table("fps").select(F.col(id_col).alias("doc_b"), "h")
    shared = (
        cand.join(f1, on="doc_a")
        .join(f2, on=["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    ca = cnt_new.select(F.col(id_col).alias("doc_a"), F.col("nf").alias("_fa"))
    cb = index.table("counts").select(
        F.col(id_col).alias("doc_b"), F.col("nf").alias("_fb")
    )
    from cpx_etl_spark.queries import fround

    return (
        shared.join(ca, on="doc_a")
        .join(cb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            fround(F.col("n_shared") / F.least("_fa", "_fb"), 6)
            .alias("containment"),
        )
    )
