"""Frequency sketches for corpus-scale streams: Count-Min.

The Count-Min sketch is THE bounded-memory frequency estimator for
100 TB token/key streams: d hash rows x w buckets of counters, update
= +1 in one bucket per row, estimate = min over rows. Collisions only
ever ADD, so estimates are one-sided: est >= true count always, and
P[est > true + eps*N] <= (1/2)^d for w = ceil(e/eps).

Cross-engine exactness (the repo's oracle discipline): the d hash
functions are Kirsch-Mitzenmacher double hashes off ONE md5 per key —
the same integer construction as the MinHash signatures
(operators/dedup.py), so a DuckDB oracle replays the sketch AND the
estimates bit-for-bit. The sketch itself is a (d*w)-row table built by
one groupBy shuffle with map-side partials — at scale it lives
broadcast-side for estimate joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpx_etl_spark.operators.dedup import KM_PRIME, km_coefficients

CMS_TAG = "cms"


def _bucket_cols(key_col, d: int, w: int):
    """d bucket expressions for a key column (one md5, d linear combos
    mod w) — exact int64 arithmetic, identical in any engine."""
    dig = F.md5(key_col)
    h1 = F.conv(F.substring(dig, 1, 8), 16, 10).cast("long") % KM_PRIME
    h2 = F.conv(F.substring(dig, 9, 8), 16, 10).cast("long") % KM_PRIME
    return [
        ((F.lit(a) * h1 + F.lit(b) * h2) % KM_PRIME % w)
        for a, b in km_coefficients(d, CMS_TAG)
    ]


def count_min_build(df: DataFrame, key_col: str, d: int = 4, w: int = 1024) -> DataFrame:
    """Build the sketch: (row_idx, bucket, cnt), one groupBy shuffle of
    at most d*w distinct cells after map-side partial aggregation."""
    buckets = _bucket_cols(F.col(key_col), d, w)
    cells = df.select(
        F.posexplode(F.array(*buckets)).alias("row_idx", "bucket")
    )
    return cells.groupBy("row_idx", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def count_min_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                       d: int = 4, w: int = 1024) -> DataFrame:
    """Estimate each key's frequency: min over the d rows of its cell
    counters. The keys frame is small (candidates/heavy-hitter
    suspects); the sketch is d*w rows — both sides broadcastable, no
    corpus scan."""
    buckets = _bucket_cols(F.col(key_col), d, w)
    probes = keys.select(
        F.col(key_col),
        F.posexplode(F.array(*buckets)).alias("row_idx", "bucket"),
    )
    return (
        probes.join(sketch, on=["row_idx", "bucket"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def sql_count_min(d: int, w: int, stream_rel: str = "stream",
                  keys_rel: str = "keys", key_col: str = "k") -> str:
    """DuckDB CTE segment replaying build + estimate. Expects CTEs
    ``stream_rel`` (the keyed stream, column ``key_col``) and
    ``keys_rel`` (keys to estimate) to be defined BEFORE this segment;
    defines hashed/cells/sketch/probes/est. The caller's final SELECT
    joins ``est``."""
    coeffs = km_coefficients(d, CMS_TAG)
    hash_rows = "\n        UNION ALL\n        ".join(
        f"SELECT {i} AS row_idx, (({a} * h1 + {b} * h2) % {KM_PRIME}) % {w} AS bucket, {key_col} FROM hashed"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""hashed AS (
        SELECT {key_col},
               CAST(concat('0x', substr(md5({key_col}), 1, 8)) AS BIGINT) % {KM_PRIME} AS h1,
               CAST(concat('0x', substr(md5({key_col}), 9, 8)) AS BIGINT) % {KM_PRIME} AS h2
        FROM {stream_rel}),
    cells AS ({hash_rows}),
    sketch AS (SELECT row_idx, bucket, COUNT(*) AS cnt
               FROM cells GROUP BY row_idx, bucket),
    probes AS (
        SELECT q.{key_col}, c.row_idx, c.bucket
        FROM (SELECT DISTINCT {key_col}, row_idx, bucket FROM cells) c
        JOIN {keys_rel} q USING ({key_col})),
    est AS (
        SELECT p.{key_col}, MIN(COALESCE(s.cnt, 0)) AS est
        FROM probes p LEFT JOIN sketch s USING (row_idx, bucket)
        GROUP BY p.{key_col})"""


def count_min_fold(batch_df: DataFrame, key_col: str, out_path: str,
                   d: int, w: int) -> None:
    """One micro-batch of count_min_stream_upsert: ADD the batch's delta
    sketch (<= d*w cells) into the stored sketch table, derived from the
    base the commit compares against (sources/sinks.py commit_snapshot)."""
    from cpx_etl_spark.operators.relational import additive_rollup_merge
    from cpx_etl_spark.sources.sinks import commit_snapshot

    if not batch_df.take(1):
        return
    delta = count_min_build(batch_df, key_col, d=d, w=w)
    cell = ["row_idx", "bucket"]
    commit_snapshot(
        batch_df.sparkSession, out_path,
        lambda base: additive_rollup_merge(base, delta, cell, ["cnt"]), cell,
    )


def count_min_stream_upsert(sdf: DataFrame, key_col: str, out_path: str,
                            checkpoint: str, d: int = 4, w: int = 1024):
    """Maintain a Count-Min sketch OVER A STREAM: each micro-batch
    builds its delta sketch (bounded: <= d*w cells) and ADDS it into
    the parquet-backed sketch table (count_min_fold) — counters are
    additive, so the maintained sketch equals the batch-built sketch
    over the full stream EXACTLY (no approximation drift from
    incremental maintenance; pytest asserts cell-level equality). The
    sketch table never exceeds d*w rows regardless of stream volume —
    the bounded-state frequency tracker for unbounded key domains,
    where a per-key streaming aggregation's state would grow without
    limit."""
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda bdf, _bid: count_min_fold(bdf, key_col, out_path, d=d, w=w)
        )
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Bloom filter — bounded-size membership sketch as a STORED artifact
# ---------------------------------------------------------------------------
#
# The decontamination / blocklist shape at 100 TB: the "is this shingle
# in the eval set / banned list?" question must not require shipping
# the full key set to every executor. A Bloom filter is a fixed m-bit
# bitmap (here words of 63 bits so 1 << (pos % 63) never touches the
# int64 sign bit — identical two's-complement behavior either way, but
# staying positive keeps every engine comparison trivial); k bit
# positions per key come from the same Kirsch-Mitzenmacher double-hash
# construction as the MinHash/CMS families, so membership decisions —
# INCLUDING the deterministic false positives — replay exactly in SQL.

BLOOM_TAG = "bloom"
BLOOM_WORD = 63


def _bloom_positions(key_col, k: int, m_bits: int):
    dig = F.md5(key_col)
    h1 = F.conv(F.substring(dig, 1, 8), 16, 10).cast("long") % KM_PRIME
    h2 = F.conv(F.substring(dig, 9, 8), 16, 10).cast("long") % KM_PRIME
    return [
        ((F.lit(a) * h1 + F.lit(b) * h2) % KM_PRIME % m_bits)
        for a, b in km_coefficients(k, BLOOM_TAG)
    ]


def sql_bloom_positions(key_expr: str, k: int, m_bits: int) -> list[str]:
    """DuckDB twin of _bloom_positions."""
    h1 = f"CAST(concat('0x', substr(md5({key_expr}), 1, 8)) AS BIGINT) % {KM_PRIME}"
    h2 = f"CAST(concat('0x', substr(md5({key_expr}), 9, 8)) AS BIGINT) % {KM_PRIME}"
    return [
        f"(({a} * ({h1}) + {b} * ({h2})) % {KM_PRIME} % {m_bits})"
        for a, b in km_coefficients(k, BLOOM_TAG)
    ]


def bloom_build(df: DataFrame, key_col: str, k: int = 4, m_bits: int = 1 << 18) -> DataFrame:
    """Build the bitmap: (word_idx, bits) rows, at most
    ceil(m_bits/63) of them regardless of corpus size. One shuffle of
    distinct bit positions with map-side partials."""
    pos = df.select(
        F.explode(F.array(*_bloom_positions(F.col(key_col), k, m_bits))).alias("pos")
    ).distinct()
    return pos.groupBy(F.expr(f"pos DIV {BLOOM_WORD}").alias("word_idx")).agg(
        F.bit_or(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))")
        ).alias("bits")
    )


def bloom_probe(
    bloom: DataFrame, keys: DataFrame, key_col: str, k: int = 4, m_bits: int = 1 << 18
) -> DataFrame:
    """Membership test for every row of `keys`: adds boolean
    `maybe_present` (true iff ALL k bits are set — one-sided error:
    never a false negative, false positives deterministic). Wide
    formulation: the k probes are k COLUMNS joined against the
    broadcast bitmap (<= ceil(m_bits/63) rows), so the key stream is
    scanned once with NO shuffle and no explode-regroup round trip."""
    reserved = {"word_idx", "bits", "maybe_present"} | {
        f"_p{i}" for i in range(k)
    } | {f"_w{i}" for i in range(k)} | {f"_b{i}" for i in range(k)}
    clash = reserved & set(keys.columns)
    if clash:
        raise ValueError(
            f"bloom_probe: key frame columns collide with probe "
            f"internals: {sorted(clash)} — rename them first"
        )
    positions = _bloom_positions(F.col(key_col), k, m_bits)
    out = keys
    cond = F.lit(True)
    for i, pos in enumerate(positions):
        b = bloom.select(
            F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
        )
        out = out.withColumn(f"_p{i}", pos).join(
            F.broadcast(b),
            F.expr(f"_p{i} DIV {BLOOM_WORD}") == F.col(f"_w{i}"),
            "left",
        )
        hit_i = F.col(f"_b{i}").isNotNull() & F.expr(
            f"(shiftright(_b{i}, CAST(_p{i} % {BLOOM_WORD} AS INT)) & 1) = 1"
        )
        cond = cond & hit_i
    return out.withColumn("maybe_present", cond).select(
        *keys.columns, "maybe_present"
    )


def bloom_merge(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """Word-wise OR of two bitmaps — the Bloom union law (the union of
    Blooms is the Bloom of the union). ``a`` may be None (no stored
    bitmap yet)."""
    if a is None:
        return b
    return a.unionByName(b).groupBy("word_idx").agg(
        F.bit_or("bits").alias("bits")
    )


def write_bloom(bloom: DataFrame, path: str) -> None:
    """Persist the bitmap as a single-file parquet artifact (a few KB
    to a few MB — the whole point vs shipping the raw key set),
    replacing the stored one whole through sinks.commit_snapshot: the
    write is DISTRIBUTED (executor-side — at production m_bits of 2^30+
    the bitmap is ~130 MB, which must never transit the driver)."""
    from cpx_etl_spark.sources.sinks import commit_snapshot

    commit_snapshot(
        bloom.sparkSession, path, lambda _base: bloom.coalesce(1),
        ["word_idx"],
    )


def read_bloom(spark, path: str) -> DataFrame:
    """Committed bitmap snapshot (manifest-resolved; a legacy flat
    parquet dir without a manifest reads as-is)."""
    from cpx_etl_spark.sources.sinks import read_upsert_table

    return read_upsert_table(spark, path)


# ---------------------------------------------------------------------------
# HyperLogLog — bounded-size distinct-count sketch (registers merge by
# MAX, so incremental maintenance is drift-free like the CMS above)
# ---------------------------------------------------------------------------

def hll_build(df: DataFrame, key_col: str, m: int = 256) -> DataFrame:
    """Sparse HLL registers (bucket, r) over the md5-derived 60-bit
    hash of ``key_col``: bucket = low log2(m) bits, r = leading-zero
    rank of the remaining bits via length(ltrim(bin())) — the same
    engine-exact arithmetic q_hll_distinct gates. One
    map-side-combinable MAX aggregation; at most m rows out."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rank = F.lit(53) - F.length(F.expr(f"ltrim('0', bin(_h DIV {m}))"))
    return (
        # NULL keys hash to a NULL bucket, which no equi/PK join ever
        # matches — left in, the maintained sketch's null rows would
        # grow every merge (code-review r10); a NULL contributes
        # nothing to a distinct count anyway
        df.filter(F.col(key_col).isNotNull())
        .select(h.alias("_h"))
        .select((F.col("_h") % m).alias("bucket"), rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """Register-wise MAX merge — the HLL union law. ``a`` may be None
    (first micro-batch)."""
    if a is None:
        return b
    return (
        a.select("bucket", F.col("r").alias("_ra"))
        .join(b.select("bucket", F.col("r").alias("_rb")), "bucket", "full")
        .select(
            "bucket",
            F.greatest(
                F.coalesce("_ra", F.lit(0)), F.coalesce("_rb", F.lit(0))
            ).alias("r"),
        )
    )


def hll_fold(batch_df: DataFrame, key_col: str, out_path: str,
             m: int) -> None:
    """One micro-batch of hll_stream_upsert: MAX-merge the batch's
    delta registers (<= m rows) into the stored register table, derived
    from the base the commit compares against (sources/sinks.py
    commit_snapshot)."""
    from cpx_etl_spark.sources.sinks import commit_snapshot

    if not batch_df.take(1):
        return
    delta = hll_build(batch_df, key_col, m=m)
    commit_snapshot(
        batch_df.sparkSession, out_path, lambda base: hll_merge(base, delta),
        ["bucket"],
    )


def hll_stream_upsert(sdf: DataFrame, key_col: str, out_path: str,
                      checkpoint: str, m: int = 256):
    """Maintain an HLL distinct-count sketch OVER A STREAM: each
    micro-batch builds its delta registers (<= m rows) and MAX-merges
    them into the parquet-backed register table (hll_fold). Register
    max is order- and duplication-insensitive, so the maintained sketch
    equals the batch-built sketch over the full stream EXACTLY (pytest
    asserts register-level equality) — the bounded-state distinct
    tracker where a streaming dropDuplicates' state would grow with
    the key domain."""
    return (
        sdf.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda bdf, _bid: hll_fold(bdf, key_col, out_path, m=m)
        )
        .trigger(availableNow=True)
        .start()
    )
