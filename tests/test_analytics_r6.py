"""Semantic tests for the late-r6 analytics additions — properties the
oracle hash cannot express (completeness guarantees, equivalence to a
brute-force reference, runtime-filter plan shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpx_etl_spark.queries import load_registry

QUERIES, _ = load_registry()


def test_record_linkage_recovers_every_true_pair(spark, sf_dir):
    """Blocking completeness: the substituted digit sits at exactly
    one parity, so the OTHER interleaved-parity block key is intact —
    EVERY corrupted row must link back to its own clean row at
    distance exactly 1."""
    from cpx_etl_spark.sources import load_table

    res = QUERIES["q_record_linkage"](spark, sf_dir)
    true_matches = res.filter(F.col("is_true_match"))
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert true_matches.count() == n_cust
    assert true_matches.filter(F.col("dist") != 1).count() == 0


def test_rolling_distinct_matches_bruteforce(spark, sf_dir):
    """The contribution-explode formulation equals the quadratic
    per-day rescan on the same data."""
    from cpx_etl_spark.sources import load_table

    fast = QUERIES["q_rolling_distinct_users"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    days = ev.select(F.col("d").alias("day")).distinct()
    brute = (
        days.join(
            ev,
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.col("day") - F.expr("INTERVAL 6 DAYS")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, brute.collect()))


def test_pagerank_mass_is_bounded(spark, sf_dir):
    """Rank vector stays a sub-stochastic distribution: every rank >=
    0.15/N and the total never exceeds 1 (dangling nodes only LEAK
    mass, they can't mint it)."""
    rows = QUERIES["q_pagerank_trade"](spark, sf_dir).collect()
    assert len(rows) == 25
    total = sum(r["pagerank"] for r in rows)
    assert 0.15 - 1e-9 <= total <= 1.0 + 1e-9
    assert all(r["pagerank"] >= 0.15 / 25 - 1e-12 for r in rows)


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """Spark's runtime row-level bloom filter (the shuffle-pruning
    runtime filter a 100 TB fact-fact join wants) activates for a
    selective dim-side filter once the size thresholds allow it —
    proving the engine config keeps the feature reachable."""
    from cpx_etl_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "500MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_filter_artifact_roundtrip(spark, sf_dir, tmp_path):
    """The persisted bitmap serves probes identically to the in-plan
    build, never false-negatives, and stays bounded-size."""
    from cpx_etl_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        read_bloom,
        write_bloom,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    keys = docs.select(F.expr("explode(split(text, ' '))").alias("tok")).distinct()
    bloom = bloom_build(keys, "tok", k=4, m_bits=1 << 14)
    assert bloom.count() <= (1 << 14) // 63 + 1  # bounded regardless of corpus
    path = str(tmp_path / "bloom")
    write_bloom(bloom, path)
    stored = read_bloom(spark, path)
    # no false negatives: every inserted key probes true
    probed = bloom_probe(stored, keys, "tok", k=4, m_bits=1 << 14)
    assert probed.filter(~F.col("maybe_present")).count() == 0
    # probing from the stored artifact == probing the in-plan build
    a = sorted(map(tuple, probed.collect()))
    b = sorted(map(tuple, bloom_probe(bloom, keys, "tok", k=4, m_bits=1 << 14).collect()))
    assert a == b


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """One-sided error: the bloom-flagged doc set contains every doc
    the exact decontaminator flags (false positives may add docs,
    never remove)."""
    exact = {
        r["doc_id"] for r in QUERIES["q_decontaminate"](spark, sf_dir).collect()
    }
    bloom = {
        r["doc_id"]
        for r in QUERIES["q_decontaminate_bloom"](spark, sf_dir).collect()
    }
    assert exact <= bloom


def test_bloom_never_false_negative_property(spark):
    """Hypothesis: for ANY key set inserted into the bloom, every
    inserted key probes maybe_present=true (one-sided error is a
    structural guarantee, not a tuning outcome)."""
    from hypothesis import given, settings, strategies as st

    from cpx_etl_spark.operators.sketches import bloom_build, bloom_probe

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="abcdefg0123456789", min_size=1, max_size=12),
            min_size=1,
            max_size=40,
            unique=True,
        )
    )
    def run(keys):
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        bloom = bloom_build(df, "key", k=3, m_bits=1 << 10)
        probed = bloom_probe(bloom, df, "key", k=3, m_bits=1 << 10)
        assert probed.filter(~F.col("maybe_present")).count() == 0

    run()


def test_bloom_probe_rejects_colliding_columns(spark):
    """Probe internals must not silently shadow caller columns."""
    import pytest

    from cpx_etl_spark.operators.sketches import bloom_build, bloom_probe

    df = spark.createDataFrame([("a",)], "key string")
    bloom = bloom_build(df, "key", k=2, m_bits=1 << 8)
    bad = df.withColumn("maybe_present", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        bloom_probe(bloom, bad, "key", k=2, m_bits=1 << 8)


def test_sq8_recall_vs_bruteforce(spark, sf_dir):
    """The quantized scan's exact-reranked top-10 should recover
    nearly all of the true top-10 (recall@10 >= 0.9 at test scale; the
    rerank pool is 3x k so only a quantization-induced rank error past
    3k can lose a true neighbor)."""
    exact = QUERIES["ann_bruteforce_topk"](spark, sf_dir).collect()
    sq8 = QUERIES["ann_sq8_topk"](spark, sf_dir).collect()
    t = {(r["query_id"], r["neighbor_id"]) for r in exact}
    s = {(r["query_id"], r["neighbor_id"]) for r in sq8}
    recall = len(t & s) / len(t)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_mapping_lineage_covers_compiler_surface():
    """Lineage rows name every input a mapping reads, through nested
    structs, array-element mappings, and length refs — and reject the
    same malformed specs the compiler rejects."""
    import pytest

    from cpx_etl_spark.plans.mapping import mapping_lineage

    spec = {
        "id": ["doc_id"],
        "language": ["meta.lang"],
        "n_tokens": ["#tokens"],
        "profile": {"src": ["meta.source"], "ver": 3},
        "items": ["rows", {"v": ["x"]}],
    }
    rows = set(mapping_lineage(spec))
    assert ("id", "path", "doc_id") in rows
    assert ("language", "path", "meta.lang") in rows
    assert ("n_tokens", "length", "tokens") in rows
    assert ("profile.src", "path", "meta.source") in rows
    assert ("profile.ver", "constant", "3") in rows
    assert ("items", "path", "rows") in rows
    assert ("items[].v", "path", "rows[].x") in rows
    with pytest.raises(ValueError, match="syntax error"):
        mapping_lineage({"bad": [123]})
    # per-segment normalization mirrors path_col (ADVICE r6): mid-path
    # length refs strip the '#', and '$' inside an array scope resets
    # to the row root, dropping the 'rows[].' prefix
    rows2 = set(
        mapping_lineage(
            {
                "meta_tok": ["meta.#tokens"],
                "items": ["rows", {"abs": ["$.doc_id"], "rel": ["x"]}],
            }
        )
    )
    assert ("meta_tok", "length", "meta.tokens") in rows2
    assert ("items[].abs", "path", "doc_id") in rows2
    assert ("items[].rel", "path", "rows[].x") in rows2
    # and lineage rejects exactly what path_col rejects
    with pytest.raises(ValueError, match="must be last"):
        mapping_lineage({"bad": ["#tokens.more"]})
    with pytest.raises(ValueError, match="bare '#'"):
        mapping_lineage({"bad": ["#"]})


def test_groupwise_split_no_source_straddles(spark, sf_dir):
    """Leakage safety: no source contributes to two splits."""
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("source")), 1, 2)
    split = F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    per_source = (
        docs.select("source", split.alias("split"))
        .distinct()
        .groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_source.filter(F.col("n_splits") > 1).count() == 0


def test_mixture_order_honors_weight_ratios(spark, sf_dir):
    """While no source is exhausted (virtual time T before the fastest
    stream runs dry), source s has emitted floor(T * w_s) +- 1 docs —
    the stride scheduler's defining property. (The FULL prefix at tiny
    SFs equalizes trivially because every source exhausts.)"""
    from collections import Counter

    rows = QUERIES["q_corpus_mixture_order"](spark, sf_dir).collect()
    weights = {"src0": 4, "src1": 2, "src2": 1}
    # T = last instant the fastest (highest-weight) source still emits
    per_src_max_k = Counter()
    for r in rows:
        per_src_max_k[r["source"]] = max(per_src_max_k[r["source"]], r["k"])
    T = per_src_max_k["src0"] / weights["src0"]
    emitted = Counter(r["source"] for r in rows if r["vt"] <= T)
    for s, w in weights.items():
        expect = T * w
        assert abs(emitted[s] - expect) <= 1.0 + 1e-9, (s, emitted[s], expect)


def test_incremental_file_ingestion_processes_each_file_once(spark, tmp_path):
    """Manifest-tracked batch ingestion: run 1 processes the initial
    files, run 2 only the new arrival, run 3 (nothing new) is a no-op;
    the sink holds every row exactly once."""
    import os

    from cpx_etl_spark.sources.sinks import ingest_new_files

    src = str(tmp_path / "landing")
    os.makedirs(src)

    def land(name, ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "stage"))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "stage" / "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, name))

    man, out = str(tmp_path / "manifest"), str(tmp_path / "out")
    land("a.parquet", [1, 2])
    land("b.parquet", [3])
    assert ingest_new_files(spark, src, man, out) == ["a.parquet", "b.parquet"]
    land("c.parquet", [4, 5])
    assert ingest_new_files(spark, src, man, out) == ["c.parquet"]
    assert ingest_new_files(spark, src, man, out) == []
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_schema_evolution_merge_and_union(spark, tmp_path):
    """Schema evolution both ways: mergeSchema reads old files (no
    'extra' column) alongside new ones with nulls filled; and
    unionByName(allowMissingColumns=True) aligns evolved frames."""
    old_dir = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(old_dir)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, extra double"
    ).write.mode("append").parquet(old_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(old_dir)
    assert set(merged.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    b = spark.createDataFrame([(2, 9.5)], "id long, extra double")
    u = a.unionByName(b, allowMissingColumns=True)
    assert set(u.columns) == {"id", "v", "extra"}
    assert u.count() == 2
