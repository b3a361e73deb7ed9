"""Curation operators: decontamination, chunking, sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpx_etl_spark.operators.curation import (
    chunk_documents,
    decontaminate,
    pack_sequences,
)


def test_decontaminate_flags_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # 5 shingles, all shared -> 1.0
            (2, "z y x w v u t s"),          # disjoint -> not flagged
            (3, "a b c d q r s t u v w x"),  # shares 'a b c d' only
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in decontaminate(train, test, "doc_id", "text", n=4, threshold=0.2).collect()
    }
    assert set(out) == {1}
    assert out[1]["n_shingles"] == 5 and out[1]["n_shared"] == 5
    assert out[1]["contamination"] == 1.0
    # doc 3: 1 shared of 9 shingles = 0.111 < 0.2 -> excluded
    low = decontaminate(train, test, "doc_id", "text", n=4, threshold=0.1).collect()
    assert {r["doc_id"] for r in low} == {1, 3}


def test_decontaminate_broadcasts_test_side(spark):
    train = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    test = spark.createDataFrame([(2, "a b c d")], "doc_id long, text string")
    plan = decontaminate(train, test, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_chunk_documents_boundaries(spark):
    df = spark.createDataFrame(
        [
            (1, " ".join(str(i) for i in range(1, 81))),  # 80 tokens
            (2, "only three tokens"),                      # 3 tokens, 1 chunk
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, "doc_id", "text", chunk_tokens=32, stride=24).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc1: starts at 1, 25, 49, 73 -> 4 chunks; last has 80-72=8 tokens
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_tokens"] for r in c1] == [32, 32, 32, 8]
    assert c1[0]["chunk_text"].split()[0] == "1"
    assert c1[1]["chunk_text"].split()[0] == "25"
    assert c1[3]["chunk_text"].split() == [str(i) for i in range(73, 81)]
    # overlap: chunk 0 tokens 1..32, chunk 1 starts at 25 -> 8 shared
    assert set(c1[0]["chunk_text"].split()) & set(c1[1]["chunk_text"].split()) == {
        str(i) for i in range(25, 33)
    }
    assert [r["chunk_tokens"] for r in by_doc[2]] == [3]


def test_pack_sequences_contiguous_fill(spark):
    df = spark.createDataFrame(
        [("en", i, 60) for i in range(1, 11)] + [("de", 1, 500)],
        "lang string, doc_id long, n long",
    )
    out = {
        (r["lang"], r["bin"]): r.asDict()
        for r in pack_sequences(df, "doc_id", F.col("n"), "lang", capacity=100).collect()
    }
    # en: doc i starts at offset (i-1)*60 -> bins 0,0,1,1,2,3,3,4,4,5
    assert out[("en", 0)]["n_docs"] == 2 and out[("en", 0)]["bin_tokens"] == 120
    assert out[("en", 0)]["first_id"] == 1 and out[("en", 0)]["last_id"] == 2
    assert out[("en", 2)]["n_docs"] == 1
    assert out[("en", 5)]["last_id"] == 10
    # de: single 500-token doc starts at 0 -> bin 0 despite overflow
    assert out[("de", 0)]["n_docs"] == 1 and out[("de", 0)]["bin_tokens"] == 500
    # every doc lands in exactly one bin
    assert sum(v["n_docs"] for v in out.values()) == 11


def test_pack_sequences_two_phase_matches_single_window(spark):
    """Range-bucketed two-phase packing reproduces the one-window
    result bit-for-bit at every bucket width — including widths that
    split each language group many times, and width 1 (every id its
    own bucket: the offset pass carries everything)."""
    import random

    rng = random.Random(7)
    rows = [
        (lang, i, rng.randrange(1, 400))
        for i, lang in enumerate(rng.choices(["en", "de", "fr"], k=300))
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n long")
    want = {
        (r["lang"], r["bin"]): (r["n_docs"], r["bin_tokens"], r["first_id"], r["last_id"])
        for r in pack_sequences(
            df, "doc_id", F.col("n"), "lang", capacity=256, bucket_width=None
        ).collect()
    }
    for width in (1, 7, 64, 10**6):
        got = {
            (r["lang"], r["bin"]): (r["n_docs"], r["bin_tokens"], r["first_id"], r["last_id"])
            for r in pack_sequences(
                df, "doc_id", F.col("n"), "lang", capacity=256, bucket_width=width
            ).collect()
        }
        assert got == want, f"width={width} diverged"


def test_pack_sequences_capacity_invariants(spark):
    """Bin invariants hold on the multi-bucket path: bins are dense-ish
    ascending per part, each bin's start offset lies in its bin range,
    and id ranges of consecutive bins never overlap (contiguity)."""
    df = spark.createDataFrame(
        [("en", i, 60) for i in range(1, 101)], "lang string, doc_id long, n long"
    )
    rows = sorted(
        pack_sequences(df, "doc_id", F.col("n"), "lang", capacity=100,
                       bucket_width=16).collect(),
        key=lambda r: r["bin"],
    )
    cum = 0
    prev_last = None
    for r in rows:
        # the first doc of this bin starts inside [bin*cap, (bin+1)*cap)
        assert r["bin"] * 100 <= cum < (r["bin"] + 1) * 100
        if prev_last is not None:
            assert r["first_id"] > prev_last
        cum += r["bin_tokens"]
        prev_last = r["last_id"]
    assert sum(r["n_docs"] for r in rows) == 100


def test_repetition_stats_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w v u")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["n_distinct"], r["n_total"], r["top_count"])
        for r in __import__(
            "cpx_etl_spark.operators.curation", fromlist=["repetition_stats"]
        ).repetition_stats(df, "doc_id", "text").collect()
    }
    # doc 1 bigrams: [a b, b a, a b, b a, a b] -> 2 distinct of 5, top 3
    assert rows[1] == (2, 5, 3)
    # doc 2: all 5 bigrams distinct
    assert rows[2] == (5, 5, 1)


def test_temperature_sample_flattens_distribution(spark):
    from cpx_etl_spark.operators.curation import temperature_sample

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_sample(df, "doc_id", "lang", target_rows=300).collect()
    by_lang = {}
    for r in kept:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    # temperature 0.5 flattens: the small group keeps a FAR larger share
    # of its rows than the big group
    assert by_lang["small"] / 100 > 2 * by_lang["big"] / 900
    # deterministic: same call, same rows
    again = temperature_sample(df, "doc_id", "lang", target_rows=300).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in kept}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "doc_id", "lang", 300, alpha=0.7)


def test_pack_sequences_string_ids_fall_back_to_single_window(spark):
    """Non-integral ids must NOT be range-bucketed (the long cast would
    NULL out and silently drop every row — ADVICE r5): the default
    bucketed config falls back to the one-window path and packs string
    ids in lexicographic order."""
    df = spark.createDataFrame(
        [("doc_a", "en", 60), ("doc_b", "en", 60), ("doc_c", "en", 60)],
        "doc_id string, lang string, n int",
    )
    out = {
        (r["lang"], r["bin"]): (r["n_docs"], r["first_id"], r["last_id"])
        for r in pack_sequences(df, "doc_id", F.col("n"), "lang",
                                capacity=100).collect()
    }
    # 60+60 overflows bin 0 at doc_b (first token lands at cum 60 < 100),
    # doc_c starts at 120 -> bin 1
    assert out == {("en", 0): (2, "doc_a", "doc_b"),
                   ("en", 1): (1, "doc_c", "doc_c")}


def test_duplicated_window_coverage_interval_union(spark):
    """Coverage counts the UNION of overlapping duplicated windows, not
    their sum: a 10-token run shared verbatim by two docs yields three
    overlapping 8-token windows but only 10 covered tokens."""
    from cpx_etl_spark.operators.curation import duplicated_window_coverage

    shared = "a b c d e f g h i j"          # 10 shared tokens
    df = spark.createDataFrame(
        [
            (1, shared + " unique tail one two"),
            (2, "other head " + shared),
            (3, "entirely distinct words with no overlap at all here ok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           duplicated_window_coverage(df, "doc_id", "text", n=8).collect()}
    # doc 1: tokens 0..9 covered (3 windows: 0,1,2 -> union [0,10))
    assert (out[1]["dup_tokens"], out[1]["n_tokens"]) == (10, 14)
    assert out[2]["dup_tokens"] == 10
    assert out[3]["dup_tokens"] == 0 and out[3]["keep"]
    # docs 1 (10/14) and 2 (10/12) are both >50% duplicated -> flagged
    assert not out[1]["keep"] and not out[2]["keep"]
    assert out[2]["dup_frac"] > 0.5


def test_curation_spec_compiles_to_one_fused_plan(spark, sf_dir):
    """The spec pipeline is ONE Catalyst plan: a single documents scan
    feeds every step except the dedup survivor derivation (which
    re-reads for its aggregate side), no Python UDFs anywhere, and
    unknown ops fail fast."""
    import pytest

    from cpx_etl_spark.plans.curation_pipeline import (
        compile_curation_pipeline,
        sql_curation_pipeline,
    )

    spec = {
        "source": "documents",
        "steps": [
            {"op": "lang_filter", "keep": ["en"]},
            {"op": "quality_filter", "min_quality": 0.2},
            {"op": "sample", "rate": 0.5, "salt": "t"},
        ],
    }
    df = compile_curation_pipeline(spark, sf_dir, spec)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1  # all three steps fused onto one scan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert df.count() > 0
    # the same spec builds the oracle: step CTE per step, same order
    sql = sql_curation_pipeline(spec)
    assert sql.count("AS (SELECT") == 3 and "lang IN ('en')" in sql

    with pytest.raises(ValueError, match="unknown curation step"):
        compile_curation_pipeline(spark, sf_dir,
                                  {"steps": [{"op": "nope"}]})


def test_curation_spec_full_chain_matches_spec_oracle(spark, sf_dir):
    """The extended spec (repetition filter + decontaminate included)
    agrees with its OWN compiled oracle on DuckDB — compiler-level
    correctness beyond the registered query's fixed spec."""
    import duckdb

    from cpx_etl_spark.plans.curation_pipeline import (
        compile_curation_pipeline,
        sql_curation_pipeline,
    )

    spec = {
        "source": "documents",
        "steps": [
            {"op": "quality_filter", "min_quality": 0.2},
            {"op": "repetition_filter", "max_dup_frac": 0.5, "n": 2},
            {"op": "decontaminate", "threshold": 0.2, "n": 4},
            {"op": "exact_dedup"},
            {"op": "sample", "rate": 0.9, "salt": "chain"},
        ],
    }
    got = sorted(
        (r["doc_id"], r["lang"], r["source"], r["n_tokens"])
        for r in compile_curation_pipeline(spark, sf_dir, spec).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(sql_curation_pipeline(spec)).fetchall()))
    assert got == want and len(got) > 0


def test_curation_spec_temperature_step_matches_oracle(spark, sf_dir):
    """The temperature-sample step composed mid-chain agrees with the
    spec-compiled oracle (group weights computed over the FILTERED
    frame, not the source — the composition detail a hand-written
    query can get wrong)."""
    import duckdb

    from cpx_etl_spark.plans.curation_pipeline import (
        compile_curation_pipeline,
        sql_curation_pipeline,
    )

    spec = {
        "source": "documents",
        "steps": [
            {"op": "quality_filter", "min_quality": 0.25},
            {"op": "temperature_sample", "target_rows": 120,
             "group_col": "lang"},
        ],
    }
    got = sorted(
        (r["doc_id"], r["lang"], r["source"], r["n_tokens"])
        for r in compile_curation_pipeline(spark, sf_dir, spec).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(sql_curation_pipeline(spec)).fetchall()))
    assert got == want and len(got) > 0


def test_count_min_one_sided_error_and_exactness_when_wide(spark):
    """CMS guarantees: estimates NEVER undercount; with w far above the
    distinct-key count every estimate is exact (no collisions)."""
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    rows = [(f"k{i % 7}",) for i in range(700)]
    df = spark.createDataFrame(rows, "k string")
    exact = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    keys = df.select("k").distinct()
    # wide sketch: collisions vanish, estimates exact
    wide = count_min_estimate(
        count_min_build(df, "k", d=4, w=4096), keys, "k", d=4, w=4096
    )
    assert {r["k"]: r["est"] for r in wide.collect()} == exact
    # absurdly narrow sketch: massive collisions, but NEVER undercount
    narrow = count_min_estimate(
        count_min_build(df, "k", d=2, w=4), keys, "k", d=2, w=4
    )
    for r in narrow.collect():
        assert r["est"] >= exact[r["k"]]
    # unseen keys estimate >= 0 (may collide upward, never negative)
    ghost = spark.createDataFrame([("nope",)], "k string")
    g = count_min_estimate(
        count_min_build(df, "k", d=4, w=4096), ghost, "k", d=4, w=4096
    ).collect()
    assert g[0]["est"] == 0


def test_trim_duplicated_spans_planted_boilerplate(spark):
    """Span-level exact-substring removal on PLANTED shared spans: an
    8-token boilerplate block planted in three docs survives only in
    the min-id doc; the others lose exactly that span (byte-exact
    trimmed text), unique content is never touched, two disjoint
    planted spans in one doc count as two islands, and two OVERLAPPING
    shared windows merge into one island."""
    from cpx_etl_spark.operators.curation import trim_duplicated_spans

    boiler = "the quick brown fox jumps over lazy dogs"      # 8 tokens
    boiler2 = "pack my box with five dozen liquor jugs"      # 8 tokens
    rows = [
        # doc 1: survivor — keeps both planted spans
        (1, f"{boiler} alpha beta {boiler2}"),
        # doc 2: loses boiler (front), keeps its unique tail
        (2, f"{boiler} gamma delta epsilon zeta eta theta"),
        # doc 3: loses BOTH spans -> 2 islands
        (3, f"one two {boiler} three four {boiler2} five"),
        # doc 4: 9-token shared run with doc 5 = two overlapping
        # 8-token windows -> ONE merged island of 9 tokens
        (4, f"{boiler} dogs unique4 tail4"),
        (5, f"{boiler} dogs unique5 tail5"),
        # doc 6: all-unique control
        (6, "completely unrelated content with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in trim_duplicated_spans(df, "doc_id", "text", n=8).collect()
    }
    # survivor untouched
    assert out[1]["trimmed_tokens"] == 0
    assert out[1]["trimmed_text"] == f"{boiler} alpha beta {boiler2}"
    # doc 2: exactly the boilerplate removed, byte-exact remainder
    assert out[2]["trimmed_text"] == "gamma delta epsilon zeta eta theta"
    assert out[2]["trimmed_tokens"] == 8 and out[2]["n_spans"] == 1
    # doc 3: both spans removed as two islands
    assert out[3]["trimmed_text"] == "one two three four five"
    assert out[3]["trimmed_tokens"] == 16 and out[3]["n_spans"] == 2
    # doc 4 loses the boiler window (survivor: doc 1) but KEEPS the
    # extra "dogs" token — it is the min-id survivor of the 9-token
    # run it shares with doc 5
    assert out[4]["trimmed_text"] == "dogs unique4 tail4"
    assert out[4]["trimmed_tokens"] == 8 and out[4]["n_spans"] == 1
    # doc 5: the two OVERLAPPING shared windows (boiler -> doc 1,
    # 9-token run -> doc 4) merge into ONE 9-token island
    assert out[5]["trimmed_text"] == "unique5 tail5"
    assert out[5]["trimmed_tokens"] == 9 and out[5]["n_spans"] == 1
    # control doc untouched
    assert out[6]["trimmed_tokens"] == 0 and out[6]["n_spans"] == 0
    assert out[6]["trimmed_text"] == rows[5][1]


def test_write_training_shards_deterministic_balanced_complete(spark, sf_dir, tmp_path):
    """Training-shard writer (r15): deterministic seeded shuffle +
    token-budget sharding + manifest. Pins (a) COMPLETENESS — every
    doc lands in exactly one shard and reads back intact; (b) BALANCE
    — every shard but the last carries at least
    tokens_per_shard - (max_doc_tokens - 1) tokens and any shard at
    most tokens_per_shard + (max_doc_tokens - 1) (the first-token
    rule's exact envelope); (c) DETERMINISM — a second write under the
    same seed reproduces the manifest (incl. the additive content
    fingerprints) byte-identically, and a different seed produces a
    different order; (d) the shuffle actually decorrelates from id
    order."""
    import os

    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import write_training_shards
    from cpx_etl_spark.scratch import read_meta
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    cap = 4000
    p1 = str(tmp_path / "s1")
    m1 = write_training_shards(docs, p1, "doc_id", "text", cap).collect()

    meta = read_meta(spark, p1, "shard")
    assert meta["n_docs"] == n_docs and meta["n_shards"] == len(m1)

    # (a) completeness + roundtrip
    back = spark.read.parquet(os.path.join(p1, "data"))
    assert back.count() == n_docs
    assert back.select("doc_id").distinct().count() == n_docs
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in back.select("doc_id", "text").collect():
        assert orig[r["doc_id"]] == r["text"]

    # (b) balance envelope from the first-token rule
    max_doc = docs.select(
        F.max(F.size(F.split("text", " "))).alias("m")
    ).collect()[0]["m"]
    by_shard = {r["shard"]: r for r in m1}
    last = max(by_shard)
    for s, r in by_shard.items():
        assert r["n_tokens"] <= cap + max_doc - 1
        if s != last:
            assert r["n_tokens"] >= cap - max_doc + 1
    assert sum(r["n_docs"] for r in m1) == n_docs

    # (c) determinism: same seed == identical manifest; new seed != order
    p2 = str(tmp_path / "s2")
    m2 = write_training_shards(docs, p2, "doc_id", "text", cap).collect()
    key = lambda rows: sorted(
        (r["shard"], r["n_docs"], r["n_tokens"], r["content_fp"])
        for r in rows
    )
    assert key(m1) == key(m2)
    p3 = str(tmp_path / "s3")
    write_training_shards(docs, p3, "doc_id", "text", cap, seed="epoch-2")
    s0_a = sorted(r["doc_id"] for r in spark.read.parquet(
        os.path.join(p1, "data")).filter(F.col("shard") == 0).collect())
    s0_b = sorted(r["doc_id"] for r in spark.read.parquet(
        os.path.join(p3, "data")).filter(F.col("shard") == 0).collect())
    assert s0_a != s0_b  # a new seed is a new epoch order

    # (d) decorrelated from id order: shard 0 is not the id prefix
    assert s0_a != sorted(orig)[:len(s0_a)]


def test_write_training_shards_input_contract(spark, tmp_path):
    """Fail-loud input validation (code-review r15): duplicated ids,
    null ids/texts, and an empty corpus are refused BEFORE any write —
    never a silently fanned-out or garbage-shard artifact."""
    import pytest as _pytest

    from cpx_etl_spark.operators.curation import write_training_shards

    dup = spark.createDataFrame(
        [(1, "a b"), (1, "a b"), (2, "c")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="duplicated"):
        write_training_shards(dup, str(tmp_path / "d"), "doc_id", "text", 10)
    nulls = spark.createDataFrame(
        [(1, "a"), (2, None)], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="null"):
        write_training_shards(nulls, str(tmp_path / "n"), "doc_id", "text", 10)
    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty corpus"):
        write_training_shards(empty, str(tmp_path / "e"), "doc_id", "text", 10)


def test_read_and_verify_training_shards(spark, sf_dir, tmp_path):
    """The shard artifact's consumer half: read_training_shards
    iterates in exactly the seeded shuffle order (monotone _key),
    shard pruning works, verify_training_shards passes on an intact
    artifact, flags a tampered doc, and surfaces a missing shard as
    ok=false instead of silently dropping it."""
    import os

    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "art")
    write_training_shards(docs, path, "doc_id", "text", 4000)

    rows = read_training_shards(spark, path).collect()
    assert len(rows) == docs.count()
    keys = [(r["shard"], r["_key"]) for r in rows]
    assert keys == sorted(keys)  # training order, not file-split order
    one = read_training_shards(spark, path, shard=0).collect()
    assert one and all(r["shard"] == 0 for r in one)

    v = verify_training_shards(spark, path)
    assert all(r["ok"] for r in v.collect())

    # tamper with one doc inside shard 0 and re-verify
    s0 = os.path.join(path, "data", "shard=0")
    part = [f for f in os.listdir(s0) if f.endswith(".parquet")][0]
    sub = spark.read.parquet(os.path.join(s0, part))
    forged = sub.withColumn(
        "text", F.when(F.monotonically_increasing_id() == 0,
                       F.lit("FORGED")).otherwise(F.col("text"))
    )
    forged.write.mode("overwrite").parquet(str(tmp_path / "forged"))
    import shutil
    os.remove(os.path.join(s0, part))
    for f in os.listdir(str(tmp_path / "forged")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / "forged"), f),
                        os.path.join(s0, f))
    bad = {r["shard"]: r["ok"] for r in verify_training_shards(
        spark, path).collect()}
    assert bad[0] is False
    assert all(ok for s, ok in bad.items() if s != 0)

    # a vanished shard surfaces as ok=false
    shutil.rmtree(os.path.join(path, "data", f"shard={max(bad)}"))
    gone = {r["shard"]: r["ok"] for r in verify_training_shards(
        spark, path).collect()}
    assert gone[max(bad)] is False


def test_shard_reader_range_and_key_integrity(spark, sf_dir, tmp_path):
    """Code-review r15 follow-ups: a nonexistent shard index fails
    loudly (never a silent zero-row epoch), and verification also
    covers the ORDER column — a corrupted _key fails the shard even
    when ids/texts/tokens are intact."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "art")
    n_shards = len(write_training_shards(
        docs, path, "doc_id", "text", 4000).collect())

    with _pytest.raises(ValueError, match="does not exist"):
        read_training_shards(spark, path, shard=n_shards)
    with _pytest.raises(ValueError, match="does not exist"):
        read_training_shards(spark, path, shard=-1)

    # corrupt ONE row's _key in shard 0 (content untouched)
    s0 = os.path.join(path, "data", "shard=0")
    part = [f for f in os.listdir(s0) if f.endswith(".parquet")][0]
    sub = spark.read.parquet(os.path.join(s0, part))
    forged = sub.withColumn(
        "_key", F.when(F.monotonically_increasing_id() == 0,
                       F.lit("0" * 32)).otherwise(F.col("_key"))
    )
    forged.write.mode("overwrite").parquet(str(tmp_path / "fk"))
    os.remove(os.path.join(s0, part))
    for f in os.listdir(str(tmp_path / "fk")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / "fk"), f),
                        os.path.join(s0, f))
    v = {r["shard"]: r["ok"] for r in verify_training_shards(
        spark, path).collect()}
    assert v[0] is False
    assert all(ok for s, ok in v.items() if s != 0)


def test_plan_training_mixture_quota_interleave_contract(spark, sf_dir, tmp_path):
    """Mixture planner: per-source shard prefixes cover the weighted
    token quota (overshooting by at most one shard), the plan stride-
    interleaves sources, is deterministic, and refuses unknown
    artifacts / bad weights / uncoverable quotas."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        plan_training_mixture,
        write_training_shards,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs.filter(F.col("doc_id") % 2 == 0),
                          pa, "doc_id", "text", 1500)
    write_training_shards(docs.filter(F.col("doc_id") % 2 == 1),
                          pb, "doc_id", "text", 1500)

    target = 12_000
    plan = plan_training_mixture(
        spark, {"web": (pa, 3.0), "code": (pb, 1.0)}, target
    ).collect()

    by_src = {}
    for r in plan:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"web", "code"}
    for name, rows in by_src.items():
        quota = rows[0]["quota_tokens"]
        toks = [r["n_tokens"] for r in sorted(rows, key=lambda r: r["shard"])]
        total = sum(toks)
        # covering prefix: meets quota, overshoots by < the last shard
        assert total >= quota
        assert total - toks[-1] < quota
        # shard order is the artifact prefix 0..k-1
        assert sorted(r["shard"] for r in rows) == list(range(len(rows)))
    assert by_src["web"][0]["quota_tokens"] == round(target * 0.75)
    assert by_src["code"][0]["quota_tokens"] == round(target * 0.25)

    # interleaved: the plan's position column is globally sorted and
    # both sources appear before the plan's midpoint
    pos = [r["position"] for r in plan]
    assert pos == sorted(pos)
    first_half = {r["source"] for r in plan[: max(2, len(plan) // 2)]}
    assert first_half == {"web", "code"}

    # determinism
    again = plan_training_mixture(
        spark, {"web": (pa, 3.0), "code": (pb, 1.0)}, target
    ).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in plan]

    # refusals
    with _pytest.raises(ValueError, match="not a shard artifact"):
        plan_training_mixture(spark, {"x": (str(tmp_path / "nope"), 1.0)}, 10)
    with _pytest.raises(ValueError, match="positive weight"):
        plan_training_mixture(spark, {"web": (pa, 0.0)}, 10)
    with _pytest.raises(ValueError, match="quota"):
        plan_training_mixture(spark, {"web": (pa, 1.0)}, 10**9)


def test_shard_gap_and_nullkey_contracts(spark, tmp_path):
    """Second-look review fixes: shard ids may have GAPS (a doc longer
    than tokens_per_shard skips numbers) — the reader must accept real
    gap-following shards, refuse the hole, and verification must flag
    a _key corrupted to NULL (a null-dropping != would pass it)."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        read_training_shards,
        verify_training_shards,
        write_training_shards,
    )

    # doc 1 is 25 tokens with cap 10 -> shard 0 holds it entirely and
    # the next doc starts in shard 2: shard 1 is a HOLE
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(25))),
         (2, "a b c d e"), (3, "f g h i j")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "gap")
    m = {r["shard"] for r in
         write_training_shards(docs, path, "doc_id", "text", 10,
                               seed="gap").collect()}
    holes = set(range(max(m) + 1)) - m
    if holes:  # seed-dependent layout: only assert when a hole exists
        hole = min(holes)
        with _pytest.raises(ValueError, match="does not exist"):
            read_training_shards(spark, path, shard=hole)
    # every REAL shard (including any past a hole) reads fine
    for sh in m:
        assert read_training_shards(spark, path, shard=sh).count() > 0

    # NULL-corrupted _key fails verification
    some = sorted(m)[0]
    sdir = os.path.join(path, "data", f"shard={some}")
    part = [f for f in os.listdir(sdir) if f.endswith(".parquet")][0]
    sub = spark.read.parquet(os.path.join(sdir, part))
    forged = sub.withColumn(
        "_key", F.when(F.monotonically_increasing_id() == 0,
                       F.lit(None).cast("string")).otherwise(F.col("_key"))
    )
    forged.write.mode("overwrite").parquet(str(tmp_path / "nk"))
    os.remove(os.path.join(sdir, part))
    for f in os.listdir(str(tmp_path / "nk")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / "nk"), f),
                        os.path.join(sdir, f))
    v = {r["shard"]: r["ok"] for r in verify_training_shards(
        spark, path).collect()}
    assert v[some] is False


def test_mixture_zero_quota_refused(spark, sf_dir, tmp_path):
    """A weight so small its quota rounds to zero tokens is refused
    loudly — the source must never silently vanish from the mix."""
    import pytest as _pytest

    from cpx_etl_spark.operators.curation import (
        plan_training_mixture,
        write_training_shards,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pa = str(tmp_path / "a")
    write_training_shards(docs, pa, "doc_id", "text", 4000)
    with _pytest.raises(ValueError, match="rounds to"):
        plan_training_mixture(
            spark, {"web": (pa, 1.0), "rare": (pa, 1e-7)}, 1000
        )


def test_shard_meta_io_uses_storage_abstraction(spark, sf_dir, tmp_path):
    """ADVICE r15 / VERDICT r15 item 4: the meta JSON must be read and
    written through the same storage abstraction as the parquet
    (Hadoop FS via spark.read.text / FileSystem.create) — never a
    driver-local open()/os.path.exists — so verify/plan work on any
    storage the data itself lives on. Local-FS proxy for that
    contract: (a) the planner no longer needs the meta at all (quota
    capacity comes from the manifest parquet), so deleting
    the meta (scratch._META) leaves planning working; (b) the verifier reads
    the meta through Spark and still fails LOUD when it is absent;
    (c) refusal messages for a non-artifact path are unchanged."""
    import os

    import pytest as _pytest

    from cpx_etl_spark.operators.curation import (
        plan_training_mixture,
        verify_training_shards,
        write_training_shards,
    )
    from cpx_etl_spark.scratch import _META, read_meta
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pa = str(tmp_path / "a")
    write_training_shards(docs, pa, "doc_id", "text", 2000)

    # the writer's meta (written via the Hadoop FS API) reads back
    # through the storage abstraction and carries the same fields the
    # driver-local writer produced in r15
    meta = read_meta(spark, pa, "shard")
    assert meta["seed"] == "shards-v1"
    assert meta["id_col"] == "doc_id" and meta["n_shards"] >= 1

    # verifier green with the meta present
    ver = verify_training_shards(spark, pa).collect()
    assert ver and all(r["ok"] for r in ver)

    # (a) meta ABSENT, manifest readable: planning still works
    os.remove(os.path.join(pa, _META))
    with _pytest.raises(ValueError, match="not a shard artifact"):
        read_meta(spark, pa, "shard")
    plan = plan_training_mixture(spark, {"web": (pa, 1.0)}, 1000).collect()
    assert plan and plan[0]["quota_tokens"] == 1000

    # (b) the verifier genuinely needs the meta (id/text/seed) — fail
    # loud, same artifact-shaped message as before
    with _pytest.raises(ValueError, match="not a shard artifact"):
        verify_training_shards(spark, pa)

    # (c) non-artifact path refusals unchanged
    with _pytest.raises(ValueError, match="not a shard artifact"):
        plan_training_mixture(
            spark, {"x": (str(tmp_path / "nope"), 1.0)}, 10
        )


def test_tokens_per_shard_guard_fails_before_any_scan(spark):
    """ADVICE r15: a zero/negative tokens_per_shard must raise at the
    TOP of assign/write_training_shards — before the validation scan
    or shuffle runs (was: ANSI divide-by-zero deep in the job)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        assign_training_shards,
        write_training_shards,
    )

    # a frame whose evaluation would EXPLODE if any scan ran — the
    # guard must fire before Spark ever touches it
    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.assert_true(F.lit(False)).cast("string").alias("text"),
    )
    for bad in (0, -5):
        with _pytest.raises(ValueError, match="tokens_per_shard"):
            assign_training_shards(df, "doc_id", F.lit(1), bad)
        with _pytest.raises(ValueError, match="tokens_per_shard"):
            write_training_shards(df, "/nonexistent", "doc_id", "text", bad)


def test_read_training_mixture_consumes_plan_order(spark, sf_dir, tmp_path):
    """VERDICT r15 item 8 (stretch): the mixture CONSUMER streams the
    interleaved shards exactly in plan order — pins (a) the consumed
    (source, shard) sequence of first appearance equals the plan's
    row order; (b) within each pick, rows arrive in the seeded
    training order (_key ascending) and match read_training_shards'
    content for that shard; (c) ratio continuity — by the midpoint of
    the consumed stream both sources have appeared; and the fail-loud
    refusals (missing source path, non-artifact path)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cpx_etl_spark.operators.curation import (
        plan_training_mixture,
        read_training_mixture,
        read_training_shards,
        write_training_shards,
    )
    from cpx_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(docs.filter(F.col("doc_id") % 2 == 0),
                          pa, "doc_id", "text", 1500)
    write_training_shards(docs.filter(F.col("doc_id") % 2 == 1),
                          pb, "doc_id", "text", 1500)
    plan = plan_training_mixture(
        spark, {"web": (pa, 3.0), "code": (pb, 1.0)}, 12_000
    )
    plan_rows = plan.collect()
    got = read_training_mixture(
        spark, plan, {"web": pa, "code": pb}
    ).collect()

    # (a) first-appearance order of (source, shard) == plan order
    seen, order = set(), []
    for r in got:
        key = (r["source"], r["shard"])
        if key not in seen:
            seen.add(key)
            order.append(key)
    assert order == [(r["source"], r["shard"]) for r in plan_rows]

    # (b) per-pick content + internal order == the shard reader's
    by_pick: dict = {}
    for r in got:
        by_pick.setdefault((r["source"], r["shard"]), []).append(r)
    for (src_name, shard), rows in by_pick.items():
        keys = [r["_key"] for r in rows]
        assert keys == sorted(keys)
        path = pa if src_name == "web" else pb
        want = read_training_shards(spark, path, shard=shard).collect()
        assert [(r["id"], r["text"]) for r in rows] == [
            (str(w["doc_id"]), w["text"]) for w in want
        ]

    # (c) interleave: both sources appear in the first half
    half = {r["source"] for r in got[: len(got) // 2]}
    assert half == {"web", "code"}

    # refusals
    with _pytest.raises(ValueError, match="absent from paths"):
        read_training_mixture(spark, plan, {"web": pa})
    with _pytest.raises(ValueError, match="not a shard artifact"):
        read_training_mixture(
            spark, plan, {"web": pa, "code": str(tmp_path / "nope")}
        )


# ---------------------------------------------------------------------------
# r16: mixture-planner contract under arbitrary (weights, target) draws —
# the example test pins one 3:1 plan; this pins the quota/covering-prefix/
# interleave arithmetic over the whole input space. The two shard
# artifacts are built once (real writes are the expensive half; the
# planner itself is manifest-only arithmetic, cheap per example).
# ---------------------------------------------------------------------------

_MIX_PROP_CACHE: dict = {}


def _mixture_property_artifacts(spark, sf_dir):
    if "paths" not in _MIX_PROP_CACHE:
        import tempfile

        from pyspark.sql import functions as F

        from cpx_etl_spark.operators.curation import write_training_shards
        from cpx_etl_spark.sources import load_table

        base = tempfile.mkdtemp(prefix="mixprop")
        docs = load_table(spark, sf_dir, "documents")
        pa, pb = base + "/a", base + "/b"
        write_training_shards(docs.filter(F.col("doc_id") % 2 == 0),
                              pa, "doc_id", "text", 1500)
        write_training_shards(docs.filter(F.col("doc_id") % 2 == 1),
                              pb, "doc_id", "text", 1500)
        caps = {}
        for p in (pa, pb):
            m = spark.read.parquet(p + "/manifest")
            caps[p] = int(m.agg(F.sum("n_tokens")).collect()[0][0])
        _MIX_PROP_CACHE["paths"] = (pa, pb)
        _MIX_PROP_CACHE["caps"] = caps
    return _MIX_PROP_CACHE["paths"], _MIX_PROP_CACHE["caps"]


def test_plan_training_mixture_property(spark, sf_dir):
    """Hypothesis sweep of the planner contract: for ANY positive
    weight pair and any coverable target, every source's picks are the
    shard-order prefix 0..k-1 whose tokens cover quota =
    round(target*w/sum(w)) overshooting by strictly less than its last
    shard, the whole plan covers >= target minus per-source rounding,
    and the position column is a global sort satisfying the
    midpoint-stride continuity bound — at ANY prefix position p each
    source has contributed its proportional pick share to within half
    a pick (|count_s(<=p) - p*n_s| <= 0.5), the invariant an
    end-aligned (i)/n stride fails (its single-pick sources sit at
    position 1.0, contributing NOTHING to every proper prefix)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cpx_etl_spark.operators.curation import plan_training_mixture

    (pa, pb), caps = _mixture_property_artifacts(spark, sf_dir)
    min_cap = min(caps.values())

    @given(
        w1=st.floats(min_value=0.2, max_value=5.0,
                     allow_nan=False, allow_infinity=False),
        w2=st.floats(min_value=0.2, max_value=5.0,
                     allow_nan=False, allow_infinity=False),
        tfrac=st.floats(min_value=0.05, max_value=1.0,
                        allow_nan=False, allow_infinity=False),
    )
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(w1, w2, tfrac):
        wsum = w1 + w2
        # keep BOTH quotas coverable and non-zero for this draw
        target = max(50, int(min_cap * wsum / max(w1, w2) * tfrac))
        if int(round(target * min(w1, w2) / wsum)) <= 0:
            return
        plan = plan_training_mixture(
            spark, {"web": (pa, w1), "code": (pb, w2)}, target
        ).collect()
        by_src = {}
        for r in plan:
            by_src.setdefault(r["source"], []).append(r)
        assert set(by_src) == {"web", "code"}
        grand_total = 0
        for name, w in (("web", w1), ("code", w2)):
            rows = sorted(by_src[name], key=lambda r: r["shard"])
            quota = rows[0]["quota_tokens"]
            assert quota == int(round(target * w / wsum))
            toks = [r["n_tokens"] for r in rows]
            total = sum(toks)
            grand_total += total
            assert total >= quota                    # covers
            assert total - toks[-1] < quota          # minimal prefix
            assert [r["shard"] for r in rows] == list(range(len(rows)))
            # cum_tokens is the running sum the oracle replays
            assert [r["cum_tokens"] for r in rows] == [
                sum(toks[: i + 1]) for i in range(len(toks))
            ]
        assert grand_total >= target - len(by_src)   # rounding slack only
        pos = [r["position"] for r in plan]
        assert pos == sorted(pos)
        # midpoint-stride ratio continuity at every prefix boundary
        for src, rows in by_src.items():
            n_s = len(rows)
            for p in pos:
                got = sum(1 for r in rows if r["position"] <= p)
                assert abs(got - p * n_s) <= 0.5 + 1e-9, (src, p, got, n_s)

    run()


def test_assign_training_shards_matches_python_replay_property(spark):
    """Hypothesis sweep of the assignment kernel against a straight
    Python replay: for ANY corpus shape (random token masses, any
    tokens_per_shard, either seed) the two-phase bucketed cumsum +
    first-token rule must equal md5-sort -> running-sum -> floor
    computed sequentially. Catches bucket-boundary errors the fixture
    corpus can't (tiny buckets, docs spanning multiple shards, shard
    ids with GAPS when one doc covers several budgets)."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cpx_etl_spark.operators.curation import assign_training_shards
    from pyspark.sql import functions as F

    @given(
        toks=st.lists(st.integers(min_value=1, max_value=30),
                      min_size=1, max_size=40),
        tps=st.integers(min_value=1, max_value=50),
        seed=st.sampled_from(["shards-v1", "epoch-2"]),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(toks, tps, seed):
        rows = [(i, t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(rows, "doc_id long, n_tok long")
        got = {
            r["doc_id"]: (r["_key"], r["_n_tok"], r["shard"])
            for r in assign_training_shards(
                df, "doc_id", F.col("n_tok"), tps, seed=seed
            ).collect()
        }
        # independent sequential replay
        keyed = sorted(
            (hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), i, t)
            for i, t in rows
        )
        cum = 0
        want = {}
        for k, i, t in keyed:
            want[i] = (k, t, cum // tps)  # first-token rule
            cum += t
        assert got == want

    run()
