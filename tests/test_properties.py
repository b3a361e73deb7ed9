"""Property-based tests (hypothesis) for the coercion and fixed-width
codecs — SURVEY §5.4."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from cpx_etl_spark.functions.schema_apply import schema_apply
from cpx_etl_spark.sources.fixed_width import Field, decode, encode

# shared session comes from conftest's fixture; hypothesis drives data
SETTINGS = settings(max_examples=20, deadline=None)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-999, 9999).map(str), st.just("")),
            st.one_of(st.none(), st.dates(dt.date(1900, 1, 1), dt.date(2099, 12, 31)).map(str), st.just("0000-00-00")),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_schema_apply_nullable_never_errors(spark, rows):
    """Nullable coercion of well-formed-or-null-token inputs never
    produces an _errors entry, and outputs are null or typed."""
    df = spark.createDataFrame(rows, "n string, d string")
    out = schema_apply(df, {"n": "Number", "d": "Date"}).collect()
    for r in out:
        assert r["_errors"] == []
        assert r["n"] is None or isinstance(r["n"], int)
        assert r["d"] is None or isinstance(r["d"], dt.datetime)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 9_999_999)),
            st.one_of(st.none(), st.text(alphabet="abcdefgh XYZ", min_size=0, max_size=12)),
            st.one_of(st.none(), st.booleans()),
            st.one_of(
                st.none(),
                st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2099, 12, 31)).map(
                    lambda d: d.replace(hour=0, minute=0, second=0, microsecond=0)
                ),
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_fixed_width_roundtrip_property(spark, rows):
    """encode -> decode recovers every value (strings truncated to the
    field width and right-trimmed, numbers that fit, day-aligned dates)."""
    fields = [
        Field("n", 8, "number"),
        Field("s", 10, "string"),
        Field("b", 2, "boolean"),
        Field("d", 8, "date"),
    ]
    df = spark.createDataFrame(
        rows, "n long, s string, b boolean, d timestamp"
    )
    back = decode(encode(df, fields).select("line"), fields).collect()
    orig = df.collect()
    assert len(back) == len(orig)
    got = sorted(
        ((r["n"], r["s"], r["b"], r["d"]) for r in back),
        key=lambda t: tuple(str(x) for x in t),
    )
    want = sorted(
        (
            (
                r["n"],
                # width-10 truncation then rtrim; all-space strings decode as null
                (r["s"][:10].rstrip() or None) if r["s"] is not None else None,
                r["b"],
                r["d"],
            )
            for r in orig
        ),
        key=lambda t: tuple(str(x) for x in t),
    )
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    codec="utf-8",
                    exclude_categories=("Cs", "Cc"),
                ),
                max_size=12,
            ),
            st.integers(-(2**40), 2**40),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_xlsx_roundtrip_property(tmp_path_factory, rows):
    """Arbitrary text (incl. XML-special chars), big ints, and finite
    doubles survive the XLSX write/read round-trip. Integer-valued
    float columns may narrow to int (documented Excel semantics) —
    values must still compare equal."""
    import os

    from cpx_etl_spark.sources.xlsx import read_xlsx_tables, write_xlsx

    path = os.path.join(str(tmp_path_factory.mktemp("xlsxprop")), "p.xlsx")
    write_xlsx(path, {"t": (["s", "i", "f"], rows)})
    got = read_xlsx_tables(path)["t"]
    assert got[0] == ["s", "i", "f"]
    assert len(got[1]) == len(rows)
    for (s, i, f), (gs, gi, gf) in zip(rows, got[1]):
        assert gs == s or (s == "" and gs is None)  # empty inline str
        assert gi == i
        assert gf == f or (gf is not None and float(gf) == f)


_path_segment = st.one_of(
    st.sampled_from(["$", "#", ""]),
    st.from_regex(r"#?[a-c]{1,3}", fullmatch=True),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_path_segment, min_size=1, max_size=4).map(".".join))
def test_path_lineage_mirrors_path_col_accept_reject(spark, path):
    """Drift guard for the static lineage mirror (ADVICE r6): for ANY
    generated applyPath string, path_lineage accepts iff path_col
    accepts — the impact-analysis view can never diverge from the
    compiler on what is a legal path. (Column construction is lazy, so
    path_col's acceptance is exactly its parse-time validation; the
    spark fixture provides the JVM that Column expressions bind to.)"""
    from cpx_etl_spark.functions.paths import path_col, path_lineage

    try:
        path_col(path)
        compiled = True
    except ValueError:
        compiled = False
    try:
        kind, _norm, _scoped = path_lineage(path)
        analyzed = True
        assert kind in ("path", "length")
    except ValueError:
        analyzed = False
    assert compiled == analyzed, (
        f"path_col and path_lineage disagree on {path!r}"
    )


@settings(max_examples=300, deadline=None)
@given(
    st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
    st.sampled_from(["0", "0.00", "#,##0.00", "0.###", "#,##0", "0.0%"]),
)
def test_format_number_invariants(value, pattern):
    """format-number() subset invariants: output round-trips to within
    the pattern's quantum, grouping separators sit every 3 digits, and
    the sign is preserved."""
    from cpx_etl_spark.functions.xslt import _format_number

    out = _format_number(value, pattern)
    pct = pattern.endswith("%")
    body = out[:-1] if pct else out
    scaled = value * 100 if pct else value
    parsed = float(body.replace(",", ""))
    frac = pattern[:-1] if pct else pattern
    frac_digits = len(frac.partition(".")[2])
    assert abs(parsed - scaled) <= 0.5 * 10 ** -frac_digits + 1e-6 * abs(scaled)
    assert (parsed < 0) == (scaled < -0.5 * 10 ** -frac_digits)
    if "," in pattern:
        int_part = body.lstrip("-").partition(".")[0]
        for group in int_part.split(",")[1:]:
            assert len(group) == 3


_xml_text = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs", "Cc"), exclude_characters="\r"
    ),
    min_size=1,
    max_size=8,
)
_xml_tag = st.sampled_from(["a", "b", "c-d", "e_f"])
_xml_attrs = st.dictionaries(
    st.sampled_from(["k", "id", "v"]), _xml_text, max_size=2
)


def _mk_tree(draw, depth):
    import xml.etree.ElementTree as ET

    elem = ET.Element(draw(_xml_tag), dict(draw(_xml_attrs)))
    if draw(st.booleans()):
        elem.text = draw(_xml_text)
    if depth < 2:
        for _ in range(draw(st.integers(0, 2))):
            child = _mk_tree(draw, depth + 1)
            elem.append(child)
            if draw(st.booleans()):
                child.tail = draw(_xml_text)
    return elem


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_identity_transform_roundtrips_arbitrary_trees(data):
    """Fuzz the XSLT engine end-to-end: the identity transform
    (xsl:copy + copy-of @* + node() recursion) over ARBITRARY small
    trees — attribute values and text with XML-special and non-ASCII
    characters — must re-parse to an equivalent tree (tags, attrs,
    text, tails). This pins the serializer's escaping/quoting and the
    attr-copy path against the whole input space, not just the
    hand-picked cases."""
    import xml.etree.ElementTree as ET

    from cpx_etl_spark.functions.xslt import MiniXslt

    root = _mk_tree(data.draw, 0)
    src = ET.tostring(root, encoding="unicode")
    xsl = """<xsl:stylesheet version="1.0"
        xmlns:xsl="http://www.w3.org/1999/XSL/Transform">
      <xsl:template match="node()">
        <xsl:copy>
          <xsl:copy-of select="@*"/>
          <xsl:apply-templates select="node()"/>
        </xsl:copy>
      </xsl:template>
    </xsl:stylesheet>"""
    out = MiniXslt(xsl).apply(src)
    got = ET.fromstring(out)

    def eq(a, b):
        assert a.tag == b.tag
        assert dict(a.attrib) == dict(b.attrib)
        assert (a.text or "") == (b.text or "")
        assert (a.tail or "") == (b.tail or "")
        assert len(a) == len(b)
        for ca, cb in zip(a, b):
            eq(ca, cb)

    eq(root, got)


# --- r11: winnowing guarantee, BFS reference equality, stats encoding --------


@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_winnowing_shared_run_guarantee(spark, data):
    """The winnowing THEOREM (Schleimer et al. 2003 §3): two documents
    sharing a token run of length >= k + w - 1 share at least one
    selected fingerprint — for ANY surrounding context. Random unique
    contexts around a random shared run; k=w=4 so runs of 7+ tokens
    must collide."""
    from cpx_etl_spark.operators.dedup import winnow_fingerprints

    k = w = 4
    run_len = data.draw(st.integers(k + w - 1, k + w + 4))
    # token vocabularies are disjoint by construction: the shared run
    # uses s*, doc-unique context uses a*/b* — no accidental k-grams
    shared = [f"s{i}" for i in range(run_len)]
    pre_a = [f"a{i}" for i in range(data.draw(st.integers(0, 6)))]
    post_a = [f"ax{i}" for i in range(data.draw(st.integers(0, 6)))]
    pre_b = [f"b{i}" for i in range(data.draw(st.integers(0, 6)))]
    post_b = [f"bx{i}" for i in range(data.draw(st.integers(0, 6)))]
    doc_a = " ".join(pre_a + shared + post_a)
    doc_b = " ".join(pre_b + shared + post_b)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=k, w=w).collect()
    a = {r["h"] for r in fps if r["doc_id"] == 1}
    b = {r["h"] for r in fps if r["doc_id"] == 2}
    assert a & b, (
        f"no shared fingerprint for a {run_len}-token shared run "
        f"(contexts {len(pre_a)}/{len(post_a)} vs {len(pre_b)}/{len(post_b)})"
    )
    # density: the stored set is a strict subset of all k-gram positions
    n_grams_a = len(doc_a.split()) - k + 1
    assert len(a) <= n_grams_a


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    ),
    k=st.integers(1, 4),
)
def test_bfs_min_hop_matches_reference(spark, edges, k):
    """bfs_min_hop == single-machine reference BFS (min hop per node,
    depth-capped) on random directed graphs; seeds = the two smallest
    source nodes."""
    from collections import deque

    from cpx_etl_spark.operators.components import bfs_min_hop

    seeds = sorted({a for a, _ in edges})[:2]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if want[u] >= k:
            continue
        for v in sorted(adj.get(u, ())):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    edf = spark.createDataFrame(edges, "a long, b long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["hop"] for r in bfs_min_hop(edf, sdf, k).collect()}
    assert got == want


@settings(max_examples=300, deadline=None)
@given(
    digits=st.integers(1, 25),
    sign=st.sampled_from([1, -1]),
)
def test_stats_value_decimal_bounds_contain(digits, sign):
    """Decimal footer stats encode to floats that CONTAIN the true
    value: encode(v, -1) <= v <= encode(v, +1) exactly — the widening
    that keeps a >15-digit Decimal max from rounding below a live
    file's true maximum (code-review r11)."""
    import decimal
    import random

    from cpx_etl_spark.sources.sinks import _stats_value

    rnd = random.Random(digits * 31 + sign)
    v = decimal.Decimal(sign * rnd.randrange(10 ** (digits - 1), 10**digits))
    v = v.scaleb(-rnd.randrange(0, 4))
    lo, hi = _stats_value(v, -1), _stats_value(v, 1)
    assert decimal.Decimal(lo) <= v <= decimal.Decimal(hi)


@settings(max_examples=300, deadline=None)
@given(
    a=st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2099, 12, 31)),
    b=st.datetimes(dt.datetime(1900, 1, 1), dt.datetime(2099, 12, 31)),
)
def test_stats_value_temporal_order_preserved(a, b):
    """ISO-string encoding of timestamps preserves ordering, so string
    comparisons in prune_version_files are equivalent to temporal
    comparisons (the overlap test stays exact for date/timestamp PKs)."""
    from cpx_etl_spark.sources.sinks import _stats_value

    ea, eb = _stats_value(a, -1), _stats_value(b, 1)
    assert (a <= b) == (ea <= eb)


@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 20), min_size=2, max_size=5),
    copy_len=st.integers(1, 20),
)
def test_trim_duplicated_spans_properties(spark, sizes, copy_len):
    """Span-trim invariants on constructed corpora: (1) kept + trimmed
    always equals n_tokens; (2) docs with globally unique tokens are
    never trimmed; (3) a verbatim higher-id copy of doc 0 is fully
    trimmed iff it reaches the window width (8 tokens), and the
    original survives untouched either way."""
    from cpx_etl_spark.operators.curation import trim_duplicated_spans

    rows = [
        (i, " ".join(f"d{i}t{j}" for j in range(n)))
        for i, n in enumerate(sizes)
    ]
    rows[0] = (0, " ".join(f"d0t{j}" for j in range(copy_len)))
    copy_id = len(sizes)
    rows.append((copy_id, rows[0][1]))  # verbatim copy, max id
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in trim_duplicated_spans(df, "doc_id", "text", n=8).collect()
    }
    for i, text in rows:
        assert out[i]["kept_tokens"] + out[i]["trimmed_tokens"] == out[i]["n_tokens"]
    # unique-token docs and the survivor copy source are untouched
    for i, _n in enumerate(sizes):
        assert out[i]["trimmed_tokens"] == 0, f"doc {i} wrongly trimmed"
        assert out[i]["trimmed_text"] == rows[i][1]
    if copy_len >= 8:
        assert out[copy_id]["trimmed_tokens"] == copy_len
        assert out[copy_id]["trimmed_text"] == ""
        assert out[copy_id]["n_spans"] == 1
    else:
        assert out[copy_id]["trimmed_tokens"] == 0
        assert out[copy_id]["trimmed_text"] == rows[0][1]


# ---------------------------------------------------------------------------
# r15: PNG decode roundtrip under arbitrary pixels/dims/filter choices
# ---------------------------------------------------------------------------

@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ctype=st.sampled_from([0, 2, 6]),  # gray / RGB / RGBA
)
@settings(max_examples=40, deadline=None)
def test_png_decode_roundtrip_property(data, w, h, ctype):
    """decode_image inverts ANY valid non-interlaced 8-bit PNG: random
    pixel content, random per-row filter types (0-4) applied forward
    by the test's own reference filterer — not just the filter-0
    stream the repo synthesizes. Pins the Sub/Up/Average/Paeth
    unfilter arithmetic across the whole input space."""
    import struct
    import zlib

    from cpx_etl_spark.operators.multimodal import decode_image

    ch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = w * ch
    px = bytes(
        data.draw(st.integers(min_value=0, max_value=255))
        for _ in range(stride * h)
    )
    fts = [data.draw(st.integers(min_value=0, max_value=4))
           for _ in range(h)]

    def fwd(ft, line, prev):
        out = bytearray()
        for i in range(stride):
            x = line[i]
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 0:
                f = x
            elif ft == 1:
                f = (x - a) & 0xFF
            elif ft == 2:
                f = (x - b) & 0xFF
            elif ft == 3:
                f = (x - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    b if pb <= pc else c)
                f = (x - pred) & 0xFF
            out.append(f)
        return bytes(out)

    def chunk(typ, payload):
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    raw = b""
    prev = bytes(stride)
    for y in range(h):
        line = px[y * stride:(y + 1) * stride]
        raw += bytes([fts[y]]) + fwd(fts[y], line, prev)
        prev = line
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw, 1))
           + chunk(b"IEND", b""))
    fmt, gw, gh, gch, gpx = decode_image(png)
    assert (fmt, gw, gh, gch) == ("png", w, h, ch)
    assert gpx == px


# ---------------------------------------------------------------------------
# r15: versioned-sink protocol invariants under random crash interleavings
# ---------------------------------------------------------------------------

@given(data=st.data())
@settings(max_examples=10, deadline=None)
def test_upsert_protocol_crash_model_property(spark, tmp_path_factory, data):
    """Model-based check of the snapshot protocol that bit twice in
    r15: random sequences of healthy commits, crashed writers (before
    the CAS / after the swing but before the witness / after the
    witness but before the claim release), claim aging, rollbacks and
    expiries — after every op, every version the MODEL knows is
    committed (and not model-expired/abandoned) still exists on disk
    and time-travels correctly, expire returns EXACTLY the model's
    expirable set, and the head always reads. retain_versions is kept
    above the op budget so any committed-dir deletion is a protocol
    bug, never retention."""
    import os

    from cpx_etl_spark.sources.sinks import (
        _CLAIM_PREFIX,
        _COMMIT_WITNESS,
        _gc_and_claim_version,
        _read_manifest,
        expire_upsert_versions,
        list_upsert_versions,
        read_upsert_table,
        rollback_upsert_table,
        upsert_parquet_table,
    )

    path = str(tmp_path_factory.mktemp("proto") / "t")
    committed: list[str] = []   # model: committed versions on disk
    head: str | None = None
    seq = 0

    def age_all():
        if not os.path.isdir(path):
            return
        for e in os.listdir(path):
            p = os.path.join(path, e)
            try:
                m = os.path.getmtime(p) - 7200
                os.utime(p, (m, m))
            except OSError:
                pass

    def do_commit():
        nonlocal head, seq, committed
        seq += 1
        upsert_parquet_table(
            spark.createDataFrame([(seq, f"s{seq}")], "id long, v string"),
            path, ["id"], retain_versions=10,
        )
        new_head = _read_manifest(path)
        # commit-time GC abandons successors of a rolled-back head
        committed = [v for v in committed if v <= new_head]
        committed.append(new_head)
        head = new_head

    ops = data.draw(st.lists(st.sampled_from(
        ["commit", "orphan", "crash_post_swing", "crash_post_witness",
         "age", "expire", "rollback"]), min_size=3, max_size=7))
    did = []
    for op in ops:
        if op == "commit":
            do_commit()
        elif op == "orphan":
            # writer claims a slot, writes a torn dir, dies pre-CAS
            _cur, _e, claimed = _gc_and_claim_version(path, 10)
            os.makedirs(os.path.join(path, claimed), exist_ok=True)
            with open(os.path.join(path, claimed, "torn.parquet"), "wb") as f:
                f.write(b"torn")
        elif op == "crash_post_swing":
            # committed, but died between the pointer swing and the
            # witness write AND before the claim release
            do_commit()
            os.unlink(os.path.join(path, _COMMIT_WITNESS + head))
            with open(os.path.join(path, _CLAIM_PREFIX + head), "w"):
                pass
        elif op == "crash_post_witness":
            do_commit()
            with open(os.path.join(path, _CLAIM_PREFIX + head), "w"):
                pass
        elif op == "age":
            age_all()
        elif op == "expire":
            if head is None:
                continue
            k = data.draw(st.integers(min_value=1, max_value=3))
            protected = set(committed[-k:]) | {head}
            want = [v for v in committed if v not in protected]
            got = expire_upsert_versions(path, keep_last=k)
            assert got == want, (did, op, got, want, committed)
            committed = [v for v in committed if v not in set(got)]
        elif op == "rollback":
            if len(committed) >= 2:
                target = data.draw(st.sampled_from(committed[:-1]))
                rollback_upsert_table(path, target)
                head = target
        did.append(op)

        # invariants after EVERY op
        if head is not None:
            assert _read_manifest(path) == head
            assert read_upsert_table(spark, path).count() >= 1
            for v in committed:
                if v <= head:  # successors of a rollback await GC
                    assert os.path.isdir(os.path.join(path, v)), (
                        did, v, committed, list_upsert_versions(path))
                    assert read_upsert_table(
                        spark, path, version=v).count() >= 1


# ---------------------------------------------------------------------------
# r16: JPEG codec properties over the whole (dims x channels x subsample)
# input space — the fixed-fixture replay tests pin exactness; these pin
# the contract's edges (partial blocks, 1-pixel planes, mutation safety)
# ---------------------------------------------------------------------------

@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    mode=st.sampled_from([(1, "444"), (3, "444"), (3, "420")]),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_roundtrip_shape_property(data, w, h, mode):
    """encode->decode over arbitrary dims (incl. non-8-multiples, 1-px
    edges) and random pixel noise returns EXACTLY the declared shape,
    and grayscale error stays inside the Annex-K quantization envelope
    (worst-case per-coefficient error q/2 => image MAE well under 48;
    a block-placement or predictor bug blows straight through it)."""
    from cpx_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    ch, sub = mode
    px = bytes(
        data.draw(st.integers(min_value=0, max_value=255))
        for _ in range(w * h * ch)
    )
    gw, gh, gch, out = decode_jpeg(encode_jpeg(px, w, h, ch, subsample=sub))
    assert (gw, gh, gch) == (w, h, ch)
    assert len(out) == w * h * ch
    if ch == 1:
        mae = sum(abs(a - b) for a, b in zip(px, out)) / len(px)
        assert mae < 48, mae


@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    sub=st.sampled_from(["444", "420"]),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_flat_color_property(data, w, h, sub):
    """A flat field is pure DC at EVERY dimension — edge-replicated
    partial blocks must stay flat, so the roundtrip error is a pure
    function of the COLOR (independent of dims/subsample: a flat plane
    subsamples and pads to itself). Analytic envelope per channel:
    plane error <= fwd-round 0.5 + DC-quant q/16 (luma 16/16=1.0,
    chroma 17/16=1.0625) + IDCT round 0.5, then the inverse transform
    amplifies chroma by up to 1.772 (B) plus a final 0.5 round —
    worst case 2.0 + 1.772*2.0625 + 0.5 = 6.16.  The EXACT max over
    all 256^3 colors (vectorized replay of the full rounding chain,
    verified bit-identical to the codec on a 302-color sample across
    dims/subsamples, r17) is 4 — reached by e.g. (165,53,20) and
    (0,1,54).  Zero-padding (instead of edge replication) in either
    codec half blows straight through this at non-multiple-of-8 dims."""
    from cpx_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    color = bytes(
        data.draw(st.integers(min_value=0, max_value=255)) for _ in range(3)
    )
    px = color * (w * h)
    _, _, _, out = decode_jpeg(encode_jpeg(px, w, h, 3, subsample=sub))
    assert max(abs(a - b) for a, b in zip(px, out)) <= 4


def test_jpeg_flat_color_worst_cases_pinned():
    """Deterministic pin of the r16-verdict hypothesis counterexample
    (165,53,20) and the exhaustive-sweep worst color (0,1,54): both
    sit EXACTLY on the 4-level envelope (not under it), so a codec
    rounding change that widens the chain shows up here before the
    property test's random draws find it."""
    from cpx_etl_spark.functions.jpeg import decode_jpeg, encode_jpeg

    for color in (bytes([165, 53, 20]), bytes([0, 1, 54])):
        for sub in ("444", "420"):
            for w, h in ((1, 1), (9, 2)):
                px = color * (w * h)
                _, _, _, out = decode_jpeg(
                    encode_jpeg(px, w, h, 3, subsample=sub))
                err = max(abs(a - b) for a, b in zip(px, out))
                assert err == 4, (color, sub, w, h, err)


@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_mutation_only_valueerror_property(data, w, h):
    """The ADVICE-r15 fail-soft contract over the whole mutation space:
    ANY single-byte flip or truncation of a valid JPEG stream (magic
    preserved so the JPEG branch is taken) either still decodes to a
    shape-consistent result or raises ValueError — never struct/
    Index/Key/MemoryError and never a hang. This is the per-record
    guarantee a fail-soft Arrow-batch caller relies on."""
    from cpx_etl_spark.functions.jpeg import encode_jpeg
    from cpx_etl_spark.operators.multimodal import decode_image

    px = bytes(
        data.draw(st.integers(min_value=0, max_value=255))
        for _ in range(w * h)
    )
    good = encode_jpeg(px, w, h, 1)
    if data.draw(st.booleans()):
        cut = data.draw(st.integers(min_value=3, max_value=len(good) - 1))
        bad = good[:cut]
    else:
        i = data.draw(st.integers(min_value=3, max_value=len(good) - 1))
        flip = good[i] ^ data.draw(st.integers(min_value=1, max_value=255))
        bad = good[:i] + bytes([flip]) + good[i + 1:]
    try:
        fmt, gw, gh, gch, out = decode_image(bad)
    except ValueError:
        return
    assert fmt == "jpeg" and gch in (1, 3)
    assert len(out) == gw * gh * gch
