"""Property-based tests (SURVEY.md §5): the reference's
ZeroDivisionError→0 semantics (pyspark_stats.py:91-94) and the
length-bucket boundaries (pyspark_stats.py:158-167) must hold for
arbitrary inputs, not just the fixture values."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_imgprocessing_spark.functions import length_bucket, zero_guard_div


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


@settings(max_examples=20, deadline=None)
@given(
    num=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    den=st.integers(min_value=0, max_value=1000),
)
def test_zero_guard_div_total(spark_prop, num, den):
    v = _eval(
        spark_prop, zero_guard_div(F.lit(float(num)), F.lit(den), scale=4)
    )
    if den == 0:
        assert v == 0.0  # the reference's except-ZeroDivisionError → 0
    else:
        # HALF_UP like Spark's round() (and DuckDB's) — Python's builtin
        # round() is banker's rounding and diverges at .xxxx5 midpoints
        # (hypothesis found 1.5/48 = 0.03125 → 0.0312 vs Spark 0.0313)
        from decimal import ROUND_HALF_UP, Decimal

        expected = float(
            Decimal(repr(num / den)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )
        assert abs(v - expected) < 1e-9
    assert v is not None  # never null/NaN


@settings(max_examples=20, deadline=None)
@given(s=st.text(alphabet="abcde ", min_size=0, max_size=30))
def test_length_bucket_boundaries(spark_prop, s):
    v = _eval(spark_prop, length_bucket(F.lit(s), 10, 20))
    n = len(s)
    expected = "under_10" if n < 10 else ("between_10_and_20" if n <= 20 else "over_20")
    assert v == expected


# session-scoped fixture alias usable inside @given (function-scoped
# fixtures don't mix with hypothesis)
import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark_prop(spark):
    return spark


# ---------------------------------------------------------------------------
# as-of join vs a brute-force Python reference, including DUPLICATE right
# timestamps: for every left row the matched payload must be the maximum
# (ts, tie_break) among right rows with ts <= left_ts for the same key.
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=8
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=0, max_size=12
    ),
)
def test_asof_join_matches_bruteforce(spark_prop, lefts, rights):
    from bigdata_imgprocessing_spark.operators.asof import asof_join

    spark = spark_prop
    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid int, k int, ts int"
    )
    right = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rights)], "rid int, k int, ts int"
    )
    got = {
        r.lid: r.asof_rid
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", tie_break="rid"
        ).collect()
    }
    for lid, (k, t) in enumerate(lefts):
        cands = [(rt, rid) for rid, (rk, rt) in enumerate(rights) if rk == k and rt <= t]
        expected = max(cands)[1] if cands else None
        assert got[lid] == expected, (lid, k, t, cands)


# ---------------------------------------------------------------------------
# Shingling vs a trivial Python 3-gram reference: the arrays_zip-of-
# shifted-slices construction (neardup.shingles, chosen for its CSE
# behavior — see its docstring) must produce exactly the naive sliding
# window for arbitrary token streams, including the n<3 degenerate case.
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    toks=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=12
    )
)
def test_shingles_match_naive_ngrams(spark_prop, toks):
    from bigdata_imgprocessing_spark.operators.neardup import shingles

    text = " ".join(toks)
    got = (
        spark_prop.createDataFrame([(text,)], "text string")
        .select(shingles("text").alias("v"))
        .collect()[0]
        .v
    )
    words = text.split(" ")  # split(" ") semantics: "" -> [""]
    if len(words) >= 3:
        expected = [
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        ]
    else:
        expected = [text]
    assert got == expected


# ---------------------------------------------------------------------------
# FIMG codec: encode→decode is the identity for any uint8 image shape
# (the property the whole image pipeline leans on — avg/dominant/resize
# all consume decode_image output).
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    c=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_codec_roundtrip_property(h, w, c, seed):
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import decode_image, encode_image

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    out = decode_image(encode_image(arr))
    assert out.shape == (h, w, c) and (out == arr).all()


# ---------------------------------------------------------------------------
# PII regexes: Spark's Java regex and Python's re must agree on match
# counts for the patterns pii_scrub_stats uses (guards against regex
# dialect drift between the engine and the oracle's RE2).
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    s=st.text(
        alphabet="ab1@. -x0", min_size=0, max_size=40
    )
)
def test_pii_regex_cross_engine(spark_prop, s):
    import re

    email_re = "[A-Za-z0-9]+@[A-Za-z0-9]+\\.[a-z]+"
    phone_re = "\\d{3}-\\d{4}"
    for pat in (email_re, phone_re):
        spark_n = _eval(spark_prop, F.regexp_count(F.lit(s), F.lit(pat)))
        assert spark_n == len(re.findall(pat, s)), (pat, s)


# ---------------------------------------------------------------------------
# Distributed connected components vs a trivial union-find: the
# min-label-propagation + pointer-jumping loop (operators/components.py,
# the closure stage of near-dup dedup) must produce exactly the
# min-node-id component labeling for arbitrary edge lists — including
# self-loops, duplicate edges, and long chains (worst case for the
# O(log diameter) doubling).
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=1, max_size=25
    )
)
def test_connected_components_match_union_find(spark_prop, edges):
    from bigdata_imgprocessing_spark.operators.components import connected_components

    spark = spark_prop
    e = spark.createDataFrame(edges, "src int, dst int")
    got = {
        (r.node, r.comp) for r in connected_components(e, "src", "dst").collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {(n, find(n)) for n in parent}
    assert got == expected


# ---------------------------------------------------------------------------
# Letterbox invariants for arbitrary shapes: output is exactly
# (target_h, target_w, c); the scaled region is aspect-preserving
# nearest-neighbor (corner pixels map to source corners); everything
# outside it is the 114 pad; and at least one target dimension is
# fully used (scale = min of the two ratios).
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    th=st.integers(1, 32),
    tw=st.integers(1, 32),
    seed=st.integers(0, 2**31 - 1),
)
def test_letterbox_invariants(h, w, th, tw, seed):
    import numpy as np

    from bigdata_imgprocessing_spark.images.transform import PAD_VALUE, letterbox

    rng = np.random.default_rng(seed)
    # avoid PAD_VALUE in the source so pad vs content is unambiguous
    img = rng.integers(0, 100, size=(h, w, 3), dtype=np.uint8)
    out = letterbox(img, th, tw)
    assert out.shape == (th, tw, 3)
    scale = min(th / h, tw / w)
    nh, nw = int(h * scale), int(w * scale)
    # one dim saturated — up to 1px short, because the reference's own
    # int(shape * r) truncation (yolox preproc, mirrored exactly) can
    # land at th-1 when h*(th/h) rounds to 1.9999... in float64
    assert nh >= th - 1 or nw >= tw - 1 or (nh, nw) == (0, 0)
    if nh and nw:
        # nearest-neighbor corners map to source corners
        assert (out[0, 0] == img[0, 0]).all()
        src_y = min(int((nh - 1) / scale), h - 1)
        src_x = min(int((nw - 1) / scale), w - 1)
        assert (out[nh - 1, nw - 1] == img[src_y, src_x]).all()
    assert (out[nh:, :] == PAD_VALUE).all()
    assert (out[:, nw:] == PAD_VALUE).all()


# ---------------------------------------------------------------------------
# Morton key vs a pure-Python bit interleave: the shift-and-mask ladder
# (operators/zorder.py) must equal interleaving the bits of two 16-bit
# ints for arbitrary bucket values.
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(a=st.integers(0, 65535), b=st.integers(0, 65535))
def test_morton_key_matches_python_interleave(spark_prop, a, b):
    from bigdata_imgprocessing_spark.operators.zorder import morton_key

    got = _eval(spark_prop, morton_key(F.lit(a), F.lit(b)))
    expected = 0
    for i in range(16):
        expected |= ((a >> i) & 1) << (2 * i)
        expected |= ((b >> i) & 1) << (2 * i + 1)
    assert got == expected


# ---------------------------------------------------------------------------
# MinHash signature vs a pure-Python reference: the md5-derived 40-bit
# hash and the 16 affine min aggregates (queries/dedup.py) must agree
# with a direct Python computation for arbitrary documents — this is
# the arithmetic both the Spark side AND the DuckDB oracles assume.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    toks=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4), min_size=1, max_size=15
    )
)
def test_minhash_signature_matches_python(spark_prop, toks):
    import hashlib as hl

    from bigdata_imgprocessing_spark.operators.neardup import (
        N_HASHES,
        P,
        _a,
        _b,
        minhash_signatures,
    )

    spark = spark_prop
    text = " ".join(toks)
    d = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    row = minhash_signatures(d).collect()[0]

    words = text.split(" ")
    sh = (
        [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
        if len(words) >= 3
        else [text]
    )
    hs = [int(hl.md5(s.encode()).hexdigest()[:10], 16) for s in set(sh)]
    for j in range(N_HASHES):
        expected = min((_a(j) * h + _b(j)) % P for h in hs)
        assert row[f"mh{j}"] == expected, j


# ---------------------------------------------------------------------------
# SimHash bit-vote fingerprint vs a direct Python computation — the
# same md5-prefix hash and per-bit sign votes both the Spark side and
# the DuckDB oracle assume (queries/dedup.py simhash_fingerprints).
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    toks=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4), min_size=1, max_size=12
    )
)
def test_simhash_matches_python(spark_prop, toks):
    import hashlib as hl

    spark = spark_prop
    text = " ".join(toks)
    d = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    # rebuild the exact Spark expression chain used by the query
    from pyspark.sql import functions as SF

    from bigdata_imgprocessing_spark.functions import h40

    tok = d.select("doc_id", SF.explode(SF.split(SF.col("text"), " ")).alias("t"))
    h = tok.select("doc_id", h40(SF.col("t")).alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            SF.sum(2 * SF.shiftright(SF.col("h"), b).bitwiseAND(1) - 1).alias(f"v{b}")
            for b in range(16)
        ]
    )
    row = votes.collect()[0]

    hs = [int(hl.md5(t.encode()).hexdigest()[:10], 16) for t in text.split(" ")]
    expected_hash = 0
    for bit in range(16):
        vote = sum(2 * ((x >> bit) & 1) - 1 for x in hs)
        assert row[f"v{bit}"] == vote, bit
        if vote >= 0:
            expected_hash |= 1 << bit
    got_hash = sum(
        (1 << b) for b in range(16) if row[f"v{b}"] >= 0
    )
    assert got_hash == expected_hash


# ---------------------------------------------------------------------------
# Perceptual hash vs a direct Python reference: mean-threshold bits over
# arbitrary images, including the flat image (all pixels >= mean → all
# ones), and hamming distance via xor-popcount as the pair queries
# compute it.
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(1, 4), w=st.integers(1, 4), seed=st.integers(0, 2**31 - 1)
)
def test_phash_matches_python(h, w, seed):
    import numpy as np

    from bigdata_imgprocessing_spark.images.codec import encode_image
    from bigdata_imgprocessing_spark.images.fingerprint import _phash

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    got = _phash(encode_image(arr))
    flat = arr.reshape(-1).astype(float)
    mean = flat.sum() / len(flat)
    expected = sum(1 << i for i, v in enumerate(flat) if v >= mean)
    assert got == expected
    # flat image: every pixel == mean → all bits set
    flat_img = np.full((h, w, 3), 7, dtype=np.uint8)
    n = h * w * 3
    assert _phash(encode_image(flat_img)) == (1 << n) - 1


# ---------------------------------------------------------------------------
# int8 quantization rule (quantized_ann_recall): floor(x*127/max + 0.5)
# computed by Spark must equal the same arithmetic in Python for
# arbitrary float vectors — the half-up rounding contract both engines'
# SQL states explicitly.
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=1,
        max_size=8,
    )
)
def test_int8_quantization_matches_python(spark_prop, vec):
    import math

    spark = spark_prop
    ma = max(abs(v) for v in vec)
    if ma == 0:
        return  # zero vector excluded by the query's norm guard
    df = spark.createDataFrame([(vec,)], "v array<float>")
    q = df.select(
        F.transform(
            "v",
            lambda x: F.floor(x.cast("double") * 127 / F.lit(float(ma)) + 0.5).cast(
                "bigint"
            ),
        ).alias("qv")
    ).collect()[0].qv
    import numpy as np

    v32 = np.array(vec, dtype=np.float32)  # float column truncates to f32
    expected = [math.floor(float(x) * 127 / float(ma) + 0.5) for x in v32]
    assert q == expected


# ---------------------------------------------------------------------------
# Z-order bucket scaling: for arbitrary numeric ranges (including the
# degenerate lo==hi column and negative values), buckets stay in
# [0, 65535], are monotone in the input, and map min→0 / max→65535
# (max only when the span is nonzero).
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(
        st.integers(-10_000, 10_000), min_size=1, max_size=12, unique=True
    )
)
def test_zorder_bucket_scaling(spark_prop, vals):
    from bigdata_imgprocessing_spark.operators.zorder import _bucket16

    spark = spark_prop
    lo, hi = min(vals), max(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    out = {
        r.v: r.b
        for r in df.select(
            "v", _bucket16(F.col("v"), F.lit(lo), F.lit(hi)).alias("b")
        ).collect()
    }
    assert all(0 <= b <= 65535 for b in out.values())
    assert out[lo] == 0
    if hi > lo:
        assert out[hi] == 65535
        ordered = sorted(vals)
        assert all(
            out[a] <= out[b] for a, b in zip(ordered, ordered[1:])
        )  # monotone
    else:
        assert out[hi] == 0  # degenerate single-value range


# --------------------------------------------------------------------------
# Real-format codecs (images/formats.py): any uint8 array must survive
# the encode→decode round trip bit-exactly — paddings, odd widths, every
# channel count (no Spark session needed; the codecs are pure).
# --------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_property(h, w, seed):
    import numpy as np

    from bigdata_imgprocessing_spark.images.formats import decode_bmp, encode_bmp

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(h, w, c, seed):
    import numpy as np

    from bigdata_imgprocessing_spark.images.formats import decode_png, encode_png

    shape = (h, w) if c == 1 else (h, w, c)
    img = np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


# ---------------------------------------------------------------------------
# PageRank iteration vs a plain-Python reference on arbitrary small
# undirected graphs — same damped update, same per-step 1e-9 grid
# rounding, so results must match EXACTLY (the grid contract is part of
# the operator's semantics, not a tolerance).
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_pagerank_matches_python_reference(spark_prop, edges):
    """Fixed-point PageRank vs a plain-Python integer reference on
    arbitrary small undirected graphs: all-BIGINT arithmetic means
    EXACT equality, no tolerance. (The float formulation this replaced
    diverged from both python round() [banker's] and Decimal-exact
    rounding at 9th-decimal halves — rank mass in 1e-12 integer units
    makes the whole rounding-semantics class impossible.)"""
    from bigdata_imgprocessing_spark.queries.dedup import _PR_SCALE

    spark = spark_prop
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    nodes = sorted(adj)
    n = len(nodes)
    pr = {v: _PR_SCALE // n for v in nodes}
    teleport = (15 * _PR_SCALE) // (100 * n)
    for _ in range(3):
        contrib: dict[int, int] = {v: 0 for v in nodes}
        for u in nodes:
            c = pr[u] // len(adj[u])
            for v in adj[u]:
                contrib[v] += c
        pr = {v: teleport + (85 * contrib[v]) // 100 for v in nodes}

    pairs = spark.createDataFrame(edges, "a int, b int")
    e = pairs.selectExpr("a as src", "b as dst").union(
        pairs.selectExpr("b as src", "a as dst")
    ).localCheckpoint()
    nd = e.groupBy("src").agg(F.count("*").alias("deg")).selectExpr(
        "src as v", "deg"
    ).cache()
    p = nd.select("v", "deg", F.lit(_PR_SCALE // n).alias("pr"))
    for _ in range(3):
        c = e.join(p, e.src == p.v).select(
            F.col("dst").alias("v"), F.expr("pr DIV deg").alias("c")
        )
        s = c.groupBy("v").agg(F.sum("c").alias("s"))
        p = nd.join(s, "v", "left").select(
            "v", "deg",
            (F.lit(teleport) + F.expr("85 * coalesce(s, 0L) DIV 100"))
            .cast("bigint").alias("pr"),
        )
    got = {r.v: r.pr for r in p.collect()}
    assert got == pr


# ---------------------------------------------------------------------------
# SemDeDup greedy rule vs brute force: a vector is removed iff it has a
# lower-id same-cell neighbor with cosine >= tau.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 1),  # cell
            st.lists(
                st.integers(-3, 3).map(float), min_size=3, max_size=3
            ),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_semdedup_ledger_matches_bruteforce(spark_prop, vecs):
    import math

    from bigdata_imgprocessing_spark.queries.similarity import semdedup_ledger

    spark = spark_prop
    tau = 0.35
    rows = [(i, c, v) for i, (c, v) in enumerate(vecs)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = max(math.sqrt(sum(x * x for x in a)), 1e-30)
        nb = max(math.sqrt(sum(x * x for x in b)), 1e-30)
        return round(d / (na * nb), 6)

    removed = set()
    for i, ci, vi in rows:
        for j, cj, vj in rows:
            if j < i and cj == ci and cos(vj, vi) >= tau:
                removed.add(i)
                break
    expect = {}
    for i, c, v in rows:
        n_vecs, n_rem = expect.get(c, (0, 0))
        expect[c] = (n_vecs + 1, n_rem + (1 if i in removed else 0))

    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<float>"
    )
    got = {
        r.cell: (r.n_vecs, r.n_removed)
        for r in semdedup_ledger(df, tau=tau).collect()
    }
    assert got == expect


def test_bpe_merge_replace_overlap_semantics(spark_prop):
    """BPE greedy merge = left-to-right non-overlapping replace: 'aaaa'
    with pair 'aa' must become 'AA' (two merges), 'aaa' must become
    'Aa' (one merge + leftover) — identical in Spark, DuckDB, and
    Python's str.replace (the reference semantics)."""
    import duckdb

    spark = spark_prop
    cases = ["aaaa", "aaa", "ababa", "aa"]
    got = {
        r.w: r.m
        for r in spark.createDataFrame([(w,) for w in cases], "w string")
        .select("w", F.replace("w", F.lit("aa"), F.lit("A")).alias("m"))
        .collect()
    }
    con = duckdb.connect()
    for w in cases:
        duck = con.execute("SELECT replace(?, 'aa', 'A')", [w]).fetchone()[0]
        assert got[w] == duck == w.replace("aa", "A")


# ---------------------------------------------------------------------------
# 2-d skyline operator vs brute-force dominance: a point is on the
# maximizing front iff no other point has strictly greater x and >= y.
# Exercises duplicate x values (collapsed to best-y), bucket boundaries,
# and single-bucket degenerate inputs.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_matches_bruteforce(spark_prop, pts):
    from bigdata_imgprocessing_spark.operators.skyline import pareto_front_2d

    df = spark_prop.createDataFrame(list(pts), "x int, y int")
    got = {
        (r.x, r.y)
        for r in pareto_front_2d(
            df, "x", "y", bucket=F.floor(F.col("x") / 7).cast("bigint")
        ).collect()
    }
    best: dict[int, int] = {}
    for x, y in pts:
        best[x] = max(best.get(x, y), y)
    exp = {
        (x, y)
        for x, y in best.items()
        if not any(x2 > x and y2 >= y for x2, y2 in best.items())
    }
    assert got == exp


# ---------------------------------------------------------------------------
# interval merge operator vs brute-force union: islands break exactly
# when a start is strictly after the running max end (touching
# intervals merge). Exercises duplicate starts, nested intervals, and
# zero-length intervals.
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 10)),
        min_size=1,
        max_size=30,
    )
)
def test_merge_intervals_matches_union(spark_prop, iv):
    from bigdata_imgprocessing_spark.operators.intervals import merge_intervals

    rows = [(k, s, s + ln) for k, s, ln in iv]
    df = spark_prop.createDataFrame(rows, "k int, s int, e int")
    got = sorted((r.k, r.s, r.e) for r in merge_intervals(df, "k", "s", "e").collect())
    exp = []
    for k in sorted({r[0] for r in rows}):
        ivs = sorted((s, e) for kk, s, e in rows if kk == k)
        cur_s, cur_e = ivs[0]
        for s, e in ivs[1:]:
            if s > cur_e:
                exp.append((k, cur_s, cur_e))
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        exp.append((k, cur_s, cur_e))
    assert got == sorted(exp)


def _py_cdc_chunks(text: str) -> list[str]:
    """Sequential reference of the CDC chunking rule: boundary AFTER
    every word whose 40-bit md5 hash is ≡ 0 mod 8; last chunk closes
    at end of document."""
    import hashlib

    words = text.split(" ")
    chunks, cur = [], []
    for w in words:
        cur.append(w)
        if int(hashlib.md5(w.encode()).hexdigest()[:10], 16) % 8 == 0:
            chunks.append(" ".join(cur))
            cur = []
    if cur:
        chunks.append(" ".join(cur))
    return chunks


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta eta th".split()),
            min_size=1,
            max_size=25,
        ).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_cdc_chunking_matches_reference(spark_prop, docs, tmp_path_factory):
    """The explode+window CDC formulation must produce EXACTLY the
    sequential chunking's multiset of (chunk-hash, length) — pinning
    boundary-after-word semantics, last-chunk closure, and that the
    window rebuild never reorders words within a chunk."""
    import collections
    import hashlib

    import duckdb as _duck

    from bigdata_imgprocessing_spark.queries import QUERIES

    tmp = tmp_path_factory.mktemp("cdc")
    con = _duck.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(docs))
    con.execute(
        f"""COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text))
        TO '{tmp}/documents.parquet' (FORMAT PARQUET)"""
    )
    got = {
        (r.len_bucket, r.n_chunks, r.n_chunk_types)
        for r in QUERIES["cdc_chunk_dedup"](spark_prop, str(tmp)).collect()
    }
    # reference: same histogram from the sequential chunker
    per_type = collections.defaultdict(lambda: [0, set()])
    type_seen = collections.defaultdict(set)
    occ = collections.Counter()
    for i, t in enumerate(docs):
        for c in _py_cdc_chunks(t):
            h = hashlib.md5(c.encode()).hexdigest()
            occ[h] += 1
            type_seen[h].add(i)
            per_type[h][0] = min(len(c.split(" ")), 8)
    buckets = collections.defaultdict(lambda: [0, 0])
    for h, n in occ.items():
        b = per_type[h][0]
        buckets[b][0] += n
        buckets[b][1] += 1
    want = {(b, v[0], v[1]) for b, v in buckets.items()}
    assert got == want


def _py_lcp_words(a: str, b: str) -> int:
    wa, wb = a.split(" "), b.split(" ")
    n = 0
    for x, y in zip(wa, wb):
        if x != y:
            break
        n += 1
    return n


@settings(max_examples=15, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa ab ba bb ca".split()),
            min_size=1,
            max_size=6,
        ).map(" ".join),
        min_size=2,
        max_size=14,
    )
)
def test_sorted_neighbor_lcp_matches_reference(
    spark_prop, docs, tmp_path_factory
):
    """The blocked window formulation must equal the sequential
    sorted-neighborhood reference: sort (text, doc_id), neighbor LCP
    within equal-first-word blocks, bucket histogram with full-prefix
    and exact-dup counts. The tiny 5-word alphabet forces heavy ties,
    shared prefixes, and exact duplicates."""
    import collections

    import duckdb as _duck

    from bigdata_imgprocessing_spark.queries import QUERIES

    tmp = tmp_path_factory.mktemp("lcp")
    con = _duck.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(docs))
    con.execute(
        f"""COPY (SELECT * FROM (VALUES {vals}) v(doc_id, text))
        TO '{tmp}/documents.parquet' (FORMAT PARQUET)"""
    )
    got = {
        r.lcp_bucket: (r.n_pairs, r.n_full_prefix, r.n_exact_dup)
        for r in QUERIES["sorted_neighbor_lcp"](spark_prop, str(tmp)).collect()
    }
    buckets = collections.defaultdict(lambda: [0, 0, 0])
    ordered = sorted(enumerate(docs), key=lambda kv: (kv[1], kv[0]))
    for (_, a), (_, b) in zip(ordered, ordered[1:]):
        if a.split(" ")[0] != b.split(" ")[0]:
            continue  # different first-word block
        l = _py_lcp_words(a, b)
        la, lb = len(a.split(" ")), len(b.split(" "))
        key = "5+" if l >= 5 else str(l)
        buckets[key][0] += 1
        buckets[key][1] += int(l == min(la, lb))
        buckets[key][2] += int(l == la == lb)
    want = {k: tuple(v) for k, v in buckets.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Banded hamming-k pigeonhole invariant, for ALL widths and k: any pair
# within distance k has at least one all-equal block under the
# _block_layout split (the property candidate generation relies on), and
# the operator's first-equal-block rule is well-defined (exactly one
# emitting block per pair). Pure-Python mirror of the Spark expressions
# (the Spark side is pinned separately by the brute-force join test).
# ---------------------------------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(
    bits=st.integers(2, 64),
    k=st.integers(1, 5),
    base=st.integers(0, 2**64 - 1),
    flips=st.lists(st.integers(0, 63), min_size=1, max_size=5),
    seed=st.integers(0, 2**31 - 1),
)
def test_hamming_k_pigeonhole_block_coverage(bits, k, base, flips, seed):
    from bigdata_imgprocessing_spark.operators.hamming import _block_layout

    k = min(k, bits - 1)
    a = base & ((1 << bits) - 1)
    b = a
    for f in flips[:k]:
        b ^= 1 << (f % bits)
    x = a ^ b
    dist = bin(x).count("1")
    layout = _block_layout(bits, k)
    # layout covers the width exactly, contiguously
    assert sum(w for _, w in layout) == bits
    assert layout[0][0] == 0
    zero_blocks = [
        i for i, (off, w) in enumerate(layout)
        if (x >> off) & ((1 << w) - 1) == 0
    ]
    if 1 <= dist <= k:
        # pigeonhole: a within-distance pair matches >= 1 block, and
        # the operator's emitting block (the first) is unique
        assert zero_blocks, (bits, k, bin(x))
        assert zero_blocks[0] == min(zero_blocks)
    if dist == 0:
        assert len(zero_blocks) == len(layout)


@settings(max_examples=15, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=60,
    ),
    qs=st.lists(
        st.integers(min_value=1, max_value=9), min_size=1, max_size=4
    ),
    nb=st.sampled_from([2, 7, 8192]),
)
def test_exact_rank_values_property(spark_prop, vals, qs, nb):
    """Histogram-refinement selection equals sorted-list indexing for
    arbitrary int64 multisets, rank sets, and bucket counts (nb=2
    forces maximal recursion depth ~ log2(span))."""
    from bigdata_imgprocessing_spark.operators.selection import (
        exact_rank_values,
    )

    df = spark_prop.createDataFrame([(v,) for v in vals], "c BIGINT")
    ref = sorted(vals)
    n = len(vals)
    ranks = sorted({(d, 1 + (d * (n - 1)) // 10) for d in qs})
    got = exact_rank_values(df, "c", list(ranks), n_buckets=nb)
    assert got == sorted((tag, k, ref[k - 1]) for tag, k in ranks)


# ---------------------------------------------------------------------------
# Paragraph-unit chunking vs a trivial Python reference: the
# transform/sequence/slice construction (dedup._para_units_sql, shared
# by the batch query, the streaming ingest, and both oracles) must
# produce exactly the naive non-overlapping 8-word windows for
# arbitrary token streams — including the <8-word degenerate (empty
# array, NOT a throw from a descending sequence()) and the
# tail-dropping boundary at every length mod 8.
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    toks=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3),
        min_size=0,
        max_size=20,
    )
)
def test_paragraph_units_match_python(spark_prop, toks):
    from pyspark.sql import Row

    from bigdata_imgprocessing_spark.operators.neardup import (
        PARA_W,
        para_units_sql,
    )

    text = " ".join(toks)
    got = (
        spark_prop.createDataFrame([Row(text=text)])
        .select(F.expr(para_units_sql("split(text, ' ')")).alias("v"))
        .collect()[0]
        .v
    )
    words = text.split(" ")  # split(" ") semantics: "" -> [""]
    chunks = [
        " ".join(words[i : i + PARA_W])
        for i in range(0, len(words) - PARA_W + 1, PARA_W)
    ]
    expected = [
        spark_prop.sql(
            "SELECT xxhash64(" + repr(c).replace('"', '\\"') + ")"
        ).collect()[0][0]
        for c in chunks
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# The deterministic hash rules (functions/helpers.py): the 40-bit md5 key
# agrees in Python, Spark and DuckDB, and so does the train/val/test
# split built on it — the agreement every md5-derived oracle relies on.
# ---------------------------------------------------------------------------

_H40_KEYS = [
    "",
    "0",
    "9999",
    "42_split",
    "1234_shard_7",
    "samp17",
    "img_0003_s2",
    "naïve café",
    "日本語のテキスト",
    "emoji \U0001F680 tail",
    " padded ",
]


def test_h40_agrees_across_engines(spark_prop):
    import hashlib

    import duckdb

    from bigdata_imgprocessing_spark.functions import duck_h40, h40, h40_of

    ref = {k: int(hashlib.md5(k.encode()).hexdigest()[:10], 16) for k in _H40_KEYS}
    assert {k: h40_of(k) for k in _H40_KEYS} == ref
    spark_got = {
        r.k: r.h
        for r in spark_prop.createDataFrame([(k,) for k in _H40_KEYS], "k string")
        .select("k", h40(F.col("k")).alias("h"))
        .collect()
    }
    assert spark_got == ref
    duck_got = dict(
        duckdb.connect()
        .execute(f"SELECT k, {duck_h40('k')} FROM (SELECT unnest(?) AS k)", [_H40_KEYS])
        .fetchall()
    )
    assert duck_got == ref


def test_split_agrees_across_engines(spark_prop):
    import hashlib

    import duckdb

    from bigdata_imgprocessing_spark.functions import duck_split, split_of

    def ref(i):
        b = int(hashlib.md5(f"{i}_split".encode()).hexdigest()[:10], 16) % 100
        return "train" if b < 90 else "val" if b < 95 else "test"

    n = 10_000
    spark_got = dict(
        spark_prop.range(n)
        .select("id", split_of(F.col("id")).alias("split"))
        .collect()
    )
    duck_got = dict(
        duckdb.connect()
        .execute(f"SELECT doc_id, {duck_split('doc_id')} FROM range({n}) t(doc_id)")
        .fetchall()
    )
    assert spark_got == duck_got == {i: ref(i) for i in range(n)}
    assert set(spark_got.values()) == {"train", "val", "test"}
