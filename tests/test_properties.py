"""Property-based tests (hypothesis): the Catalyst expression kernels
against independent pure-Python models of the reference semantics.

Each property generates a BATCH of inputs and runs one Spark job over
the batch, so hypothesis gets real coverage without per-example job
overhead. Models are written from the reference's documented semantics
(SURVEY §2.2 U1, §2.4 A1/A2, §2.3 P7), not from our Spark code.
"""

from __future__ import annotations

from urllib.parse import urlparse

import pytest
from hypothesis import given, settings, strategies as st

from cir_duplicate_detector_spark.functions.hashes import (
    bits_hamming,
    calculate_absolute_threshold,
    chunks_hamming,
    hex_to_bits,
    hex_to_chunks,
    hex_to_chunks64,
)
from cir_duplicate_detector_spark.functions.url import normalize_url

HEX = "0123456789abcdef"

hex_hash = st.text(alphabet=HEX, min_size=1, max_size=64)
hex_hash_256 = st.text(alphabet=HEX, min_size=64, max_size=64)
hex_hash_long = st.text(alphabet=HEX, min_size=1, max_size=96)

SETTINGS = settings(max_examples=8, deadline=None)


# --- pure-python models of the reference semantics -----------------------

def model_hex_to_binary(h: str, length: int = 256) -> str:
    # reference utils.py:32-52: bin(int(h,16)) zero-filled to `length`.
    return format(int(h, 16), "b").zfill(length)


def model_hamming(b1: str, b2: str) -> int:
    # reference utils.py:90-105: left-aligned mismatches; excess
    # positions of the longer string all count as mismatches.
    n = max(len(b1), len(b2))
    p1, p2 = b1.ljust(n, "\0"), b2.ljust(n, "\0")
    return sum(c1 != c2 for c1, c2 in zip(p1, p2))


def model_extract_base_url(url: str) -> str:
    # reference url.py:11-29: lowercase whole url, urlparse, emit
    # netloc + path [+ ";" params] [+ "?" query] (drop scheme+fragment).
    p = urlparse(url.lower())
    out = p.netloc + p.path
    if p.params:
        out += ";" + p.params
    if p.query:
        out += "?" + p.query
    return out


# --- url strategy: structured URL-ish strings ----------------------------

_host = st.from_regex(r"[A-Za-z0-9.\-]{1,20}", fullmatch=True)
# Params (";x") only after a path segment: a ";" directly on the netloc
# of a scheme-ful URL is the one documented divergence from urlparse
# (see functions/url.py docstring), so the model test excludes it.
_path = st.from_regex(
    r"(/[A-Za-z0-9._\-]{0,8}){0,4}(/[A-Za-z0-9._\-]{0,6};[A-Za-z0-9=]{0,6})?",
    fullmatch=True,
)
_query = st.one_of(st.just(""), st.from_regex(r"\?[A-Za-z0-9=&]{0,12}", fullmatch=True))
_frag = st.one_of(st.just(""), st.from_regex(r"#[A-Za-z0-9/?=]{0,12}", fullmatch=True))
# Schemes restricted to urllib's uses_params set: for unknown schemes
# urlparse does not split ;params (documented divergence, functions/url.py).
_scheme = st.sampled_from(["", "http://", "https://", "HTTPS://", "ftp://", "sips://"])

urls = st.builds(
    lambda s, h, p, q, f: s + h + p + q + f, _scheme, _host, _path, _query, _frag
)


def _run_batch(spark, values, expr, n_cols=1):
    if n_cols == 1:
        df = spark.createDataFrame([(v,) for v in values], "a string")
    else:
        df = spark.createDataFrame(list(values), "a string, b string")
    return [r[0] for r in df.select(expr).collect()]


@SETTINGS
@given(st.lists(hex_hash, min_size=1, max_size=32))
def test_hex_to_chunks_reassembles_to_int(spark, hashes):
    got = _run_batch(spark, hashes, hex_to_chunks("a").alias("c"))
    for h, chunks in zip(hashes, got):
        val = 0
        for c in chunks:
            val = (val << 32) | c
        assert val == int(h, 16), h


@SETTINGS
@given(st.lists(hex_hash_256, min_size=1, max_size=32))
def test_chunks64_equals_chunks32_value(spark, hashes):
    df = spark.createDataFrame([(v,) for v in hashes], "a string")
    cols64 = hex_to_chunks64("a")
    rows = df.select(
        hex_to_chunks("a").alias("c32"),
        *[c.alias(f"h{i}") for i, c in enumerate(cols64)],
    ).collect()
    for h, r in zip(hashes, rows):
        v32 = 0
        for c in r["c32"]:
            v32 = (v32 << 32) | c
        v64 = 0
        for i in range(4):
            v64 = (v64 << 64) | (r[f"h{i}"] & ((1 << 64) - 1))
        assert v64 == v32 == int(h, 16), h


@SETTINGS
@given(
    st.lists(
        st.tuples(hex_hash_256, hex_hash_256), min_size=1, max_size=32
    )
)
def test_chunks_hamming_matches_popcount(spark, pairs):
    df = spark.createDataFrame(list(pairs), "a string, b string")
    got = [
        r[0]
        for r in df.select(
            chunks_hamming(hex_to_chunks("a"), hex_to_chunks("b")).alias("d")
        ).collect()
    ]
    for (a, b), d in zip(pairs, got):
        assert d == bin(int(a, 16) ^ int(b, 16)).count("1"), (a, b)


@SETTINGS
@given(st.lists(hex_hash_long, min_size=1, max_size=32))
def test_hex_to_bits_matches_reference_zfill(spark, hashes):
    got = _run_batch(spark, hashes, hex_to_bits("a").alias("b"))
    for h, bits in zip(hashes, got):
        assert bits == model_hex_to_binary(h), h


@SETTINGS
@given(
    st.lists(st.tuples(hex_hash_long, hex_hash_long), min_size=1, max_size=32)
)
def test_bits_hamming_matches_reference_padding(spark, pairs):
    df = spark.createDataFrame(list(pairs), "a string, b string")
    got = [
        r[0]
        for r in df.select(
            bits_hamming(hex_to_bits("a"), hex_to_bits("b")).alias("d")
        ).collect()
    ]
    for (a, b), d in zip(pairs, got):
        want = model_hamming(model_hex_to_binary(a), model_hex_to_binary(b))
        assert d == want, (a, b)


@SETTINGS
@given(st.lists(urls, min_size=1, max_size=32))
def test_normalize_url_matches_urlparse_model(spark, batch):
    got = _run_batch(spark, batch, normalize_url("a").alias("u"))
    for u, norm in zip(batch, got):
        assert norm == model_extract_base_url(u), u


@given(st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_absolute_threshold_matches_reference_rounding(t):
    assert calculate_absolute_threshold(256, t) == int(round(256 * (1 - t)))


@pytest.mark.parametrize("bad", [-0.1, 1.1, "abc", None])
def test_absolute_threshold_rejects_invalid(bad):
    with pytest.raises(ValueError):
        calculate_absolute_threshold(256, bad)


# --- chunking invariants --------------------------------------------------

doc_text = st.text(
    alphabet=st.sampled_from("ab \t\n"), min_size=0, max_size=400
)


def model_chunks(text: str, chunk: int = 64, step: int = 48):
    toks = [t for t in __import__("re").split(r"\s+", text) if t != ""]
    starts = list(range(1, max(len(toks), 1) + 1, step))
    return [
        (i, s, len(toks[s - 1 : s - 1 + chunk]))
        for i, s in enumerate(starts)
    ]


@SETTINGS
@given(st.lists(doc_text, min_size=1, max_size=24))
def test_chunk_documents_matches_model(spark, batch):
    from cir_duplicate_detector_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        list(enumerate(batch)), "doc_id bigint, text string"
    )
    got = {}
    for r in chunk_documents(docs).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["n_chunk_tokens"])
        )
    for doc_id, text in enumerate(batch):
        want = model_chunks(text)
        assert sorted(got[doc_id]) == want, (doc_id, text)
        # Invariant: windows cover every token (last window reaches the
        # end) and consecutive windows overlap by chunk-step tokens.
        n = len([t for t in __import__("re").split(r"\s+", text) if t])
        _, last_start, last_len = want[-1]
        assert last_start - 1 + last_len == max(n, 0) or n == 0


# --- bucketed range join vs the naive BETWEEN model ----------------------

ts_val = st.integers(min_value=0, max_value=500)
interval = st.tuples(
    st.integers(min_value=0, max_value=500),
    st.integers(min_value=0, max_value=500),
)


@SETTINGS
@given(
    events=st.lists(ts_val, min_size=0, max_size=12),
    wins=st.lists(interval, min_size=0, max_size=6),
    bucket=st.sampled_from([1, 7, 60, 1000]),
)
def test_range_join_matches_between_model(spark, events, wins, bucket):
    # Model: plain nested-loop over the half-open BETWEEN predicate.
    expect = sorted(
        (ei, wi)
        for ei, ts in enumerate(events)
        for wi, (s, e) in enumerate(wins)
        if s <= ts < e
    )
    from cir_duplicate_detector_spark.operators.events import range_join

    ev = spark.createDataFrame(
        [(i, 1, ts) for i, ts in enumerate(events)],
        "event_id bigint, user_id bigint, ts_us bigint",
    )
    wn = spark.createDataFrame(
        [(i, 1, s, e) for i, (s, e) in enumerate(wins)],
        "win_id bigint, user_id bigint, start_us bigint, end_us bigint",
    )
    got = sorted(
        (r["event_id"], r["win_id"])
        for r in range_join(ev, wn, bucket_us=bucket).collect()
    )
    assert got == expect


# --- histogram quantile sketch vs exact-percentile model ----------------

@SETTINGS
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=60,
    )
)
def test_histogram_quantiles_bracket_exact(spark, vals):
    """One-sided bound with one-bucket-width error: for each p, the
    estimate is >= the value at rank ceil(n*p/100) (1-indexed ascending)
    and <= it + (max-min)/nbins."""
    from cir_duplicate_detector_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = spark.createDataFrame(
        [(float(v), "g") for v in vals], "value double, event_type string"
    )
    row = histogram_quantiles(ev).collect()[0]
    s = sorted(vals)
    width = (s[-1] - s[0]) / 64
    for p in (50, 90, 99):
        exact = s[(len(s) * p + 99) // 100 - 1]
        est = row[f"est_p{p}"]
        assert exact - 1e-9 <= est <= exact + width + 1e-6, (p, est, exact)


# --------------------------------------------- PPM codec round-trip

@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.binary(min_size=0, max_size=4),
    st.booleans(),
)
@settings(max_examples=50, deadline=None)
def test_ppm_encode_decode_roundtrip(w, h, comment, with_comment):
    # encode an arbitrary raster (deterministic fill) with and without
    # header comments; decode must reproduce the exact pixels
    import numpy as np

    from cir_duplicate_detector_spark.operators.multimodal import decode_ppm

    raster = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    head = b"P6\n"
    if with_comment:
        # comments cannot contain a newline (it terminates them)
        head += b"# " + comment.replace(b"\n", b" ") + b"\n"
    payload = head + f"{w} {h}\n255\n".encode() + raster
    arr = decode_ppm(payload)
    assert arr.shape == (h, w, 3)
    assert bytes(arr.tobytes()) == raster
    assert arr.dtype == np.uint8


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),
            st.integers(min_value=1, max_value=6),
            st.booleans(),
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=0, max_value=200),
)
@settings(max_examples=50, deadline=None)
def test_concat_ppm_stream_parses_every_frame(dims, seed):
    # The concatenated-PPM "video" contract video_frame_ahash iterates
    # on: frames of ARBITRARY mixed sizes (some with header comments)
    # packed back-to-back must parse out one by one with exact pixels
    # and exact offsets, ending precisely at the payload's end.
    from cir_duplicate_detector_spark.operators.multimodal import (
        _parse_ppm_at,
    )

    frames, payload = [], b""
    for fno, (w, h, comment) in enumerate(dims):
        raster = bytes(
            (i * 31 + seed + fno) % 256 for i in range(w * h * 3)
        )
        head = b"P6\n"
        if comment:
            head += b"# frame %d\n" % fno
        payload += head + f"{w} {h}\n255\n".encode() + raster
        frames.append((w, h, raster))
    pos = 0
    for w, h, raster in frames:
        arr, pos = _parse_ppm_at(payload, pos)
        assert arr.shape == (h, w, 3)
        assert bytes(arr.tobytes()) == raster
    assert pos == len(payload)


# ------------------------------------ PDQ pair builders vs brute force

def _flip_bits(h: int, k: int, rng) -> int:
    for b in rng.sample(range(256), k):
        h ^= 1 << b
    return h


@st.composite
def pdq_corpora(draw):
    """Small corpora of 1-3 hashes per entry: hashes repeat within and
    across entries, and near-copies sit at the bound and one bit either
    side of it."""
    import random

    t = draw(st.sampled_from([0.9, 0.95]))
    n = calculate_absolute_threshold(256, t)
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    pool = [rng.getrandbits(256) for _ in range(draw(st.integers(1, 3)))]
    entries = []
    for i in range(draw(st.integers(2, 9))):
        hashes = []
        for _ in range(draw(st.integers(1, 3))):
            kind = draw(st.sampled_from(["pool", "near", "far", "again"]))
            if kind == "again" and hashes:
                h = hashes[-1]
            elif kind == "far":
                h = rng.getrandbits(256)
            else:
                h = rng.choice(pool)
                if kind == "near":
                    h = _flip_bits(h, n + draw(st.integers(-1, 1)), rng)
            hashes.append(h)
        entries.append((f"e{i}", hashes))
    probes = sorted(
        draw(
            st.sets(
                st.sampled_from([e[0] for e in entries] + ["missing"]),
                min_size=1,
            )
        )
    )
    return t, n, entries, probes


def model_pdq_pairs(entries, n, probes):
    # reference naive_duplicate_detector.py: every probed entry against
    # every other entry, min Hamming distance over their hash lists.
    out = {}
    for a, ha in entries:
        if probes is not None and a not in probes:
            continue
        for b, hb in entries:
            if a != b:
                d = min(bin(x ^ y).count("1") for x in ha for y in hb)
                if d <= n:
                    out[(a, b)] = d
    return out


def model_pdq_duplicates(pairs):
    # reference pdq_hash.py:18-73: both orientations, min distance,
    # per-entry lists sorted by duplicate index.
    best = {}
    for (a, b), d in pairs.items():
        for key in ((a, b), (b, a)):
            best[key] = min(best.get(key, d), d)
    per = {}
    for (a, b), d in sorted(best.items()):
        dups, sims = per.setdefault(a, ([], []))
        dups.append(b)
        sims.append(1 - d / 256)
    return per


@SETTINGS
@given(pdq_corpora())
def test_pdq_duplicates_match_brute_force(spark, corpus):
    from cir_duplicate_detector_spark.operators.pdq import (
        find_pdq_hash_duplicates,
        get_pdq_fuzzy_duplicates,
    )

    t, n, entries, probes = corpus
    # Cached, so the eight calls below scan it without Python workers.
    df = spark.createDataFrame(
        [(i, [f"{h:064x}" for h in hs]) for i, hs in entries],
        "index string, pdq_hash array<string>",
    ).cache()
    for probe in (None, probes):
        want = model_pdq_pairs(entries, n, probe)
        for method in ("naive", "banded"):
            got = get_pdq_fuzzy_duplicates(df, t, probe, method).collect()
            assert len(got) == len(want)
            assert {(r["index"], r.dup): r.dist for r in got} == want
            got = find_pdq_hash_duplicates(df, probe, t, method).collect()
            assert {
                r["index"]: (r.pdq_hash_duplicates, r.pdq_hash_similarities)
                for r in got
            } == model_pdq_duplicates(want)
    df.unpersist()
