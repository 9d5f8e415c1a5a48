"""Winnowing substring-dedup tests: numpy kernels vs naive references,
the Schleimer-Wilkerson-Aiken detection guarantee, and the Spark
pipeline end-to-end on planted duplicate passages."""

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from sedona_db_spark.textops.substring import (
    _P, _window_hashes, _winnow_positions,
    winnow_fingerprints, substring_dup_spans, substring_dup_stats,
)


def naive_hashes(data, k):
    out = []
    for i in range(len(data) - k + 1):
        h = 0
        for t in range(k):
            h = (h * int(_P) + int(data[i + t]) + 1) % (1 << 64)
        out.append(h)
    return np.array(out, dtype=np.uint64)


def naive_winnow(h, w):
    m = len(h)
    if m == 0:
        return []
    sel = set()
    if m <= w:
        mn = h.min()
        sel.add(max(i for i in range(m) if h[i] == mn))
    else:
        for s in range(m - w + 1):
            win = h[s:s + w]
            mn = win.min()
            sel.add(s + max(i for i in range(w) if win[i] == mn))
    return sorted(sel)


def test_window_hashes_match_naive():
    rng = np.random.default_rng(42)
    for n in (0, 1, 2, 3, 7, 16, 17, 40, 61):
        data = rng.integers(0, 256, n, dtype=np.uint8)
        for k in (2, 3, 8, 16):
            got = _window_hashes(data, k)
            want = naive_hashes(data, k)
            assert np.array_equal(got, want), (n, k)


def test_window_hashes_content_determined():
    """Equal k-byte content hashes equal regardless of position/context."""
    rng = np.random.default_rng(7)
    core = rng.integers(0, 256, 16, dtype=np.uint8)
    a = np.concatenate([rng.integers(0, 256, 33, dtype=np.uint8), core])
    b = np.concatenate([core, rng.integers(0, 256, 9, dtype=np.uint8)])
    assert _window_hashes(a, 16)[33] == _window_hashes(b, 16)[0]


def test_winnow_positions_match_naive():
    rng = np.random.default_rng(3)
    for m in (1, 2, 5, 31, 32, 33, 100, 257):
        for w in (1, 4, 32):
            # small value range forces plenty of ties -> exercises the
            # rightmost-min rule
            h = rng.integers(0, 6, m).astype(np.uint64)
            got = _winnow_positions(h, w).tolist()
            assert got == naive_winnow(h, w), (m, w)
    # and with realistic unique hashes
    h = rng.integers(0, 1 << 63, 500).astype(np.uint64)
    assert _winnow_positions(h, 32).tolist() == naive_winnow(h, 32)


def test_batch_matches_per_doc():
    """_winnow_batch is bitwise-identical to the per-document kernels,
    across doc-size mixes, NUL bytes, and empty/short docs."""
    from sedona_db_spark.textops.substring import _winnow_batch
    rng = np.random.default_rng(23)
    for trial in range(20):
        k, w = (8, 16) if trial % 2 else (16, 32)
        raws = []
        for _ in range(rng.integers(1, 12)):
            n = int(rng.choice([0, 3, k - 1, k, k + 1, w + k - 2,
                                w + k, 200, 700]))
            raws.append(bytes(rng.integers(0, 256, n, dtype=np.uint8)))
        raws.append(b"\x00" * (k + 5))          # NUL-heavy doc
        dd, sel, H, starts, _buf = _winnow_batch(raws, k, w)
        got = {}
        for d, s in zip(dd, sel):
            got.setdefault(int(d), []).append(
                (int(s - starts[d]), int(H[s])))
        for d, raw in enumerate(raws):
            data = np.frombuffer(raw, dtype=np.uint8)
            h = _window_hashes(data, k)
            if not len(h):
                assert d not in got
                continue
            pos = _winnow_positions(h, w)
            want = [(int(p), int(h[p])) for p in pos]
            assert got.get(d, []) == want, (trial, d)
    # an all-short batch (every doc shorter than k) selects nothing and
    # still returns the full 5-tuple the mapInPandas caller unpacks
    dd, sel, H, starts, buf = _winnow_batch([b"short", b"tiny"], 16, 32)
    assert len(dd) == len(sel) == len(H) == 0
    assert list(starts) == [0, 5, 9] and buf.tobytes() == b"shorttiny"


def test_winnowing_guarantee():
    """Two byte strings sharing >= w + k - 1 bytes both select at least
    one identical-content k-gram inside the shared region."""
    rng = np.random.default_rng(11)
    k, w = 8, 16
    for trial in range(50):
        shared = rng.integers(0, 256, w + k - 1, dtype=np.uint8)
        docs = []
        for _ in range(2):
            pre = rng.integers(0, 256, rng.integers(0, 200), dtype=np.uint8)
            post = rng.integers(0, 256, rng.integers(0, 200), dtype=np.uint8)
            data = np.concatenate([pre, shared, post])
            h = _window_hashes(data, k)
            pos = _winnow_positions(h, w)
            inside = [(int(p), bytes(data[p:p + k])) for p in pos
                      if len(pre) <= p <= len(pre) + w - 1]
            docs.append(set(g for _, g in inside))
        assert docs[0] & docs[1], trial


def _mk_corpus(rng, n_docs=24):
    """Hex-soup docs (chance 16-byte collisions ~ 0) with planted shared
    passages: (0,1) share a long passage, (2,3) share a shorter one."""
    def blob(n):
        return "".join(rng.choice("0123456789abcdef") for _ in range(n))
    texts = {i: blob(rng.randrange(200, 600)) for i in range(n_docs)}
    passage_long = blob(300)
    passage_short = blob(16 + 32 - 1)      # exactly k + w - 1
    texts[0] = blob(100) + passage_long + blob(50)
    texts[1] = blob(37) + passage_long + blob(120)
    texts[2] = passage_short + blob(80)
    texts[3] = blob(211) + passage_short
    return texts, (100, 37, len(passage_long)), (0, 211)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(99)
    texts, long_at, short_at = _mk_corpus(rng)
    df = spark.createDataFrame(sorted(texts.items()),
                               "doc_id long, text string").cache()
    return df, long_at, short_at


def test_spans_detect_planted_duplicates(corpus):
    df, (a0, b0, plen), (c0, d0) = corpus
    spans = substring_dup_spans(df, k=16, w=32).collect()
    by_pair = {}
    for r in spans:
        by_pair.setdefault((r["doc_a"], r["doc_b"]), []).append(r)
    assert (0, 1) in by_pair and (2, 3) in by_pair
    # no accidental pairs in the hex soup
    assert set(by_pair) == {(0, 1), (2, 3)}
    # the long passage: one span, offsets inside the planted region,
    # aligned on the same diagonal, covering most of the passage
    best = max(by_pair[(0, 1)], key=lambda r: r["span_len"])
    assert best["start_a"] - a0 == best["start_b"] - b0
    assert a0 <= best["start_a"] <= a0 + 32 + 16 - 2
    assert best["span_len"] >= plen - 2 * (32 + 16 - 2)
    # the minimal-length passage still surfaces (the guarantee bound)
    r = by_pair[(2, 3)][0]
    assert c0 <= r["start_a"] <= c0 + 47 and d0 <= r["start_b"] <= d0 + 47


def test_span_merging_single_diagonal(corpus):
    df, (a0, b0, plen), _ = corpus
    spans = [r for r in substring_dup_spans(df, k=16, w=32).collect()
             if (r["doc_a"], r["doc_b"]) == (0, 1)]
    # a 300-byte verbatim region merges into ONE span, not per-fingerprint
    assert len(spans) == 1 and spans[0]["n_fps"] >= 3


def test_fingerprint_density(corpus):
    """Winnowing samples ~2/(w+1) of windows — check the density is in a
    sane band (not all windows, not degenerate)."""
    df, _, _ = corpus
    fp = winnow_fingerprints(df, k=16, w=32)
    n_fp = fp.count()
    total_windows = sum(
        max(len(t) - 15, 0)
        for t, in df.select("text").toPandas().itertuples(index=False))
    assert 0.02 <= n_fp / total_windows <= 0.2


def test_max_df_cap_drops_boilerplate(spark):
    rng = random.Random(5)
    boiler = "".join(rng.choice("0123456789abcdef") for _ in range(120))
    rows = [(i, boiler + "".join(rng.choice("0123456789abcdef")
                                 for _ in range(100)))
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the df of the boilerplate prefix -> no pairs survive
    assert substring_dup_spans(df, k=16, w=32, max_df=4).count() == 0
    # without the cap the boilerplate matches everything
    assert substring_dup_spans(df, k=16, w=32, max_df=None).count() > 0


def test_join_is_exact_on_gram_not_just_hash(spark):
    """The join carries the gram bytes, so even a forged hash collision
    cannot produce a false pair (content equality is checked)."""
    fp_schema = "doc_id long, pos long, fp long, gram string"
    a = spark.createDataFrame([(1, 0, 123, "abcdefghabcdefgh")], fp_schema)
    # same fp, different gram: must not join
    import sedona_db_spark.textops.substring as S
    orig = S.winnow_fingerprints
    try:
        S.winnow_fingerprints = lambda df, k, w, tc, ic: a.union(
            spark.createDataFrame([(2, 0, 123, "XXXXXXXXXXXXXXXX")],
                                  fp_schema))
        assert S.substring_dup_spans(spark.createDataFrame(
            [(0, "x")], "doc_id long, text string")).count() == 0
    finally:
        S.winnow_fingerprints = orig


def test_dup_stats_planted_corpus(corpus):
    df, (a0, b0, plen), (c0, d0) = corpus
    stats = {r["doc_id"]: r for r in
             substring_dup_stats(df, k=16, w=32).collect()}
    # every doc is reported; soup docs have zero duplication
    assert len(stats) == df.count()
    for i, r in stats.items():
        if i not in (0, 1, 2, 3):
            assert r["dup_bytes"] == 0 and r["dup_frac"] == 0.0
    # docs 0/1 share a 300-byte passage: the detected core is within the
    # winnowing localization bound of the true extent, never beyond it
    for i in (0, 1):
        assert plen - 2 * (32 + 16 - 2) <= stats[i]["dup_bytes"] <= plen
        assert stats[i]["dup_frac"] == (
            stats[i]["dup_bytes"] / stats[i]["n_bytes"])
    # docs 2/3 share the minimal w+k-1 passage
    assert stats[2]["dup_bytes"] >= 16 and stats[3]["dup_bytes"] >= 16


def test_dup_stats_merges_overlapping_intervals(spark):
    """One region duplicated against MANY partners counts once."""
    rng = random.Random(17)
    core = "".join(rng.choice("0123456789abcdef") for _ in range(150))
    rows = [(0, core)]
    for i in range(1, 6):   # five partners all sharing doc 0's whole text
        pad = "".join(rng.choice("0123456789abcdef") for _ in range(60))
        rows.append((i, pad + core))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    st = {r["doc_id"]: r for r in
          substring_dup_stats(df, k=16, w=32, max_df=None).collect()}
    # doc 0 is duplicated against 5 partners but holds only 150 bytes
    assert st[0]["dup_bytes"] <= 150
    assert st[0]["dup_frac"] <= 1.0
    assert st[0]["dup_bytes"] >= 150 - (32 + 16 - 2)


def test_unicode_positions_are_byte_offsets(spark):
    """Multi-byte UTF-8 text: positions index the encoded bytes."""
    t = "é" * 10 + "0123456789abcdef" * 4   # é is 2 bytes
    df = spark.createDataFrame([(1, t)], "doc_id long, text string")
    fp = winnow_fingerprints(df, k=16, w=8).collect()
    raw = t.encode("utf-8")
    for r in fp:
        assert raw[r["pos"]:r["pos"] + 16] == r["gram"].encode("latin-1")
