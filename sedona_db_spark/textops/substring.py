"""Cross-document exact-substring duplication via winnowing fingerprints.

Large training corpora carry long verbatim duplicate passages that
document-level near-dup (MinHash/SimHash) misses when the surrounding
text differs — the motivation of suffix-array substring dedup (Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better").
A distributed suffix array is impractical as a Spark primitive; the
standard shuffle-friendly equivalent is local fingerprint WINNOWING
(Schleimer, Wilkerson & Aiken, SIGMOD 2003) + a corpus-wide equi-join:

1. per document, hash every k-byte window with a polynomial rolling
   hash (prefix-product formulation, fully vectorized — no per-byte
   Python loop);
2. in every run of ``w`` consecutive window hashes select the RIGHTMOST
   minimal one (classic winnowing; consecutive runs mostly repeat the
   same pick, so ~2/(w+1) of positions survive).  Guarantee: two
   documents sharing a substring of length >= w + k - 1 select at least
   one identical-content k-gram each;
3. join selections across documents on (hash, gram) — carrying the
   k-byte gram makes the match EXACT, the hash only bucketizes — with a
   document-frequency cap on boilerplate grams (same design as the
   n-gram inverted index in textops.dedup);
4. merge matched positions per (doc_a, doc_b, offset-delta) diagonal
   into maximal spans: inside one shared region consecutive selections
   are at most w + k apart, so a gap-bounded sessionization over
   pos_a reconstructs the span core.

Reported spans cover the fingerprint-selected core of each duplicate
region; boundaries are tight to within w + k - 2 bytes of the true
duplicate extent (the winnowing localization bound).  Positions are
0-based byte offsets of the UTF-8 encoding, like textops.analysis's
document fingerprint.

Scale design: fingerprinting is an Arrow-batched mapInPandas (numpy
prefix products per batch, ~n·w/8 bytes of temporaries per doc via
chunked sliding-window minima); the only shuffle joins ~2n/w
fingerprints per document on their hash, df-capped so a boilerplate
gram can never fan out quadratically; span merging is one window
function over the matched pairs.  Nothing is ever all-pairs in the
document count.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

# odd polynomial base (invertible mod 2^64 for the prefix-product
# form); same hash FAMILY as textops.analysis's fingerprint but a
# distinct base — windows hash to h = sum (byte+1) * P^(k-1-t) mod 2^64
_P = np.uint64(1_000_003)


def _pinv64(p: int) -> int:
    """Multiplicative inverse of odd p mod 2^64 (Newton iteration)."""
    x = p
    for _ in range(6):
        x = (x * (2 - p * x)) % (1 << 64)
    return x


_PINV = np.uint64(_pinv64(int(_P)))


def _window_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Rolling hash of every k-byte window of ``data`` (uint8), mod 2^64.

    Prefix-product formulation: pre[j] = sum_{i<j} (c_i+1) P^{j-1-i}
    = P^{j-1} * cumsum((c_i+1) * Pinv^i); window hash
    W(i) = pre[i+k] - pre[i] * P^k.  All uint64 wrap-around arithmetic,
    no per-byte loop.
    """
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        pinv_pow = np.empty(n, dtype=np.uint64)
        pinv_pow[0] = 1
        if n > 1:
            np.multiply.accumulate(np.full(n - 1, _PINV, dtype=np.uint64),
                                   out=pinv_pow[1:])
        terms = (data.astype(np.uint64) + np.uint64(1)) * pinv_pow
        csum = np.cumsum(terms, dtype=np.uint64)
        p_pow = np.empty(n, dtype=np.uint64)
        p_pow[0] = 1
        if n > 1:
            np.multiply.accumulate(np.full(n - 1, _P, dtype=np.uint64),
                                   out=p_pow[1:])
        pre = csum * p_pow                     # pre[j] for j = 1..n
        pk = np.uint64(pow(int(_P), k, 1 << 64))
        out = pre[k - 1:].copy()               # pre[s+k], s = 0..n-k
        out[1:] -= pre[:n - k] * pk            # minus pre[s]·P^k (pre[0]=0)
        return out


def _winnow_positions(h: np.ndarray, w: int) -> np.ndarray:
    """0-based positions selected by rightmost-min winnowing over runs
    of ``w`` consecutive window hashes (deduplicated, ascending)."""
    m = len(h)
    if m == 0:
        return np.empty(0, dtype=np.int64)
    if m <= w:
        return np.array([m - 1 - int(np.argmin(h[::-1]))], dtype=np.int64)
    # sliding-window rightmost argmin: argmin over the column-reversed
    # strided view is the LEFTMOST min of the reversed window, i.e. the
    # rightmost min of the forward window.  The view is never
    # materialized — argmin reduces over strides, so temporaries stay
    # O(windows), not O(windows x w).
    view = np.lib.stride_tricks.sliding_window_view(h, w)
    am = np.argmin(view[:, ::-1], axis=1)
    sel = np.arange(m - w + 1, dtype=np.int64) + (w - 1) - am
    return np.unique(sel)


def _winnow_batch(raws: list, k: int, w: int):
    """Winnowed selections for MANY byte strings in one numpy pass.

    The rolling hash is content-determined (position-independent), so
    hashing the CONCATENATION of all documents yields, for every window
    fully inside a document, the exact per-document hash — one
    prefix-product pass replaces len(raws) small ones (the per-doc
    formulation was numpy-call-bound at web-page sizes).  The global
    sliding argmin is likewise computed once; only rows whose window
    lies fully inside one document are kept, which is precisely the
    per-document winnowing row set.  Documents with fewer than w + 1
    windows take the cheap per-doc path (their whole-slice rightmost
    min isn't a full-width window of the global view).

    Returns (doc_index, global_sel, H, starts, buf): selection positions
    are into the concatenated buffer ``buf`` (returned so callers slice
    grams without re-concatenating the batch — the largest per-batch
    allocation happens once, round-8 ADVICE).
    Bitwise-identical to _window_hashes + _winnow_positions per doc
    (pinned by tests/test_substring.py::test_batch_matches_per_doc).
    """
    lens = np.array([len(r) for r in raws], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)])
    buf = np.frombuffer(b"".join(raws), dtype=np.uint8)
    H = _window_hashes(buf, k)
    m = np.maximum(lens - k + 1, 0)          # windows per doc
    sel_doc, sel_pos = [], []
    big = np.flatnonzero(m > w)
    if len(big) and len(H):
        view = np.lib.stride_tricks.sliding_window_view(H, w)
        am = np.argmin(view[:, ::-1], axis=1)
        # valid global window starts per big doc: [s, s + m - w]
        gmask = np.zeros(len(view) + 1, dtype=np.int64)
        np.add.at(gmask, starts[big], 1)
        np.add.at(gmask, starts[big] + m[big] - w + 1, -1)
        rows = np.flatnonzero(np.cumsum(gmask[:-1]) > 0)
        sel = np.unique(rows + (w - 1) - am[rows])
        sel_doc.append(np.searchsorted(starts, sel, side="right") - 1)
        sel_pos.append(sel)
    for d in np.flatnonzero((m >= 1) & (m <= w)):
        h = H[starts[d]:starts[d] + m[d]]
        p = np.array([m[d] - 1 - int(np.argmin(h[::-1]))], dtype=np.int64)
        sel_doc.append(np.full(1, d, dtype=np.int64))
        sel_pos.append(p + starts[d])
    if not sel_doc:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                H, starts, buf)
    dd = np.concatenate(sel_doc)
    ss = np.concatenate(sel_pos)
    o = np.lexsort((ss, dd))
    return dd[o], ss[o], H, starts, buf


def winnow_fingerprints(df: DataFrame, k: int = 16, w: int = 32,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, fp, gram) winnowed fingerprints of every document.

    ``pos`` is the 0-based byte offset of the selected k-byte window,
    ``fp`` its rolling hash (as signed int64 bits), ``gram`` the window
    bytes decoded latin-1 (byte-faithful carrier so the join can verify
    content equality exactly).
    """
    if k < 2 or w < 1:
        raise ValueError("winnow_fingerprints requires k >= 2, w >= 1")
    # id field typed from the input schema: a string/other id would
    # otherwise silently miscast through the hardcoded long (round-8
    # ADVICE)
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType
    out_schema = StructType([
        StructField(id_col, df.schema[id_col].dataType),
        StructField("pos", LongType()),
        StructField("fp", LongType()),
        StructField("gram", StringType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            dids = b[id_col].to_numpy()
            raws = [("" if t is None else t).encode("utf-8")
                    for t in b[text_col].to_numpy(dtype=object)]
            dd, sel, H, starts, buf = _winnow_batch(raws, k, w)
            if not len(sel):
                continue
            gb = buf[sel[:, None] + np.arange(k)]     # (n_sel, k) bytes
            # one whole-buffer latin-1 decode + slicing (an S{k} numpy
            # view would silently strip trailing NUL bytes per item)
            gs = gb.tobytes().decode("latin-1")
            grams = [gs[i * k:(i + 1) * k] for i in range(len(sel))]
            yield pd.DataFrame({
                id_col: dids[dd],
                "pos": sel - starts[dd],
                "fp": H[sel].view(np.int64),
                "gram": grams,
            })

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def substring_dup_spans(df: DataFrame, k: int = 16, w: int = 32,
                        max_df: int | None = 64,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Maximal cross-document duplicate-substring spans.

    Returns (doc_a, doc_b, start_a, start_b, span_len, n_fps) with
    doc_a < doc_b: the fingerprint-core of every shared substring of
    length >= w + k - 1 (shorter shared strings may or may not surface —
    the winnowing guarantee is one-sided).  ``span_len`` measures from
    the first selected window start to the last selected window end.

    ``max_df`` drops grams selected by more than that many documents
    before the join (boilerplate guard — same role as the df cap in the
    n-gram inverted index).  ``None`` disables the cap.
    """
    fp = winnow_fingerprints(df, k, w, text_col, id_col)
    if max_df is not None:
        hot = (fp.groupBy("fp", "gram")
                 .agg(F.countDistinct(id_col).alias("_df"))
                 .where(F.col("_df") > max_df)
                 .select("fp", "gram"))
        fp = fp.join(hot, ["fp", "gram"], "left_anti")
    a = fp.select(F.col(id_col).alias("doc_a"), F.col("pos").alias("pos_a"),
                  "fp", "gram")
    b = fp.select(F.col(id_col).alias("doc_b"), F.col("pos").alias("pos_b"),
                  "fp", "gram")
    pairs = (a.join(b, ["fp", "gram"])
              .where(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b", "pos_a", "pos_b"))
    delta = (F.col("pos_a") - F.col("pos_b")).alias("delta")
    pairs = pairs.select("doc_a", "doc_b", "pos_a", "pos_b", delta)
    win = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pos_a")
    gap = F.col("pos_a") - F.lag("pos_a").over(win)
    spans = (pairs
             .withColumn("_new", F.when(gap.isNull() | (gap > w + k), 1)
                                  .otherwise(0))
             .withColumn("_sid", F.sum("_new").over(
                 win.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("doc_a", "doc_b", "delta", "_sid")
             .agg(F.min("pos_a").alias("start_a"),
                  F.min("pos_b").alias("start_b"),
                  (F.max("pos_a") + k - F.min("pos_a")).alias("span_len"),
                  F.count(F.lit(1)).alias("n_fps")))
    return spans.select("doc_a", "doc_b", "start_a", "start_b",
                        "span_len", "n_fps")


def substring_dup_stats(df: DataFrame, k: int = 16, w: int = 32,
                        max_df: int | None = 64,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated-byte statistics from the cross-document
    spans — the drop signal corpus pipelines threshold on (e.g. "remove
    documents with > X% bytes shared verbatim with another document").

    Returns (id, n_bytes, dup_bytes, dup_frac) for EVERY input document
    (zero for documents with no detected spans).  A document's spans
    from different partners may overlap; intervals are union-merged per
    document before counting, so a byte region duplicated against ten
    partners counts once.

    Scale design: the span table is tiny relative to the corpus (only
    documents sharing >= w + k - 1 verbatim bytes appear); the interval
    merge is one window function partitioned by document, and the final
    join back to the corpus is on the document key.
    """
    spans = substring_dup_spans(df, k, w, max_df, text_col, id_col)
    iv = (spans.select(F.col("doc_a").alias("_id"),
                       F.col("start_a").alias("s"),
                       (F.col("start_a") + F.col("span_len")).alias("e"))
          .unionByName(
              spans.select(F.col("doc_b").alias("_id"),
                           F.col("start_b").alias("s"),
                           (F.col("start_b") + F.col("span_len")).alias("e"))))
    win = Window.partitionBy("_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        win.rowsBetween(Window.unboundedPreceding, -1))
    merged = (iv
              .withColumn("_new", F.when(prev_max_e.isNull()
                                         | (F.col("s") > prev_max_e), 1)
                                   .otherwise(0))
              .withColumn("_gid", F.sum("_new").over(
                  win.rowsBetween(Window.unboundedPreceding, 0)))
              .groupBy("_id", "_gid")
              .agg((F.max("e") - F.min("s")).alias("mlen"))
              .groupBy("_id")
              .agg(F.sum("mlen").alias("dup_bytes")))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.length(F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
                 ).cast("long").alias("n_bytes"))
    out = (base.join(merged, "_id", "left")
               .withColumn("dup_bytes",
                           F.coalesce(F.col("dup_bytes"), F.lit(0)))
               .withColumn("dup_frac",
                           F.when(F.col("n_bytes") > 0,
                                  F.col("dup_bytes").cast("double")
                                  / F.col("n_bytes").cast("double"))
                            .otherwise(F.lit(0.0))))
    return out.select(F.col("_id").alias(id_col), "n_bytes",
                      "dup_bytes", "dup_frac")
