"""The fused Arrow tokenization pass (north-rule design constraint:
tokenization, per-turn term frequencies AND the per-turn anomaly/quality
features are produced by ONE vectorized pandas UDF — no per-row Python UDF
calls, one Arrow transfer per batch).

MacroBase heritage: the anomaly score is the row-wise-scoring pipeline
(classify stage) fused into the scan — the repetition/length features feed a
MAD-normalized score (legacy/.../stats/MAD.java semantics) attached as a
plain column, filterable in BM25 queries as a score modifier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_PATTERN = r"[a-z0-9]+"

# The partial-row format every posting encode reads: one row per term per
# upstream batch (or per compacted segment), doc-sorted posting arrays as
# list columns; the positional layer's rows add each entry's positions.
_PARTIAL_SCHEMA = "term string, ids array<long>, tfs array<int>, dls array<int>"
_PARTIAL_POS_SCHEMA = _PARTIAL_SCHEMA + ", pos array<int>"


def _tokenize_flat_arrow(text):
    """Vectorized tokenizer core in pyarrow C++ (guide §4.2: hand whole
    batches to native libraries): utf8_lower + RE2 split replace the
    pandas `.str.findall` per-row Python-regex loop (~3x faster on the
    transcript corpus; parity pinned in tests/test_tokenize_parity.py).

    `text` is a pd.Series or (r6) a pa.Array/ChunkedArray — the Arrow
    path skips the pandas round-trip entirely for mapInArrow callers.

    Returns (flat pa.StringArray of tokens grouped by row in order,
    row_idx int64 np.ndarray, lens int64 np.ndarray). Tokens are the
    maximal [a-z0-9]+ runs of the lowercased text — byte-identical to
    `re.findall(TOKEN_PATTERN, s.lower())`: splitting on [^a-z0-9]+
    yields the same runs plus empty boundary strings, filtered below.
    The ONE codepoint where utf8proc's lowercase diverges from Python's
    (U+0130 'İ' → 'i' vs 'i'+U+0307, verified by a full-Unicode scan) is
    pre-substituted so token boundaries match exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(text, pa.ChunkedArray):
        arr = text.combine_chunks()
    elif isinstance(text, pa.Array):
        arr = text
    else:
        arr = pa.Array.from_pandas(text.astype(object), type=pa.string())
    if not pa.types.is_string(arr.type):
        arr = arr.cast(pa.string())
    arr = pc.coalesce(arr, pa.scalar("", type=pa.string()))
    arr = pc.replace_substring(arr, pattern="\u0130",
                               replacement="i\u0307")
    toks = pc.split_pattern_regex(pc.utf8_lower(arr),
                                  pattern="[^a-z0-9]+")
    flat_vals = pc.list_flatten(toks)
    row_len = pc.list_value_length(toks).to_numpy(
        zero_copy_only=False).astype(np.int64)
    nonempty = pc.not_equal(flat_vals, pa.scalar(""))
    ne = nonempty.to_numpy(zero_copy_only=False)
    row_idx = np.repeat(np.arange(len(row_len), dtype=np.int64),
                        row_len)[ne]
    flat = flat_vals.filter(nonempty)
    lens = np.bincount(row_idx, minlength=len(row_len)).astype(np.int64)
    return flat, row_idx, lens


def _flat_term_counts(text: pd.Series, stopwords: frozenset | None = None):
    """Shared vectorized core: flatten batch tokens, factorize, one np.unique
    over (row, code) keys → (bounds, urow, ucode, counts, vocab, lens).
    `stopwords` (the index-time analyzer stoplist) drops matching tokens
    BEFORE any stat is computed — doc lengths, tf, df, rep_ratio all count
    surviving tokens only (Lucene StopFilter semantics)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    flat_arr, row_idx, lens = _tokenize_flat_arrow(text)
    n_rows = len(lens)
    if n_rows == 0 or len(flat_arr) == 0:
        return None, None, None, None, None, lens
    if stopwords:
        keep = pc.invert(pc.is_in(
            flat_arr,
            value_set=pa.array(sorted(stopwords), type=pa.string())))
        flat_arr = flat_arr.filter(keep)
        row_idx = row_idx[keep.to_numpy(zero_copy_only=False)]
        lens = np.bincount(row_idx, minlength=n_rows)
        if len(flat_arr) == 0:
            return None, None, None, None, None, lens
    denc = flat_arr.dictionary_encode()
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = denc.dictionary.to_numpy(zero_copy_only=False)
    key = row_idx * len(vocab) + codes
    uk, counts = np.unique(key, return_counts=True)
    urow = uk // len(vocab)
    ucode = uk % len(vocab)
    bounds = np.searchsorted(urow, np.arange(n_rows + 1))
    return bounds, urow, ucode, counts, vocab, lens


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_len", T.IntegerType()),
        T.StructField("rep_ratio", T.DoubleType()),
    ]
)


def _turn_features_udf(stopwords: frozenset | None = None):
    @F.pandas_udf(_FEATURES_SCHEMA)
    def udf(text: pd.Series) -> pd.DataFrame:
        bounds, _, _, _, _, lens = _flat_term_counts(text, stopwords)
        if bounds is None:
            return pd.DataFrame({"doc_len": lens.astype(np.int32),
                                 "rep_ratio": np.zeros(len(lens))})
        n_unique = bounds[1:] - bounds[:-1]
        rep = np.where(lens > 0, 1.0 - n_unique / np.maximum(lens, 1), 0.0)
        return pd.DataFrame({"doc_len": lens.astype(np.int32),
                             "rep_ratio": rep})

    return udf


turn_features_udf = _turn_features_udf()
turn_features_udf.__doc__ = (
    "Per-turn features WITHOUT materializing token arrays — the "
    "docs-table half of the fused pass (cheap, fully vectorized).")


def turn_features(df: DataFrame, text_col: str = "text",
                  stopwords: frozenset | None = None) -> DataFrame:
    udf = _turn_features_udf(stopwords) if stopwords else turn_features_udf
    return df.withColumn("_f", udf(F.col(text_col))).select(
        "*", "_f.doc_len", "_f.rep_ratio").drop("_f")


def partial_postings(df: DataFrame, doc_id_col: str = "doc_id",
                     text_col: str = "text",
                     hot_terms: set[str] | frozenset | None = None,
                     stopwords: frozenset | None = None) -> DataFrame:
    """text → ONE row per term per Arrow batch carrying the batch-local
    posting arrays (ids/tfs/dls as Arrow LIST columns, doc-sorted) — the
    map-side combine of the index build (guide §2.3 "aggregate before you
    shuffle" / §8 "move the heavy bytes packed"): the encode shuffle ships
    ~vocabulary-count rows of packed arrays instead of one row per posting
    (~30x fewer rows), and both Python boundary crossings shrink
    accordingly. The per-batch arrays are ascending in doc_id, so the
    encode kernel (build._merge_partial_runs) restores each term's global
    doc order with one lexsort. `hot_terms` is accepted for older callers
    and ignored: every term is one run.

    This is the only tokenize → postings relation: the build, the update
    delta, hot-term detection, suggest_stopwords and the q17 term-stats
    gate all read it. Every (doc, term) pair is exactly one list entry, so
    sum(size(ids)) per term is the document frequency and the summed tfs
    the collection frequency. `stopwords` drops tokens before any stat
    (see _flat_term_counts) — doc lengths count survivors only."""
    import pyarrow as pa

    stop_sorted = sorted(stopwords) if stopwords else []

    def fn(batches):
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            text_arr = rb.column(names.index(text_col))
            doc_ids = rb.column(names.index(doc_id_col)).to_numpy(
                zero_copy_only=False).astype(np.int64)
            flat_arr, row_idx, _lens = _tokenize_flat_arrow(text_arr)
            if len(flat_arr) == 0:
                continue
            if stop_sorted:
                keep = pc.invert(pc.is_in(
                    flat_arr,
                    value_set=pa.array(stop_sorted, type=pa.string())))
                flat_arr = flat_arr.filter(keep)
                row_idx = row_idx[keep.to_numpy(zero_copy_only=False)]
                if len(flat_arr) == 0:
                    continue
            lens = np.bincount(row_idx, minlength=rb.num_rows)
            denc = flat_arr.dictionary_encode()
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64)
            vocab = denc.dictionary
            # one entry per (doc, term): unique over (row, code) keys
            key = row_idx * len(vocab) + codes
            uk, counts = np.unique(key, return_counts=True)
            urow = uk // len(vocab)
            ucode = uk % len(vocab)
            ids_e = doc_ids[urow]
            dls_e = lens[urow].astype(np.int32)
            tfs_e = counts.astype(np.int32)
            # group entries by term, ascending doc within group
            order = np.lexsort((ids_e, ucode))
            c_s = ucode[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(c_s[1:] != c_s[:-1]) + 1)).astype(
                np.int64)
            offsets = pa.array(
                np.concatenate((starts, [len(c_s)])).astype(np.int32),
                type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [vocab.take(pa.array(c_s[starts])),
                 pa.ListArray.from_arrays(
                     offsets, pa.array(ids_e[order], type=pa.int64())),
                 pa.ListArray.from_arrays(
                     offsets, pa.array(tfs_e[order], type=pa.int32())),
                 pa.ListArray.from_arrays(
                     offsets, pa.array(dls_e[order], type=pa.int32()))],
                names=["term", "ids", "tfs", "dls"])

    return df.select(doc_id_col, text_col).mapInArrow(
        fn, schema=_PARTIAL_SCHEMA)


def partial_positional_postings(df: DataFrame, doc_id_col: str = "doc_id",
                                text_col: str = "text",
                                stopwords: frozenset | None = None
                                ) -> DataFrame:
    """Positional twin of partial_postings: ONE row per term per Arrow
    batch carrying ids/tfs/dls list columns PLUS the run's token
    positions as one flat list (each entry owns tfs[i] ascending
    positions, entries concatenated in ids order) — the map-side combine
    of the positional index build and of update_index's positional delta.
    Positions are extracted with one lexsort over (code, row, pos) keys —
    no per-token Python. With `stopwords`, dropped tokens leave POSITION
    GAPS (Lucene StopFilter + position increments): surviving
    tokens keep their original in-document positions, so a phrase
    spanning a removed stopword still matches at its original span, while
    dl/tf count survivors only."""
    import pyarrow as pa

    stop_sorted = sorted(stopwords) if stopwords else []

    def fn(batches):
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            text_arr = rb.column(names.index(text_col))
            doc_ids = rb.column(names.index(doc_id_col)).to_numpy(
                zero_copy_only=False).astype(np.int64)
            flat_arr, row_idx, lens = _tokenize_flat_arrow(text_arr)
            if len(flat_arr) == 0:
                continue
            row_starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
            pos_in_row = (np.arange(len(flat_arr), dtype=np.int64)
                          - np.repeat(row_starts, lens))
            if stop_sorted:
                keep = pc.invert(pc.is_in(
                    flat_arr,
                    value_set=pa.array(stop_sorted, type=pa.string())))
                kn = keep.to_numpy(zero_copy_only=False)
                flat_arr = flat_arr.filter(keep)
                row_idx = row_idx[kn]
                pos_in_row = pos_in_row[kn]  # gaps preserved
                lens = np.bincount(row_idx, minlength=rb.num_rows)
                if len(flat_arr) == 0:
                    continue
            denc = flat_arr.dictionary_encode()
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64)
            vocab = denc.dictionary
            order = np.lexsort((pos_in_row, row_idx, codes))
            c_s, r_s, p_s = codes[order], row_idx[order], pos_in_row[order]
            e_change = np.flatnonzero(
                (c_s[1:] != c_s[:-1]) | (r_s[1:] != r_s[:-1])) + 1
            e_starts = np.concatenate(([0], e_change)).astype(np.int64)
            e_ends = np.concatenate((e_starts[1:], [len(c_s)]))
            e_code, e_row = c_s[e_starts], r_s[e_starts]
            e_tf = (e_ends - e_starts).astype(np.int32)
            run_change = np.flatnonzero(e_code[1:] != e_code[:-1]) + 1
            run_e = np.concatenate(([0], run_change)).astype(np.int64)
            entry_off = pa.array(
                np.concatenate((run_e, [len(e_code)])).astype(np.int32),
                type=pa.int32())
            pos_off = pa.array(
                np.concatenate((e_starts[run_e],
                                [len(p_s)])).astype(np.int32),
                type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [vocab.take(pa.array(e_code[run_e])),
                 pa.ListArray.from_arrays(
                     entry_off, pa.array(doc_ids[e_row], type=pa.int64())),
                 pa.ListArray.from_arrays(
                     entry_off, pa.array(e_tf, type=pa.int32())),
                 pa.ListArray.from_arrays(
                     entry_off, pa.array(lens[e_row].astype(np.int32),
                                         type=pa.int32())),
                 pa.ListArray.from_arrays(
                     pos_off, pa.array(p_s.astype(np.int32),
                                       type=pa.int32()))],
                names=["term", "ids", "tfs", "dls", "pos"])

    return df.select(doc_id_col, text_col).mapInArrow(
        fn, schema=_PARTIAL_POS_SCHEMA)


def with_anomaly_score(df: DataFrame, exact: bool = False) -> DataFrame:
    """MAD-normalized per-turn anomaly score from the fused-pass features:
    anomaly = max(rep_ratio, tanh(mad_z(log1p(doc_len)) / 6)) ∈ [0, 1).

    Robust-scoring heritage: legacy/.../stats/MAD.java:38-99 (|x−med|/MAD·k).
    The MAD stats are two tiny global aggregates; the score itself is a
    codegen'd projection.
    """
    fn = "percentile" if exact else "percentile_approx"
    ll = F.log1p(F.col("doc_len").cast("double"))
    med = df.agg(F.expr(f"{fn}(log1p(cast(doc_len as double)), 0.5)")).collect()[0][0]
    if med is None:  # empty input: nothing to score (and 'None' would be
        # interpolated into the MAD SQL below as an unresolved identifier)
        return df.withColumn("anomaly", F.lit(0.0))
    mad = (
        df.agg(
            F.expr(
                f"{fn}(abs(log1p(cast(doc_len as double)) - {med!r}), 0.5)"
            )
        ).collect()[0][0]
        or 1e-9
    )
    z = F.abs(ll - F.lit(med)) / F.lit(mad * 1.4826)
    return df.withColumn("anomaly", F.greatest(F.col("rep_ratio"), F.tanh(z / 6.0)))
