"""Inverted-index build: transcripts → compressed posting lists + doc stats.

Pipeline (all lazy DataFrame stages; Python only inside Arrow batches):

  transcripts (conv_id, turn_idx, role, text, tool, ts)
    → fused Arrow pass: terms+tfs+doc_len+anomaly   (tokenize.py)
    → docs table + global stats (N, avgdl)
    → MAP-SIDE COMBINE (tokenize.partial_postings — the ONE tokenize →
      postings relation): one row per term per Arrow batch, doc-sorted
      ids/tfs/dls packed as list columns. The term shuffle ships
      ~vocabulary-count packed rows instead of one row per posting
    → ENCODE (_merge_partial_runs — the ONE encode kernel): shuffle+sort
        on term; mapInArrow merges each term's partials (one lexsort
        restores global doc order) → the term's final posting blob
        (delta+varint) + df/cf stats + block-max impact metadata (BM25
        upper bounds). Every term is encoded exactly once (fan_in 1)
    → repartition on bucket and write parquet sorted by (bucket, term)
      (term order within each file for row-group pruning of term-lookup
      queries), partitioned by bucket for resumability.
    → manifest: per-bucket metrics read on the driver (pyarrow) from the
      part files the write committed — no Spark read-back job.

One linear plan (_encode): nothing between tokenize and write is cached,
read twice, unioned or grouped in pandas.

Skew story: a hot term ("the", in a large share of turns) lands on ONE
encode task. That task receives the term's packed partial rows (one per
upstream Arrow batch, not one per posting) and encodes the whole list in
one vectorized pass: O(df) numpy work. Salting the term over S tasks
((term, salt) keys) would not take that work off one task: the S blobs
would still have to be decoded, merge-sorted and re-encoded into one
doc-sorted list on one task, and the salting would add a sampled hot-term
pre-pass job, a second Python stage and a second encode of every hot
term.

Resumability: terms are bucketed by hash into `num_buckets`; buckets are
processed in `num_groups` independent jobs, each committing its buckets'
parquet partitions plus a manifest line (lineage + metrics: terms, postings,
bytes, merge fan-in) per bucket. A restarted build skips buckets already in
the manifest. Granularity = num_groups re-scans of the input (configurable;
1 = single pass, no mid-build resume).

The positional layer (partial_positional_postings → _merge_partial_pos_runs)
runs the same plan, and so do update_index's delta segments and
compact_index, whose input is the stale segment rows decoded back into
partial rows (_segment_partials); hot-term detection and suggest_stopwords
count document frequency over the same packed relation.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from macrobase_spark.index.codec import delta_varint_decode

# In-process mutation registry: update_index / compact_index register the
# index dir they are mutating for the duration of the mutation. Crash
# recovery (recover_update_inflight / restore_compact_backup) must NOT treat
# a same-pid journal as a dead owner while the mutation is live on another
# thread of this process (query-server usage) — rolling back a running
# update deletes files it is still appending to. A same-pid journal with NO
# live registration is a previous failed call in this process and recovers
# normally.
_ACTIVE_MUTATIONS: set[str] = set()
_ACTIVE_MUTATIONS_LOCK = threading.Lock()


def _mutation_begin(out_dir: str) -> str:
    key = os.path.abspath(out_dir)
    with _ACTIVE_MUTATIONS_LOCK:
        if key in _ACTIVE_MUTATIONS:
            raise RuntimeError(
                f"concurrent in-process index mutation on {out_dir!r}: "
                "another update/compact is live on this index in this "
                "process — serialize mutations per index")
        _ACTIVE_MUTATIONS.add(key)
    return key


def _mutation_end(key: str) -> None:
    with _ACTIVE_MUTATIONS_LOCK:
        _ACTIVE_MUTATIONS.discard(key)


def _mutation_live_in_process(out_dir: str) -> bool:
    with _ACTIVE_MUTATIONS_LOCK:
        return os.path.abspath(out_dir) in _ACTIVE_MUTATIONS

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128

_POSTINGS_SCHEMA = (
    "term string, df long, cf long, fan_in int, max_impact double, "
    "block_max array<double>, blob_len long, blob binary"
)

# positional layer (opt-in, build_index(positions=True)): a SEPARATE
# self-contained artifact under <out_dir>/positions — same term-keyed
# encode plan, but each blob carries its own doc ids
# (codec.encode_positional), so the layer never needs byte-level alignment
# with the main posting blobs and the main build path stays untouched.
_POS_SCHEMA = "term string, df long, blob_len long, blob binary"


def _impact(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    return tf / (tf + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl))


def _run_starts_arrow(tbl) -> np.ndarray:
    """Run boundaries on term over a single-chunk Arrow table —
    adjacent-element comparison in pyarrow C++ (no string boxing)."""
    import pyarrow.compute as pc

    terms = tbl.column("term").chunk(0)
    n = len(terms)
    if n <= 1:
        return np.zeros(1, dtype=np.int64)
    change = np.flatnonzero(pc.not_equal(
        terms.slice(1), terms.slice(0, n - 1)).to_numpy(
        zero_copy_only=False)) + 1
    return np.concatenate(([0], change)).astype(np.int64)


def _split_runs(batches, encode_slice):
    """Batch-carry loop shared by the encode kernels: over Arrow batches
    pre-sorted by term, yield encode_slice(tbl, starts, ends) for every
    COMPLETE term run. Runs never span partitions (the shuffle key is
    term); the last run of a batch may continue in
    the next one, so it is carried and encoded once its end is seen."""
    import pyarrow as pa

    carry = None  # pa.Table holding the last (possibly incomplete) run
    for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl])
        tbl = tbl.combine_chunks()
        if tbl.num_rows == 0:
            carry = None
            continue
        starts = _run_starts_arrow(tbl)
        if len(starts) == 1:
            carry = tbl
            continue
        carry = tbl.slice(int(starts[-1]))
        yield encode_slice(tbl, starts[:-1], starts[1:])
    if carry is not None and carry.num_rows:
        starts = _run_starts_arrow(carry)
        ends = np.concatenate((starts[1:], [carry.num_rows]))
        yield encode_slice(carry, starts, ends)


def _encode_runs_flat(run_terms, ids: np.ndarray, tfs: np.ndarray,
                      dls: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                      avgdl: float):
    """Vectorized encode core: flat doc-sorted posting arrays +
    [starts, ends) run boundaries → one Arrow batch of _POSTINGS_SCHEMA,
    one final row per run. Whole-array varint streams (codec.encode_run_batch),
    reduceat per-run and per-block maxima, Arrow-native output assembly —
    no Python loop over runs. `ids/tfs/dls` must be sliced to exactly
    ends[-1] values and ascending in doc_id within each run."""
    import pyarrow as pa

    from macrobase_spark.index.codec import encode_run_batch

    blobs = encode_run_batch(ids, tfs, dls, starts, ends)
    dfs = (ends - starts).astype(np.int64)
    csum = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
    cfs = csum[ends] - csum[starts]
    impact_all = _impact(tfs, dls, avgdl)
    # per-run max impact: every run start is a reduceat boundary, so each
    # segment is exactly one run
    max_impact = np.maximum.reduceat(impact_all, starts)

    # block maxima for all runs in one reduceat (block boundaries inside
    # each run every BLOCK_SIZE rows; run starts are boundaries too, so no
    # segment crosses a run)
    nb = ((dfs + BLOCK_SIZE - 1) // BLOCK_SIZE).astype(np.int64)
    run_of_block = np.repeat(np.arange(len(starts)), nb)
    first_block = np.concatenate(([0], np.cumsum(nb)))[:-1]
    block_in_run = (np.arange(int(nb.sum()), dtype=np.int64)
                    - first_block[run_of_block])
    bnds = starts[run_of_block] + BLOCK_SIZE * block_in_run
    offsets = np.concatenate(([0], np.cumsum(nb))).astype(np.int32)
    block_max = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(np.maximum.reduceat(impact_all, bnds), type=pa.float64()))

    return pa.RecordBatch.from_arrays(
        [run_terms,
         pa.array(dfs, type=pa.int64()),
         pa.array(cfs, type=pa.int64()),
         pa.array(np.ones(len(starts), dtype=np.int32), type=pa.int32()),
         pa.array(max_impact, type=pa.float64()),
         block_max,
         pa.array([len(b) for b in blobs], type=pa.int64()),
         pa.array(blobs, type=pa.binary())],
        names=["term", "df", "cf", "fan_in", "max_impact", "block_max",
               "blob_len", "blob"])


def _merge_partial_runs(avgdl: float):
    """The encode kernel (mapInArrow) over MAP-SIDE-COMBINED partial rows
    (one row per term per upstream Arrow batch, carrying doc-sorted
    ids/tfs/dls LIST columns — tokenize.partial_postings), pre-sorted by
    term: concatenate each term's list segments (zero-copy child-array
    slices), one lexsort restores global doc order per term (partials
    from different map tasks interleave doc ranges; ids are unique per run
    because a doc lives in exactly one upstream batch, and a compaction's
    segment rows hold disjoint doc sets too), then _encode_runs_flat emits
    each term's final row (fan_in 1) — a build's or compaction's one row
    per term, an update's one segment row per touched term. No posting row
    is ever boxed into a Python object."""
    import pyarrow as pa

    def encode_slice(tbl, starts: np.ndarray, ends: np.ndarray):
        import pyarrow.compute as pc

        ids_col = tbl.column("ids").chunk(0)
        row_lens = pc.list_value_length(ids_col).to_numpy(
            zero_copy_only=False).astype(np.int64)
        row_flat = np.concatenate(([0], np.cumsum(row_lens)))
        flat_starts = row_flat[starts]
        flat_ends = row_flat[ends]
        nflat = int(flat_ends[-1])
        ids_flat = ids_col.flatten().to_numpy(zero_copy_only=False)[:nflat]
        tfs_flat = tbl.column("tfs").chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:nflat]
        dls_flat = tbl.column("dls").chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:nflat]
        run_of_value = np.repeat(np.arange(len(starts)),
                                 flat_ends - flat_starts)
        # primary key run_of_value is already nondecreasing, so run
        # boundaries in the sorted space are unchanged
        order = np.lexsort((ids_flat, run_of_value))
        run_terms = tbl.column("term").chunk(0).take(pa.array(starts))
        return _encode_runs_flat(
            run_terms,
            ids_flat[order].astype(np.uint64),
            tfs_flat[order].astype(np.uint64),
            dls_flat[order].astype(np.uint64),
            flat_starts, flat_ends, avgdl)

    def fn(batches):
        return _split_runs(batches, encode_slice)

    return fn


def _decode_partial(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from macrobase_spark.index.codec import varint_decode

    # single pass: the main decode reports where it stopped, and the dls
    # stream is read from there (the old re-scan decoded the header/deltas/
    # tfs twice on every blob of every query — r4 review)
    ids, tfs, off = delta_varint_decode(blob, return_offset=True)
    dls, _ = varint_decode(blob, count=len(ids), offset=off)
    return ids, tfs, dls


def _merge_partial_pos_runs(batches):
    """The positional layer's encode kernel (mapInArrow) over MAP-SIDE-
    COMBINED partial rows (tokenize.partial_positional_postings),
    pre-sorted by term: per term, entries re-sort by doc id (one lexsort;
    position segments follow their entry via a vectorized gather) and the
    term encodes into one self-contained positional blob — a build's or
    compaction's one row per term, an update's one segment row per touched
    term."""
    import pyarrow as pa

    from macrobase_spark.index.codec import encode_positional

    def encode_slice(tbl, starts: np.ndarray, ends: np.ndarray):
        import pyarrow.compute as pc

        ids_col = tbl.column("ids").chunk(0)
        row_entries = pc.list_value_length(ids_col).to_numpy(
            zero_copy_only=False).astype(np.int64)
        row_ent = np.concatenate(([0], np.cumsum(row_entries)))
        e_starts = row_ent[starts]
        e_ends = row_ent[ends]
        ne = int(e_ends[-1])
        ids_flat = ids_col.flatten().to_numpy(zero_copy_only=False)[:ne]
        tfs_flat = tbl.column("tfs").chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:ne].astype(np.int64)
        dls_flat = tbl.column("dls").chunk(0).flatten().to_numpy(
            zero_copy_only=False)[:ne]
        pos_flat = tbl.column("pos").chunk(0).flatten().to_numpy(
            zero_copy_only=False)
        run_of_entry = np.repeat(np.arange(len(starts)), e_ends - e_starts)
        order = np.lexsort((ids_flat, run_of_entry))
        ids_s, tfs_s, dls_s = ids_flat[order], tfs_flat[order], dls_flat[order]
        # gather each entry's position segment to its new slot
        seg_starts = np.concatenate(([0], np.cumsum(tfs_flat)))[:-1]
        new_starts = np.concatenate(([0], np.cumsum(tfs_s)))
        total = int(new_starts[-1])
        idx = (np.repeat(seg_starts[order], tfs_s)
               + (np.arange(total, dtype=np.int64)
                  - np.repeat(new_starts[:-1], tfs_s)))
        pos_s = pos_flat[:][idx]
        # per-run flat position boundaries in the sorted space (run order
        # is preserved by the lexsort's primary key)
        run_pos = new_starts[e_starts]
        run_pos_end = new_starts[e_ends]
        blobs = [encode_positional(
            ids_s[fs:fe].astype(np.uint64), tfs_s[fs:fe].astype(np.uint64),
            dls_s[fs:fe].astype(np.uint64),
            pos_s[ps:pe].astype(np.uint64))
            for fs, fe, ps, pe in zip(e_starts.tolist(), e_ends.tolist(),
                                      run_pos.tolist(), run_pos_end.tolist())]
        return pa.RecordBatch.from_arrays(
            [tbl.column("term").chunk(0).take(pa.array(starts)),
             pa.array(e_ends - e_starts, type=pa.int64()),
             pa.array([len(b) for b in blobs], type=pa.int64()),
             pa.array(blobs, type=pa.binary())],
            names=["term", "df", "blob_len", "blob"])

    return _split_runs(batches, encode_slice)


def _segment_partials(drop: np.ndarray, schema: str):
    """compact_index's decode kernel (mapInArrow): each segment row
    (term, blob) of a layer → one partial row in the build's input format
    `schema` (tokenize._PARTIAL_SCHEMA, or _PARTIAL_POS_SCHEMA for the
    positional layer), without the postings of the tombstoned docs in
    `drop`. A row left empty is dropped, so a fully purged term leaves the
    dictionary. The layer's encode kernel then merges a term's segment rows
    exactly as it merges a build's batch partials."""
    import pyarrow as pa

    from macrobase_spark.index.codec import decode_positional

    fields = [c.split() for c in schema.split(", ")]
    names = [name for name, _ in fields]
    dtypes = [{"array<long>": np.int64, "array<int>": np.int32}[t]
              for _, t in fields[1:]]
    decode = decode_positional if "pos" in names else _decode_partial

    def fn(batches):
        for rb in batches:
            rows, segs = [], []
            for i, blob in enumerate(rb.column("blob").to_pylist()):
                seg = decode(blob)
                keep = ~np.isin(seg[0].astype(np.int64), drop)
                if keep.any():
                    # a positional entry's tfs positions go with it
                    rows.append(i)
                    segs.append([a[keep] for a in seg[:3]] + [
                        pos[np.repeat(keep, seg[1].astype(np.int64))]
                        for pos in seg[3:]])
            if not rows:
                continue
            cols = [rb.column("term").take(pa.array(rows))]
            for j, dtype in enumerate(dtypes):
                off = np.cumsum([0] + [len(sg[j]) for sg in segs])
                cols.append(pa.ListArray.from_arrays(
                    pa.array(off.astype(np.int32)),
                    pa.array(np.concatenate([sg[j] for sg in segs])
                             .astype(dtype))))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return fn


def _bucket_col(num_buckets: int):
    """A term's bucket: the same hash in every writer and every index."""
    return F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int")


def _encode(part: DataFrame, kernel, schema: str, n_shuffle: int,
            num_buckets: int) -> DataFrame:
    """The ONE encode plan of both layers, linear from the packed partial
    rows to the write: a shuffle on term, `kernel` over each term's run
    (one final row per term), then the rows move to their bucket's
    partition, sorted by (bucket, term) for the write: the planned write's
    own Sort(bucket) is satisfied, so the files keep term order."""
    return (part.repartition(n_shuffle, "term")
            .sortWithinPartitions("term")
            .mapInArrow(kernel, schema=schema)
            .withColumn("bucket", _bucket_col(num_buckets))
            .repartition("bucket")
            .sortWithinPartitions("bucket", "term"))


def _bucket_records(root: str, buckets: list[int]) -> dict[int, dict]:
    """Per-bucket manifest metrics (terms, postings, bytes, max_fan_in)
    read on the driver from the committed part files of `buckets` — only
    the small df / blob_len / fan_in columns, no Spark job."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    recs: dict[int, dict] = {}
    for f in sorted(_part_files(root, buckets)):
        t = pq.read_table(f, columns=["df", "blob_len", "fan_in"])
        if t.num_rows == 0:
            continue
        r = recs.setdefault(_file_bucket(f), {
            "terms": 0, "postings": 0, "bytes": 0, "max_fan_in": 0})
        r["terms"] += t.num_rows
        r["postings"] += pc.sum(t["df"]).as_py()
        r["bytes"] += pc.sum(t["blob_len"]).as_py()
        r["max_fan_in"] = max(r["max_fan_in"], pc.max(t["fan_in"]).as_py())
    return recs


def detect_hot_terms(src: DataFrame, sample_frac: float, threshold: int,
                     doc_id_col: str = "doc_id", text_col: str = "text",
                     stopwords: frozenset | None = None) -> list[str]:
    """Approximate hot-term (heavy-hitter) detection via DOCUMENT sampling —
    the AmortizedMaintenanceCounter role (legacy/.../count/
    AmortizedMaintenanceCounter.java:35-110) re-expressed as a sampled count.
    Sampling happens BEFORE tokenization, so the pass touches only
    sample_frac of the text, and it keeps a doc by a hash of its doc_id
    (pipelines.deterministic_sample), so the result depends only on the
    input, never on its partitioning. The packed relation holds one entry
    per (doc, term), so summing its list sizes per term is the sampled
    document frequency. Returns the hot terms in ascending order. The
    build does not call this: it encodes every term once, on one task."""
    from macrobase_spark.index.tokenize import partial_postings
    from macrobase_spark.pipelines.sample import deterministic_sample

    sampled = deterministic_sample(src, min(1.0, sample_frac), seed=1,
                                   id_col=doc_id_col)
    hot = (
        partial_postings(sampled, doc_id_col, text_col, stopwords=stopwords)
        .groupBy("term")
        .agg(F.sum(F.size("ids")).alias("df"))
        .filter(F.col("df") >= max(1.0, threshold * sample_frac))
        .select("term")
        .collect()
    )
    return sorted(r["term"] for r in hot)


def suggest_stopwords(
    df: DataFrame,
    df_frac_threshold: float = 0.4,
    sample_frac: float = 0.05,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    max_terms: int = 64,
) -> list[str]:
    """Suggest an index-time stoplist from a document sample: terms whose
    document frequency exceeds `df_frac_threshold` of the sampled docs —
    the corpus-specific analogue of a hand-curated stopword list (in
    transcript corpora the role/tool boilerplate tokens, not English
    function words). Feed the result to build_index(stopwords=...).

    Same sampled pre-pass shape as detect_hot_terms: tokenization touches
    only sample_frac of the text; the count is per-document (the packed
    relation has one entry per (doc, term)) and the sample is keyed on
    doc_id. Returns at most max_terms, most-frequent first (ties by term)
    — the same for a fixed input at any partitioning."""
    from macrobase_spark.index.tokenize import partial_postings
    from macrobase_spark.pipelines.sample import deterministic_sample

    sampled = deterministic_sample(df.select(doc_id_col, text_col),
                                   min(1.0, sample_frac), seed=1,
                                   id_col=doc_id_col)
    n = sampled.count()
    if n == 0:
        return []
    rows = (partial_postings(sampled, doc_id_col, text_col)
            .groupBy("term").agg(F.sum(F.size("ids")).alias("df"))
            .filter(F.col("df") >= df_frac_threshold * n)
            .orderBy(F.col("df").desc(), F.col("term"))
            .limit(max_terms)
            .collect())
    return [r["term"] for r in rows]


def build_index(
    df: DataFrame,
    out_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 16,
    num_groups: int = 1,
    hot_df_threshold: int = 50_000,
    hot_sample_frac: float = 0.02,
    resume: bool = True,
    positions: bool = False,
    stopwords: list[str] | None = None,
) -> dict:
    """Build the index at `out_dir`; returns the build report (metrics).

    `df` must contain doc_id (stable, partition-independent) and text.

    `hot_df_threshold` and `hot_sample_frac` are accepted for older
    callers and ignored: every term is encoded once, on one task (see the
    module docstring), so the build detects no hot terms, and the report's
    `hot_terms` is always [].

    positions=True additionally builds the positional layer
    (<out_dir>/positions: per-term self-contained blobs of doc ids, tfs,
    dls, and in-doc token positions) enabling exact phrase/proximity
    queries via bm25_phrase_topk. Opt-in: positions roughly double the
    encode shuffle volume (one varint per token occurrence — the classic
    positional-index cost). update_index appends positional segment rows
    for the delta and compact_index merges them, so the layer follows the
    same LSM lifecycle as the main postings.

    `stopwords` is the index-time analyzer stoplist (Lucene StopFilter):
    matching tokens are dropped BEFORE every stat — they get no postings
    (the hottest lists simply don't exist, the biggest skew lever at
    corpus scale), and doc lengths / tf / df / rep_ratio count survivors
    only. The list is persisted in stats.json; update_index and the
    query paths read it from there so the analyzer can never diverge
    between build, maintenance, and querying. In the positional layer,
    removed tokens leave position GAPS (surviving tokens keep original
    in-document positions), so a phrase spanning a stopword matches
    within its original span budget (sloppy-phrase gap treatment — see
    bm25_phrase_topk).
    """
    spark = df.sparkSession
    stop = frozenset(w.lower() for w in (stopwords or [])) or None
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    done: dict[int, dict] = {}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("op") in ("update", "compact"):
                    # an update/compact record marks maintenance, NOT a
                    # completed build bucket: resuming a full rebuild over
                    # an incrementally-updated index would silently index
                    # nothing and desync segmented_buckets (r4 review) —
                    # that operation needs overwrite semantics.
                    raise ValueError(
                        f"index at {out_dir!r} has incremental updates "
                        "(update/compact manifest records); a full rebuild "
                        "over it must pass resume=False, or keep evolving "
                        "it with update_index/compact_index")
                if rec.get("status") == "done":
                    done[rec["bucket"]] = rec
    elif os.path.exists(manifest_path):
        # overwrite build: drop the old manifest so its update/compact
        # records can't poison a FUTURE resume over the rebuilt index
        os.remove(manifest_path)

    stats_probe = os.path.join(out_dir, "stats.json")
    if resume and os.path.exists(stats_probe):
        with open(stats_probe) as f:
            _prev_stop = set(json.load(f).get("stopwords", []))
        if _prev_stop != set(stop or ()):
            raise ValueError(
                f"index at {out_dir!r} was built with stopwords "
                f"{sorted(_prev_stop)!r} but this build passes "
                f"{sorted(stop or ())!r} — resuming would mix analyzers; "
                "pass resume=False to rebuild")

    t0 = time.time()
    phases: dict[str, float] = {}
    from macrobase_spark.index.tokenize import turn_features

    # transcript metadata (input_hint columns) rides into the docs table so
    # queries can push doc-level predicates (bm25_topk doc_filter — e.g.
    # role = 'assistant') into top-k without touching the source table
    meta_cols = [c for c in ("conv_id", "turn_idx", "role", "tool", "ts")
                 if c in df.columns]
    src = df.select(doc_id_col, *meta_cols, text_col)
    # parallelism floor: small inputs (few parquet files / coalesced splits)
    # must still fan out across all cores for the Arrow passes — at 100 TB
    # the file count dominates and this is a no-op. The repartitioned input
    # is cached so its shuffle runs once, not once per query that reads src
    # (the feature aggregate and the postings write).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    floor = src.rdd.getNumPartitions() < n_shuffle
    if floor:
        from pyspark import StorageLevel

        src = src.repartition(n_shuffle).persist(StorageLevel.MEMORY_AND_DISK)
    docs_path = os.path.join(out_dir, "docs.parquet")
    # the docs table is committed by a CONCURRENT thread well after
    # stats.json lands, so resume must check the docs write's own commit
    # marker (_SUCCESS) — stats.json alone would skip the docs write after
    # a crash mid-build and leave the index without its docs table
    docs_done = (resume
                 and os.path.exists(os.path.join(out_dir, "stats.json"))
                 and os.path.exists(os.path.join(docs_path, "_SUCCESS")))

    docs_thread: "threading.Thread | None" = None
    docs_result: dict = {}
    if not docs_done:
        from pyspark import StorageLevel

        # ONE Arrow pass over text → cached narrow features; ONE aggregate
        # job computes count/avgdl AND the robust normalization stats: the
        # scale estimate is IQR/2 = (q75−q25)/2, numerically the same robust
        # σ-fraction as the MAD (both = 0.6745·σ under normality) but
        # available from the same quantile sketch as the median — so the
        # old dependent second pass (median first, then median of |x−med|)
        # disappears.
        feats = (turn_features(src, text_col, stopwords=stop).drop(text_col)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        ll = "log1p(cast(doc_len as double))"
        _tp = time.time()
        row = feats.agg(
            F.count("*").alias("n"),
            F.sum("doc_len").alias("sum_dl"),
            F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))").alias("qs"),
        ).collect()[0]
        phases["feats_stats_agg"] = round(time.time() - _tp, 3)
        n_docs, sum_dl = int(row["n"]), int(row["sum_dl"] or 0)
        # exact int sum / int count — matches the oracle's sum(len)/n
        # bit-for-bit AND survives O(1) incremental updates (update_index
        # adds the delta's integer sum); an empty input builds the empty
        # index a compaction that purges every doc leaves (avgdl 0)
        avgdl = sum_dl / max(1, n_docs)
        q25, med, q75 = [float(v) for v in row["qs"] or (0, 0, 0)]
        mad = (q75 - q25) / 2.0 or 1e-9
        z = F.abs(F.log1p(F.col("doc_len").cast("double")) - F.lit(med)) / F.lit(
            mad * 1.4826)

        # the docs write needs only the cached feats + the stats just
        # computed — it is independent of the postings pipeline, so it runs
        # as a CONCURRENT Spark job from a helper thread, behind the encode
        # shuffle, shaving one serial job off the build
        def _write_docs():
            try:
                (feats.withColumn(
                    "anomaly", F.greatest(F.col("rep_ratio"), F.tanh(z / 6.0)))
                    .select(doc_id_col, *meta_cols, "doc_len", "rep_ratio",
                            "anomaly")
                    .write.mode("overwrite").parquet(docs_path))
                feats.unpersist()
            except Exception as exc:  # surfaced after join
                docs_result["error"] = exc

        docs_thread = threading.Thread(target=_write_docs, daemon=True)
        docs_thread.start()
    else:
        stats_row = spark.read.parquet(docs_path).agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"),
        ).collect()[0]
        n_docs, sum_dl = int(stats_row["n"]), int(stats_row["sum_dl"])
        avgdl = sum_dl / n_docs
        med = mad = None  # resume path: docs already written
        if os.path.exists(os.path.join(out_dir, "stats.json")):
            with open(os.path.join(out_dir, "stats.json")) as f:
                _old = json.load(f)
            med, mad = _old.get("len_med"), _old.get("len_mad")
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                   "len_med": med, "len_mad": mad, "k1": K1, "b": B,
                   "block_size": BLOCK_SIZE, "num_buckets": num_buckets,
                   "version": 1, "stopwords": sorted(stop or ()),
                   "segmented_buckets": []}, f)

    # single fused Arrow pass text → MAP-SIDE-COMBINED partial rows (one
    # per term per batch, posting arrays packed as list columns —
    # tokenize.partial_postings, guide §2.3): the encode shuffle ships
    # ~vocabulary-count rows instead of one row per posting. Persisted
    # only when multiple groups would otherwise re-tokenize.
    from macrobase_spark.index.tokenize import partial_postings

    partials = partial_postings(
        src, doc_id_col, text_col, stopwords=stop,
    ).withColumn("bucket", _bucket_col(num_buckets))
    if num_groups > 1:
        partials = partials.persist()

    groups: list[list[int]] = [
        [b for b in range(num_buckets) if b % num_groups == g] for g in range(num_groups)
    ]
    postings_root = os.path.join(out_dir, "postings")
    report_buckets = dict(done)
    for g, buckets in enumerate(groups):
        todo = [b for b in buckets if b not in done]
        if not todo:
            continue
        part = partials.filter(F.col("bucket").isin(todo)).drop("bucket")
        # the packed partial rows shuffle on term and each term encodes
        # once into its final row: one linear plan, nothing cached or read
        # twice
        enc = _encode(part, _merge_partial_runs(avgdl), _POSTINGS_SCHEMA,
                      n_shuffle, num_buckets)
        _tp = time.time()
        enc.write.mode("overwrite").partitionBy("bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(postings_root)
        phases["encode_write"] = phases.get("encode_write", 0.0) + round(
            time.time() - _tp, 3)
        # per-bucket lineage + metrics from the committed files: blob sizes
        # were recorded at encode time (blob_len), so this read touches
        # only tiny metadata columns — the blob bytes never re-load
        _tp = time.time()
        stats = _bucket_records(postings_root, todo)
        phases["stats_readback"] = phases.get("stats_readback", 0.0) + round(
            time.time() - _tp, 3)
        with open(manifest_path, "a") as f:
            for b, r in sorted(stats.items()):
                rec = {"bucket": b, "status": "done", "group": g, **r,
                       "ts": time.time(), "version": 1}
                report_buckets[b] = rec
                f.write(json.dumps(rec) + "\n")

    if positions:
        pos_root = os.path.join(out_dir, "positions")
        if not (resume and os.path.exists(os.path.join(pos_root, "_SUCCESS"))):
            _tp = time.time()
            # map-side combine: packed per-term partial rows with entry
            # lists + flat positions — same ~30x shuffle-row reduction as
            # the main layer; the encode kernel re-sorts entries per term
            # by doc id
            from macrobase_spark.index.tokenize import partial_positional_postings

            pos_part = partial_positional_postings(
                src, doc_id_col, text_col, stopwords=stop)
            (_encode(pos_part, _merge_partial_pos_runs, _POS_SCHEMA,
                     n_shuffle, num_buckets)
             .write.mode("overwrite").partitionBy("bucket").parquet(pos_root))
            phases["positions"] = round(time.time() - _tp, 3)
        # stamp AFTER the positional write commits: a crash in between
        # leaves has_positions unset and phrase queries refuse cleanly
        with open(os.path.join(out_dir, "stats.json")) as f:
            _s = json.load(f)
        _s["has_positions"] = True
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(_s, f)

    if docs_thread is not None:
        _tp = time.time()
        docs_thread.join()
        phases["docs_join_wait"] = round(time.time() - _tp, 3)
        if "error" in docs_result:
            raise docs_result["error"]
    if num_groups > 1:
        partials.unpersist()
    if floor:
        src.unpersist()
    invalidate_index_cache(out_dir)
    elapsed = time.time() - t0
    return {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "hot_terms": [],  # no hot-term detection; kept for report readers
        "buckets": len(report_buckets),
        "postings": sum(r.get("postings", 0) for r in report_buckets.values()),
        "bytes": sum(r.get("bytes", 0) for r in report_buckets.values()),
        "elapsed_sec": elapsed,
        "turns_per_sec": n_docs / elapsed if elapsed > 0 else None,
        "phases": phases,
    }


def _list_dir(path: str) -> list[str] | None:
    """Immediate entries of a directory (None if absent). One level is
    enough: Spark writes parquet part files flat inside docs.parquet/ and
    inside each postings/bucket=N/ dir."""
    if not os.path.isdir(path):
        return None
    return sorted(os.listdir(path))


def _buckets(root: str) -> list[int]:
    """The buckets that have a bucket=B directory under root."""
    return sorted(int(d.split("=")[1]) for d in _list_dir(root) or []
                  if d.startswith("bucket="))


def _part_files(root: str, buckets: list[int] | None = None) -> set[str]:
    """The parquet part files in root's bucket=B directories (all of them
    when `buckets` is None)."""
    if buckets is None:
        buckets = _buckets(root)
    return {os.path.join(root, f"bucket={b}", f) for b in buckets
            for f in _list_dir(os.path.join(root, f"bucket={b}")) or []
            if f.endswith(".parquet") and not f.startswith(("_", "."))}


def _file_bucket(path: str) -> int:
    """The bucket of a part file from its bucket=B directory."""
    return int(os.path.basename(os.path.dirname(path)).split("=")[1])


def _files_by_bucket(root: str) -> dict[int, list[str]]:
    """root's part files, sorted, per bucket."""
    files: dict[int, list[str]] = {}
    for f in sorted(_part_files(root)):
        files.setdefault(_file_bucket(f), []).append(f)
    return files


def take_index_snapshot(out_dir: str) -> dict:
    """Record the pre-mutation state of every index artifact update_index /
    build_index touches."""
    stats_path = os.path.join(out_dir, "stats.json")
    stats_bytes = None
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats_bytes = f.read()
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    manifest_len = (os.path.getsize(manifest_path)
                    if os.path.exists(manifest_path) else 0)
    def bucket_listing(root: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        if os.path.isdir(root):
            for entry in sorted(os.listdir(root)):
                sub = os.path.join(root, entry)
                if os.path.isdir(sub):
                    out[entry] = sorted(os.listdir(sub))
        return out

    postings_root = os.path.join(out_dir, "postings")
    positions_root = os.path.join(out_dir, "positions")
    return {
        "stats": stats_bytes,
        "manifest_len": manifest_len,
        "docs": _list_dir(os.path.join(out_dir, "docs.parquet")),
        "postings_root_exists": os.path.isdir(postings_root),
        "buckets": bucket_listing(postings_root),
        "positions_root_exists": os.path.isdir(positions_root),
        "pos_buckets": bucket_listing(positions_root),
    }


def rollback_index_snapshot(out_dir: str, snap: dict) -> None:
    """Undo a partial (or complete-but-uncommitted) epoch apply: delete
    files the failed attempt created, restore stats.json, truncate the
    manifest. After this the index is byte-identical in content listing to
    the pre-epoch state, so re-applying the same batch is safe."""
    # stats.json
    stats_path = os.path.join(out_dir, "stats.json")
    if snap["stats"] is None:
        if os.path.exists(stats_path):
            os.remove(stats_path)
    else:
        tmp = stats_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(snap["stats"])
        os.replace(tmp, stats_path)
    # manifest: lines appended by the failed attempt would re-stamp bucket
    # versions — truncate back to the recorded length
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    if os.path.exists(manifest_path):
        if snap["manifest_len"] == 0:
            os.remove(manifest_path)
        else:
            with open(manifest_path, "r+") as f:
                f.truncate(snap["manifest_len"])
    # docs.parquet: drop appended part files (or the whole dir on a failed
    # fresh build)
    docs_path = os.path.join(out_dir, "docs.parquet")
    if snap["docs"] is None:
        if os.path.isdir(docs_path):
            shutil.rmtree(docs_path)
    elif os.path.isdir(docs_path):
        keep = set(snap["docs"])
        for entry in os.listdir(docs_path):
            if entry not in keep:
                full = os.path.join(docs_path, entry)
                (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
    # postings / positions: drop new bucket dirs and new files inside
    # existing buckets (same file-set pruning for both bucketed layers)
    def prune_bucketed(root: str, root_existed: bool,
                       keep_buckets: dict[str, list[str]]) -> None:
        if not root_existed:
            if os.path.isdir(root):
                shutil.rmtree(root)
            return
        if not os.path.isdir(root):
            return
        for entry in os.listdir(root):
            sub = os.path.join(root, entry)
            if not os.path.isdir(sub):
                continue
            if entry not in keep_buckets:
                shutil.rmtree(sub)
                continue
            keep = set(keep_buckets[entry])
            for fname in os.listdir(sub):
                if fname not in keep:
                    full = os.path.join(sub, fname)
                    (shutil.rmtree if os.path.isdir(full)
                     else os.remove)(full)

    prune_bucketed(os.path.join(out_dir, "postings"),
                   snap["postings_root_exists"], snap["buckets"])
    # journals written before the positional layer existed lack these keys:
    # default to "leave the positions dir alone" (it cannot have been
    # touched by the journaled mutation either)
    if "positions_root_exists" in snap:
        prune_bucketed(os.path.join(out_dir, "positions"),
                       snap["positions_root_exists"], snap["pos_buckets"])



_UPDATE_INFLIGHT = "_update_inflight.json"
_TOMBSTONES = "tombstones"


def has_tombstones(out_dir: str) -> bool:
    """True iff the index carries pending (un-purged) tombstones. Driver-
    side directory probe — consulted by every query to decide whether the
    tombstone anti-join and the pruning gate apply."""
    p = os.path.join(out_dir, _TOMBSTONES)
    return os.path.isdir(p) and any(
        not f.startswith(("_", ".")) for f in os.listdir(p))


def tombstone_ids(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The pending tombstoned doc_ids as a DataFrame (may contain
    duplicates — fine for anti-join consumers), or None if none pending."""
    if not has_tombstones(out_dir):
        return None
    return spark.read.parquet(
        os.path.join(out_dir, _TOMBSTONES)).select("doc_id")


def deleted_ids(out_dir: str) -> np.ndarray:
    """The pending tombstoned doc_ids, read on the driver with pyarrow
    (empty when none are pending; may contain duplicates)."""
    if not has_tombstones(out_dir):
        return np.empty(0, dtype=np.int64)
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out_dir, _TOMBSTONES),
                         columns=["doc_id"])["doc_id"].to_numpy()


def delete_docs(spark: SparkSession, out_dir: str, doc_ids) -> dict:
    """Tombstone-delete documents from a persisted index — the deferred
    (Lucene-style) delete completing the LSM lifecycle:

    - the effect on queries is IMMEDIATE: bm25_topk / bm25_topk_batch /
      bm25_phrase_topk drop pending tombstones from the result set
      (block pruning is disabled while tombstones are pending, exactness
      over speed — a delete can promote docs from pruned blocks);
    - corpus statistics (n_docs, avgdl, per-term df/idf) keep counting
      tombstoned docs until `compact_index` physically purges them —
      Lucene's documented docFreq-includes-deleted semantics;
    - `compact_index` performs the physical purge: every bucket's blobs
      are rewritten without the tombstoned postings, the docs table is
      filtered, global stats recompute, and the tombstones clear;
    - deletes are idempotent set semantics; deleting an id absent from
      the corpus is a harmless no-op;
    - re-ingesting a tombstoned id via update_index is REFUSED until a
      compaction has purged it (the old postings would resurrect).

    `doc_ids` is a list of ints or a single-column DataFrame. The write
    is a parquet append into `<out_dir>/tombstones/` (committed via
    Spark's atomic job commit), serialized against concurrent in-process
    mutations like every other index mutation."""
    restore_compact_backup(out_dir)
    recover_update_inflight(out_dir)
    _key = _mutation_begin(out_dir)
    try:
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(
                F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
        else:
            df = spark.createDataFrame([(int(i),) for i in doc_ids],
                                       "doc_id long")
        n = df.count()
        # the cached version stays valid: queries read tombstones per call,
        # and postings, docs, stats and the term dictionary (whose df counts
        # deleted docs until compaction) are unchanged. An empty delete
        # writes nothing: an empty part file would read as pending deletes
        # and make the next compaction a full purge rewrite
        if n:
            df.write.mode("append").parquet(
                os.path.join(out_dir, _TOMBSTONES))
        return {"tombstoned": n}
    finally:
        _mutation_end(_key)


def recover_update_inflight(out_dir: str) -> bool:
    """Crash recovery for update_index's own journal (the streaming epoch
    protocol has its own; this one protects DIRECT update_index callers):
    a leftover inflight record whose owning process is dead means the
    update crashed mid-mutation — roll the index back to the journaled
    snapshot so a retry cannot duplicate doc rows or leave unstamped
    segment rows queryable. A LIVE owner means an update is in progress in
    another process: leave it alone (reads during an update were always
    racy-by-design; the journal only has to make crashes safe)."""
    path = os.path.join(out_dir, _UPDATE_INFLIGHT)
    if not os.path.exists(path):
        return False
    with open(path) as f:
        rec = json.load(f)
    pid = rec.get("pid")
    if pid is not None and pid != os.getpid():
        try:
            os.kill(int(pid), 0)
            return False  # live concurrent update — not ours to undo
        except ProcessLookupError:
            pass
        except PermissionError:
            return False
    elif pid is not None and _mutation_live_in_process(out_dir):
        return False  # same pid, update live on another THREAD — not a crash
    rollback_index_snapshot(out_dir, rec["snapshot"])
    os.remove(path)
    invalidate_index_cache(out_dir)
    return True


def update_index(
    df_new: DataFrame,
    out_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    journal: bool = True,
) -> dict:
    """Incremental append: LSM-style segment write, NO merge with existing
    posting lists at update time.

    - new docs' features append to docs.parquet; global stats (n_docs,
      avgdl) recompute; stats version bumps.
    - new postings are encoded with the SAME plan and kernel as the fresh
      build and appended as ONE additional parquet row per touched term
      in its bucket. Existing blobs are never read, decoded, or re-sorted:
      update cost is O(delta), and the full historical posting list of a
      hot term never lands on one task — the scale killer the old
      rewrite-touched-buckets variant had.
    - a term may now span several rows (base + per-update segments);
      the term dictionary sums df across rows for idf and the query path
      concatenates candidates (exactness unaffected — every (term, doc)
      posting lives in exactly one segment). Buckets with segments are recorded in
      stats.json `segmented_buckets`; their block-max metadata is stale
      w.r.t. the new avgdl so the version gate keeps pruning off there
      until `compact_index` merges segments back to one row per term.
    - if this process holds the previous version's term dictionary (the
      index is being served), the delta's (term, df, max_impact) rows are
      folded into it — read on the driver from the part files the append
      added, with no Spark job — so the next query loads no dictionary
      (`open_version`).

    Reference lineage: the reference has no incremental index; this is the
    standard Lucene/LSM segment-log design expressed as parquet appends.

    Contract: `df_new` must contain only NEW doc_ids (append-only corpus).
    Re-ingesting a live doc_id would leave its old postings in the base
    segment and add new ones. An upsert is delete_docs, compact_index,
    then update_index: a tombstoned id is refused until a compaction has
    purged it.
    """
    from pyspark import StorageLevel

    from macrobase_spark.index.tokenize import (partial_positional_postings,
                                                partial_postings,
                                                turn_features)

    spark = df_new.sparkSession
    restore_compact_backup(out_dir)  # recover any crashed compaction first
    recover_update_inflight(out_dir)  # roll back a crashed previous update
    _key = _mutation_begin(out_dir)
    try:
        # a served index's term dictionary carries over: the delta's term
        # stats fold into it, so the next query loads no dictionary
        prev = _INDEX_CACHE.get(_version_key(spark, out_dir))
        base_td = prev.tdict if prev is not None else None
        with open(os.path.join(out_dir, "stats.json")) as f:
            stats = json.load(f)
        tomb = tombstone_ids(spark, out_dir)
        if tomb is not None:
            # re-ingesting a tombstoned id would be silently suppressed by
            # the query-time anti-join AND resurrected by the next purge-
            # compact (which clears the tombstone while the old postings
            # are merged away but the new delta's stay) — refuse loudly
            bad = (df_new.select(F.col(doc_id_col).alias("doc_id"))
                   .join(tomb, "doc_id", "semi").limit(1).count())
            if bad:
                raise ValueError(
                    "update_index: the delta re-ingests tombstoned "
                    "doc_id(s) — run compact_index to purge pending "
                    "deletes before re-using deleted ids")
        if journal:
            # update appends docs + postings BEFORE the stats/manifest commit;
            # journal a pre-mutation snapshot so a crash in between cannot
            # leave a queryable inconsistent index or let a retry duplicate
            # rows. The streaming epoch protocol passes journal=False — its
            # own inflight journal already covers the whole epoch.
            snap = take_index_snapshot(out_dir)
            with open(os.path.join(out_dir, _UPDATE_INFLIGHT + ".tmp"), "w") as f:
                json.dump({"pid": os.getpid(), "snapshot": snap}, f)
            os.replace(os.path.join(out_dir, _UPDATE_INFLIGHT + ".tmp"),
                       os.path.join(out_dir, _UPDATE_INFLIGHT))
        num_buckets = stats["num_buckets"]
        # the analyzer is an INDEX property: the delta tokenizes with the
        # stoplist persisted at build time, never a caller-supplied one
        stop = frozenset(stats.get("stopwords", [])) or None
        version = stats.get("version", 1) + 1
        t0 = time.time()

        # the delta's docs rows append into the BASE docs table, so its
        # metadata columns must mirror the base schema exactly — a delta
        # carrying a column the base lacks (or vice versa) would silently
        # fork the parquet schema across files
        docs_path = os.path.join(out_dir, "docs.parquet")
        base_docs_cols = set(
            spark.read.parquet(docs_path).schema.fieldNames())
        meta_cols = [c for c in ("conv_id", "turn_idx", "role", "tool",
                              "ts")
                     if c in df_new.columns and c in base_docs_cols]
        src = df_new.select(doc_id_col, *meta_cols, text_col)

        feats = (turn_features(src, text_col, stopwords=stop).drop(text_col)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        # O(delta) global stats: the base corpus contributes via the EXACT
        # integer doc-length sum persisted in stats.json (no re-scan of the old
        # docs table) — avgdl = (sum_dl_old + sum_dl_delta) / n stays
        # bit-identical to a full recompute because both sums are integers.
        ll = "log1p(cast(doc_len as double))"
        row = feats.agg(
            F.count("*").alias("n"), F.sum("doc_len").alias("sum_dl"),
            F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))").alias("qs"),
        ).collect()[0]
        n_new, sum_new = int(row["n"]), int(row["sum_dl"])
        if "sum_dl" in stats:
            n_docs = stats["n_docs"] + n_new
            sum_dl = stats["sum_dl"] + sum_new
        else:  # legacy index without the integer sum: one-time rescan
            old_row = spark.read.parquet(docs_path).agg(
                F.count("*"), F.sum("doc_len")).collect()[0]
            n_docs = int(old_row[0]) + n_new
            sum_dl = int(old_row[1]) + sum_new
        avgdl = sum_dl / n_docs
        # anomaly normalization: reuse the base corpus's robust length stats
        # (median / IQR drift slowly; they refresh on the next full build) —
        # fall back to the delta's own quantiles for legacy indexes
        med, mad = stats.get("len_med"), stats.get("len_mad")
        if med is None or mad is None:
            q25, med, q75 = [float(v) for v in row["qs"]]
            mad = (q75 - q25) / 2.0 or 1e-9
        z = F.abs(F.log1p(F.col("doc_len").cast("double")) - F.lit(med)) / F.lit(
            mad * 1.4826)
        (feats.withColumn("anomaly", F.greatest(F.col("rep_ratio"), F.tanh(z / 6.0)))
            .select(doc_id_col, *meta_cols, "doc_len", "rep_ratio", "anomaly")
            .write.mode("append").parquet(docs_path))
        feats.unpersist()

        # the same map-side-combined relation and encode plan as the fresh
        # build: each touched term's delta becomes one segment row with real
        # per-segment block-max metadata
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        new_post = partial_postings(src, doc_id_col, text_col, stopwords=stop)
        postings_root = os.path.join(out_dir, "postings")
        # the touched buckets are the ones the append adds files to: the
        # listing diff is exactly what was written, with no Spark job
        before = _part_files(postings_root)
        _encode(new_post, _merge_partial_runs(avgdl), _POSTINGS_SCHEMA,
                n_shuffle, num_buckets).write.mode("append").partitionBy(
            "bucket").parquet(postings_root)
        added = sorted(_part_files(postings_root) - before)
        touched = sorted({_file_bucket(f) for f in added})
        folded = base_td
        if base_td is not None and added:
            # the delta's rows are the part files the append added
            folded = _term_dict(_dict_rows(added), base_td)

        if stats.get("has_positions"):
            # positional layer: same LSM segment append — the delta's
            # positional rows land as EXTRA rows in their buckets (blobs are
            # self-contained, so a term spanning base + delta segments needs
            # no byte-level merge; the phrase path sums df across rows and
            # concatenates candidates). compact_index merges segments back
            # to one row.
            pos_part = partial_positional_postings(
                src, doc_id_col, text_col, stopwords=stop)
            _encode(pos_part, _merge_partial_pos_runs, _POS_SCHEMA,
                    n_shuffle, num_buckets).write.mode("append").partitionBy(
                "bucket").parquet(os.path.join(out_dir, "positions"))

        seg = sorted(set(stats.get("segmented_buckets", [])) | set(touched))
        stats.update({"n_docs": n_docs, "avgdl": avgdl, "sum_dl": sum_dl,
                      "version": version, "segmented_buckets": seg})
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        new_key = _version_key(spark, out_dir)
        # touched buckets are re-stamped at their PRE-update version: they now
        # hold mixed-era block-max metadata, so they must read as stale (block
        # pruning off) until compaction rewrites them
        bv = bucket_versions(out_dir)
        manifest_path = os.path.join(out_dir, "manifest.jsonl")
        with open(manifest_path, "a") as f:
            for b in sorted(touched):
                f.write(json.dumps({"bucket": int(b), "status": "done",
                                    "version": bv.get(b, 1), "op": "update",
                                    "ts": time.time()}) + "\n")
        invalidate_index_cache(out_dir)
        if folded is not None:
            _INDEX_CACHE[new_key] = _Version(folded)
        if journal:
            os.remove(os.path.join(out_dir, _UPDATE_INFLIGHT))
        return {"n_docs": n_docs, "avgdl": avgdl, "version": version,
                "touched_buckets": sorted(touched),
                "elapsed_sec": time.time() - t0}
    finally:
        _mutation_end(_key)


def _compact_backup_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_compact_backup")


def restore_compact_backup(out_dir: str) -> bool:
    """Crash recovery for compact_index: its dynamic-partition overwrite
    DELETES the old segment rows of every stale bucket, so a crash between
    the overwrite and the stats/manifest commit would lose postings with no
    way back. compact_index therefore copies the stale buckets' files (plus
    stats.json and the manifest length) into `_compact_backup/` and marks
    it `_complete` before touching anything; this function restores that
    state. Returns True if a rollback happened.

    - backup without `_complete`: crash mid-copy — originals untouched,
      drop the partial backup.
    - backup with `_complete`: restore the buckets' file sets, stats.json
      bytes, and truncate the manifest — the index is byte-identical to the
      pre-compaction state and compaction simply runs again later. (A
      leftover backup after a fully-successful compaction also restores —
      redundant but correct: the segment rows are still a valid index.)
    Called from every index entry point (read_index, update_index,
    compact_index, streaming ingest), so a crashed compaction can never be
    silently queried."""
    backup = _compact_backup_dir(out_dir)
    if not os.path.isdir(backup):
        return False
    if not os.path.exists(os.path.join(backup, "_complete")):
        shutil.rmtree(backup)
        return False
    with open(os.path.join(backup, "_meta.json")) as f:
        meta = json.load(f)
    # liveness guard: a backup whose owning compactor PROCESS is still
    # alive is an in-progress compaction, not a crash — rolling it back
    # from a concurrent reader would corrupt the index mid-overwrite.
    # (Same-host pid probe; on a multi-host deployment pair this with a
    # lease file on the shared store.)
    pid = meta.get("pid")
    if pid is not None and pid != os.getpid():
        try:
            os.kill(int(pid), 0)
            return False  # owner alive → leave the backup alone
        except ProcessLookupError:
            pass  # owner dead → genuine crash, recover
        except PermissionError:
            return False  # alive but other-user (EPERM) → leave it alone
    elif pid is not None and _mutation_live_in_process(out_dir):
        return False  # same pid, compaction live on another THREAD
    postings_root = os.path.join(out_dir, "postings")
    positions_root = os.path.join(out_dir, "positions")
    # a purge-compaction (pending tombstones) also backs up the docs table
    # and the tombstones dir — restore them to the index ROOT, and drop a
    # half-written docs.parquet._new from the crashed rewrite
    shutil.rmtree(os.path.join(out_dir, "docs.parquet._new"),
                  ignore_errors=True)
    for entry in os.listdir(backup):
        src = os.path.join(backup, entry)
        if not os.path.isdir(src):
            continue
        if entry == "positions":  # positional-layer buckets, same protocol
            for pentry in os.listdir(src):
                pdest = os.path.join(positions_root, pentry)
                if os.path.isdir(pdest):
                    shutil.rmtree(pdest)
                shutil.move(os.path.join(src, pentry), pdest)
            continue
        if entry in ("docs.parquet", _TOMBSTONES):
            dest = os.path.join(out_dir, entry)
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            shutil.move(src, dest)
            continue
        dest = os.path.join(postings_root, entry)
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        shutil.move(src, dest)
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        f.write(meta["stats"])
    manifest_path = os.path.join(out_dir, "manifest.jsonl")
    if os.path.exists(manifest_path):
        with open(manifest_path, "r+") as f:
            f.truncate(meta["manifest_len"])
    shutil.rmtree(backup)
    invalidate_index_cache(out_dir)
    return True


def _overwrite_buckets(merged: DataFrame, root: str, stale: list[int],
                       purge: bool) -> None:
    """Write compact_index's merged rows over their stale buckets. Dynamic
    partition overwrite only replaces buckets PRESENT in the output, so
    after a purge a bucket whose every term was tombstoned away would
    survive with stale data: the written buckets are the ones holding a
    part file the write added (a before/after listing, no Spark job), and
    the other stale bucket dirs are removed."""
    before = _part_files(root)
    merged.write.mode("overwrite").partitionBy("bucket").option(
        "partitionOverwriteMode", "dynamic").parquet(root)
    if purge:
        written = {_file_bucket(f) for f in _part_files(root) - before}
        for b in set(stale) - written:
            shutil.rmtree(os.path.join(root, f"bucket={b}"),
                          ignore_errors=True)


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Compact stale buckets after incremental updates: merge each term's
    segment rows (base + per-update deltas) back to ONE row and recompute
    block-max metadata under the CURRENT avgdl, then stamp the bucket
    current — block-max pruning is active index-wide again and the per-term
    idf needs no cross-row aggregation.

    Buckets that are merely metadata-stale (no segments, avgdl moved) get
    the same pass — for single-row terms the merge degenerates to a
    decode → re-encode that refreshes the bounds.

    Plan: the build's own encode plan (_encode) with the stale segment
    rows as its input — a decode kernel (_segment_partials) turns each
    (term, blob) row into a partial row of the build's format, without
    tombstoned docs, and the layer's encode kernel merges a term's
    segments in one vectorized pass. Every term comes out as the row a
    fresh build over the surviving docs writes (fan_in 1) — amortized
    background work, never on the update or query path.

    Crash safety: the overwrite below deletes the stale buckets' old rows,
    so those files (plus stats.json/manifest state) are first copied to
    `_compact_backup/`; any entry point finding a completed backup restores
    it (restore_compact_backup), making a crashed compaction a no-op
    instead of data loss. The backup is bounded by the stale buckets'
    compressed size (the deltas since the last compaction plus their base
    rows), and is deleted on success."""
    from macrobase_spark.index.tokenize import (_PARTIAL_POS_SCHEMA,
                                                _PARTIAL_SCHEMA)

    restore_compact_backup(out_dir)  # recover any earlier crashed attempt
    recover_update_inflight(out_dir)
    _key = _mutation_begin(out_dir)
    try:
        with open(os.path.join(out_dir, "stats.json")) as f:
            stats = json.load(f)
        version = stats.get("version", 1)
        avgdl = stats["avgdl"]
        stale = [b for b, v in bucket_versions(out_dir).items() if v != version]
        postings_root = os.path.join(out_dir, "postings")
        docs_path = os.path.join(out_dir, "docs.parquet")
        tomb = tombstone_ids(spark, out_dir)
        purge = tomb is not None
        if purge:
            # pending deletes: a tombstoned doc can appear in ANY bucket's
            # postings, so the physical purge rewrites every bucket (full
            # LSM major compaction), not just the version-stale ones
            stale = sorted(set(stale) | set(_buckets(postings_root)))
        if not (stale or purge):
            return {"version": version, "compacted_buckets": []}

        backup = _compact_backup_dir(out_dir)
        shutil.rmtree(backup, ignore_errors=True)
        os.makedirs(backup)
        manifest_path_ = os.path.join(out_dir, "manifest.jsonl")
        with open(os.path.join(backup, "_meta.json"), "w") as f:
            json.dump({
                "stats": json.dumps(stats),
                "manifest_len": (os.path.getsize(manifest_path_)
                                 if os.path.exists(manifest_path_) else 0),
                "pid": os.getpid(),
                "purge": purge,
            }, f)
        positions_root = os.path.join(out_dir, "positions")
        has_positions = bool(stats.get("has_positions"))
        for b in stale:
            src = os.path.join(postings_root, f"bucket={b}")
            if os.path.isdir(src):
                shutil.copytree(src, os.path.join(backup, f"bucket={b}"))
            if has_positions:
                psrc = os.path.join(positions_root, f"bucket={b}")
                if os.path.isdir(psrc):
                    shutil.copytree(psrc, os.path.join(
                        backup, "positions", f"bucket={b}"))
        if purge:
            # the purge rewrites the docs table and clears the tombstones,
            # so both join the crash-safety backup (restore reinstates the
            # pre-compaction view; bounded by the docs table size — a
            # purge-compaction is a full rewrite by nature)
            shutil.copytree(docs_path, os.path.join(backup, "docs.parquet"))
            shutil.copytree(os.path.join(out_dir, _TOMBSTONES),
                            os.path.join(backup, _TOMBSTONES))
        with open(os.path.join(backup, "_complete"), "w") as f:
            f.write("1")

        drop = np.unique(deleted_ids(out_dir))
        avgdl_enc = avgdl
        if purge:
            # post-purge global stats drive the re-encoded block-max
            # metadata, so they are computed BEFORE the merge
            kept_docs = spark.read.parquet(docs_path).join(
                tomb, "doc_id", "anti")
            row = kept_docs.agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("sum_dl")).collect()[0]
            n_docs_new = int(row["n"])
            sum_dl_new = int(row["sum_dl"] or 0)
            avgdl_enc = sum_dl_new / max(1, n_docs_new)
        # each layer's stale segment rows decode into the build's partial
        # rows and run the build's encode plan: a term's segments merge to
        # the one row a fresh build over the surviving docs writes
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        layers = [(postings_root, _merge_partial_runs(avgdl_enc),
                   _POSTINGS_SCHEMA, _PARTIAL_SCHEMA)]
        if has_positions:
            layers.append((positions_root, _merge_partial_pos_runs,
                           _POS_SCHEMA, _PARTIAL_POS_SCHEMA))
        for root, kernel, schema, partial_schema in layers:
            # every writer emits the layer's schema: no inference job, and
            # a layer with no bucket left (every term purged) reads empty
            segments = (spark.read.schema(schema + ", bucket int").parquet(root)
                        .filter(F.col("bucket").isin(stale))
                        .select("term", "blob")
                        .mapInArrow(_segment_partials(drop, partial_schema),
                                    schema=partial_schema))
            _overwrite_buckets(
                _encode(segments, kernel, schema, n_shuffle,
                        stats["num_buckets"]), root, stale, purge)
        if purge:
            # docs table rewrite: read old → write new dir → swap (never
            # overwrite the path being read); the backup covers every
            # crash window until the final backup removal
            new_docs = docs_path + "._new"
            shutil.rmtree(new_docs, ignore_errors=True)
            kept_docs.write.mode("overwrite").parquet(new_docs)
            shutil.rmtree(docs_path)
            os.rename(new_docs, docs_path)
            stats["n_docs"] = n_docs_new
            stats["sum_dl"] = sum_dl_new
            stats["avgdl"] = avgdl_enc
            shutil.rmtree(os.path.join(out_dir, _TOMBSTONES))
        stats["segmented_buckets"] = sorted(
            set(stats.get("segmented_buckets", [])) - set(stale))
        # compaction is the background maintenance pass — also refresh the
        # robust length-normalization stats that incremental updates let drift
        ll = "log1p(cast(doc_len as double))"
        if stats["n_docs"] > 0:
            qs = spark.read.parquet(os.path.join(out_dir, "docs.parquet")).agg(
                F.expr(f"percentile_approx({ll}, array(0.25, 0.5, 0.75))")
            ).collect()[0][0]
            stats["len_med"] = float(qs[1])
            stats["len_mad"] = (float(qs[2]) - float(qs[0])) / 2.0 or 1e-9
        with open(os.path.join(out_dir, "stats.json"), "w") as f:
            json.dump(stats, f)
        with open(os.path.join(out_dir, "manifest.jsonl"), "a") as f:
            for b in sorted(stale):
                f.write(json.dumps({"bucket": int(b), "status": "done",
                                    "version": version, "op": "compact",
                                    "ts": time.time()}) + "\n")
        shutil.rmtree(backup)  # compaction fully committed — drop the backup
        invalidate_index_cache(out_dir)
        return {"version": version, "compacted_buckets": sorted(stale)}
    finally:
        _mutation_end(_key)


_BV_CACHE: dict[str, tuple[tuple[int, int], dict[int, int]]] = {}


def bucket_versions(out_dir: str) -> dict[int, int]:
    """Latest manifest version per bucket (for version-gated pruning).
    Memoized per (path, manifest mtime+size) — the query path consults
    this on EVERY bm25 call, and on a long-lived serving index the
    manifest grows one line per bucket per epoch; any update/compact
    rewrites or appends to the file, changing the signature."""
    path = os.path.join(out_dir, "manifest.jsonl")
    if not os.path.exists(path):
        return {}
    st = os.stat(path)
    sig = (st.st_mtime_ns, st.st_size)
    key = os.path.abspath(out_dir)
    hit = _BV_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    versions: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("status") == "done":
                versions[rec["bucket"]] = rec.get("version", 1)
    _BV_CACHE[key] = (sig, versions)
    return versions


class TermStats(NamedTuple):
    """One term's dictionary entry: df summed over its posting rows, the
    max of their max_impact, and the number of rows (1 on a compacted
    index; a segmented index adds one per update that touched the term)."""
    df: int
    max_impact: float
    rows: int


class TermDict(NamedTuple):
    """An index version's term dictionary: the ascending vocabulary and
    each term's TermStats — the small columnar half of the index, kept
    apart from the posting blobs."""
    terms: list[str]
    stats: dict[str, TermStats]


def _dict_rows(files: list[str]):
    """The (term, df, max_impact) columns of postings part files as one
    Arrow table, read on the driver with pyarrow — no Spark job, and the
    posting blobs are never read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not files:
        return pa.schema([("term", pa.string()), ("df", pa.int64()),
                          ("max_impact", pa.float64())]).empty_table()
    return pa.concat_tables(
        pq.read_table(f, columns=["term", "df", "max_impact"]) for f in files)


def _term_dict(rows, base: TermDict | None = None) -> TermDict:
    """Fold posting rows' (term, df, max_impact) — an Arrow table — into a
    TermDict, on top of `base` when given (update_index folds its delta
    into the previous version's dictionary). Exact: df sums integers and
    max_impact takes a max, so folding row sets in any grouping gives the
    same dictionary as one fold over all rows."""
    g = rows.group_by("term").aggregate(
        [("df", "sum"), ("max_impact", "max"), ("df", "count")])
    stats = dict(zip(g["term"].to_pylist(), map(
        TermStats, g["df_sum"].to_pylist(), g["max_impact_max"].to_pylist(),
        g["df_count"].to_pylist())))
    if base is not None:
        for t, s in stats.items():
            o = base.stats.get(t)
            if o is not None:
                stats[t] = TermStats(o.df + s.df,
                                     max(o.max_impact, s.max_impact),
                                     o.rows + s.rows)
        stats = {**base.stats, **stats}
    return TermDict(sorted(stats), stats)


class _Version:
    """One cached index version: read_index's (postings, docs, stats)
    handles, the postings and positional part files per bucket and the
    docs part files, all taken on the first read, and its TermDict, loaded
    on the first open_version — or folded in ahead of the first read by
    the in-process update_index that created the version. The query path
    reads candidate rows from `files` / `pos_files` and docs metadata from
    `docs_files` only, so a file written after the version opened is never
    read by it."""
    __slots__ = ("handles", "tdict", "files", "pos_files", "docs_files")

    def __init__(self, tdict: TermDict | None = None):
        self.handles: tuple[DataFrame, DataFrame, dict] | None = None
        self.tdict = tdict
        self.files: dict[int, list[str]] = {}
        self.pos_files: dict[int, list[str]] = {}
        self.docs_files: list[str] = []


_INDEX_CACHE: dict[tuple, _Version] = {}


def _version_key(spark: SparkSession, out_dir: str) -> tuple:
    """(applicationId, path, stats mtime): a new session never collides
    with a garbage-collected one (id() reuse), and an update/compact by
    ANOTHER process rewrites stats.json, so it names a new version."""
    mtime = os.stat(os.path.join(out_dir, "stats.json")).st_mtime_ns
    return (spark.sparkContext.applicationId, os.path.abspath(out_dir), mtime)


def _index_entry(spark: SparkSession, out_dir: str) -> _Version:
    """The cache entry of the index's current version, handles open."""
    restore_compact_backup(out_dir)  # never serve a crashed compaction
    recover_update_inflight(out_dir)  # nor a crashed (dead-owner) update
    key = _version_key(spark, out_dir)
    entry = _INDEX_CACHE.get(key)
    if entry is not None and entry.handles is not None:
        return entry
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    postings_root = os.path.join(out_dir, "postings")
    schema = _POSTINGS_SCHEMA + ", bucket int"
    if _buckets(postings_root):
        # every writer emits the canonical schema: pass it instead of
        # paying a footer-inference job on each new index version
        postings = spark.read.schema(schema).parquet(postings_root)
    else:
        # fully-purged index (every doc deleted and compacted away): no
        # parquet files to read — serve an empty relation with the
        # canonical schema so queries return empty instead of crashing
        postings = spark.createDataFrame([], schema)
    # the docs schema is inferred: its metadata columns vary by input
    docs = spark.read.parquet(os.path.join(out_dir, "docs.parquet"))
    # the engine's kernels (scoring AND the build-time block-max impact
    # metadata) hard-code k1/b per the spec; an index whose stats claim
    # different parameters (hand-edited, foreign writer) would silently
    # score wrong — refuse loudly instead
    if (stats.get("k1", K1), stats.get("b", B)) != (K1, B):
        raise ValueError(
            f"index at {out_dir!r} declares k1={stats.get('k1')} "
            f"b={stats.get('b')} but this engine scores with k1={K1} "
            f"b={B} — rebuild the index (block-max metadata bakes these "
            "in; they are not query-time knobs)")
    # evict superseded entries for the same (app, path): cross-process
    # updates bump the mtime key every epoch and would otherwise grow the
    # cache (and pin old DataFrames) for the life of a query server
    for k in [k for k in _INDEX_CACHE if k[:2] == key[:2] and k != key]:
        del _INDEX_CACHE[k]
    docs_root = os.path.join(out_dir, "docs.parquet")
    entry = _INDEX_CACHE.setdefault(key, _Version())
    entry.files = _files_by_bucket(postings_root)
    if stats.get("has_positions"):
        entry.pos_files = _files_by_bucket(os.path.join(out_dir, "positions"))
    entry.docs_files = [os.path.join(docs_root, f)
                        for f in _list_dir(docs_root) or []
                        if f.endswith(".parquet")
                        and not f.startswith(("_", "."))]
    entry.handles = (postings, docs, stats)
    return entry


def read_index(spark: SparkSession, out_dir: str) -> tuple[DataFrame, DataFrame, dict]:
    """Open an index (postings df, docs df, stats). DataFrame handles are
    memoized per index version (`_version_key`), so an update/compact by
    another process invalidates them naturally; same-process mutations
    also call `invalidate_index_cache` explicitly."""
    return _index_entry(spark, out_dir).handles


def open_version(spark: SparkSession, out_dir: str) -> _Version:
    """One index version's cache entry: read_index's handles, the part
    files and the term dictionary, so all of them always describe the
    same version. The dictionary costs one driver-side pyarrow read of
    (term, df, max_impact) from the version's part files (`_dict_rows`, no
    Spark job) on the first call after a version change made by another
    process, a build, a compaction or a merge; an in-process update_index
    folds its delta into the previous version's dictionary instead. Every
    query-time df, WAND bound and prefix / fuzzy / regexp expansion is
    then answered on the driver."""
    entry = _index_entry(spark, out_dir)
    if entry.tdict is None:
        entry.tdict = _term_dict(_dict_rows(
            [f for fs in entry.files.values() for f in fs]))
    return entry


def invalidate_index_cache(out_dir: str | None = None) -> None:
    if out_dir is None:
        _INDEX_CACHE.clear()
        return
    path = os.path.abspath(out_dir)
    for k in [k for k in _INDEX_CACHE if k[1] == path]:
        del _INDEX_CACHE[k]


def merge_indexes(spark: SparkSession, shard_dirs: list[str],
                  out_dir: str) -> dict:
    """Consolidate several physical indexes into ONE monolithic index —
    the shard-merge the sharded-search deployment eventually wants (era
    shards rolled into a yearly index, a tenant migration): the merged
    index answers every query rank- and score-identically to
    bm25_topk_sharded over the inputs, and identically to a from-scratch
    build over the union corpus (pytest-pinned at 1e-12).

    Mechanism — reuse the LSM machinery instead of re-tokenizing: term →
    bucket is the same hash in every shard (shared num_buckets), so each
    shard's posting rows are appended into the merged bucket layout as
    SEGMENTS (one blob-level parquet append per shard union — postings are
    copied compressed, never decoded); the merged index is exactly the
    post-update segmented state the query path already serves exactly
    (cross-row df sums, version-gated pruning off because every shard's
    block-max metadata was computed under its own avgdl). Global stats
    recompute from the shards' exact integer sums. A subsequent
    compact_index() re-encodes each term to one row under the merged
    avgdl and restores block-max pruning — the same amortized background
    work as post-update compaction.

    A positional layer merges the same way (one segment append of the
    positions blobs — the phrase path already sums df across segment
    rows), provided EVERY shard carries one; mixed positional and
    non-positional shards are refused.

    Constraints (refused loudly): shards must share num_buckets and
    stopwords, carry no pending tombstones (compact first — a tombstone's
    doc ids are meaningless in the merged stats), agree on having a
    positional layer, and their doc_id spaces must be disjoint
    (validated with one aggregate over the union docs)."""
    if len(shard_dirs) < 2:
        raise ValueError("merge_indexes needs at least two shard dirs")
    paths = [os.path.abspath(s) for s in shard_dirs]
    if len(set(paths)) != len(paths):
        raise ValueError("merge_indexes: duplicate shard dir in the list")
    if os.path.exists(os.path.join(out_dir, "stats.json")):
        raise ValueError(
            f"merge_indexes: {out_dir!r} already holds an index — merging "
            "appends segments; give a fresh output directory")
    shard_stats = []
    for s in paths:
        sp = os.path.join(s, "stats.json")
        if not os.path.exists(sp):
            raise ValueError(f"merge_indexes: no index at {s!r}")
        with open(sp) as f:
            st = json.load(f)
        if has_tombstones(s):
            raise ValueError(
                f"merge_indexes: shard {s!r} has pending tombstone "
                "deletes — run compact_index on it first")
        shard_stats.append(st)
    nb = {st.get("num_buckets") for st in shard_stats}
    if len(nb) != 1 or None in nb:
        raise ValueError(
            f"merge_indexes: shards disagree on num_buckets ({sorted(nb, key=str)}) "
            "— term→bucket routing must align; rebuild to a shared bucket "
            "count")
    num_buckets = nb.pop()
    pos_flags = {bool(st.get("has_positions")) for st in shard_stats}
    if len(pos_flags) != 1:
        raise ValueError(
            "merge_indexes: some shards carry a positional layer and "
            "some do not — the merged index cannot answer phrase queries "
            "over half the corpus; rebuild the non-positional shards "
            "with positions=True (or all without)")
    has_pos = pos_flags.pop()
    stops = {tuple(st.get("stopwords", [])) for st in shard_stats}
    if len(stops) != 1:
        raise ValueError(
            "merge_indexes: shards disagree on the index-time stoplist — "
            "their analyzers produced different token streams; rebuild to "
            "a shared stoplist")
    # disjoint doc_id spaces: one aggregate over the union docs
    docs_u = None
    for s in paths:
        d = spark.read.parquet(os.path.join(s, "docs.parquet"))
        docs_u = d if docs_u is None else docs_u.unionByName(d)
    row = docs_u.agg(F.count("*").alias("n"),
                     F.countDistinct("doc_id").alias("nd"),
                     F.sum("doc_len").alias("sum_dl")).collect()[0]
    if int(row["n"]) != int(row["nd"]):
        raise ValueError(
            "merge_indexes: shard doc_id spaces overlap "
            f"({int(row['n']) - int(row['nd'])} colliding ids) — a doc_id "
            "must identify one document across the merged corpus")
    n_docs, sum_dl = int(row["n"]), int(row["sum_dl"])
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    # docs table: one distributed union write
    docs_u.write.mode("overwrite").parquet(
        os.path.join(out_dir, "docs.parquet"))
    # postings: blob-level append — compressed segments copied, not decoded
    post_u = None
    for s in paths:
        p = spark.read.parquet(os.path.join(s, "postings"))
        post_u = p if post_u is None else post_u.unionByName(p)
    (post_u.repartition("bucket").sortWithinPartitions("bucket", "term")
     .write.mode("overwrite").partitionBy("bucket")
     .parquet(os.path.join(out_dir, "postings")))
    if has_pos:
        # positional layer: same blob-level segment append — the phrase
        # path already sums df across segment rows per term
        pos_u = None
        for s in paths:
            p = spark.read.parquet(os.path.join(s, "positions"))
            pos_u = p if pos_u is None else pos_u.unionByName(p)
        (pos_u.repartition("bucket").sortWithinPartitions("bucket", "term")
         .write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(out_dir, "positions")))
    buckets = _buckets(os.path.join(out_dir, "postings"))
    # len_med/len_mad feed only future updates' anomaly normalization
    # (advisory robust stats, not scoring inputs) — carrying the first
    # shard's values avoids a docs re-scan; an update recomputes its own
    base = shard_stats[0]
    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump({
            "n_docs": n_docs, "avgdl": sum_dl / n_docs, "sum_dl": sum_dl,
            "len_med": base.get("len_med"), "len_mad": base.get("len_mad"),
            "k1": K1, "b": B, "block_size": BLOCK_SIZE,
            "num_buckets": num_buckets, "version": 1,
            "stopwords": sorted(stops.pop()),
            "has_positions": has_pos,
            # every bucket holds one segment per shard: the query path's
            # cross-row df sums apply index-wide until compaction
            "segmented_buckets": buckets,
        }, f)
    # manifest: stamp every bucket at version 0 (≠ stats version 1) so
    # block-max pruning stays OFF until compact_index re-encodes under
    # the merged avgdl — the same staleness contract as updates
    with open(os.path.join(out_dir, "manifest.jsonl"), "w") as f:
        for b in buckets:
            f.write(json.dumps({"bucket": b, "status": "done",
                                "version": 0, "op": "merge",
                                "ts": time.time()}) + "\n")
    invalidate_index_cache(out_dir)
    return {"n_docs": n_docs, "avgdl": sum_dl / n_docs,
            "shards": len(paths), "buckets": len(buckets),
            "elapsed_sec": round(time.time() - t0, 3)}
