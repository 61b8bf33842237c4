"""r5: positional layer + exact phrase/proximity top-k
(build_index(positions=True) -> bm25_phrase_topk). Covers the codec
roundtrip, phrase rank+score identity vs the single-threaded oracle, hot
terms' positional lists, duplicate-token phrases, absent terms,
ordered-proximity slop, and the positional LSM lifecycle (update_index
segment append -> compact_index re-encode through the build's positional
kernel)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
from macrobase_spark.index.bm25 import bm25_phrase_topk, phrase_oracle
from macrobase_spark.index.build import build_index


def test_positional_codec_roundtrip_fuzz():
    from macrobase_spark.index.codec import (decode_positional,
                                             encode_positional)

    rng = np.random.default_rng(7)
    for _ in range(100):
        n = int(rng.integers(0, 30))
        ids = np.unique(rng.integers(0, 10 ** 9, size=n).astype(np.uint64))
        tfs = rng.integers(1, 5, size=len(ids)).astype(np.uint64)
        dls = rng.integers(1, 400, size=len(ids)).astype(np.uint64)
        flat = (np.concatenate(
            [np.sort(rng.choice(4000, size=int(t), replace=False))
             .astype(np.uint64) for t in tfs])
            if len(ids) else np.empty(0, np.uint64))
        i2, t2, l2, f2 = decode_positional(
            encode_positional(ids, tfs, dls, flat))
        assert (i2 == ids).all() and (t2 == tfs).all()
        assert (l2 == dls).all() and (f2 == flat).all()


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    t = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42)).cache()
    out = str(tmp_path_factory.mktemp("posidx") / "idx")
    build_index(t, out, num_buckets=4, hot_df_threshold=120,
                hot_sample_frac=0.5, positions=True)
    docs = [(r["doc_id"], r["text"])
            for r in t.select("doc_id", "text").collect()]
    return out, docs


PHRASES = [
    "the", "the user", "tool call", "call the tool",
    "the the",            # duplicate-token phrase
    "rare7 the",          # rare + hot, no match (rare7 ends its turn)
    "zzz missing term",   # absent term -> empty
]


def test_phrase_rank_score_identity(spark, pos_index):
    """Rank+score identity vs the oracle on every PHRASES case, plus a
    matching rare + common phrase (the token before rare7, then rare7),
    where the candidates are cut to the rare term's one doc."""
    out, docs = pos_index
    toks = next(t for _, t in docs if "rare7" in t.split()).split()
    rare = f"{toks[toks.index('rare7') - 1]} rare7"
    for phrase in PHRASES + [rare]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_phrase_topk(spark, out, phrase, k=10).collect()]
        want = phrase_oracle(docs, phrase, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (phrase, gs, ws)
        assert want or phrase != rare


def test_phrase_requires_adjacency(spark, pos_index):
    """Docs containing both terms NON-adjacently must not match: compare
    against the oracle's matched-doc set on phrases whose terms co-occur
    far more often than they appear adjacent (measured on this corpus:
    'tok0001 tok0000' co-occurs in ~350 docs, adjacent in ~96; the
    duplicate-token phrase 'tok0000 tok0000' in ~468 vs ~129)."""
    out, docs = pos_index
    import re

    from macrobase_spark.index.tokenize import TOKEN_PATTERN
    for phrase in ["tok0001 tok0000", "tok0000 tok0000"]:
        seq = phrase.split()
        matched = {d for d, _ in phrase_oracle(docs, phrase, k=10 ** 9)}
        both_terms = set()
        for d, text in docs:
            toks = re.findall(TOKEN_PATTERN, text.lower())
            if all(toks.count(t) >= seq.count(t) for t in set(seq)):
                both_terms.add(d)
        assert matched < both_terms, phrase  # strict subset — else vacuous
        got_all = {r["doc_id"] for r in
                   bm25_phrase_topk(spark, out, phrase, k=10 ** 6).collect()}
        assert got_all == matched, phrase


def test_phrase_slop_identity(spark, pos_index):
    """Ordered-proximity (slop>0) rank+score identity vs the brute-force
    oracle, and slop monotonicity: each extra unit of slop can only grow
    the matched-doc set, with slop=0 the exact consecutive phrase."""
    out, docs = pos_index
    prev: set[int] | None = None
    for slop in (0, 1, 2, 4):
        got = [(r["doc_id"], r["score"]) for r in
               bm25_phrase_topk(spark, out, "tok0001 tok0000", k=10 ** 6,
                                slop=slop).collect()]
        want = phrase_oracle(docs, "tok0001 tok0000", k=10 ** 6, slop=slop)
        assert [d for d, _ in got] == [d for d, _ in want], slop
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (slop, gs, ws)
        cur = {d for d, _ in got}
        if prev is not None:
            assert prev <= cur, slop
        prev = cur
    # the slop ladder must actually discriminate on this corpus — else the
    # monotonicity assertion above is vacuous
    exact = {d for d, _ in phrase_oracle(docs, "tok0001 tok0000",
                                         k=10 ** 9, slop=0)}
    assert exact < prev

    # 3-term proximity with an interleaved token: matches at slop>=1 only
    got1 = {r["doc_id"] for r in bm25_phrase_topk(
        spark, out, "the user the", k=10 ** 6, slop=2).collect()}
    want1 = {d for d, _ in phrase_oracle(docs, "the user the",
                                         k=10 ** 9, slop=2)}
    assert got1 == want1


def test_positional_update_compact_lifecycle(spark, tmp_path):
    """update_index on a positional index appends self-contained
    positional segment rows (phrase queries see the delta immediately);
    compact_index merges segments back to one blob per term — results
    bit-identical at every stage vs the oracle over base+delta."""
    import os

    from macrobase_spark.index.build import (compact_index, open_version,
                                             update_index)

    base = with_doc_id(synth_transcripts(spark, n_convs=30, seed=7)).cache()
    out = str(tmp_path / "lsm_pos")
    build_index(base, out, num_buckets=4, hot_df_threshold=80,
                hot_sample_frac=0.5, positions=True)
    delta = (with_doc_id(synth_transcripts(spark, n_convs=12, seed=99))
             .withColumn("doc_id", F.col("doc_id") + 10_000_000)).cache()
    update_index(delta, out)
    # the phrase paths take df and presence from the term dictionary: a
    # term's positional rows must sum to its dictionary df after an update
    pos_dfs = {r["term"]: r["df"] for r in
               spark.read.parquet(os.path.join(out, "positions"))
               .groupBy("term").agg(F.sum("df").alias("df")).collect()}
    assert pos_dfs == {t: st.df for t, st in
                       open_version(spark, out).tdict.stats.items()}

    docs = ([(r["doc_id"], r["text"]) for r in
             base.select("doc_id", "text").collect()]
            + [(r["doc_id"], r["text"]) for r in
               delta.select("doc_id", "text").collect()])

    def check(stage):
        delta_seen = 0
        for phrase, slop in [("the user", 0), ("tool call", 0),
                             ("the the", 0), ("tok0001 tok0000", 1)]:
            got = [(r["doc_id"], r["score"]) for r in
                   bm25_phrase_topk(spark, out, phrase, k=10 ** 6,
                                    slop=slop).collect()]
            want = phrase_oracle(docs, phrase, k=10 ** 6, slop=slop)
            assert [d for d, _ in got] == [d for d, _ in want], (stage, phrase)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-12), (stage, phrase)
            delta_seen += sum(1 for d, _ in got if d >= 10_000_000)
        # delta docs must actually be visible through the phrase path —
        # guards against an update that silently skips the positional
        # append (identity alone would pass if the oracle saw nothing too,
        # since phrase matching of unseen docs yields no rows either way)
        assert delta_seen > 0, stage

    check("post-update")
    compact_index(spark, out)
    check("post-compact")
    # compaction actually merged: every (bucket, term) in the positional
    # layer is back to a single segment row
    pos = spark.read.parquet(os.path.join(out, "positions"))
    dup = (pos.groupBy("bucket", "term").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    base.unpersist()
    delta.unpersist()


def test_positional_update_segments_match_fresh_build(spark, tmp_path):
    """Positional analogue of the main-layer segment check: the positional
    rows update_index appends equal, on (term, df, blob), those of a fresh
    positions=True build of the delta alone."""
    import os
    from collections import Counter

    from macrobase_spark.index.build import update_index

    base = with_doc_id(synth_transcripts(spark, n_convs=20, seed=7))
    delta = (with_doc_id(synth_transcripts(spark, n_convs=8, seed=99))
             .withColumn("doc_id", F.col("doc_id") + 10_000_000)).cache()
    out = str(tmp_path / "upd_pos")
    fresh = str(tmp_path / "delta_pos")
    for src, path in ((base, out), (delta, fresh)):
        build_index(src, path, num_buckets=4, hot_df_threshold=10 ** 9,
                    positions=True)

    def rows(path):
        pos = spark.read.parquet(os.path.join(path, "positions"))
        return Counter((r["term"], r["df"], bytes(r["blob"]))
                       for r in pos.select("term", "df", "blob").collect())

    before = rows(out)
    update_index(delta, out)
    appended = rows(out) - before
    want = rows(fresh)
    assert appended == want and sum(want.values()) > 0
    delta.unpersist()


def test_plain_index_refuses_phrase(spark, tmp_path):
    t = with_doc_id(synth_transcripts(spark, n_convs=10, seed=1))
    out = str(tmp_path / "plain")
    build_index(t, out, num_buckets=4, hot_df_threshold=500,
                hot_sample_frac=0.5)
    with pytest.raises(ValueError, match="no positional layer"):
        bm25_phrase_topk(spark, out, "the user").collect()


def test_phrase_doc_filter_rank_identity(spark, pos_index):
    """bm25_phrase_topk doc_filter: phrase top-k within the filtered doc
    population only — rank+score identity vs phrase_oracle(keep_ids),
    non-empty so the filter is provably exercised, and disjoint from the
    unfiltered result where roles differ."""
    out, docs = pos_index
    t = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42))
    keep = {r["doc_id"] for r in
            t.filter(F.col("role") == "assistant")
            .select("doc_id").collect()}
    ph = "tok0000 tok0000"
    rows = bm25_phrase_topk(spark, out, ph, k=12,
                            doc_filter="role = 'assistant'").collect()
    got = [(r["doc_id"], r["score"]) for r in rows]
    want = phrase_oracle(docs, ph, k=12, keep_ids=keep)
    assert want, "fixture phrase must match within role='assistant'"
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))
    assert all(d in keep for d, _ in got)
    # search-after pages (Row and (score, doc_id) cursors) tile the
    # filtered ranking
    mid = len(got) // 2
    for cursor in (rows[mid - 1], (got[mid - 1][1], got[mid - 1][0])):
        page = bm25_phrase_topk(spark, out, ph, k=len(got) - mid,
                                doc_filter="role = 'assistant'",
                                after=cursor).collect()
        assert [(r["doc_id"], r["score"]) for r in page] == got[mid:]


def test_phrase_batch_matches_single(spark, tmp_path):
    """bm25_phrase_topk_batch: every query's (doc_id, score) sequence is
    bit-identical to the single-phrase path; unindexed-term phrases and
    stoplisted-away phrases return nothing; slop/doc_filter apply
    batch-wide."""
    from pyspark.sql import functions as F

    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.bm25 import (bm25_phrase_topk,
                                            bm25_phrase_topk_batch)
    from macrobase_spark.index.build import build_index

    t = with_doc_id(synth_transcripts(spark, n_convs=40, seed=42)).cache()
    out = str(tmp_path / "phb_idx")
    build_index(t, out, num_buckets=4, hot_df_threshold=10 ** 9,
                positions=True)
    qs = {"a": "tok0000 tok0000", "b": "the call", "c": "merge zzz gone",
          "d": "tok0001 tok0000"}
    batch = bm25_phrase_topk_batch(spark, out, qs, k=6).collect()
    by_q: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, p in qs.items():
        single = [(r["doc_id"], r["score"]) for r in
                  bm25_phrase_topk(spark, out, p, k=6).collect()]
        assert by_q.get(qid, []) == single, qid
    assert by_q.get("a") and "c" not in by_q
    # slop + doc_filter compose batch-wide, still identical per query
    batch2 = bm25_phrase_topk_batch(
        spark, out, {"a": "the the"}, k=6, slop=2,
        doc_filter="role = 'assistant'").collect()
    single2 = [(r["doc_id"], r["score"]) for r in
               bm25_phrase_topk(spark, out, "the the", k=6, slop=2,
                                doc_filter="role = 'assistant'").collect()]
    assert [(r["doc_id"], r["score"]) for r in
            sorted(batch2, key=lambda r: r["rank"])] == single2
