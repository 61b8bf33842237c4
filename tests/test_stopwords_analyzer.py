"""Index-time stopword analyzer (Lucene StopFilter): stoplisted tokens
get no postings and count in NO stat (dl/tf/df/rep_ratio), the list is
persisted in stats.json so build/update/query can never diverge, and the
positional layer preserves position gaps. Every ranking check is against
the pure-Python oracle with the same stoplist.

At corpus scale this is the biggest skew lever the engine has: the
hottest posting lists ("the" in ~every transcript turn) simply don't
exist, instead of being encoded on the biggest task of the build."""

import math
import re

import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.transcripts import (HOT_TERMS,
                                                  synth_transcripts,
                                                  with_doc_id)
from macrobase_spark.index.build import (build_index, read_index,
                                         update_index)
from macrobase_spark.index.bm25 import (TOKEN_PATTERN, bm25_oracle,
                                        bm25_phrase_topk, bm25_topk,
                                        phrase_oracle)

STOP = sorted(HOT_TERMS)  # ["call", "run", "the", "tool"]


@pytest.fixture(scope="module")
def stop_corpus(spark, tmp_path_factory):
    df = with_doc_id(synth_transcripts(spark, n_convs=50, seed=42)).cache()
    out = str(tmp_path_factory.mktemp("stop_idx"))
    report = build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9,
                         positions=True, stopwords=STOP)
    docs = [(r["doc_id"], r["text"]) for r in
            df.select("doc_id", "text").collect()]
    return df, out, report, docs


def test_stoplisted_terms_have_no_postings(spark, stop_corpus):
    _, out, report, _ = stop_corpus
    postings, _, stats = read_index(spark, out)
    assert stats["stopwords"] == STOP
    assert postings.filter(F.col("term").isin(STOP)).count() == 0
    # and the docs table's doc_len counts survivors only
    _, docs_tbl, _ = read_index(spark, out)


def test_doc_len_counts_survivors(spark, stop_corpus):
    df, out, _, docs = stop_corpus
    _, docs_tbl, stats = read_index(spark, out)
    got = {r["doc_id"]: r["doc_len"] for r in
           docs_tbl.select("doc_id", "doc_len").collect()}
    stop = set(STOP)
    for d, text in docs[:50]:
        toks = [t for t in re.findall(TOKEN_PATTERN, text.lower())
                if t not in stop]
        assert got[d] == len(toks), d
    assert math.isclose(
        stats["avgdl"],
        sum(len([t for t in re.findall(TOKEN_PATTERN, t.lower())
                 if t not in stop]) for _, t in docs) / len(docs),
        rel_tol=1e-9)


@pytest.mark.parametrize("query", [
    "the rare7",               # stopword dropped from the query
    "tok0042 tok0007 the",
    "rare11 tok0100",
    "the call run",            # ONLY stopwords → empty
])
def test_rank_identity_with_stoplist(spark, stop_corpus, query):
    _, out, _, docs = stop_corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, query, k=10).collect()]
    want = bm25_oracle(docs, query, k=10, stopwords=set(STOP))
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), query


def test_and_mode_drops_stopwords_from_requirement(spark, stop_corpus):
    """MATCH=ALL over 'tok0042 the' requires only tok0042 — a stopword
    can never be matched, so requiring it would return nothing."""
    _, out, _, docs = stop_corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "tok0042 the", k=10, mode="and").collect()]
    want = bm25_oracle(docs, "tok0042 the", k=10, mode="and",
                       stopwords=set(STOP))
    assert got and [d for d, _ in got] == [d for d, _ in want]
    # excluding a stopword is a no-op, not an empty result
    got2 = [r["doc_id"] for r in
            bm25_topk(spark, out, "tok0042 -the", k=10).collect()]
    assert got2 == [d for d, _ in
                    bm25_oracle(docs, "tok0042", k=10,
                                stopwords=set(STOP))]


def test_phrase_gap_semantics(spark, tmp_path):
    """'merge the scan' with 'the' stoplisted: surviving tokens keep
    original positions, the chain drops the stopword but keeps the span
    budget — 'merge X scan' AND adjacent 'merge scan' both match
    (sloppy-gap treatment, same rule in the brute-force oracle)."""
    rows = [(0, "merge the scan runs"), (1, "merge zzz scan here"),
            (2, "merge scan direct"), (3, "scan merge reversed"),
            (4, "merge aa bb scan far")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "gap_idx")
    build_index(df, out, num_buckets=2, hot_df_threshold=10 ** 9,
                positions=True, stopwords=["the"])
    got = sorted(r["doc_id"] for r in
                 bm25_phrase_topk(spark, out, "merge the scan",
                                  k=10).collect())
    assert got == [0, 1, 2]
    want = phrase_oracle(rows, "merge the scan", k=10,
                         stopwords={"the"})
    assert got == sorted(d for d, _ in want)
    # scores match the oracle too
    eng = dict((r["doc_id"], r["score"]) for r in
               bm25_phrase_topk(spark, out, "merge the scan", k=10).collect())
    for d, s in want:
        assert math.isclose(eng[d], s, rel_tol=1e-12)


def test_update_index_inherits_stoplist(spark, stop_corpus, tmp_path):
    """The delta tokenizes with the PERSISTED stoplist — after an update,
    stoplisted terms still have no postings and ranking matches the
    oracle over the union corpus."""
    import shutil

    df, out, _, docs = stop_corpus
    out2 = str(tmp_path / "upd_idx")
    shutil.copytree(out, out2)
    delta = with_doc_id(
        synth_transcripts(spark, n_convs=6, seed=99)).withColumn(
        "doc_id", F.col("doc_id") + 10 ** 9)
    update_index(delta, out2)
    postings, _, _ = read_index(spark, out2)
    assert postings.filter(F.col("term").isin(STOP)).count() == 0
    union = docs + [(r["doc_id"], r["text"]) for r in
                    delta.select("doc_id", "text").collect()]
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out2, "tok0042 the", k=10).collect()]
    want = bm25_oracle(union, "tok0042 the", k=10, stopwords=set(STOP))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)


def test_resume_with_different_stoplist_refuses(spark, stop_corpus):
    df, out, _, _ = stop_corpus
    with pytest.raises(ValueError, match="mix analyzers"):
        build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9,
                    stopwords=["different"])
    # same stoplist: resume is the normal fast no-op
    report = build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9,
                         positions=True, stopwords=STOP)
    assert report["n_docs"] > 0


def test_all_stopword_docs_survive_build(spark, tmp_path):
    rows = [(0, "the the the"), (1, "merge the scan"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "allstop_idx")
    build_index(df, out, num_buckets=2, hot_df_threshold=10 ** 9,
                stopwords=["the"])
    _, docs_tbl, stats = read_index(spark, out)
    got = {r["doc_id"]: r["doc_len"] for r in docs_tbl.collect()}
    assert got == {0: 0, 1: 2, 2: 0}
    assert stats["n_docs"] == 3 and math.isclose(stats["avgdl"], 2 / 3)


def test_suggest_stopwords_matches_df_recount(spark):
    """The suggester returns exactly the terms whose document frequency
    meets the threshold, most-frequent first — pinned against a python
    recount of per-document term presence. detect_hot_terms over the full
    sample counts the same document frequency."""
    from collections import Counter

    from macrobase_spark.index.build import detect_hot_terms, suggest_stopwords

    df = with_doc_id(synth_transcripts(spark, n_convs=40, seed=42))
    got = suggest_stopwords(df, df_frac_threshold=0.5, sample_frac=1.0)
    rows = df.select("doc_id", "text").collect()
    dfs: Counter[str] = Counter()
    for r in rows:
        dfs.update(set(re.findall(TOKEN_PATTERN, r["text"].lower())))
    want = sorted((t for t, c in dfs.items() if c >= 0.5 * len(rows)),
                  key=lambda t: (-dfs[t], t))
    assert got == want and got  # non-empty on this corpus (zipf head)
    # integer df >= 0.5·n  <=>  df >= ceil(0.5·n)
    hot = detect_hot_terms(df, 1.0, math.ceil(0.5 * len(rows)))
    assert sorted(hot) == sorted(want)
    assert suggest_stopwords(df.limit(0), sample_frac=1.0) == []


def test_sampled_term_sets_do_not_depend_on_partitioning(spark):
    """suggest_stopwords and detect_hot_terms keep a doc by a hash of its
    doc_id, so the same corpus at 1 and at 13 input partitions gives the
    same suggested stoplist and the same hot-term set."""
    from macrobase_spark.index.build import detect_hot_terms, suggest_stopwords

    got = []
    for parts in (1, 13):
        df = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42,
                                           partitions=parts))
        got.append((suggest_stopwords(df, df_frac_threshold=0.05,
                                      sample_frac=0.3),
                    detect_hot_terms(df, 0.3, 40)))
    assert got[0] == got[1], got
    assert all(got[0])


def test_index_stats_reports_stoplist_size(spark, stop_corpus):
    from macrobase_spark.index.snippets import index_stats

    _, out, _, _ = stop_corpus
    rows = index_stats(spark, out).collect()
    assert rows and all(r["n_stopwords"] == len(STOP) for r in rows)


def test_highlight_skips_stoplisted_query_tokens(spark, stop_corpus):
    """On a stopworded index, 'the' in the query neither highlights nor
    counts toward n_matched — the snippet reports what actually ranked."""
    from macrobase_spark.index.snippets import highlight_topk

    df, out, _, _ = stop_corpus
    rows = highlight_topk(spark, out, df, "the rare7", k=3).collect()
    assert rows
    for r in rows:
        assert "**the**" not in (r["snippet"] or "")
        assert r["n_matched"] <= 1  # only rare7 can match
