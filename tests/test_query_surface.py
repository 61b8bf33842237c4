"""Serving-surface features over the inverted index: search-after
pagination, field-scoped query sugar (role:/tool:/conv_id:), metadata
sort (sort_by), faceted match counts, and the per-term scoring explain —
each checked against a pure-Python recomputation over the same corpus
(the rank-identity discipline of test_index_bm25).

Reference capability context: the reference engine's SQL surface exposes
ordering/limits over any relation (sql/.../QueryEngine.java evalQuery);
faceting/explain are the Lucene-class operations a fulltext engine owes
its users on top of that.
"""

import math
import re
import shutil

import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
from macrobase_spark.index.build import build_index
from macrobase_spark.index.bm25 import (TOKEN_PATTERN, bm25_explain,
                                        bm25_facets, bm25_oracle, bm25_topk,
                                        bm25_topk_batch)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42)).cache()
    out = str(tmp_path_factory.mktemp("qs_index"))
    build_index(df, out, num_buckets=4, hot_df_threshold=120,
                hot_sample_frac=0.5)
    rows = df.select("doc_id", "text", "role", "tool", "turn_idx").collect()
    docs = [(r["doc_id"], r["text"]) for r in rows]
    meta = {r["doc_id"]: (r["role"], r["tool"], r["turn_idx"]) for r in rows}
    return df, out, docs, meta


def _match_ids(docs, query, mode="or"):
    terms = sorted(set(re.findall(TOKEN_PATTERN, query.lower())))
    ids = set()
    for d, t in docs:
        toks = set(re.findall(TOKEN_PATTERN, t.lower()))
        ok = (all(x in toks for x in terms) if mode == "and"
              else any(x in toks for x in terms))
        if ok:
            ids.add(d)
    return ids


# ---------------------------------------------------------------- after=

def test_search_after_pages_tile_the_ranking(spark, corpus):
    """Pages fetched via after= concatenate to exactly the one-shot
    ranking: no duplicates, no gaps, same scores."""
    _, out, docs, _ = corpus
    full = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, out, "tok0042 tok0007 the", k=12).collect()]
    pages, cursor = [], None
    while len(pages) < len(full):
        rows = bm25_topk(spark, out, "tok0042 tok0007 the", k=4,
                         after=cursor).collect()
        if not rows:
            break
        pages.extend((r["doc_id"], r["score"]) for r in rows)
        cursor = rows[-1]  # a previous-page Row IS a valid cursor
    assert pages == full
    # and the whole ranking matches the oracle
    want = bm25_oracle(docs, "tok0042 tok0007 the", k=12)
    assert [d for d, _ in pages] == [d for d, _ in want]


def test_search_after_composes_with_modifiers(spark, corpus):
    _, out, _, _ = corpus
    full = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, out, "the -tok0042", k=8,
                      doc_filter="role = 'assistant'").collect()]
    p1 = full[:4]
    # explicit (score, doc_id) tuple cursor form
    p2 = [(r["doc_id"], r["score"]) for r in
          bm25_topk(spark, out, "the -tok0042", k=4,
                    doc_filter="role = 'assistant'",
                    after=(p1[-1][1], p1[-1][0])).collect()]
    assert p1 + p2 == full


def test_search_after_rejects_sort_by(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="does not compose with sort_by"):
        bm25_topk(spark, out, "the", k=4, after=(1.0, 0),
                  sort_by="turn_idx desc")


# ---------------------------------------------------------- field scopes

def test_field_scope_equals_doc_filter(spark, corpus):
    _, out, _, _ = corpus
    got = bm25_topk(spark, out, "role:assistant tok0042 the", k=10).collect()
    want = bm25_topk(spark, out, "tok0042 the", k=10,
                     doc_filter="role = 'assistant'").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]
    assert got


def test_field_scope_or_within_and_across_fields(spark, corpus):
    _, out, _, _ = corpus
    got = bm25_topk(spark, out,
                    "role:assistant role:tool tool:sql the", k=10).collect()
    want = bm25_topk(
        spark, out, "the", k=10,
        doc_filter="role IN ('assistant', 'tool') AND tool = 'sql'"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]
    assert got


def test_field_scope_composes_with_explicit_filter(spark, corpus):
    _, out, _, _ = corpus
    got = bm25_topk(spark, out, "role:assistant the", k=10,
                    doc_filter="turn_idx > 2").collect()
    want = bm25_topk(spark, out, "the", k=10,
                     doc_filter="turn_idx > 2 AND role = 'assistant'"
                     ).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]
    assert got


def test_field_scope_rejected_in_batch(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="field scopes"):
        bm25_topk_batch(spark, out, {"a": "role:user the", "b": "the"}, k=3)


# -------------------------------------------------------------- sort_by

def test_sort_by_metadata_ranks_matches(spark, corpus):
    """sort_by='turn_idx desc': the k matching docs with the largest
    turn_idx, ties by ascending doc_id — recomputed from the corpus."""
    _, out, docs, meta = corpus
    got = bm25_topk(spark, out, "tok0042 tok0007", k=8,
                    sort_by="turn_idx desc").collect()
    assert got[0].asDict().keys() == {"doc_id", "score", "turn_idx"}
    matched = _match_ids(docs, "tok0042 tok0007")
    want = sorted(matched, key=lambda d: (-meta[d][2], d))[:8]
    assert [r["doc_id"] for r in got] == want
    # the BM25 score still rides along and matches the oracle's score
    oracle = dict(bm25_oracle(docs, "tok0042 tok0007", k=10 ** 6))
    for r in got:
        assert math.isclose(r["score"], oracle[r["doc_id"]], rel_tol=1e-12)


def test_sort_by_validation(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="not sortable"):
        bm25_topk(spark, out, "the", k=3, sort_by="nope desc").collect()
    with pytest.raises(ValueError, match="asc"):
        bm25_topk(spark, out, "the", k=3, sort_by="turn_idx sideways")


# --------------------------------------------------------------- facets

def test_facets_match_python_recount(spark, corpus):
    _, out, docs, meta = corpus
    got = {(r["facet"], r["value"]): r["doc_count"] for r in
           bm25_facets(spark, out, "tok0042 the", ["role", "tool"]).collect()}
    matched = _match_ids(docs, "tok0042 the")
    assert got[("__total__", "")] == len(matched)
    from collections import Counter

    roles = Counter(meta[d][0] for d in matched)
    tools = Counter(meta[d][1] if meta[d][1] is not None else "(null)"
                    for d in matched)
    for v, c in roles.items():
        assert got[("role", v)] == c
    for v, c in tools.items():
        assert got[("tool", v)] == c
    # no extra rows beyond total + observed values
    assert len(got) == 1 + len(roles) + len(tools)


def test_facets_follow_retrieval_semantics(spark, corpus):
    """mode='and', exclusions, and field scopes restrict the facet
    population exactly like they restrict bm25_topk's rankable docs."""
    _, out, docs, meta = corpus
    got = {(r["facet"], r["value"]): r["doc_count"] for r in
           bm25_facets(spark, out, "role:assistant tok0042 tok0007",
                       ["role"], mode="and").collect()}
    matched = {d for d in _match_ids(docs, "tok0042 tok0007", mode="and")
               if meta[d][0] == "assistant"}
    assert got[("__total__", "")] == len(matched)
    assert got.get(("role", "assistant"), 0) == len(matched)
    ex = {(r["facet"], r["value"]): r["doc_count"] for r in
          bm25_facets(spark, out, "tok0042 -tok0007", ["role"]).collect()}
    m2 = _match_ids(docs, "tok0042") - _match_ids(docs, "tok0007")
    assert ex[("__total__", "")] == len(m2)


def test_facets_validation(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="not docs-metadata"):
        bm25_facets(spark, out, "the", ["text"])
    with pytest.raises(ValueError, match="at least one"):
        bm25_facets(spark, out, "the", [])


# -------------------------------------------------------------- explain

def test_explain_reproduces_topk_scores(spark, corpus):
    """Summing a doc's contribs in ascending-term order reproduces
    bm25_topk's score at 1e-12, and tf/df match a corpus recount."""
    _, out, docs, _ = corpus
    q = "tok0042 tok0007 the"
    hits = {r["doc_id"]: r["score"] for r in
            bm25_topk(spark, out, q, k=6).collect()}
    rows = bm25_explain(spark, out, q, k=6).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(hits)
    text = dict(docs)
    n = len(docs)
    for d, parts in by_doc.items():
        s = 0.0
        for p in sorted(parts, key=lambda p: p["term"]):
            s += p["contrib"]
            toks = re.findall(TOKEN_PATTERN, text[d].lower())
            assert p["tf"] == float(toks.count(p["term"]))
            assert p["dl"] == float(len(toks))
            df_t = sum(1 for _, t in docs
                       if p["term"] in re.findall(TOKEN_PATTERN, t.lower()))
            assert p["df"] == float(df_t)
            want_idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            assert math.isclose(p["idf"], want_idf, rel_tol=1e-12)
        assert math.isclose(s, hits[d], rel_tol=1e-12), d
    # synonyms: the explain rows cover the alternates bm25_topk scores
    syn = {"tok0042": ["tok0007"]}
    hits = {r["doc_id"]: r["score"] for r in
            bm25_topk(spark, out, "tok0042 the", k=6,
                      synonyms=syn).collect()}
    sums: dict[int, float] = {}
    for r in sorted(bm25_explain(spark, out, "tok0042 the", k=6,
                                 synonyms=syn).collect(),
                    key=lambda r: (r["doc_id"], r["term"])):
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0.0) + r["contrib"]
    assert set(sums) == set(hits)
    for d, s in sums.items():
        assert math.isclose(s, hits[d], rel_tol=1e-12), d


def test_explain_boost_and_explicit_ids(spark, corpus):
    _, out, docs, _ = corpus
    hit = bm25_topk(spark, out, "tok0042^2 the", k=1).collect()[0]
    rows = bm25_explain(spark, out, "tok0042^2 the",
                        doc_ids=[hit["doc_id"]]).collect()
    boosts = {r["term"]: r["boost"] for r in rows}
    assert boosts.get("tok0042") == 2.0 and boosts.get("the", 1.0) == 1.0
    s = sum(r["contrib"] for r in sorted(rows, key=lambda r: r["term"]))
    assert math.isclose(s, hit["score"], rel_tol=1e-12)


def test_explain_empty_cases(spark, corpus):
    _, out, _, _ = corpus
    assert bm25_explain(spark, out, "zzzznotaword", k=3).count() == 0
    assert bm25_explain(spark, out, "", k=3).count() == 0
    # an id no posting holds, negative included, explains nothing
    assert bm25_explain(spark, out, "the", doc_ids=[-5]).count() == 0


# ------------------------------------------------------- more_like_this

def _mlt_expected_terms(docs, seed_id, max_query_terms=25, min_tf=1,
                        min_df=2):
    from collections import Counter

    text = dict(docs)[seed_id]
    tf = Counter(re.findall(TOKEN_PATTERN, text.lower()))
    n = len(docs)
    dfs = Counter()
    for _, t in docs:
        dfs.update(set(re.findall(TOKEN_PATTERN, t.lower())))
    ranked = sorted(
        ((c * math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)), t)
         for t, c in tf.items() if c >= min_tf and dfs[t] >= min_df),
        key=lambda x: (-x[0], x[1]))
    return sorted(t for _, t in ranked[:max_query_terms])


def test_more_like_this_matches_derived_query_oracle(spark, corpus):
    """MLT == bm25 over the deterministically-selected tf·idf terms of
    the seed, seed excluded, ranks vs the pure-Python oracle."""
    from macrobase_spark.index.bm25 import more_like_this

    df, out, docs, _ = corpus
    seed = docs[7][0]
    got = [(r["doc_id"], r["score"]) for r in
           more_like_this(spark, out, df, seed, k=8).collect()]
    terms = _mlt_expected_terms(docs, seed)
    want = [(d, s) for d, s in
            bm25_oracle(docs, " ".join(terms), k=9) if d != seed][:8]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    assert got and seed not in [d for d, _ in got]


def test_more_like_this_include_self_and_modifiers(spark, corpus):
    from macrobase_spark.index.bm25 import more_like_this

    df, out, docs, meta = corpus
    seed = docs[7][0]
    got = more_like_this(spark, out, df, seed, k=5,
                         include_self=True).collect()
    # the seed scores every selected term — it must rank (usually first)
    assert seed in [r["doc_id"] for r in got]
    scoped = more_like_this(spark, out, df, seed, k=5,
                            doc_filter="role = 'assistant'").collect()
    assert all(meta[r["doc_id"]][0] == "assistant" for r in scoped)
    with pytest.raises(ValueError, match="not found"):
        more_like_this(spark, out, df, -999, k=3)


# ---------------------------------------------------------------- fuzzy

def test_fuzzy_rank_identity(spark, corpus):
    """tok~1 expands to every dictionary term within 1 edit and scores
    as a disjunction — rank+score identical to the pure-Python oracle
    (which expands against the corpus vocabulary independently)."""
    _, out, docs, _ = corpus
    for q in ["tok0001~1", "tok0001~1 the", "rare7~2"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10).collect()]
        want = bm25_oracle(docs, q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), q
        assert got, q
    # the 1-edit expansion is strictly wider than the exact term
    exact = bm25_topk(spark, out, "tok0001", k=10 ** 6).count()
    fuzzy = bm25_topk(spark, out, "tok0001~1", k=10 ** 6).count()
    assert fuzzy > exact


def test_fuzzy_boost_exclusion_and_batch(spark, corpus):
    _, out, docs, _ = corpus
    for q in ["tok0001~1^2 the", "the -tok0001~1"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=8).collect()]
        want = bm25_oracle(docs, q, k=8)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), q
    # batch: same token at two distances in one batch — each query keeps
    # only its own expansions, bit-identical to the single path
    qs = {"a": "rare7~1 the", "b": "rare7~2", "c": "the"}
    batch = bm25_topk_batch(spark, out, qs, k=6).collect()
    by_q: dict[str, list] = {}
    for r in sorted(batch, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        single = [(r["doc_id"], r["score"]) for r in
                  bm25_topk(spark, out, q, k=6).collect()]
        assert by_q.get(qid, []) == single, qid


def test_fuzzy_facets_and_guardrails(spark, corpus):
    from macrobase_spark.index.bm25 import _edit_distance

    _, out, docs, _ = corpus
    vocab = {t for _, txt in docs
             for t in re.findall(TOKEN_PATTERN, txt.lower())}
    exp = {t for t in vocab if _edit_distance("tok0001", t, 1) <= 1}
    matched = set()
    for d, txt in docs:
        if exp & set(re.findall(TOKEN_PATTERN, txt.lower())):
            matched.add(d)
    got = {(r["facet"], r["value"]): r["doc_count"] for r in
           bm25_facets(spark, out, "tok0001~1", ["role"]).collect()}
    assert got[("__total__", "")] == len(matched)
    with pytest.raises(ValueError, match="mode='and'"):
        bm25_topk(spark, out, "tok0001~1 the", k=3, mode="and")
    with pytest.raises(ValueError, match="more than"):
        bm25_topk(spark, out, "tok0001~2", k=3, max_expansions=3)


# ------------------------------------------------------- sharded search

@pytest.fixture(scope="module")
def shards(spark, tmp_path_factory):
    from macrobase_spark.index.build import build_index

    df = with_doc_id(synth_transcripts(spark, n_convs=40, seed=7)).cache()
    root = tmp_path_factory.mktemp("shards")
    full = str(root / "full")
    s1, s2 = str(root / "s1"), str(root / "s2")
    build_index(df, full, num_buckets=4, hot_df_threshold=10 ** 9)
    build_index(df.filter(F.col("doc_id") % 2 == 0), s1, num_buckets=4,
                hot_df_threshold=10 ** 9)
    build_index(df.filter(F.col("doc_id") % 2 == 1), s2, num_buckets=2,
                hot_df_threshold=10 ** 9)
    return df, full, [s1, s2]


def test_sharded_identical_to_monolithic(spark, shards):
    """Two shards + global stats == one monolithic index, bit-identical
    ranking (the MultiReader property)."""
    from macrobase_spark.index.bm25 import bm25_topk_sharded

    _, full, parts = shards
    for q, kw in [("tok0042 tok0007 the", {}),
                  ("tok0042 the", {"mode": "and"}),
                  ("the -tok0042", {}),
                  ("role:assistant the", {}),
                  ("tok0001 the", {"doc_filter": "turn_idx > 2"})]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk_sharded(spark, parts, q, k=10, **kw).collect()]
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, full, q, k=10, **kw).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (q, gs, ws)
        assert got, q


def test_sharded_tombstones_and_guardrails(spark, shards, tmp_path):
    import shutil

    from macrobase_spark.index.build import delete_docs
    from macrobase_spark.index.bm25 import bm25_topk_sharded

    df, full, orig = shards
    # mutate COPIES — the module fixture's shards stay pristine for the
    # other sharded tests (tombstones cannot be un-deleted)
    parts = [str(tmp_path / "t0"), str(tmp_path / "t1")]
    for src_dir, dst in zip(orig, parts):
        shutil.copytree(src_dir, dst)
    base = [r["doc_id"] for r in
            bm25_topk_sharded(spark, parts, "tok0042 the", k=5).collect()]
    # delete the top hit from whichever shard owns it
    victim = base[0]
    delete_docs(spark, parts[victim % 2], [victim])
    after = [r["doc_id"] for r in
             bm25_topk_sharded(spark, parts, "tok0042 the", k=5).collect()]
    assert victim not in after and after
    with pytest.raises(ValueError, match="wildcard/fuzzy/boost"):
        bm25_topk_sharded(spark, parts, "tok00* the", k=5)
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk_sharded(spark, [], "the", k=5)


def test_sharded_rejects_mixed_stoplists(spark, tmp_path):
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_topk_sharded

    df = with_doc_id(synth_transcripts(spark, n_convs=10, seed=3))
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(df.filter(F.col("doc_id") % 2 == 0), a, num_buckets=2,
                hot_df_threshold=10 ** 9)
    build_index(df.filter(F.col("doc_id") % 2 == 1), b, num_buckets=2,
                hot_df_threshold=10 ** 9, stopwords=["the"])
    with pytest.raises(ValueError, match="DIFFERENT\\s+stoplists"):
        bm25_topk_sharded(spark, [a, b], "tok0001", k=3)


def test_negative_field_scope(spark, corpus):
    """-role:user excludes the scope (NOT the term 'role'): equals an
    explicit <> filter; NULL metadata never survives the negative (SQL
    three-valued logic, documented)."""
    _, out, _, _ = corpus
    got = bm25_topk(spark, out, "-role:user tok0042 the", k=10).collect()
    want = bm25_topk(spark, out, "tok0042 the", k=10,
                     doc_filter="role <> 'user'").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in want]
    assert got
    # mixed positive + negative across fields
    got2 = bm25_topk(spark, out, "role:assistant -tool:sql the",
                     k=10).collect()
    want2 = bm25_topk(spark, out, "the", k=10,
                      doc_filter="role = 'assistant' AND tool <> 'sql'"
                      ).collect()
    assert [(r["doc_id"], r["score"]) for r in got2] == \
           [(r["doc_id"], r["score"]) for r in want2]
    assert got2


def test_range_facets_match_python_recount(spark, corpus):
    """ranges= numeric facets: half-open buckets, closed last bucket,
    (out)/(null) handling — recounted in python over the match set."""
    df, out, docs, meta = corpus
    anom = {r["doc_id"]: (r["anomaly"], r["turn_idx"]) for r in
            spark.read.parquet(out + "/docs.parquet")
            .select("doc_id", "anomaly", "turn_idx").collect()}
    got = {(r["facet"], r["value"]): r["doc_count"] for r in
           bm25_facets(spark, out, "tok0042 the",
                       ranges={"anomaly": [0.0, 0.25, 0.5, 1.0],
                               "turn_idx": [0, 3, 6]}).collect()}
    matched = _match_ids(docs, "tok0042 the")
    assert got[("__total__", "")] == len(matched)

    def bucket(v, edges):
        if v is None:
            return "(null)"
        for lo, hi in zip(edges, edges[1:]):
            last = hi == edges[-1]
            if (lo <= v <= hi) if last else (lo <= v < hi):
                def e(x):
                    s = f"{float(x):.6f}".rstrip("0").rstrip(".")
                    return s or "0"
                return f"[{e(lo)},{e(hi)}" + ("]" if last else ")")
        return "(out)"

    from collections import Counter

    want_a = Counter(bucket(anom[d][0], [0.0, 0.25, 0.5, 1.0])
                     for d in matched)
    want_t = Counter(bucket(anom[d][1], [0, 3, 6]) for d in matched)
    for v, c in want_a.items():
        assert got[("anomaly", v)] == c, v
    for v, c in want_t.items():
        assert got[("turn_idx", v)] == c, v
    # turn_idx beyond 6 lands in (out)
    assert ("turn_idx", "(out)") in got
    with pytest.raises(ValueError, match="strictly increasing"):
        bm25_facets(spark, out, "the", ranges={"anomaly": [1.0, 0.0]})
    with pytest.raises(ValueError, match="at least one"):
        bm25_facets(spark, out, "the")


@pytest.fixture(scope="module")
def seg_index(spark, corpus, tmp_path_factory):
    """The corpus as a segmented positional index: a build over 4/5 of
    it, then update_index with the rest (a term in both parts spans two
    posting rows)."""
    from macrobase_spark.index.build import update_index

    df = corpus[0]
    seg = str(tmp_path_factory.mktemp("qs_seg_index"))
    base = F.col("conv_id") < "conv00000048"
    build_index(df.filter(base), seg, num_buckets=4, hot_df_threshold=120,
                hot_sample_frac=0.5, positions=True)
    update_index(df.filter(~base), seg)
    return seg


def test_randomized_micro_syntax_rank_identity(spark, corpus, seg_index):
    """Seeded random sweep over the query micro-syntax surface: random
    combinations of plain terms, exclusions, prefix wildcards, boosts,
    fuzzy tokens, and regexp tokens must stay rank+score identical to
    the pure-Python oracle (both engines parse independently), on a
    compacted and on a segmented index; one bm25_topk_batch over every
    trial's query equals bm25_topk per query bitwise."""
    import random

    _, out, docs, _ = corpus
    rng = random.Random(2026)
    vocab = ["tok0001", "tok0042", "tok0007", "the", "rare7",
             "tok0100", "call", "tok0009"]
    # regex bodies narrow enough to stay under max_expansions on this
    # corpus
    regexes = ["rare(7|11)", "tok000[17]", "cal.", "rare[0-9]"]
    n_checked = 0
    qs: list[str] = []
    singles: dict[str, list] = {out: [], seg_index: []}
    for _trial in range(14):
        toks = []
        for _ in range(rng.randint(1, 4)):
            t = rng.choice(vocab)
            deco = rng.random()
            if deco < 0.15:
                t = "-" + t
            elif deco < 0.30:
                # prefix long enough to stay under max_expansions
                t = (t[:6] if len(t) > 6 else t) + "*"
            elif deco < 0.45:
                t = f"{t}^{rng.choice(['1.5', '2', '3'])}"
            elif deco < 0.55:
                t = t + "~1"
            elif deco < 0.65:
                t = "/" + rng.choice(regexes) + "/"
                if rng.random() < 0.3:
                    t = rng.choice(["-" + t, t + "^2"])
            toks.append(t)
        q = " ".join(toks)
        qs.append(q)
        want = bm25_oracle(docs, q, k=8)
        for idx, got_all in singles.items():
            got = [(r["doc_id"], r["score"]) for r in
                   bm25_topk(spark, idx, q, k=8).collect()]
            assert [d for d, _ in got] == [d for d, _ in want], (idx, q)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-12), (idx, q)
            got_all.append(got)
        n_checked += 1 if want else 0
    assert n_checked >= 8  # the sweep must mostly produce non-empty hits
    for idx, got_all in singles.items():
        rows = bm25_topk_batch(spark, idx, qs, k=8).collect()
        for i, got in enumerate(got_all):
            per_q = [(r["doc_id"], r["score"]) for r in
                     sorted((r for r in rows if r["query_id"] == str(i)),
                            key=lambda r: r["rank"])]
            assert per_q == got, (idx, qs[i])


def test_facet_metrics_match_python_recount(spark, corpus):
    """metrics= sub-aggregations: per-bucket avg/max over matching docs,
    on value facets, range facets, and the __total__ row."""
    from collections import defaultdict

    df, out, docs, meta = corpus
    dmeta = {r["doc_id"]: (r["anomaly"], r["doc_len"]) for r in
             spark.read.parquet(out + "/docs.parquet")
             .select("doc_id", "anomaly", "doc_len").collect()}
    rows = bm25_facets(spark, out, "tok0042 the", ["role"],
                       metrics={"anomaly": ["avg", "max"],
                                "doc_len": ["sum"]}).collect()
    got = {(r["facet"], r["value"]):
           (r["doc_count"], r["anomaly_avg"], r["anomaly_max"],
            r["doc_len_sum"]) for r in rows}
    matched = _match_ids(docs, "tok0042 the")
    by_role = defaultdict(list)
    for d in matched:
        by_role[meta[d][0]].append(d)
    tot = got[("__total__", "")]
    assert tot[0] == len(matched)
    assert abs(tot[1] - sum(dmeta[d][0] for d in matched)
               / len(matched)) < 1e-9
    assert tot[2] == max(dmeta[d][0] for d in matched)
    assert tot[3] == float(sum(dmeta[d][1] for d in matched))
    for role, ds in by_role.items():
        c, a, m, s = got[("role", role)]
        assert c == len(ds)
        assert abs(a - sum(dmeta[d][0] for d in ds) / len(ds)) < 1e-9
        assert m == max(dmeta[d][0] for d in ds)
        assert s == float(sum(dmeta[d][1] for d in ds))
    with pytest.raises(ValueError, match="unsupported fn"):
        bm25_facets(spark, out, "the", ["role"],
                    metrics={"anomaly": ["median"]})


def test_facet_labels_and_sums_follow_spark(spark, corpus):
    """Value facets on numeric columns label each value as Spark's
    cast(... as string) renders it (Java's toString for doubles), and a
    metric sum, like the sum behind an avg, adds the values one at a time
    in ascending doc_id order."""
    from collections import Counter

    _, out, docs, meta = corpus
    matched = _match_ids(docs, "tok0042 the")
    d = spark.read.parquet(out + "/docs.parquet")
    cols = ["anomaly", "rep_ratio", "turn_idx", "doc_len"]
    want = Counter(
        (c, r[c] if r[c] is not None else "(null)")
        for r in d.select("doc_id", *[F.col(c).cast("string").alias(c)
                                      for c in cols]).collect()
        if r["doc_id"] in matched for c in cols)
    got = {(r["facet"], r["value"]): r["doc_count"] for r in
           bm25_facets(spark, out, "tok0042 the", cols).collect()
           if r["facet"] != "__total__"}
    assert got == want
    anomaly = dict(d.select("doc_id", "anomaly").collect())
    rows = bm25_facets(spark, out, "tok0042 the", ["role"],
                       metrics={"anomaly": ["sum", "avg"]}).collect()
    for r in rows:
        ids = sorted(x for x in matched
                     if r["facet"] == "__total__" or meta[x][0] == r["value"])
        s = 0.0
        for x in ids:
            s += anomaly[x]
        assert (r["anomaly_sum"], r["anomaly_avg"]) == (s, s / len(ids)), r


def test_sort_by_multiple_columns(spark, corpus):
    """sort_by accepts a comma list: 'role asc, turn_idx desc' with the
    doc_id tiebreak — recounted from the corpus."""
    _, out, docs, meta = corpus
    got = bm25_topk(spark, out, "tok0042 tok0007", k=10,
                    sort_by="role asc, turn_idx desc").collect()
    matched = _match_ids(docs, "tok0042 tok0007")
    want = sorted(matched, key=lambda d: (meta[d][0], -meta[d][2], d))[:10]
    assert [r["doc_id"] for r in got] == want
    assert set(got[0].asDict()) == {"doc_id", "score", "role", "turn_idx"}
    # tool holds NULLs: first under asc, last under desc (Spark's order)
    for sort_by, spec in [("tool asc, turn_idx desc", [(1, False), (2, True)]),
                          ("tool desc, role", [(1, True), (0, False)])]:
        want = sorted(matched)
        for i, desc in reversed(spec):
            nulls = [d for d in want if meta[d][i] is None]
            vals = sorted((d for d in want if meta[d][i] is not None),
                          key=lambda d: meta[d][i], reverse=desc)
            want = vals + nulls if desc else nulls + vals
        got = bm25_topk(spark, out, "tok0042 tok0007", k=10 ** 6,
                        sort_by=sort_by).collect()
        assert [r["doc_id"] for r in got] == want, sort_by
        assert [r["tool"] for r in got] == [meta[d][1] for d in want]
        assert None in [r["tool"] for r in got]


def test_bm25_count_matches_facet_total(spark, corpus):
    from macrobase_spark.index.bm25 import bm25_count

    _, out, docs, _ = corpus
    for q, kw in [("tok0042 the", {}),
                  ("tok0042 tok0007", {"mode": "and"}),
                  ("role:assistant tok0042 -tok0007", {}),
                  ("zzznotaword", {})]:
        n = bm25_count(spark, out, q, **kw).collect()[0]["n_matches"]
        if q == "zzznotaword":
            assert n == 0
            continue
        tot = {(r["facet"], r["value"]): r["doc_count"] for r in
               bm25_facets(spark, out, q, ["role"], **kw).collect()}
        assert n == tot[("__total__", "")], q


def test_collapse_best_turn_per_conversation(spark, corpus):
    """collapse='conv_id': one (best-scoring) turn per conversation,
    ranked among group winners — recounted from the oracle ranking; the
    after= cursor pages the COLLAPSED ranking without repeating groups."""
    df, out, docs, _ = corpus
    conv = {r["doc_id"]: r["conv_id"] for r in
            df.select("doc_id", "conv_id").collect()}
    got = bm25_topk(spark, out, "tok0042 tok0007 the", k=8,
                    collapse="conv_id").collect()
    assert set(got[0].asDict()) == {"doc_id", "score", "conv_id"}
    full = bm25_oracle(docs, "tok0042 tok0007 the", k=10 ** 6)
    winners, seen = [], set()
    for d, s in full:  # oracle is ranking order: first hit per conv wins
        if conv[d] not in seen:
            seen.add(conv[d])
            winners.append((d, s))
    assert [(r["doc_id"], r["score"]) for r in got] == winners[:8]
    # distinct conversations on the page
    assert len({r["conv_id"] for r in got}) == len(got)
    # paging the collapsed ranking never repeats a conversation
    p2 = bm25_topk(spark, out, "tok0042 tok0007 the", k=8,
                   collapse="conv_id", after=got[-1]).collect()
    assert [(r["doc_id"], r["score"]) for r in p2] == winners[8:16]
    assert not ({r["conv_id"] for r in p2} & {r["conv_id"] for r in got})
    # tool holds NULLs, which collapse into one group
    tool = {r["doc_id"]: r["tool"] for r in
            df.select("doc_id", "tool").collect()}
    winners, seen = [], set()
    for d, s in full:
        if tool[d] not in seen:
            seen.add(tool[d])
            winners.append((d, s, tool[d]))
    got = bm25_topk(spark, out, "tok0042 tok0007 the", k=100,
                    collapse="tool").collect()
    assert [(r["doc_id"], r["score"], r["tool"]) for r in got] == winners
    assert None in seen
    with pytest.raises(ValueError, match="not compose with sort_by|sort_by"):
        bm25_topk(spark, out, "the", k=3, collapse="conv_id",
                  sort_by="turn_idx desc")
    with pytest.raises(ValueError, match="not a docs-metadata"):
        bm25_topk(spark, out, "the", k=3, collapse="nope").collect()


def test_hybrid_rrf_matches_python_fusion(spark, corpus):
    """RRF fusion of the BM25 ranking and an exact cosine ranking equals
    the python recount (ranks from the two oracles, same formula)."""
    import numpy as np

    from macrobase_spark.index.bm25 import hybrid_topk

    _, out, docs, _ = corpus
    rng = np.random.default_rng(11)
    ids = [d for d, _ in docs]
    vecs = {d: rng.standard_normal(8).tolist() for d in ids}
    emb = spark.createDataFrame(
        [(d, vecs[d]) for d in ids], "doc_id long, embedding array<double>")
    qv = rng.standard_normal(8).tolist()

    got = hybrid_topk(spark, out, emb, "tok0042 tok0007 the", qv,
                      k=10, depth=25).collect()

    lex = [d for d, _ in bm25_oracle(docs, "tok0042 tok0007 the", k=25)]
    qn = np.asarray(qv)

    def cos(d):
        v = np.asarray(vecs[d])
        return float(v @ qn / (np.linalg.norm(v) * np.linalg.norm(qn)))

    sem = sorted(ids, key=lambda d: (-cos(d), d))[:25]
    rrf = {}
    for r, d in enumerate(lex, 1):
        rrf[d] = rrf.get(d, 0.0) + 1.0 / (60 + r)
    for r, d in enumerate(sem, 1):
        rrf[d] = rrf.get(d, 0.0) + 1.0 / (60 + r)
    want = sorted(rrf.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["doc_id"], round(r["rrf_score"], 12)) for r in got] == \
           [(d, round(s, 12)) for d, s in want]
    # both rank columns populated where the doc appeared in that run
    for r in got:
        if r["doc_id"] in lex:
            assert r["bm25_rank"] == lex.index(r["doc_id"]) + 1
        if r["doc_id"] in sem:
            assert r["cos_rank"] == sem.index(r["doc_id"]) + 1


def test_hybrid_ann_full_probe_equals_brute(spark, corpus, tmp_path):
    """ann_index= semantic leg at full probe (IVF, n_probe=n_centroids)
    is exact, so ANN-hybrid == brute-hybrid bit-for-bit."""
    import numpy as np

    from macrobase_spark.index.bm25 import hybrid_topk
    from macrobase_spark.pipelines.similarity import ivf_build

    _, out, docs, _ = corpus
    rng = np.random.default_rng(5)
    ids = [d for d, _ in docs]
    emb = spark.createDataFrame(
        [(d, rng.standard_normal(8).tolist()) for d in ids],
        "vec_id long, embedding array<double>")
    ivf_dir = str(tmp_path / "hyb_ivf")
    ivf_build(emb, ivf_dir, n_centroids=4, sample_frac=1.0)
    qv = rng.standard_normal(8).tolist()
    brute = hybrid_topk(spark, out, emb, "tok0042 the", qv, k=8,
                        depth=20, id_col="vec_id").collect()
    ann = hybrid_topk(spark, out, None, "tok0042 the", qv, k=8,
                      depth=20, ann_index=ivf_dir, n_probe=4).collect()
    assert [(r["doc_id"], r["rrf_score"], r["bm25_rank"], r["cos_rank"])
            for r in ann] == \
           [(r["doc_id"], r["rrf_score"], r["bm25_rank"], r["cos_rank"])
            for r in brute]
    assert brute
    with pytest.raises(ValueError, match="ann_kind"):
        hybrid_topk(spark, out, None, "the", qv, k=3,
                    ann_index=ivf_dir, ann_kind="nope")
    with pytest.raises(ValueError, match="vectors DataFrame"):
        hybrid_topk(spark, out, None, "the", qv, k=3)


def test_sharded_facets_equal_monolithic(spark, shards):
    """Facet membership is stats-free, so sharded facets must equal
    monolithic facets EXACTLY — counts, metrics, range buckets."""
    from macrobase_spark.index.bm25 import bm25_facets_sharded

    _, full, parts = shards
    kwargs = dict(facets=["role"], ranges={"anomaly": [0.0, 0.5, 1.0]},
                  metrics={"doc_len": ["avg", "sum"]})
    got = [tuple(r) for r in
           bm25_facets_sharded(spark, parts, "role:assistant tok0042 the",
                               mode="or", **kwargs).collect()]
    want = [tuple(r) for r in
            bm25_facets(spark, full, "role:assistant tok0042 the",
                        mode="or", **kwargs).collect()]
    assert got == want and got
    got2 = [tuple(r) for r in
            bm25_facets_sharded(spark, parts, "tok0042 -tok0007",
                                facets=["tool"], mode="or").collect()]
    want2 = [tuple(r) for r in
             bm25_facets(spark, full, "tok0042 -tok0007",
                         facets=["tool"], mode="or").collect()]
    assert got2 == want2
    with pytest.raises(ValueError, match="wildcard/fuzzy"):
        bm25_facets_sharded(spark, parts, "tok00* the", facets=["role"])


# ------------------------------------- r5: suggest / spellcheck dictionary


def _dict_df(docs):
    """term → doc frequency recount from raw text (the dictionary twin)."""
    from collections import Counter

    dfc = Counter()
    for _d, t in docs:
        dfc.update(set(re.findall(TOKEN_PATTERN, t.lower())))
    return dfc


def test_suggest_terms_matches_python_recount(spark, corpus):
    """Autocomplete = top-k dictionary terms by (df desc, term asc) under
    the prefix; empty prefix = the corpus's top terms overall."""
    from macrobase_spark.index.suggest import suggest_terms

    _, out, docs, _ = corpus
    dfc = _dict_df(docs)
    for prefix, k in [("tok00", 8), ("ra", 5), ("", 10)]:
        got = [(r["term"], r["df"]) for r in
               suggest_terms(spark, out, prefix, k=k).collect()]
        want = sorted(((t, n) for t, n in dfc.items()
                       if t.startswith(prefix)),
                      key=lambda x: (-x[1], x[0]))[:k]
        assert got == want, prefix
    assert suggest_terms(spark, out, "zzzznope", k=5).count() == 0
    with pytest.raises(ValueError, match="k must be"):
        suggest_terms(spark, out, "a", k=0)


def test_spellcheck_matches_python_recount(spark, corpus):
    """Did-you-mean = dictionary terms within max_edits ranked by
    (distance asc, df desc, term asc); an exact hit ranks first at
    distance 0; min_df drops rare-noise corrections."""
    from macrobase_spark.index.bm25 import _edit_distance
    from macrobase_spark.index.suggest import spellcheck

    _, out, docs, _ = corpus
    dfc = _dict_df(docs)

    def want(token, max_edits, k, min_df=1):
        cand = [(t, n, _edit_distance(token, t, max_edits))
                for t, n in dfc.items()
                if abs(len(t) - len(token)) <= max_edits and n >= min_df]
        cand = [(t, n, d) for t, n, d in cand if d <= max_edits]
        return sorted(cand, key=lambda x: (x[2], -x[1], x[0]))[:k]

    for token, me, k in [("tok0042", 1, 5), ("thw", 1, 5),
                         ("rarr7", 2, 5)]:
        got = [(r["term"], r["df"], r["distance"]) for r in
               spellcheck(spark, out, token, max_edits=me, k=k).collect()]
        assert got == want(token, me, k), token
    # exact dictionary hit → itself first at distance 0
    first = spellcheck(spark, out, "the", max_edits=1, k=3).collect()[0]
    assert (first["term"], first["distance"]) == ("the", 0)
    # min_df drops low-frequency corrections
    lo = {r["term"] for r in
          spellcheck(spark, out, "rarr7", max_edits=2, k=50).collect()}
    hi = {r["term"] for r in
          spellcheck(spark, out, "rarr7", max_edits=2, k=50,
                     min_df=3).collect()}
    assert hi <= lo
    assert all(dfc[t] >= 3 for t in hi)
    with pytest.raises(ValueError, match="max_edits"):
        spellcheck(spark, out, "the", max_edits=3)
    with pytest.raises(ValueError, match="non-empty"):
        spellcheck(spark, out, "   ")


def test_edit_distances_equal_spark_levenshtein(spark, corpus):
    """spellcheck's and the fuzzy expansion's matcher equals Spark's
    levenshtein: over seeded random words from an alphabet with non-ASCII
    letters (two-, three- and four-byte UTF-8), `_edit_distances` gives
    every pair's distance and `_near` the matches within 1 and 2 edits; a
    token whose length band holds no term matches nothing."""
    import random

    from macrobase_spark.index.bm25 import _edit_distances, _near
    from macrobase_spark.index.suggest import spellcheck

    rng = random.Random(13)
    alphabet = "abcd0é\u00df\u65e5\U0001f600"

    def word(lo, hi):
        return "".join(rng.choice(alphabet)
                       for _ in range(rng.randint(lo, hi)))

    words = sorted({word(1, 7) for _ in range(60)})
    tokens = [word(1, 7) for _ in range(8)] + [
        w[:-1] + rng.choice(alphabet) for w in rng.sample(words, 4)]
    pairs = spark.createDataFrame([(a, b) for a in tokens for b in words],
                                  "a string, b string")
    lev = {(r["a"], r["b"]): r["d"] for r in pairs.select(
        "a", "b", F.levenshtein("a", "b").alias("d")).collect()}
    for a in tokens:
        assert _edit_distances(a, words).tolist() == [lev[a, b]
                                                      for b in words], a
        for n in (1, 2):
            assert _near(a, words, n) == {
                b: lev[a, b] for b in words
                if abs(len(a) - len(b)) <= n and lev[a, b] <= n}, (a, n)
    assert any(_near(a, words, 1) for a in tokens)
    assert _near("x" * 12, words, 2) == {}
    out = corpus[1]
    assert spellcheck(spark, out, "x" * 40, max_edits=2).collect() == []


def test_match_ids_export_equals_count_and_semantics(spark, corpus):
    """bm25_match_ids = the full match set on the ids-only path: cardinality
    equals bm25_count under every modifier combo, membership equals the
    brute-force recount, and unsatisfiable queries return empty."""
    from macrobase_spark.index.bm25 import bm25_count, bm25_match_ids

    _, out, docs, meta = corpus
    cases = [
        dict(query="tok0042 tok0007"),
        dict(query="tok0042 tok0007", mode="and"),
        dict(query="tok0042 tok0007 the", min_should_match=2),
        dict(query="tok0042 -tok0007"),
        dict(query="role:assistant tok0042 the"),
    ]
    for kw in cases:
        ids = {r["doc_id"] for r in bm25_match_ids(spark, out, **kw).collect()}
        n = bm25_count(spark, out, **kw).collect()[0]["n_matches"]
        assert len(ids) == n, kw
    # membership recount for the exclusion case
    got = {r["doc_id"] for r in
           bm25_match_ids(spark, out, "tok0042 -tok0007").collect()}
    want = _match_ids(docs, "tok0042") - _match_ids(docs, "tok0007")
    assert got == want
    # unsatisfiable / empty queries
    assert bm25_match_ids(spark, out, "zzznope").count() == 0
    assert bm25_match_ids(spark, out, "tok0042",
                          min_should_match=5).count() == 0


# ----------------------------------------- r5: relevance evaluation harness


def test_rank_eval_matches_python_recount(spark, corpus):
    """rank_eval's precision/recall/mrr/ndcg per query equal a pure-Python
    recount over the same (bitwise-reproducible) rankings."""
    import math as _m

    from macrobase_spark.index.rank_eval import rank_eval

    _, out, docs, _ = corpus
    queries = {"a": "tok0042 tok0007", "b": "rare11 the call",
               "c": "zzznope"}
    ranked = {qid: [d for d, _ in bm25_oracle(docs, q, k=8)]
              for qid, q in queries.items()}
    qrels = {
        "a": {d: 2 for d in ranked["a"][:3]} | {999999: 1},
        "b": {d: 1 for d in ranked["b"][1:4]},
        "c": {123: 1},  # no hits at all
    }
    got = {r["query_id"]: r for r in
           rank_eval(spark, out, queries, qrels, k=8).collect()}

    for qid in queries:
        hits = [d for d in ranked[qid] if d in qrels[qid]]
        p = len(hits) / 8.0
        rec = len(hits) / len(qrels[qid])
        mrr = 0.0
        for i, d in enumerate(ranked[qid], start=1):
            if d in qrels[qid]:
                mrr = 1.0 / i
                break
        dcg = sum((2 ** qrels[qid][d] - 1) / _m.log2(i + 1)
                  for i, d in enumerate(ranked[qid], start=1)
                  if d in qrels[qid])
        idcg = sum((2 ** g - 1) / _m.log2(i + 2) for i, g in
                   enumerate(sorted(qrels[qid].values(), reverse=True)[:8]))
        ndcg = dcg / idcg if idcg > 0 else 0.0
        r = got[qid]
        assert _m.isclose(r["precision"], p, rel_tol=1e-12), qid
        assert _m.isclose(r["recall"], rec, rel_tol=1e-12), qid
        assert _m.isclose(r["mrr"], mrr, rel_tol=1e-12), qid
        assert _m.isclose(r["ndcg"], ndcg, rel_tol=1e-12), qid
    assert got["c"]["n_retrieved"] == 0 and got["c"]["ndcg"] == 0.0
    with pytest.raises(ValueError, match="no qrels"):
        rank_eval(spark, out, {"x": "the"}, {}, k=5)
    with pytest.raises(ValueError, match="grades"):
        rank_eval(spark, out, {"x": "the"}, {"x": {1: 0}}, k=5)


def test_suggest_sharded_equals_monolith(spark, shards):
    """Suggestion over a LIST of shards: dictionaries union, df sums
    globally — identical ranking to the monolithic index (the MultiReader
    property the scoring path already has)."""
    from macrobase_spark.index.suggest import spellcheck, suggest_terms

    _, full, parts = shards
    got = [tuple(r) for r in
           suggest_terms(spark, parts, "tok00", k=8).collect()]
    want = [tuple(r) for r in
            suggest_terms(spark, full, "tok00", k=8).collect()]
    assert got == want and got
    got2 = [tuple(r) for r in
            spellcheck(spark, parts, "tok0041", max_edits=1, k=5).collect()]
    want2 = [tuple(r) for r in
             spellcheck(spark, full, "tok0041", max_edits=1, k=5).collect()]
    assert got2 == want2 and got2
    with pytest.raises(ValueError, match="empty shard list"):
        suggest_terms(spark, [], "a")


# ------------------------------------------ one resolver, one match set

@pytest.fixture(scope="module")
def stop_index(spark, tmp_path_factory):
    df = with_doc_id(synth_transcripts(spark, n_convs=10, seed=3))
    out = str(tmp_path_factory.mktemp("qs_stop_index"))
    build_index(df, out, num_buckets=2, hot_df_threshold=10 ** 9,
                stopwords=["the"])
    return out


def test_no_indexable_term_has_the_zero_hit_shape(spark, corpus,
                                                  stop_index):
    """A stoplist-only or exclusion-only query returns exactly what a
    query with zero hits returns: the sort_by / collapse columns on
    bm25_topk, the lone __total__ row on the facet surfaces; and it
    refuses a bad recency modifier as a query with hits does."""
    from macrobase_spark.index.bm25 import bm25_facets_sharded

    _, out, _, _ = corpus
    for idx, q in [(stop_index, "the"), (out, "-tok0042")]:
        for kw in [{"sort_by": "turn_idx desc"}, {"collapse": "conv_id"}]:
            got = bm25_topk(spark, idx, q, **kw)
            want = bm25_topk(spark, idx, "zzzznotaword", **kw)
            assert got.count() == 0 and got.dtypes == want.dtypes, (q, kw)
        # a bad recency modifier raises as it does for a query with hits
        for kw, msg in [({"recency_half_life": 0.0}, "half_life"),
                        ({"recency_half_life": 1.0, "recency_col": "nope"},
                         "not a docs-metadata")]:
            with pytest.raises(ValueError, match=msg):
                bm25_topk(spark, idx, q, **kw)
        for kw in [{}, {"metrics": {"anomaly": ["avg"]}}]:
            want = [tuple(r) for r in bm25_facets(
                spark, idx, "zzzznotaword", ["role"], **kw).collect()]
            assert want[0][:3] == ("__total__", "", 0) and len(want) == 1
            for fn, where in [(bm25_facets, idx),
                              (bm25_facets_sharded, [idx])]:
                got = fn(spark, where, q, ["role"], **kw)
                assert [tuple(r) for r in got.collect()] == want, (q, kw)


def test_batch_and_mode_accepts_exclusion_only_expansions(spark, corpus):
    """mode='and' refuses positive expansions only: a batch query whose
    expansion tokens are all exclusions ranks like bm25_topk."""
    _, out, _, _ = corpus
    queries = ["tok0042 call -tok07*", "tok0042 call -tok0777~1"]
    got = bm25_topk_batch(spark, out, queries, k=5, mode="and").collect()
    for qid, q in enumerate(queries):
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=5, mode="and").collect()]
        mine = sorted((r["rank"], r["doc_id"], r["score"]) for r in got
                      if r["query_id"] == str(qid))
        assert [(d, s) for _, d, s in mine] == want, q
    assert got


def _jobs(spark, name, fn):
    """Spark jobs fn() runs, read from a job group of its own."""
    sc = spark.sparkContext
    group = f"bm25-jobs-{name}"
    sc.setJobGroup(group, f"jobs probe: {name}")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


def _jobs_per_call(spark, name, fn):
    """Spark jobs one warm call runs (its collect)."""
    fn().collect()
    return _jobs(spark, name, lambda: fn().collect())


def test_bm25_jobs_per_call(spark, corpus, seg_index, shards):
    """Upper bounds on the Spark jobs each BM25 entry point runs per
    call, one bm25_topk per serving query class: a plan that sprouts a
    job fails here. Term metadata (df, max_impact, expansions) and the
    suggestion surface come from the memoized term dictionary, scoring
    and phrase matching run on the driver over pyarrow reads of the
    version's part files, and the docs-metadata modifiers and facets read
    the docs part files with pyarrow, so only a doc_filter (one job per
    call) and more_like_this's seed lookup run jobs."""
    from macrobase_spark.index.bm25 import (bm25_count, bm25_match_ids,
                                            bm25_phrase_topk,
                                            bm25_phrase_topk_batch,
                                            bm25_topk_sharded,
                                            more_like_this)
    from macrobase_spark.index.build import (invalidate_index_cache,
                                             read_index, open_version)
    from macrobase_spark.index.suggest import spellcheck, suggest_terms

    df, out, docs, _ = corpus
    ids = [d for d, _ in docs[:3]]
    calls = {
        "topk single": (0, lambda: bm25_topk(spark, out, "tok0042")),
        "topk single hot": (0, lambda: bm25_topk(spark, out, "the")),
        "topk multi": (0, lambda: bm25_topk(spark, out, "call tool")),
        "topk msm": (0, lambda: bm25_topk(
            spark, out, "tok0003 tok0042 tok0777", min_should_match=2)),
        "topk prefix": (0, lambda: bm25_topk(spark, out, "tok05*")),
        "topk fuzzy": (0, lambda: bm25_topk(spark, out, "tok0042~1")),
        "topk regexp": (0, lambda: bm25_topk(spark, out, "/tok00(4|7)2/")),
        "topk wand": (0, lambda: bm25_topk(spark, out, "the call",
                                           wand=True)),
        "seg single": (0, lambda: bm25_topk(spark, seg_index, "tok0042")),
        "seg multi": (0, lambda: bm25_topk(spark, seg_index, "call tool")),
        "seg batch": (0, lambda: bm25_topk_batch(
            spark, seg_index, ["the", "tok0042", "call tool",
                               "tok0005 tok0100"])),
        "seg explain": (0, lambda: bm25_explain(
            spark, seg_index, "tok0042 call", doc_ids=ids)),
        "sharded": (0, lambda: bm25_topk_sharded(
            spark, shards[2], "tok0042 the")),
        "phrase": (0, lambda: bm25_phrase_topk(spark, seg_index,
                                               "tok0001 tok0000")),
        "phrase filter": (1, lambda: bm25_phrase_topk(
            spark, seg_index, "tok0001 tok0000",
            doc_filter="role = 'assistant'")),
        "phrase batch": (0, lambda: bm25_phrase_topk_batch(
            spark, seg_index, ["tok0001 tok0000", "the user", "tool call"])),
        "suggest_terms": (0, lambda: suggest_terms(spark, out, "tok00")),
        "suggest sharded": (0, lambda: suggest_terms(spark, shards[2],
                                                     "tok00")),
        "spellcheck": (0, lambda: spellcheck(spark, out, "tok0042")),
        "more_like_this": (1, lambda: more_like_this(spark, out, df,
                                                     ids[1])),
        "topk exclude": (0, lambda: bm25_topk(spark, out, "tok0007 -the")),
        "topk filter": (1, lambda: bm25_topk(
            spark, out, "tok0011 tok0200", doc_filter="role = 'assistant'")),
        "topk sort_by": (0, lambda: bm25_topk(
            spark, out, "tok0042 the", sort_by="tool desc, turn_idx")),
        "topk collapse": (0, lambda: bm25_topk(spark, out, "tok0042 the",
                                               collapse="conv_id")),
        "topk anomaly": (0, lambda: bm25_topk(spark, out, "tok0042 the",
                                              anomaly_weight=0.5)),
        "topk recency": (0, lambda: bm25_topk(spark, out, "tok0042 the",
                                              recency_half_life=1.0)),
        "topk recency ref": (0, lambda: bm25_topk(
            spark, out, "tok0042 the", recency_half_life=1.0,
            recency_ref=1.8e9)),
        "topk after": (0, lambda: bm25_topk(spark, out, "tok0042 the",
                                            after=(2.0, 0))),
        "batch filter": (1, lambda: bm25_topk_batch(
            spark, out, ["the", "tok0042", "call tool"],
            doc_filter="role = 'assistant'")),
        "sharded filter": (1, lambda: bm25_topk_sharded(
            spark, shards[2], "role:assistant tok0042 the")),
        "count filter": (1, lambda: bm25_count(
            spark, out, "tok0042 -tok0007", doc_filter="tool IS NULL")),
        "match_ids filter": (1, lambda: bm25_match_ids(
            spark, out, "role:user tok0042 -tok0007")),
        "batch": (0, lambda: bm25_topk_batch(
            spark, out, ["the", "tok0042", "call tool", "tok0005 tok0100",
                         "tok0003 tok0042 tok0777"])),
        "facets": (0, lambda: bm25_facets(spark, out, "tok0042 the",
                                          ["role", "tool"])),
        "count": (0, lambda: bm25_count(spark, out, "tok0042 -tok0007")),
        "match_ids": (0, lambda: bm25_match_ids(spark, out,
                                                "tok0042 -tok0007")),
        "explain doc_ids": (0, lambda: bm25_explain(
            spark, out, "tok0042 call", doc_ids=ids)),
        "explain k": (0, lambda: bm25_explain(spark, out, "tok0042 call",
                                              k=3)),
    }
    got = {name: _jobs_per_call(spark, name, fn)
           for name, (_, fn) in calls.items()}
    over = {name: (got[name], bound) for name, (bound, _) in calls.items()
            if got[name] > bound}
    assert not over, f"jobs (got, bound): {over}"
    # a new index version costs one job to open its handles (the docs
    # schema is inferred; the postings read takes the known schema) and
    # none to load its dictionary (a pyarrow read of its part files); a
    # warm call reads both from memory
    invalidate_index_cache(out)
    def tdict():
        return open_version(spark, out).tdict

    assert _jobs(spark, "read cold", lambda: read_index(spark, out)) == 1
    assert _jobs(spark, "dict cold", tdict) == 0
    invalidate_index_cache(out)
    assert _jobs(spark, "open cold", tdict) == 1
    assert _jobs(spark, "dict warm", tdict) == 0


def test_dictionary_read_equals_spark_fold(spark, seg_index):
    """The dictionary a new version reads with pyarrow from its part files
    equals a Spark fold of its postings — on a segmented index, where a
    term spans several rows: df summed, max_impact maxed, rows counted.
    An index with no part files has an empty dictionary."""
    from macrobase_spark.index.build import (TermDict, _dict_rows,
                                             _term_dict,
                                             invalidate_index_cache,
                                             open_version)

    invalidate_index_cache(seg_index)
    v = open_version(spark, seg_index)
    postings, tdict = v.handles[0], v.tdict
    want = {r["term"]: (r["df"], r["mi"], r["rows"]) for r in
            postings.groupBy("term").agg(
                F.sum("df").alias("df"), F.max("max_impact").alias("mi"),
                F.count("*").alias("rows")).collect()}
    assert max(rows for _, _, rows in want.values()) > 1  # segmented
    assert tdict.terms == sorted(want)
    assert {t: tuple(s) for t, s in tdict.stats.items()} == want
    assert _term_dict(_dict_rows([])) == TermDict([], {})


def _sql_plans(spark, after: int = -1) -> dict[int, str]:
    """Physical plan of every retained SQL execution with id > after."""
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = (seq.apply(i) for i in range(seq.size()))
    return {e.executionId(): e.physicalPlanDescription() for e in execs
            if e.executionId() > after}


def _build_jobs(spark, df, root, **kw):
    """One warm build_index of df (a first build warms it up): its Spark
    jobs — its main thread's job group plus the jobs of its helper thread
    (the docs write), which carry no job group —,
    how many stages of them ran one task per input partition (the stages
    that read the input), and the physical plan of its postings write."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    build_index(df, str(root / "warm"), **kw)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    seen = set(st.getJobIdsForGroup(None))
    last = max(_sql_plans(spark), default=-1)
    out = str(root / "idx")
    group = f"build {root.name}"
    sc.setJobGroup(group, group)
    try:
        build_index(df, out, **kw)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = (set(st.getJobIdsForGroup(group))
            | set(st.getJobIdsForGroup(None)) - seen)
    stages = [st.getStageInfo(s) for j in jobs
              for s in st.getJobInfo(j).stageIds]
    reads = {s.stageId for s in stages if s and s.numCompletedTasks
             and s.numTasks == df.rdd.getNumPartitions()}
    writes = [p for p in _sql_plans(spark, last).values()
              if "InsertIntoHadoopFsRelationCommand" in p
              and f"{out}/postings" in p]
    assert len(writes) == 1
    return len(jobs), len(reads), writes[0]


def test_build_index_jobs(spark, corpus, tmp_path):
    """Upper bounds on the Spark jobs of one warm build_index (the measured
    counts), over the 60-conversation corpus read from parquet and as the
    cached DataFrame itself. Both have fewer partitions than the session's
    shuffle partitions, so the build's parallelism floor repartitions the
    input: once, cached for its two queries (the feature aggregate and the
    postings write), so one stage reads the input. The encode path is one
    linear plan: its postings write holds exactly two Arrow kernels
    (tokenize and encode), no grouped-pandas stage or union, and the only
    cached relations it reads hold input rows (the text column), never a
    tokenized or encoded one."""
    kw = dict(num_buckets=4, hot_df_threshold=120, hot_sample_frac=0.5)
    corpus[0].write.parquet(str(tmp_path / "corpus"))
    parquet = spark.read.parquet(str(tmp_path / "corpus"))
    for name, df, caches in [("parquet", parquet, 1), ("cached", corpus[0], 2)]:
        n, reads, write = _build_jobs(spark, df, tmp_path / name, **kw)
        assert n <= 9 and reads == 1, (name, n, reads)
        final = write.split("== Initial Plan ==")[0]
        assert len(re.findall(r"MapInArrow \(\d+\)", final)) == 2, (
            name, final)
        for op in ("FlatMapGroupsInPandas", "Union"):
            assert op not in write, (name, op)
        lines = write.splitlines()
        cached = [lines[i + 1] for i, line in enumerate(lines)
                  if re.match(r"\(\d+\) InMemoryRelation", line)]
        assert len(cached) == caches, (name, cached)
        assert all("text#" in c for c in cached), (name, cached)


def _unsorted_part_files(index_dir: str) -> list[str]:
    """Part files under postings/ and positions/ not in term order (the
    index must have both layers)."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for layer in ("postings", "positions"):
        files = glob.glob(f"{index_dir}/{layer}/bucket=*/*.parquet")
        assert files, layer
        for f in files:
            terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
            if terms != sorted(terms):
                out.append(f)
    return out


def test_part_files_sorted_by_term(spark, corpus, seg_index, tmp_path):
    """Every writer leaves each part file in term order (what row-group
    pruning of term lookups relies on): the build and the update of
    seg_index, a compaction of it, and a merge of two positional shards."""
    from macrobase_spark.index.build import compact_index, merge_indexes

    assert _unsorted_part_files(seg_index) == []
    compacted = str(tmp_path / "compacted")
    shutil.copytree(seg_index, compacted)
    assert compact_index(spark, compacted)["compacted_buckets"]
    assert _unsorted_part_files(compacted) == []
    df = corpus[0]
    shards = [str(tmp_path / f"s{i}") for i in range(2)]
    for i, s in enumerate(shards):
        build_index(df.filter(F.col("doc_id") % 2 == i), s, num_buckets=2,
                    hot_df_threshold=120, hot_sample_frac=0.5,
                    positions=True)
    merged = str(tmp_path / "merged")
    merge_indexes(spark, shards, merged)
    assert _unsorted_part_files(merged) == []


def _python_ops(rel):
    """(operator, child) lines of every Python-UDF operator in rel's
    executed plan (the final adaptive plan, after a collect)."""
    rel.collect()
    plan = rel._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    names = [re.sub(r"^[\s+|:-]*(\*\(\d+\) )?", "", line)
             for line in plan.treeString().splitlines()]
    return [(op, child) for op, child in zip(names, names[1:])
            if re.match(r"\w*(Python|InPandas|InArrow)\b", op)]


def test_one_kernel_run_per_index_handle(spark, corpus, seg_index, shards,
                                        monkeypatch):
    """Every scoring and membership entry point scores in-process: its
    plan holds no Python-UDF operator, and `_score_kernel` runs exactly
    once per index handle — the scored and excluded terms' rows meet in
    one run, with no second ids pass or exclusion join. bm25_explain
    with doc_ids decodes its per-term rows without the kernel; with k its
    target docs come from one bm25_topk."""
    from macrobase_spark.index import bm25

    runs = []
    kernel = bm25._score_kernel

    def counted(*args, **kwargs):
        runs.append(1)
        return kernel(*args, **kwargs)

    monkeypatch.setattr(bm25, "_score_kernel", counted)
    _, out, docs, _ = corpus
    two = shards[2]
    calls = {
        "topk single": (1, lambda: bm25.bm25_topk(spark, out, "tok0042")),
        "topk multi": (1, lambda: bm25.bm25_topk(spark, out, "call tool^2")),
        "topk msm": (1, lambda: bm25.bm25_topk(
            spark, out, "tok0003 tok0042 tok0777", min_should_match=2)),
        "topk exclude": (1, lambda: bm25.bm25_topk(
            spark, out, "tok0007 -the -tok00*")),
        "topk filter": (1, lambda: bm25.bm25_topk(
            spark, out, "tok0011 tok0200", doc_filter="role = 'assistant'")),
        "topk seg and": (1, lambda: bm25.bm25_topk(
            spark, seg_index, "the call", mode="and")),
        "batch": (1, lambda: bm25.bm25_topk_batch(
            spark, out, ["the", "call tool", "tok0007 -the"])),
        "sharded": (2, lambda: bm25.bm25_topk_sharded(
            spark, two, "tok0042 the -call")),
        "count": (1, lambda: bm25.bm25_count(spark, out, "tok0042 -tok0007")),
        "match_ids": (1, lambda: bm25.bm25_match_ids(spark, out, "the call",
                                                     mode="and")),
        "facets": (1, lambda: bm25.bm25_facets(spark, out, "tok0042 the",
                                               ["role"])),
        "facets_sharded": (2, lambda: bm25.bm25_facets_sharded(
            spark, two, "tok0042 -the", ["role"])),
        "explain doc_ids": (0, lambda: bm25.bm25_explain(
            spark, out, "tok0042 call", doc_ids=[d for d, _ in docs[:3]])),
        "explain k": (1, lambda: bm25.bm25_explain(spark, out, "tok0042 call",
                                                   k=3)),
    }
    bad = {}
    for name, (handles, fn) in calls.items():
        runs.clear()
        ops = _python_ops(fn())
        if ops or len(runs) != handles:
            bad[name] = (len(runs), ops)
    assert not bad, bad


def test_update_folds_the_served_term_dictionary(spark, corpus, tmp_path):
    """An in-process update_index on an index whose dictionary is loaded
    folds the delta's term stats into it: the folded dictionary equals a
    fresh load of the new version, neither the next query nor a delete
    reloads it, and scores after the update and the delete stay exact."""
    from macrobase_spark.index.build import (_term_dict, delete_docs,
                                             open_version, read_index,
                                             update_index)

    df, _, docs, _ = corpus
    out = str(tmp_path / "fold")
    base = F.col("conv_id") < "conv00000048"
    build_index(df.filter(base), out, num_buckets=4, hot_df_threshold=120,
                hot_sample_frac=0.5)
    q = "tok0042 tok0007 the"
    bm25_topk(spark, out, q).collect()  # served: the dictionary is loaded
    update_index(df.filter(~base), out)
    read_index(spark, out)
    assert _jobs(spark, "dict folded", lambda: open_version(spark, out)) == 0
    v = open_version(spark, out)
    postings, folded = v.handles[0], v.tdict
    assert folded == _term_dict(
        postings.select("term", "df", "max_impact").toArrow())
    assert max(s.rows for s in folded.stats.values()) > 1  # segmented
    victim = bm25_oracle(docs, q, k=1)[0][0]
    delete_docs(spark, out, [victim])
    assert _jobs(spark, "dict deleted", lambda: open_version(spark, out)) == 0
    got = [(r["doc_id"], r["score"])
           for r in bm25_topk(spark, out, q, k=8).collect()]
    assert got == bm25_oracle(docs, q, k=8,
                              keep_ids={d for d, _ in docs} - {victim})


def test_driver_read_follows_the_index_version(spark, corpus, tmp_path,
                                               monkeypatch):
    """Queries read candidate rows from the part files their index version
    opened with: a postings or positional part file appended out of band,
    with stats.json unchanged, is not read by the open version (a new
    version reads it), and the files of an in-process update_index are
    read by the next query."""
    import glob
    import os

    import pyarrow.parquet as pq

    from macrobase_spark.index.bm25 import bm25_phrase_topk, phrase_oracle
    from macrobase_spark.index.build import (invalidate_index_cache,
                                             update_index)
    from macrobase_spark.index.xxh64 import term_bucket

    df, _, docs, _ = corpus
    out = str(tmp_path / "ver")
    base = F.col("conv_id") < "conv00000048"
    build_index(df.filter(base), out, num_buckets=4, hot_df_threshold=120,
                hot_sample_frac=0.5, positions=True)
    keep = {r["doc_id"] for r in df.filter(base).select("doc_id").collect()}
    q, ph = "tok0042 the", "tok0001 tok0000"

    def topk():
        return [(r["doc_id"], r["score"])
                for r in bm25_topk(spark, out, q, k=8).collect()]

    def phrase():
        return [r["doc_id"]
                for r in bm25_phrase_topk(spark, out, ph, k=8).collect()]

    want = bm25_oracle([(d, t) for d, t in docs if d in keep], q, k=8)
    want_ph = [d for d, _ in phrase_oracle(
        [(d, t) for d, t in docs if d in keep], ph, k=8)]
    assert topk() == want and phrase() == want_ph and want_ph
    oobs = []
    for layer, term in [("postings", "tok0042"), ("positions", "tok0001")]:
        [part] = glob.glob(f"{out}/{layer}/bucket={term_bucket(term, 4)}"
                           "/*.parquet")
        oobs.append(os.path.join(os.path.dirname(part),
                                 "part-99999-oob.parquet"))
        shutil.copy(part, oobs[-1])
    opened = []
    parquet_file = pq.ParquetFile

    def recorded(path, *args, **kwargs):
        opened.append(path)
        return parquet_file(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", recorded)
    assert topk() == want and phrase() == want_ph
    assert not set(oobs) & set(opened)
    invalidate_index_cache(out)
    assert topk() != want  # a new version reads the duplicated rows
    phrase()
    assert set(oobs) <= set(opened)
    for f in oobs:
        os.remove(f)
    invalidate_index_cache(out)
    assert topk() == want and phrase() == want_ph
    update_index(df.filter(~base), out)
    assert topk() == bm25_oracle(docs, q, k=8)
    assert phrase() == [d for d, _ in phrase_oracle(docs, ph, k=8)]
