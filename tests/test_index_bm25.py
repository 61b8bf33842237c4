"""End-to-end inverted index + BM25 tests against the exact pure-Python
oracle (north-rule checks: per-turn text equality under stable ordering,
rank-identical top-k docIDs AND scores, resumable build, one encode per
term)."""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
from macrobase_spark.index.build import build_index, read_index
from macrobase_spark.index.bm25 import (bm25_oracle, bm25_topk,
                                        bm25_topk_batch)

N_CONVS = 120


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = with_doc_id(synth_transcripts(spark, n_convs=N_CONVS, seed=42)).cache()
    out = str(tmp_path_factory.mktemp("index"))
    report = build_index(
        df, out, num_buckets=8, num_groups=2,
        hot_df_threshold=120, hot_sample_frac=0.5,
    )
    docs = [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]
    return df, out, report, docs


QUERIES = [
    "the",                # hot stopword-like term (longest posting list)
    "rare7",              # rare discriminative term → its conversation
    "tok0001",            # high-zipf vocab term
    "tok0042 tok0007",    # multi-term
    "rare11 the call",    # mixed hot + rare
    "tok0100 tok0200 tok0300",
    "missingterm",        # no hits
]


def test_text_equality_invariant(spark):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering,
    generated at two different parallelism levels (partition independence)."""
    a = synth_transcripts(spark, n_convs=30, seed=42, partitions=2)
    b = synth_transcripts(spark, n_convs=30, seed=42, partitions=13)
    ra = a.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    rb = b.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert ra == rb


def test_build_report(corpus):
    _, _, report, docs = corpus
    assert report["n_docs"] == len(docs)
    assert report["postings"] > 0


def test_every_term_encoded_once(spark, corpus):
    """Every postings row is a term's one final encode (fan_in 1, one row
    per term), and the hot term's decoded (ids, tfs, dls) equal a recount
    over the corpus."""
    import re

    import numpy as np

    from macrobase_spark.index.bm25 import TOKEN_PATTERN
    from macrobase_spark.index.build import _decode_partial

    _, out, _, docs = corpus
    postings, _, _ = read_index(spark, out)
    assert postings.filter(F.col("fan_in") != 1).count() == 0
    assert postings.count() == postings.select("term").distinct().count()
    want = []
    for d, text in docs:
        toks = re.findall(TOKEN_PATTERN, text.lower())
        if "the" in toks:
            want.append((d, toks.count("the"), len(toks)))
    want.sort()
    (blob,) = [bytes(r["blob"]) for r in
               postings.filter(F.col("term") == "the").collect()]
    got = np.stack(_decode_partial(blob), axis=1).tolist()
    assert got == [list(w) for w in want]
    assert len(want) > 120  # above the fixture's hot_df_threshold


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identical_topk(spark, corpus, query):
    _, out, _, docs = corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, query, k=10).collect()]
    want = bm25_oracle(docs, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), (query, gs, ws)


def test_rare_term_hits_its_conversation(spark, corpus):
    _, out, _, _ = corpus
    rows = bm25_topk(spark, out, "rare7", k=5).collect()
    assert rows, "rare term must hit"
    assert all(r["doc_id"] // 4096 == 7 for r in rows)


def test_anomaly_modifier(spark, corpus):
    df, out, _, docs = corpus
    _, docs_df, _ = read_index(spark, out)
    anom = {r["doc_id"]: r["anomaly"] for r in docs_df.collect()}
    q = "tok0001"
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, q, k=10, anomaly_max=0.5).collect()]
    want = bm25_oracle(docs, q, k=10, anomaly=anom, anomaly_max=0.5)
    assert [d for d, _ in got] == [d for d, _ in want]
    # degenerate repeated-token turns score rep_ratio near 1 → filtered out
    assert all(anom[d] <= 0.5 for d, _ in got)


def test_resumable_build(spark, corpus, tmp_path):
    """Kill/restart mid-build reproduces an identical index: build only group
    0's buckets, then resume; postings must equal a fresh full build."""
    df, full_out, _, _ = corpus
    part_out = str(tmp_path / "partial")

    # simulate a crash after group 0 by building with manifest truncation:
    # first a full build, then delete half the manifest + its parquet bucket
    # dirs, then resume.
    report1 = build_index(df, part_out, num_buckets=8, num_groups=2,
                          hot_df_threshold=120, hot_sample_frac=0.5)
    import json, os
    man = os.path.join(part_out, "manifest.jsonl")
    with open(man) as f:
        recs = [json.loads(l) for l in f]
    keep = [r for r in recs if r["bucket"] < 4]
    for r in recs:
        if r["bucket"] >= 4:
            shutil.rmtree(os.path.join(part_out, "postings", f"bucket={r['bucket']}"))
    with open(man, "w") as f:
        for r in keep:
            f.write(json.dumps(r) + "\n")

    report2 = build_index(df, part_out, num_buckets=8, num_groups=2,
                          hot_df_threshold=120, hot_sample_frac=0.5, resume=True)
    p_full, _, _ = read_index(spark, full_out)
    p_res, _, _ = read_index(spark, part_out)
    a = {(r["term"]): (r["df"], r["cf"], bytes(r["blob"])) for r in p_full.collect()}
    b = {(r["term"]): (r["df"], r["cf"], bytes(r["blob"])) for r in p_res.collect()}
    assert a == b


@pytest.mark.parametrize("query", ["the call", "tok0001 tok0002 the",
                                   "tok0042 tok0007", "rare11 the call"])
def test_wand_multiterm_rank_identical(spark, corpus, query):
    """Block-max WAND pruning (wand=True) must stay rank- and score-
    identical to the exact oracle."""
    _, out, _, docs = corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, query, k=10, wand=True).collect()]
    want = bm25_oracle(docs, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12), (query, gs, ws)


def test_batch_topk_matches_single_queries(spark, corpus):
    """bm25_topk_batch (one job, many queries) must be rank- and score-
    identical to per-query bm25_topk for every query."""
    from macrobase_spark.index.bm25 import bm25_topk_batch

    _, out, _, docs = corpus
    qs = {"a": "the", "b": "rare7", "c": "tok0042 tok0007",
          "d": "rare11 the call", "e": "missingterm"}
    batch = bm25_topk_batch(spark, out, qs, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in qs.items():
        single = [(i + 1, r["doc_id"], r["score"]) for i, r in
                  enumerate(bm25_topk(spark, out, q, k=10).collect())]
        got = sorted(by_q.get(qid, []))
        assert got == single, qid
        want = bm25_oracle(docs, q, k=10)
        assert [d for _, d, _ in got] == [d for d, _ in want], qid


def test_anomaly_diff_surfaces_planted_tool(spark):
    """Track A+B: DIFF over role/tool of anomalous turns surfaces
    tool='browser' (the generator plants degenerate turns 3x as often
    there). This is the transcript-corpus variant of the q37 driver gate
    (which runs the same fused-pass anomaly → classify → DIFF pipeline over
    the documents table so it can carry a DuckDB oracle)."""
    from macrobase_spark.index.tokenize import turn_features, with_anomaly_score
    from macrobase_spark.operators import diff

    t = with_doc_id(synth_transcripts(spark, n_convs=300, seed=42,
                                      p_anomaly=0.05))
    feats = with_anomaly_score(turn_features(t).drop("text"))
    labeled = feats.withColumn(
        "_OUTLIER", F.when(F.col("anomaly") > 0.5, 1.0).otherwise(0.0))
    rows = diff(labeled.fillna("none", ["tool"]), ["role", "tool"],
                min_support=0.05, min_ratio=1.2, max_order=2).collect()
    assert rows, "expected explanations"
    browser = [r for r in rows if r["tool"] == "browser"]
    assert browser, f"tool=browser not surfaced: {rows[:5]}"
    assert max(r["global_ratio"] for r in browser) >= 1.5


def test_incremental_update_rank_identical(spark, tmp_path):
    """update_index: build on conversations 0..79, append 80..119; queries on
    the updated index must be rank+score identical to the oracle over the
    COMBINED corpus (pruning version-gated off for stale buckets)."""
    from macrobase_spark.index.build import update_index

    base = with_doc_id(synth_transcripts(spark, n_convs=80, seed=42)).cache()
    extra = with_doc_id(
        synth_transcripts(spark, n_convs=120, seed=42)
    ).filter(F.col("conv_id") >= "conv00000080").cache()
    out = str(tmp_path / "inc_idx")
    build_index(base, out, num_buckets=8, hot_df_threshold=120,
                hot_sample_frac=0.5)
    rep = update_index(extra, out)
    assert rep["version"] == 2
    assert rep["n_docs"] == base.count() + extra.count()

    combined = [(r["doc_id"], r["text"]) for r in
                base.unionByName(extra).select("doc_id", "text").collect()]
    for q in ["the", "rare7", "rare100", "tok0042 tok0007", "rare111 the call"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10).collect()]
        want = bm25_oracle(combined, q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (q, gs, ws)


def test_update_appends_one_segment_row_per_term(spark, tmp_path):
    """The LSM update path appends exactly ONE segment row per touched
    term, the hot term included; existing blobs are not rewritten.
    Compaction then merges back to one row per term."""
    from macrobase_spark.index.build import compact_index, update_index

    base = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42)).cache()
    extra = with_doc_id(
        synth_transcripts(spark, n_convs=120, seed=42)
    ).filter(F.col("conv_id") >= "conv00000060").cache()
    out = str(tmp_path / "seg_idx")
    build_index(base, out, num_buckets=8, hot_df_threshold=120,
                hot_sample_frac=0.5)
    postings0, _, _ = read_index(spark, out)
    base_the = [bytes(r["blob"]) for r in
                postings0.filter(F.col("term") == "the").collect()]
    assert len(base_the) == 1

    update_index(extra, out)
    postings1, _, stats1 = read_index(spark, out)
    seg_the = [bytes(r["blob"]) for r in
               postings1.filter(F.col("term") == "the").collect()]
    assert len(seg_the) == 2 and base_the[0] in seg_the
    assert postings1.groupBy("term").count().filter(
        F.col("count") > 2).count() == 0
    assert stats1["segmented_buckets"]

    compact_index(spark, out)
    postings2, _, stats2 = read_index(spark, out)
    assert postings2.filter(F.col("term") == "the").count() == 1
    assert stats2["segmented_buckets"] == []


def test_compaction_restores_pruning(spark, tmp_path):
    """After update_index + compact_index, every bucket is at the current
    version (pruning re-enabled) and queries remain rank+score identical."""
    from macrobase_spark.index.build import (
        bucket_versions, compact_index, update_index,
    )

    base = with_doc_id(synth_transcripts(spark, n_convs=60, seed=42)).cache()
    # a single appended turn touches only a few of the 32 buckets → the rest
    # go stale relative to the bumped stats version
    extra = with_doc_id(
        synth_transcripts(spark, n_convs=61, seed=42)
    ).filter((F.col("conv_id") == "conv00000060")
             & (F.col("turn_idx") == 0)).cache()
    out = str(tmp_path / "cmp_idx")
    build_index(base, out, num_buckets=32, hot_df_threshold=120,
                hot_sample_frac=0.5)
    update_index(extra, out)
    import json as _json, os as _os
    with open(_os.path.join(out, "stats.json")) as f:
        v = _json.load(f)["version"]
    assert any(bv != v for bv in bucket_versions(out).values()), \
        "expected at least one stale bucket before compaction"

    rep = compact_index(spark, out)
    assert rep["compacted_buckets"]
    assert all(bv == v for bv in bucket_versions(out).values())

    combined = [(r["doc_id"], r["text"]) for r in
                base.unionByName(extra).select("doc_id", "text").collect()]
    for q in ["the", "rare7", "tok0042 tok0007"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10).collect()]
        want = bm25_oracle(combined, q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (q, gs, ws)


def test_batch_wand_rank_identical(spark, corpus):
    """bm25_topk_batch(wand=True) must stay rank- and score-identical to the
    non-pruned batch across hot/rare/missing query mixes."""
    from macrobase_spark.index.bm25 import bm25_topk_batch

    _, out, _, docs = corpus
    qs = {"hot2": "rare7 the", "hot3": "rare11 the call",
          "plain": "tok0042 tok0007", "single": "the", "miss": "missingterm"}
    plain = bm25_topk_batch(spark, out, qs, k=10).collect()
    pruned = bm25_topk_batch(spark, out, qs, k=10, wand=True).collect()
    a = sorted([(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in plain])
    b = sorted([(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in pruned])
    assert a == b


def test_batch_wand_prunes_hot_two_term_query(spark, tmp_path):
    """On a skewed corpus (16 short high-tf docs + 1000 long tf=1 docs for
    the same term), a hot 2-term query's batch WAND λ must beat the bounds
    of the low-impact blocks — blocks are PROVABLY skipped (non-vacuous
    pruning) while ranks and scores stay identical to the exact path."""
    import numpy as np

    from macrobase_spark.index.build import K1
    from macrobase_spark.index.bm25 import (
        _batch_wand_lambdas, _open, _parse_query_full, bm25_topk_batch)

    rows = []
    for d in range(16):  # high-impact: tf=8, short docs, low doc_ids → block 0
        rows.append((d, " ".join(["spike"] * 8 + ["the", f"pad{d}"])))
    for d in range(16, 1016):  # low-impact: tf=1, long docs
        rows.append((d, "spike the " + " ".join(
            f"g{(d + i) % 300}" for i in range(98))))
    for d in range(1016, 4016):  # spike-free docs → spike keeps a real idf
        rows.append((d, "the " + " ".join(
            f"f{(d * 7 + i) % 200}" for i in range(98))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "skewidx")
    build_index(df, out, num_buckets=4, num_groups=1,
                hot_df_threshold=5000, hot_sample_frac=0.5)

    qs = {"h": "spike the"}
    plain = bm25_topk_batch(spark, out, qs, k=10).collect()
    pruned = bm25_topk_batch(spark, out, qs, k=10, wand=True).collect()
    a = sorted([(r["rank"], r["doc_id"], r["score"]) for r in plain])
    b = sorted([(r["rank"], r["doc_id"], r["score"]) for r in pruned])
    assert a == b and len(a) == 10
    assert all(doc < 16 for _, doc, _ in a)  # high-impact docs win

    postings, _, stats = read_index(spark, out)
    terms = sorted(_parse_query_full("spike the").terms)
    lam = _batch_wand_lambdas(_open(spark, out), {"h": terms}, 10)
    assert lam and "spike" in lam
    meta = (postings.filter(F.col("term").isin(terms))
            .select("term", "df", "block_max").collect())
    dfs = {}
    for r in meta:
        dfs[r["term"]] = dfs.get(r["term"], 0) + r["df"]
    skipped = total = 0
    for r in meta:
        t = r["term"]
        if t in lam and len(r["block_max"]) > 1:
            idf = math.log(1.0 + (stats["n_docs"] - dfs[t] + 0.5) / (dfs[t] + 0.5))
            bm = np.asarray(r["block_max"], dtype=float) * idf * (K1 + 1.0)
            skipped += int((bm < lam[t]).sum())
            total += len(bm)
    assert skipped > 0, f"λ={lam} pruned zero of {total} blocks — vacuous"


def _layers(spark, out):
    """Both layers of an index as rows sorted by term, every column."""
    return {layer: sorted(tuple(r) for r in spark.read.parquet(
        f"{out}/{layer}").collect()) for layer in ("postings", "positions")}


def test_compaction_after_many_updates(spark, tmp_path):
    """r3 verdict Next-round #9 — compaction at scale: 20 incremental
    updates leave many terms spanning many segment rows (one per delta
    that touched the term), and a few docs are deleted; compact_index must
    merge every term back to ONE row, re-enable version-gated block
    pruning index-wide, and leave both layers equal, in every column
    (fan_in included), to a scratch build over the surviving docs — so
    ranks and scores are identical too."""
    import math

    from macrobase_spark.index.build import (bucket_versions, compact_index,
                                             delete_docs, read_index,
                                             update_index)

    all_df = with_doc_id(synth_transcripts(spark, n_convs=140, seed=42)).cache()

    def _slice(lo, hi):
        return all_df.filter((F.col("conv_id") >= f"conv{lo:08d}")
                             & (F.col("conv_id") < f"conv{hi:08d}"))

    out = str(tmp_path / "many_seg")
    build_index(_slice(0, 40), out, num_buckets=8, positions=True)
    for i in range(20):
        update_index(_slice(40 + 5 * i, 45 + 5 * i), out)

    postings, _, stats = read_index(spark, out)
    multi = postings.groupBy("term").count().filter(F.col("count") > 1)
    n_multi = multi.count()
    assert n_multi > 50, f"expected many segmented terms, got {n_multi}"
    assert stats.get("segmented_buckets"), "updates must mark buckets stale"

    ids = sorted(r["doc_id"] for r in all_df.select("doc_id").collect())
    dead = ids[5::97]
    delete_docs(spark, out, dead)
    rep = compact_index(spark, out)
    assert rep["compacted_buckets"]
    postings, _, stats = read_index(spark, out)
    # single row per term again
    assert postings.groupBy("term").count().filter(
        F.col("count") > 1).count() == 0
    assert stats["segmented_buckets"] == []
    # pruning re-enabled: every bucket stamped at the current version
    bv = bucket_versions(out)
    assert set(bv.values()) == {stats["version"]}

    scratch = str(tmp_path / "many_seg_scratch")
    build_index(all_df.filter(~F.col("doc_id").isin(dead)), scratch,
                num_buckets=8, positions=True, resume=False)
    got, want = _layers(spark, out), _layers(spark, scratch)
    for layer in got:
        assert got[layer] == want[layer], layer
    for q in ["the", "rare7", "tok0042 tok0007", "rare23 the call"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10).collect()]
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, scratch, q, k=10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-12), (q, gs, ws)


def test_anomaly_modifier_disables_block_pruning(spark, tmp_path):
    """r4 review: block-max pruning bounds are valid only for RAW BM25 —
    with an anomaly filter, the rightful replacements for filtered-out top
    docs can sit in pruned blocks. Build a corpus where the hot term spans
    many blocks and the raw top-k is dominated by high-anomaly docs; the
    filtered top-k must still match the exact oracle."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    # 2000 docs containing 'zzterm': short degenerate (high-anomaly, high
    # tf/dl → top raw scores) vs long clean docs (low anomaly, lower score)
    for i in range(2000):
        if i < 500:
            # CLUSTERED at low doc_ids so whole later blocks contain only
            # clean docs — those blocks have strictly lower bounds and DO
            # get pruned once the top-k fills with degenerate scores
            text = "zzterm " * 3  # repetitive → rep_ratio high → anomalous
        else:
            # the BEST clean docs (shortest → highest impact) live at the
            # highest doc_ids, i.e. in blocks the raw-score pruning skips —
            # so a pruning bug returns the wrong (inferior) clean docs
            # rather than coincidentally matching by tie-break
            n_fill = 10 if i >= 1900 else 30
            filler = " ".join(f"w{rng.integers(0, 500)}" for _ in range(n_fill))
            text = f"zzterm {filler}"
        rows.append((i, f"c{i:06d}", 0, text))
    df = spark.createDataFrame(rows, "doc_id long, conv_id string, "
                                     "turn_idx int, text string")
    out = str(tmp_path / "anom_prune")
    build_index(df, out, num_buckets=2, hot_df_threshold=10 ** 9)

    docs = [(r[0], r[3]) for r in rows]
    _, docs_df, _ = read_index(spark, out)
    anom = {r["doc_id"]: r["anomaly"] for r in docs_df.collect()}
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "zzterm", k=10, anomaly_max=0.5).collect()]
    want = bm25_oracle(docs, "zzterm", k=10, anomaly=anom, anomaly_max=0.5)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    assert all(anom[d] <= 0.5 for d, _ in got)


@pytest.mark.parametrize("query", ["tok0042 tok0007", "rare11 the call",
                                   "tok0100 tok0200 tok0300", "the",
                                   "missingterm the"])
def test_conjunctive_mode_rank_identical(spark, corpus, query):
    """r5: mode='and' (Lucene MUST semantics) — rank+score identical to the
    oracle's conjunctive filter, and provably a subset-filter of the
    disjunctive ranking (same scores, only all-terms docs survive)."""
    _, out, _, docs = corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, query, k=12, mode="and").collect()]
    want = bm25_oracle(docs, query, k=12, mode="and")
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    # subset-filter property vs the disjunctive scores (full ranking)
    or_scores = dict(bm25_oracle(docs, query, k=10**9))
    for d, s in got:
        assert math.isclose(s, or_scores[d], rel_tol=1e-12)


def test_conjunctive_strictly_smaller_on_mixed_query(spark, corpus):
    """'tok0042 tok0007' co-occur in some docs but far from all: AND must
    return strictly fewer hits than OR at a large k, and every AND hit
    contains every term."""
    df, out, _, _ = corpus
    q = "tok0042 tok0007"
    or_n = bm25_topk(spark, out, q, k=10**6).count()
    and_hits = bm25_topk(spark, out, q, k=10**6, mode="and").collect()
    assert 0 < len(and_hits) < or_n
    texts = {r["doc_id"]: r["text"] for r in
             df.select("doc_id", "text").collect()}
    import re as _re
    for r in and_hits:
        toks = set(_re.findall(r"[a-z0-9]+", texts[r["doc_id"]].lower()))
        assert {"tok0042", "tok0007"} <= toks


def test_conjunctive_batch_matches_single(spark, corpus):
    """Batch mode='and' is per-query identical to bm25_topk mode='and',
    including the single-term fast path riding alongside."""
    _, out, _, _ = corpus
    qs = {"a": "tok0042 tok0007", "b": "rare11 the call", "c": "the"}
    batch = bm25_topk_batch(spark, out, qs, k=8, mode="and").collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=8, mode="and").collect()]
        assert by_q.get(qid, []) == want, qid


def test_conjunctive_mode_validation(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="mode must be"):
        bm25_topk(spark, out, "the", mode="xor")
    with pytest.raises(ValueError, match="mode must be"):
        bm25_topk_batch(spark, out, ["the"], mode="not")


# --------------------------------------- r5: minimum_should_match (MATCH=n)


@pytest.mark.parametrize("query,m", [
    ("tok0042 tok0007 the", 2),
    ("rare11 the call", 2),
    ("tok0100 tok0200 tok0300 the", 3),
])
def test_min_should_match_rank_identical(spark, corpus, query, m):
    """min_should_match=m — rank+score identical to the oracle's ≥m-terms
    filter, sandwiched between OR (m=1) and AND (m=all): scores are the
    unchanged disjunctive sums, only the doc population narrows."""
    _, out, _, docs = corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, query, k=12,
                     min_should_match=m).collect()]
    want = bm25_oracle(docs, query, k=12, min_should_match=m)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    or_scores = dict(bm25_oracle(docs, query, k=10**9))
    for d, s in got:
        assert math.isclose(s, or_scores[d], rel_tol=1e-12)


def test_min_should_match_sandwich_and_edges(spark, corpus):
    """m=1 ≡ OR; m=len(terms) population ≡ AND; m>len(terms) → empty;
    monotonically shrinking hit sets as m rises."""
    _, out, _, _ = corpus
    q = "tok0042 tok0007 the"
    ids_or = {r["doc_id"] for r in
              bm25_topk(spark, out, q, k=10**6).collect()}
    ids_m1 = {r["doc_id"] for r in
              bm25_topk(spark, out, q, k=10**6,
                        min_should_match=1).collect()}
    assert ids_m1 == ids_or
    ids_m2 = {r["doc_id"] for r in
              bm25_topk(spark, out, q, k=10**6,
                        min_should_match=2).collect()}
    ids_m3 = {r["doc_id"] for r in
              bm25_topk(spark, out, q, k=10**6,
                        min_should_match=3).collect()}
    ids_and = {r["doc_id"] for r in
               bm25_topk(spark, out, q, k=10**6, mode="and").collect()}
    assert ids_m3 == ids_and
    assert ids_m3 <= ids_m2 <= ids_m1
    assert len(ids_m3) < len(ids_m2) < len(ids_m1)
    assert bm25_topk(spark, out, q, k=10,
                     min_should_match=4).count() == 0


def test_min_should_match_batch_matches_single(spark, corpus):
    """Batch min_should_match is per-query identical to bm25_topk,
    including a 1-term query (unsatisfiable at m=2 → no rows) riding
    alongside."""
    _, out, _, _ = corpus
    qs = {"a": "tok0042 tok0007 the", "b": "rare11 the call", "c": "the"}
    batch = bm25_topk_batch(spark, out, qs, k=8,
                            min_should_match=2).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=8,
                          min_should_match=2).collect()]
        assert by_q.get(qid, []) == want, qid
    assert "c" not in by_q  # 1 term < m — unsatisfiable


def test_min_should_match_count_and_validation(spark, corpus):
    """bm25_count under m ≥ the full-retrieval population; validation:
    not with mode='and', not with wildcards/fuzzies, positive int only."""
    from macrobase_spark.index.bm25 import bm25_count

    _, out, _, _ = corpus
    q = "tok0042 tok0007 the"
    n_m2 = bm25_count(spark, out, q, min_should_match=2).collect()[0][0]
    want = bm25_topk(spark, out, q, k=10**6, min_should_match=2).count()
    assert n_m2 == want
    assert bm25_count(spark, out, q, min_should_match=9).collect()[0][0] == 0
    for fn in (bm25_topk, bm25_count):
        with pytest.raises(ValueError, match="does not compose"):
            fn(spark, out, q, mode="and", min_should_match=2)
        with pytest.raises(ValueError, match="positive int"):
            fn(spark, out, q, min_should_match=0)
        with pytest.raises(ValueError, match="not supported"):
            fn(spark, out, "tok00* the extra", min_should_match=2)
    with pytest.raises(ValueError, match="does not compose"):
        bm25_topk_batch(spark, out, [q], mode="and", min_should_match=2)
    with pytest.raises(ValueError, match="not supported"):
        bm25_topk_batch(spark, out, ["tok00* the extra"],
                        min_should_match=2)


# ------------------------------------------- r5: recency-decay scoring


def test_recency_decay_matches_python_recount(spark, corpus):
    """recency_half_life: score ×= 0.5^(age_days/half_life) against the
    corpus max ts (or an explicit recency_ref) — recount pinned at 1e-12;
    the modifier reorders fresh-but-weaker docs above stale-but-stronger
    ones when half_life is small."""
    df, out, _, docs = corpus
    ts_map = {r["doc_id"]: r["ts"].timestamp() for r in
              df.select("doc_id", "ts").collect()}
    base = {d: s for d, s in bm25_oracle(docs, "the call", k=10**9)}
    ref = max(ts_map[d] for d in base)
    hl = 2.0
    want = sorted(
        ((d, s * 0.5 ** ((ref - ts_map[d]) / 86400.0 / hl))
         for d, s in base.items()),
        key=lambda kv: (-kv[1], kv[0]))[:12]
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "the call", k=12, recency_half_life=hl,
                     recency_ref=ref).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    # default ref = corpus max ts — same ranking as the explicit ref
    got_def = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, "the call", k=12,
                         recency_half_life=hl).collect()]
    ref_all = max(ts_map.values())
    want_def = sorted(
        ((d, s * 0.5 ** ((ref_all - ts_map[d]) / 86400.0 / hl))
         for d, s in base.items()),
        key=lambda kv: (-kv[1], kv[0]))[:12]
    assert [d for d, _ in got_def] == [d for d, _ in want_def]
    # a small half-life must actually change the ranking vs raw BM25
    raw = [r["doc_id"] for r in
           bm25_topk(spark, out, "the call", k=12).collect()]
    tiny = [r["doc_id"] for r in
            bm25_topk(spark, out, "the call", k=12,
                      recency_half_life=0.01).collect()]
    assert tiny != raw
    with pytest.raises(ValueError, match="half_life"):
        bm25_topk(spark, out, "the", recency_half_life=0.0)
    with pytest.raises(ValueError, match="not a docs-metadata"):
        bm25_topk(spark, out, "the", recency_half_life=1.0,
                  recency_col="nope")


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_recency_epoch_seconds_follow_spark(spark, tmp_path, tz):
    """recency reads its column with pyarrow and converts it to epoch
    seconds as Spark's cast(col as double) (numeric) and
    unix_timestamp(col) (timestamp, date, string: whole seconds, floored,
    in the session time zone) do: on a small docs table per column type,
    the weights equal those of the Spark expressions up to the last bit
    (np.power against Java's Math.pow), NULLs keep weight 1, and the
    ranks are equal."""
    import datetime as dt
    import glob

    import numpy as np

    from macrobase_spark.index.bm25 import _docs, _epoch_seconds, _Index

    hl = 0.7
    t0 = dt.datetime(2024, 3, 10, 9, 59, 58, 750000)
    stamps = [t0 + dt.timedelta(hours=7 * i, microseconds=250_000 * i)
              for i in range(12)] + [dt.datetime(1969, 12, 31, 23, 59, 59,
                                                 500000), None]
    base = spark.createDataFrame(list(enumerate(stamps)),
                                 "doc_id long, t timestamp")
    variants = {
        "timestamp": F.col("t"),
        "date": F.to_date("t"),
        "string": F.date_format("t", "yyyy-MM-dd HH:mm:ss"),
        "long": F.unix_timestamp("t"),
        "double": F.col("t").cast("double"),
    }
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        for name, expr in variants.items():
            path = str(tmp_path / f"docs_{name}")
            base.select("doc_id", expr.alias("ts")).write.parquet(path)
            d = spark.read.parquet(path)
            dtype = d.schema["ts"].dataType
            ts_sec = (F.col("ts").cast("double") if name in ("long", "double")
                      else F.unix_timestamp("ts").cast("double"))
            ref = d.agg(F.max(ts_sec)).collect()[0][0]
            want = dict(d.select("doc_id", F.coalesce(F.pow(
                F.lit(0.5), ((F.lit(ref) - ts_sec) / 86400.0) / hl),
                F.lit(1.0))).collect())
            h = _Index(d, {}, None, {}, glob.glob(f"{path}/*.parquet"), path)
            meta = _docs([h], ["ts"])
            secs = _epoch_seconds(meta["ts"], dtype, tz)
            w = np.power(0.5, ((np.nanmax(secs) - secs) / 86400.0) / hl)
            got = dict(zip(meta["doc_id"].to_pylist(),
                           np.where(np.isnan(w), 1.0, w).tolist()))
            assert got.keys() == want.keys(), name
            assert got[len(stamps) - 1] == 1.0, name  # the NULL ts
            for doc, wv in want.items():
                assert abs(got[doc] - wv) <= np.spacing(wv), (name, doc)
            score = {doc: 1.0 + 0.01 * (doc % 5) for doc in want}
            rank = [sorted(want, key=lambda doc: (-score[doc] * ws[doc], doc))
                    for ws in (want, got)]
            assert rank[0] == rank[1], name
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_recency_ref_before_every_ts_keeps_raw_scores(spark, corpus):
    """A recency_ref earlier than every doc's timestamp makes each age
    negative, which counts as 0: every weight is 1, so the scores stay
    finite and the rows equal the same query without recency, bitwise."""
    df, out, _, _ = corpus
    lo = df.agg(F.min(F.col("ts").cast("double"))).collect()[0][0]
    raw = bm25_topk(spark, out, "the call", k=12).collect()
    got = bm25_topk(spark, out, "the call", k=12, recency_half_life=1.0,
                    recency_ref=lo - 86400.0).collect()
    assert got and all(math.isfinite(r["score"]) for r in got)
    assert [tuple(r) for r in got] == [tuple(r) for r in raw]


# ------------------------------------------- r5: regexp term queries


def test_regexp_term_query_rank_identical(spark, corpus):
    """/pat/ expands against the dictionary (re.fullmatch, as in the
    oracle) and scores as a disjunction with per-term idf — rank+score
    identical to the oracle's expansion; equals the explicitly expanded
    query bitwise."""
    import re as _re

    _, out, _, docs = corpus
    q = "/rare(7|11)/ the"
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, q, k=12).collect()]
    want = bm25_oracle(docs, q, k=12)
    assert [d for d, _ in got] == [d for d, _ in want] and got
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    flat = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, out, "rare7 rare11 the", k=12).collect()]
    assert got == flat
    # the pattern's alnum fragments never leak in as bare terms
    vocab_hits = {r["doc_id"] for r in
                  bm25_topk(spark, out, "/zz(qq|xx)/", k=10).collect()}
    assert vocab_hits == set()


def test_regexp_exclusion_boost_and_guardrails(spark, corpus):
    """-/pat/ excludes every match; /pat/^2 boosts the expansions; regex
    tokens refuse mode='and'/msm, expand identically on the batch, count
    and facet surfaces, and an invalid pattern raises ValueError."""
    from macrobase_spark.index.bm25 import (bm25_count, bm25_facets,
                                            bm25_topk_batch)

    _, out, _, docs = corpus
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "the -/rare[0-9]+/", k=8).collect()]
    want = bm25_oracle(docs, "the -/rare[0-9]+/", k=8)
    assert [d for d, _ in got] == [d for d, _ in want] and got
    gotb = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, out, "/rare(7|11)/^2 the", k=8).collect()]
    wantb = bm25_oracle(docs, "/rare(7|11)/^2 the", k=8)
    assert [d for d, _ in gotb] == [d for d, _ in wantb]
    for (_, gs), (_, ws) in zip(gotb, wantb):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    with pytest.raises(ValueError, match="not supported with"):
        bm25_topk(spark, out, "/rare[0-9]+/ the", mode="and")
    # batch, count and facets expand regexps through the same dictionary
    qs = {"pos": "/rare[0-9]+/ the", "neg": "the -/rare[0-9]+/",
          "boost": "/rare(7|11)/^2 call"}
    batch = bm25_topk_batch(spark, out, qs, k=8).collect()
    for qid, q in qs.items():
        single = [(r["doc_id"], r["score"]) for r in
                  bm25_topk(spark, out, q, k=8).collect()]
        per_q = [(r["doc_id"], r["score"]) for r in
                 sorted((r for r in batch if r["query_id"] == qid),
                        key=lambda r: r["rank"])]
        assert per_q == single and single, qid
    n = bm25_count(spark, out, "/rare[0-9]+/").collect()[0]["n_matches"]
    assert n == len(bm25_oracle(docs, "/rare[0-9]+/", k=10 ** 9)) and n
    facets = bm25_facets(spark, out, "/rare[0-9]+/", ["role"]).collect()
    assert [r["doc_count"] for r in facets
            if r["facet"] == "__total__"] == [n]
    with pytest.raises(ValueError, match="expands to more"):
        bm25_topk(spark, out, "/.*/", k=5, max_expansions=8)
    with pytest.raises(ValueError, match="not a valid pattern"):
        bm25_topk(spark, out, "/(/")


# ------------------------------------------- r5: query-time synonyms


def test_synonym_expansion_rank_identical(spark, corpus):
    """synonyms: alternates join the disjunction with their own idf —
    rank+score identical to the oracle's expansion; equivalent to simply
    writing the alternates into the query (scoring-boolean rewrite)."""
    _, out, _, docs = corpus
    syn = {"rare7": ["rare11", "tok0042"], "unrelated": ["tok0001"]}
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "rare7 the", k=12,
                     synonyms=syn).collect()]
    want = bm25_oracle(docs, "rare7 the", k=12, synonyms=syn)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    # 'unrelated' is not in the query → its alternates must NOT rank
    flat = [(r["doc_id"], r["score"]) for r in
            bm25_topk(spark, out, "rare7 rare11 tok0042 the",
                      k=12).collect()]
    assert got == flat
    # the synonym set surfaces docs the bare query misses
    bare_ids = {r["doc_id"] for r in
                bm25_topk(spark, out, "rare7", k=10**6).collect()}
    syn_ids = {r["doc_id"] for r in
               bm25_topk(spark, out, "rare7", k=10**6,
                         synonyms={"rare7": ["rare11"]}).collect()}
    assert bare_ids < syn_ids


def test_synonym_batch_matches_single(spark, corpus):
    """One corpus-wide synonym map over a batch: per-query identical to
    bm25_topk with the same map, bitwise — including a query the map
    doesn't touch and a boosted source term."""
    _, out, _, _ = corpus
    syn = {"rare7": ["rare11"], "tok0042": ["tok0007", "the"]}
    qs = {"a": "rare7^2 call", "b": "tok0042", "c": "tok0100"}
    batch = bm25_topk_batch(spark, out, qs, k=8, synonyms=syn).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=8, synonyms=syn).collect()]
        assert by_q.get(qid, []) == want, qid
    with pytest.raises(ValueError, match="synonyms are not supported"):
        bm25_topk_batch(spark, out, ["rare7 the"], mode="and",
                        synonyms=syn)


def test_synonym_boost_coverage_and_validation(spark, corpus):
    """A boost on the query term covers its alternates; synonyms refuse
    mode='and'/min_should_match (per-slot conjunctive semantics)."""
    _, out, _, docs = corpus
    syn = {"rare7": ["rare11"]}
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "rare7^2 the", k=12,
                     synonyms=syn).collect()]
    want = bm25_oracle(docs, "rare7^2 the", k=12, synonyms=syn)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-12)
    with pytest.raises(ValueError, match="synonyms are not supported"):
        bm25_topk(spark, out, "rare7 the", mode="and", synonyms=syn)
    with pytest.raises(ValueError, match="synonyms are not supported"):
        bm25_topk(spark, out, "rare7 the call", min_should_match=2,
                  synonyms=syn)


# --------------------------------------------------------- r5: doc_filter


def _role_keep(df, role):
    return {r["doc_id"] for r in
            df.filter(F.col("role") == role).select("doc_id").collect()}


def test_doc_filter_topk_rank_identity(spark, corpus):
    """doc_filter='role = ...' restricts the rankable population BEFORE
    top-k: rank+score identical to the oracle ranking only the kept docs
    (corpus stats stay global — idf/avgdl unchanged by the filter)."""
    df, out, _, docs = corpus
    keep = _role_keep(df, "assistant")
    for q in ["the call run", "rare7", "tok0042 tok0007"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10,
                         doc_filter="role = 'assistant'").collect()]
        want = bm25_oracle(docs, q, k=10, keep_ids=keep)
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want)), q


def test_doc_filter_is_not_a_post_filter(spark, corpus):
    """The filtered top-k must contain docs the unfiltered top-k ranked
    below k — proving the filter applies before selection, not after."""
    df, out, _, _ = corpus
    q = "the call"
    unfiltered = {r["doc_id"] for r in bm25_topk(spark, out, q, k=5).collect()}
    filtered = [r["doc_id"] for r in
                bm25_topk(spark, out, q, k=5,
                          doc_filter="role = 'system'").collect()]
    assert filtered, "expected hits within role='system'"
    assert any(d not in unfiltered for d in filtered)
    roles = {r["doc_id"]: r["role"] for r in
             df.select("doc_id", "role").collect()}
    assert all(roles[d] == "system" for d in filtered)


def test_doc_filter_composes_with_and_and_anomaly(spark, corpus):
    """doc_filter ∘ mode='and' ∘ anomaly_max: each stage only removes
    docs, so the composition equals the oracle with all three applied."""
    df, out, _, docs = corpus
    keep = _role_keep(df, "user")
    anom = {r["doc_id"]: r["anomaly"] for r in
            spark.read.parquet(f"{out}/docs.parquet")
            .select("doc_id", "anomaly").collect()}
    q = "tok0042 tok0007"
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, q, k=10, mode="and", anomaly_max=0.9,
                     doc_filter="role = 'user'").collect()]
    want = bm25_oracle(docs, q, k=10, mode="and", anomaly=anom,
                       anomaly_max=0.9, keep_ids=keep)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))


def test_doc_filter_batch_matches_single(spark, corpus):
    """One filtered docs projection serves the whole batch; per-query
    results identical to bm25_topk with the same doc_filter."""
    _, out, _, _ = corpus
    qs = {"a": "the call", "b": "rare7", "c": "tok0042 tok0007"}
    flt = "role IN ('assistant', 'tool')"
    batch = bm25_topk_batch(spark, out, qs, k=6, doc_filter=flt).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=6, doc_filter=flt).collect()]
        assert by_q.get(qid, []) == want, qid


# ---------------------------------------------------- r5: prefix wildcards


def test_prefix_wildcard_rank_identity(spark, corpus):
    """'tok00*' expands against the term dictionary and scores as a
    disjunctive query over the expansions (each with its own idf) — rank+
    score identical to the oracle run on the explicit expansion."""
    import re as _re

    _, out, _, docs = corpus
    vocab = sorted({t for _, txt in docs
                    for t in _re.findall(r"[a-z0-9]+", txt.lower())})
    expanded = [t for t in vocab if t.startswith("tok00")]
    assert len(expanded) > 10  # the expansion is genuinely multi-term
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "tok00*", k=10).collect()]
    want = bm25_oracle(docs, " ".join(expanded), k=10)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))


def test_prefix_wildcard_mixes_with_exact_terms_and_filter(spark, corpus):
    """'rare7 tok00*' = exact term ∪ expansions; composed with doc_filter."""
    import re as _re

    df, out, _, docs = corpus
    vocab = sorted({t for _, txt in docs
                    for t in _re.findall(r"[a-z0-9]+", txt.lower())})
    expanded = [t for t in vocab if t.startswith("tok00")]
    keep = _role_keep(df, "user")
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, "rare7 tok00*", k=10,
                     doc_filter="role = 'user'").collect()]
    want = bm25_oracle(docs, " ".join(["rare7"] + expanded), k=10,
                       keep_ids=keep)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))


def test_prefix_wildcard_guardrails(spark, corpus):
    _, out, _, _ = corpus
    with pytest.raises(ValueError, match="max_expansions"):
        bm25_topk(spark, out, "t*", max_expansions=5)
    with pytest.raises(ValueError, match="mode='and'"):
        bm25_topk(spark, out, "tok00*", mode="and")
    with pytest.raises(ValueError, match="mode='and'"):
        bm25_topk_batch(spark, out, ["tok00*"], mode="and")
    # a prefix matching nothing contributes no terms: empty result, no error
    assert bm25_topk(spark, out, "zzzzz*").count() == 0


def test_prefix_wildcard_batch_matches_single(spark, corpus):
    _, out, _, _ = corpus
    qs = {"a": "tok00*", "b": "rare7 tok01*", "c": "the"}
    batch = bm25_topk_batch(spark, out, qs, k=5).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=5).collect()]
        assert by_q.get(qid, []) == want, qid


def test_docs_table_carries_transcript_metadata(spark, corpus):
    """build_index persists role/tool (input_hint metadata) into the docs
    table — the doc_filter surface's schema contract."""
    _, out, _, _ = corpus
    cols = spark.read.parquet(f"{out}/docs.parquet").columns
    assert {"doc_id", "conv_id", "turn_idx", "role", "tool",
            "anomaly"} <= set(cols)


# ---------------------------------------------------- r5: exclusion terms


def test_exclusion_rank_identity(spark, corpus):
    """-term drops docs containing the term before top-k; scores over the
    remaining docs are untouched — rank+score identity vs the oracle
    parsing the same micro-syntax."""
    _, out, _, docs = corpus
    for q in ["the -call", "the call -rare7", "tok0042 -tok0007"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=10).collect()]
        want = bm25_oracle(docs, q, k=10)
        assert want, q
        assert [g[0] for g in got] == [w[0] for w in want], q
        assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want)), q


def test_exclusion_semantics_and_edges(spark, corpus):
    """Excluded docs really contain the excluded term; exclusion is not a
    post-filter (docs below the unfiltered k surface); -pre* excludes all
    expansions; only-exclusions and hyphen-inside-word edge cases."""
    import re as _re

    df, out, _, docs = corpus
    texts = {d: set(_re.findall(r"[a-z0-9]+", t.lower())) for d, t in docs}
    hits = [r["doc_id"] for r in
            bm25_topk(spark, out, "the -call", k=50).collect()]
    assert hits and all("call" not in texts[d] for d in hits)
    assert all("the" in texts[d] for d in hits)
    # not a post-filter: excluding a term carried by the unfiltered #1 doc
    # must remove it AND promote a doc from below the old top-5 cut
    top5 = [r["doc_id"] for r in bm25_topk(spark, out, "the", k=5).collect()]
    marker = sorted(t for t in texts[top5[0]]
                    if t not in ("the",) and not t.startswith("rare"))[0]
    after = [r["doc_id"] for r in
             bm25_topk(spark, out, f"the -{marker}", k=5).collect()]
    assert top5[0] not in after
    assert any(d not in top5 for d in after)
    # -rare1* excludes every expansion (rare11, rare12, ... — narrow
    # enough that 'the'-matching docs survive)
    got = [r["doc_id"] for r in
           bm25_topk(spark, out, "the -rare1*", k=30).collect()]
    assert got and all(
        not any(t.startswith("rare1") for t in texts[d]) for d in got)
    # only exclusions -> nothing to rank
    assert bm25_topk(spark, out, "-the").count() == 0
    # hyphen inside a word is NOT an exclusion
    from macrobase_spark.index.bm25 import _parse_query_full
    pq = _parse_query_full("well-known")
    assert (sorted(pq.terms), sorted(pq.prefixes), sorted(pq.neg_terms),
            sorted(pq.neg_prefixes), pq.boosts) == (
        ["known", "well"], [], [], [], {})


def test_exclusion_composes_with_filter_and_mode(spark, corpus):
    """-term ∘ doc_filter ∘ mode='and' — all three restrictions stack."""
    df, out, _, docs = corpus
    keep = _role_keep(df, "user")
    q = "tok0042 tok0007 -rare7"
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, q, k=10, mode="and",
                     doc_filter="role = 'user'").collect()]
    want = bm25_oracle(docs, q, k=10, mode="and", keep_ids=keep)
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-12 for g, w in zip(got, want))


def test_exclusion_batch_matches_single(spark, corpus):
    """Per-query exclusions in one batch: each query's MUST_NOT applies
    only to itself (query 'c' shares a term with 'a' but no exclusion)."""
    _, out, _, _ = corpus
    qs = {"a": "the -call", "b": "tok0042 -tok0007", "c": "the",
          "d": "the -tok01*"}
    batch = bm25_topk_batch(spark, out, qs, k=6).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=6).collect()]
        assert by_q.get(qid, []) == want, qid
    # the exclusion genuinely bites at full depth (top-6 may coincide):
    # tok0042/tok0007 co-occur (see the conjunctive test), so excluding
    # one strictly shrinks the other's hit set
    assert (bm25_topk(spark, out, "tok0042 -tok0007", k=10 ** 6).count()
            < bm25_topk(spark, out, "tok0042", k=10 ** 6).count())


# -------------------------------------------------------- r5: term boosts


def test_boost_rank_identity_bitwise(spark, corpus):
    """term^2 / pre*^1.5 boosts: contribution × boost before the per-doc
    sum — BITWISE score identity vs the oracle parsing the same syntax
    (both sides post-multiply c·b in the same order)."""
    _, out, _, docs = corpus
    for q in ["the^2 call", "rare7^3 the", "tok00*^2 rare7", "the^0.5",
              "tok0042^2 tok0007 -rare7"]:
        got = [(r["doc_id"], r["score"]) for r in
               bm25_topk(spark, out, q, k=8).collect()]
        want = bm25_oracle(docs, q, k=8)
        assert got == want, q  # exact float equality, not approx


def test_boost_changes_ranking_and_composes(spark, corpus):
    df, out, _, docs = corpus
    a = [r["doc_id"] for r in bm25_topk(spark, out, "the call", k=8).collect()]
    b = [r["doc_id"] for r in bm25_topk(spark, out, "the^5 call", k=8).collect()]
    assert a != b  # the boost genuinely reorders
    # boost ∘ doc_filter ∘ exclusion
    keep = _role_keep(df, "user")
    q = "tok0042^2 tok0007 -rare7"
    got = [(r["doc_id"], r["score"]) for r in
           bm25_topk(spark, out, q, k=8,
                     doc_filter="role = 'user'").collect()]
    want = bm25_oracle(docs, q, k=8, keep_ids=keep)
    assert got == want


def test_boost_batch_matches_single_bitwise(spark, corpus):
    """Per-query boosts ride the broadcast qmap: contributions computed
    once, re-scaled per query — bitwise-identical to bm25_topk, including
    a boosted single-term query on the no-shuffle fast path."""
    _, out, _, _ = corpus
    qs = {"a": "the^2 call", "b": "rare7^3 the", "c": "the",
          "d": "tok0001^2"}
    batch = bm25_topk_batch(spark, out, qs, k=5).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: r["rank"]):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_topk(spark, out, q, k=5).collect()]
        assert by_q.get(qid, []) == want, qid


def test_update_segments_match_fresh_build_of_delta(spark, tmp_path):
    """update_index appends exactly one segment row per delta term, and those rows carry the same (term, df, cf, blob)
    as a fresh build_index of the delta alone — blob bytes depend only on
    the delta's (doc, tf, dl) postings, never on avgdl."""
    from collections import Counter

    from macrobase_spark.index.build import update_index

    base = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    delta = (with_doc_id(synth_transcripts(spark, n_convs=8, seed=99))
             .withColumn("doc_id", F.col("doc_id") + 10 ** 9)).cache()
    out = str(tmp_path / "upd_idx")
    fresh = str(tmp_path / "delta_idx")
    build_index(base, out, num_buckets=4, hot_df_threshold=10 ** 9)
    build_index(delta, fresh, num_buckets=4, hot_df_threshold=10 ** 9)

    def rows(path):
        return Counter((r["term"], r["df"], r["cf"], bytes(r["blob"]))
                       for r in read_index(spark, path)[0].select(
                           "term", "df", "cf", "blob").collect())

    before = rows(out)
    update_index(delta, out)
    appended = rows(out) - before
    want = rows(fresh)
    assert appended == want and sum(want.values()) > 0
    delta.unpersist()
