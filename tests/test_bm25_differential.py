"""Seeded differential test of the BM25 scoring kernel, which owns the
per-doc float order: on generated small corpora (U+0130 'İ', token-less
docs, an index-time stoplist, terms spanning base and segment rows) and
generated queries (exclusions, boosts, stoplist-only token sets,
mode='and', min_should_match), bm25_topk and bm25_topk_batch over a
segmented index (build, then update_index) and bm25_topk_sharded over two
shards must equal bm25_oracle bitwise — doc ids, order and float scores —
and bm25_count its match count; after a delete_docs on the segmented
index, topk, batch and count must equal bm25_oracle over the surviving
docs (corpus stats still count the deleted ones until a compaction).

The mutation harness runs random sequences of update_index / delete_docs /
compact_index on a positional index and checks topk, batch and count
against bm25_oracle after every step, and after every compaction both
layers against a fresh build over the surviving docs, in every column,
and that tombstones are pending exactly while a deleted doc awaits a
compaction.
"""

from collections import defaultdict

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from macrobase_spark.index.bm25 import (bm25_count, bm25_oracle, bm25_topk,
                                        bm25_topk_batch, bm25_topk_sharded)
from macrobase_spark.index.build import (build_index, compact_index,
                                         delete_docs, has_tombstones,
                                         update_index)

STOP = ["the", "and"]
# 'İ' lowercases to 'i' + U+0307, which splits the token: "İnsert" is the
# two tokens "i" and "nsert" on both the index and the query side
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "the", "and",
         "İnsert", "KİT", "x1"]
NOISE = ["", "!!!", "— —", "...?"]
QWORDS = ["alpha", "beta", "gamma", "delta", "omega", "the", "and",
          "İnsert", "kit", "nsert", "x1", "absent"]

doc_text = st.one_of(
    st.sampled_from(NOISE),  # token-less
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=7).map(" ".join))
query_tok = st.one_of(
    st.tuples(st.sampled_from(QWORDS),
              st.sampled_from(["", "", "^2", "^0.5", "^3"]))
    .map("".join),
    st.sampled_from(QWORDS).map("-{}".format))
query = st.tuples(
    st.lists(query_tok, min_size=1, max_size=4).map(" ".join),
    st.sampled_from([("or", None), ("or", None), ("and", None),
                     ("or", 2), ("or", 3)]))


def _rows(rel):
    return [(r["doc_id"], r["score"]) for r in rel.collect()]


@settings(max_examples=2, derandomize=True, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(texts=st.lists(doc_text, min_size=8, max_size=16),
       queries=st.lists(query, min_size=4, max_size=6),
       k=st.sampled_from([3, 10]))
def test_kernel_equals_oracle_bitwise(spark, tmp_path_factory, texts,
                                      queries, k):
    docs = [(7 * i + 1, t) for i, t in enumerate(texts)]
    half = len(docs) // 2
    root = tmp_path_factory.mktemp("diff")
    seg, other = str(root / "seg"), str(root / "other")

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    for out, rows in ((seg, docs[:half]), (other, docs[half:])):
        build_index(frame(rows), out, num_buckets=2, stopwords=STOP)
    # two shards are one corpus: sharded scoring uses the global stats
    for q, (mode, msm) in queries:
        if msm is None and "^" not in q:
            assert _rows(bm25_topk_sharded(spark, [seg, other], q, k=k,
                                           mode=mode)) == bm25_oracle(
                docs, q, k=k, mode=mode, stopwords=set(STOP)), q
    update_index(frame(docs[half:]), seg)  # seg: base + one segment
    _check(spark, seg, docs, queries, k)
    deleted = {d for d, _ in docs[::3]}
    delete_docs(spark, seg, sorted(deleted))
    _check(spark, seg, docs, queries, k, {d for d, _ in docs} - deleted)


def _check(spark, seg, docs, queries, k, keep_ids=None):
    """topk, bm25_count and batch (one per option group) on seg against
    bm25_oracle over the docs in keep_ids (all when None)."""
    groups = defaultdict(dict)
    for i, (q, (mode, msm)) in enumerate(queries):
        kw = dict(mode=mode, min_should_match=msm, keep_ids=keep_ids,
                  stopwords=set(STOP))
        want = bm25_oracle(docs, q, k=k, **kw)
        assert _rows(bm25_topk(spark, seg, q, k=k, mode=mode,
                               min_should_match=msm)) == want, q
        [(n,)] = bm25_count(spark, seg, q, mode=mode,
                            min_should_match=msm).collect()
        assert n == len(bm25_oracle(docs, q, k=len(docs), **kw)), q
        groups[mode, msm][str(i)] = (q, want)
    for (mode, msm), qs in groups.items():
        got = defaultdict(list)
        for r in bm25_topk_batch(spark, seg, {i: q for i, (q, _) in
                                              qs.items()}, k=k, mode=mode,
                                 min_should_match=msm).collect():
            got[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
        for i, (q, want) in qs.items():
            assert [(d, s) for _, d, s in sorted(got[i])] == want, q


def _layers(out):
    """Both layers of an index as rows sorted by term, every column."""
    import glob

    import pyarrow.parquet as pq

    return {layer: sorted((r for f in glob.glob(f"{out}/{layer}/bucket=*/*")
                           for r in pq.read_table(f).to_pylist()),
                          key=lambda r: r["term"])
            for layer in ("postings", "positions")}


step = st.one_of(
    # new docs; True re-ingests ids a compaction purged, where there are
    st.tuples(st.just("update"), st.lists(doc_text, min_size=1, max_size=4),
              st.booleans()),
    # picks among the ingested ids (an empty list tombstones nothing)
    st.tuples(st.just("delete"),
              st.lists(st.integers(0, 10 ** 6), max_size=3)),
    st.tuples(st.just("compact")))


@settings(max_examples=10, derandomize=True, deadline=None,
          suppress_health_check=list(HealthCheck))
# every doc purged, the next compaction on an index with no posting bucket
# left, then the purged ids re-ingested
@example(base=["alpha", "..."],
         steps=[("delete", [0]), ("compact",), ("delete", [0]), ("compact",),
                ("update", ["beta", "gamma"], True), ("compact",)],
         queries=[("alpha beta", ("or", None))], k=3)
@given(base=st.lists(doc_text, min_size=3, max_size=8),
       steps=st.lists(step, min_size=3, max_size=6),
       queries=st.lists(query, min_size=2, max_size=3),
       k=st.sampled_from([3, 10]))
def test_mutation_sequences_equal_oracle(spark, tmp_path_factory, base,
                                         steps, queries, k):
    root = tmp_path_factory.mktemp("mut")
    out = str(root / "idx")
    ids = iter(range(1, 10 ** 6, 7))
    corpus = {next(ids): t for t in base}  # docs the corpus stats count
    dead, purged = set(), []

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    build_index(frame(sorted(corpus.items())), out, num_buckets=2,
                positions=True, stopwords=STOP)
    for n, op in enumerate(steps):
        if op[0] == "update":
            rows = [(purged.pop() if op[2] and purged else next(ids), t)
                    for t in op[1]]
            update_index(frame(rows), out)
            corpus.update(rows)
        elif op[0] == "delete":
            live = sorted(set(corpus) - dead)
            picked = sorted({live[i % len(live)] for i in op[1]} if live
                            else set())
            delete_docs(spark, out, picked)
            dead |= set(picked)
        else:
            compact_index(spark, out)
            purged += sorted(dead)
            corpus = {d: t for d, t in corpus.items() if d not in dead}
            dead = set()
            fresh = str(root / f"fresh{n}")
            build_index(frame(sorted(corpus.items())), fresh, num_buckets=2,
                        positions=True, stopwords=STOP)
            assert _layers(out) == _layers(fresh), steps[:n + 1]
        # an empty delete leaves no pending tombstone behind
        assert has_tombstones(out) == bool(dead)
        _check(spark, out, sorted(corpus.items()), queries, k,
               set(corpus) - dead if dead else None)
