"""Physical-plan property tests: the optimizer behaviors the engine's scale
story depends on, asserted from explain output so regressions surface in CI
rather than in cluster bills.

- predicate pushdown + column pruning reach the parquet scan
- small dimension joins broadcast
- the Catalyst and Arrow tokenizers agree on term statistics
- DIFF runs as ONE grouping-sets aggregate (Expand → partial/final
  HashAggregate), not per-order passes
- per-series windows partition by the series key (no single-partition sort
  of a raw table)
- dedup keep/drop decision never shuffles the text column
"""

import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


@pytest.fixture(scope="module")
def sf(spark):
    return "/root/testdata/sf0.001"


def test_scan_pushdown_and_pruning(spark, sf):
    import __spark_entry__ as e

    p = _plan(e.q01_scan_filter_topk(spark, sf))
    assert "PushedFilters:" in p
    assert "l_shipdate" in p.split("PushedFilters:")[1].split("\n")[0]
    # column pruning: unused wide columns never leave the scan
    read_schema = p.split("ReadSchema:")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_dim_join_broadcasts(spark, sf):
    """q04's dimension joins (nation ⋈ region, then customer ⋈ that)
    broadcast the dimension side: the customer rows never shuffle for
    them, and every rich customer finds its nation and region."""
    import __spark_entry__ as e

    q04 = e.q04_join_outer_natural(spark, sf)
    p = _plan(q04, mode="simple")
    assert "BroadcastHashJoin [n_regionkey#" in p
    assert "BroadcastHashJoin [c_nationkey#" in p
    assert "Exchange hashpartitioning(c_nationkey" not in p
    rich = [r for r in q04.collect() if r["acctbal"] > 9000]
    assert rich and all(r["nation"] != "none" and r["region"] != "none"
                        for r in rich)


def test_semi_anti_joins_match_q03(spark, sf, tmp_path):
    """q03 derives its EXISTS / NOT EXISTS legs from one per-customer
    aggregate, so no semi or anti join runs there: real left_semi
    (customers with an order above 100000) and left_anti (customers with
    no order) joins, grouped by market segment, must give its
    n_big_cust / n_no_orders. Every fixture customer has a big order, so
    the orders are thinned first: custkey % 3 == 0 keeps none, == 1 only
    its orders up to 100000 — each leg then counts a proper subset."""
    import __spark_entry__ as e

    c = spark.read.parquet(f"{sf}/customer.parquet")
    cls = F.col("o_custkey") % 3
    o = spark.read.parquet(f"{sf}/orders.parquet").filter(
        (cls == 2) | ((cls == 1) & (F.col("o_totalprice") <= 100000)))
    c.write.parquet(str(tmp_path / "customer.parquet"))
    o.write.parquet(str(tmp_path / "orders.parquet"))
    key = c.c_custkey == o.o_custkey
    semi = c.join(o.filter(F.col("o_totalprice") > 100000), key, "left_semi")
    anti = c.join(o, key, "left_anti")
    assert "LeftSemi" in _plan(semi) and "LeftAnti" in _plan(anti)

    def per_segment(rel):
        return {r["c_mktsegment"]: r["count"] for r in
                rel.groupBy("c_mktsegment").count().collect()}

    big, none = per_segment(semi), per_segment(anti)
    q03 = e.q03_join_inner_semi_anti(spark, str(tmp_path)).collect()
    segs = {r["c_mktsegment"] for r in q03}
    assert set(big) | set(none) <= segs
    assert {r["c_mktsegment"]: r["n_big_cust"] for r in q03} == {
        s: big.get(s, 0) for s in segs}
    assert {r["c_mktsegment"]: r["n_no_orders"] for r in q03} == {
        s: none.get(s, 0) for s in segs}
    n_cust = c.count()
    assert 0 < sum(big.values()) < n_cust and 0 < sum(none.values()) < n_cust


def test_catalyst_tokenizer_matches_q17_term_stats(spark, sf):
    """q17 computes term stats through the index build's Arrow tokenizer
    (tokenize.partial_postings); the Catalyst tokenizer (tokenize_expr,
    which q18 and the text functions use) must give the same top-50
    (term, df, cf) rows over the same documents."""
    import __spark_entry__ as e
    from macrobase_spark.functions.text import tokenize_expr

    d = spark.read.parquet(f"{sf}/documents.parquet")
    catalyst = (d.select("doc_id",
                         F.explode(tokenize_expr("text")).alias("term"))
                .groupBy("term")
                .agg(F.countDistinct("doc_id").alias("df"),
                     F.count("*").alias("cf"))
                .orderBy(F.col("df").desc(), F.col("term").asc())
                .limit(50))
    assert "MapInArrow" not in _plan(catalyst, mode="simple")
    got = [tuple(r) for r in e.q17_term_stats(spark, sf).collect()]
    assert got and got == [tuple(r) for r in catalyst.collect()]


def test_diff_is_single_grouping_sets_pass(spark, sf):
    """The DIFF lattice = ONE Expand + partial/final HashAggregate pair —
    not one aggregation per order."""
    from macrobase_spark.operators import classify_percentile, diff

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    labeled = classify_percentile(li, "l_extendedprice", percentile=1.0,
                                  include_low=False)
    expl = diff(labeled, ["l_returnflag", "l_linestatus"],
                min_support=0.01, min_ratio=0.0, max_order=2)
    p = _plan(expl, mode="simple")
    # the single shuffle already ran (diff collects the explanation-scale
    # grouped relation); the returned plan must be a local scan, proving no
    # recomputation of the lattice happens per downstream action
    assert "Expand" not in p  # grouped result is materialized once
    # and the lattice plan itself (pre-collect) is one Expand:
    base = labeled.select("l_returnflag", "l_linestatus",
                          F.col("_OUTLIER").alias("_o"))
    base.createOrReplaceTempView("_plan_probe")
    g = spark.sql(
        "SELECT l_returnflag, l_linestatus, sum(_o), count(*) "
        "FROM _plan_probe GROUP BY GROUPING SETS "
        "((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())")
    gp = _plan(g, mode="simple")
    assert gp.count("Expand") == 1
    assert gp.count("Exchange") == 1  # one shuffle for the whole lattice


def test_moving_average_partitions_by_series(spark, sf):
    from macrobase_spark.streaming import moving_average

    e = spark.read.parquet(f"{sf}/events.parquet")
    out = moving_average(e, "ts", "value", 3600, partition_by=["user_id"])
    p = _plan(out, mode="simple")
    assert "SinglePartition" not in p
    assert "hashpartitioning(user_id" in p


def test_dedup_exact_never_shuffles_text(spark, sf):
    from macrobase_spark.pipelines.dedup import dedup_exact

    d = spark.read.parquet(f"{sf}/documents.parquet")
    out = dedup_exact(d)
    p = _plan(out, mode="formatted")
    # every Exchange's output schema must be text-free: the keep/drop
    # decision runs on (id, digest) projections; text only flows through
    # the final anti-join's streamed (non-shuffled) side
    for chunk in p.split("\n\n"):
        if chunk.strip().startswith("(") and "Exchange" in chunk.split("\n")[0]:
            assert "text" not in chunk, chunk.split("\n")[0]


def test_bm25_scan_prunes_buckets(spark, tmp_path, monkeypatch):
    """Only the query terms' bucket directories are read for candidate
    rows (driver-side XXH64 partition pruning)."""
    import pyarrow.parquet as pq

    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_topk
    from macrobase_spark.index.xxh64 import term_bucket

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx")
    build_index(df, out, num_buckets=8, hot_df_threshold=10 ** 9)
    opened = []
    parquet_file = pq.ParquetFile

    def recorded(path, *args, **kwargs):
        opened.append(path)
        return parquet_file(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", recorded)
    assert bm25_topk(spark, out, "rare7", k=5).collect()
    b = term_bucket("rare7", 8)
    assert opened and all(f"/bucket={b}/" in f for f in opened), opened


def test_percentile_col_no_single_partition_window(spark, sf):
    """percentile() over a continuous metric (distinct ≈ rows) must never
    funnel through a single-partition window: the running count is bucketed
    (window PARTITIONED BY bucket + driver-side literal offsets)."""
    from macrobase_spark.operators.transform import percentile_col

    o = spark.read.parquet(f"{sf}/orders.parquet")
    out = percentile_col(o.select("o_orderkey", "o_totalprice"),
                         "o_totalprice", output_col="pct")
    p = _plan(out, mode="simple")
    assert "SinglePartition" not in p
    assert "hashpartitioning(_b" in p


def test_ann_bucketed_paths_join_per_query(spark):
    """The LSH/IVF candidate relations must be EQUI-JOINS on the bucket/cell
    key (pair count = Σ per-query candidates) — a CartesianProduct or
    BroadcastNestedLoopJoin against the whole query batch is the
    union-×-Q regression."""
    import numpy as np

    from macrobase_spark.pipelines.similarity import _ivf_pairs, _lsh_pairs

    rng = np.random.default_rng(2)
    base = rng.standard_normal((60, 8)).astype("float32")
    vdf = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in base[3]]), (1, [float(x) for x in base[9]])],
        "q_id long, q_vec array<float>")

    lsh = _lsh_pairs(vdf, qdf, n_planes=4, dim=8, seed=3,
                     id_col="vec_id", vec_col="embedding",
                     q_id_col="q_id", q_vec_col="q_vec")
    p = _plan(lsh, mode="simple")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "BroadcastHashJoin [_bkt" in p or "_bkt#" in p

    ivf = _ivf_pairs(vdf, qdf, n_centroids=4, n_probe=2, sample_frac=1.0,
                     seed=11, id_col="vec_id", vec_col="embedding",
                     q_id_col="q_id", q_vec_col="q_vec")
    p2 = _plan(ivf, mode="simple")
    assert "CartesianProduct" not in p2 and "NestedLoop" not in p2


def test_bm25_doc_filter_pushes_down_and_semijoins(spark, tmp_path,
                                                   monkeypatch):
    """doc_filter='role = ...' runs as ONE Spark job per call: its docs
    parquet scan takes the predicate as a pushed filter and reads just
    doc_id and role; the passing ids restrict the match set on the driver
    BEFORE the top-k, so every hit passes the filter and the top-k equals
    the unfiltered ranking restricted to the passing docs."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_topk

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    DataFrame = type(df)
    out = str(tmp_path / "plan_idx_f")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    plans = []
    to_arrow = DataFrame.toArrow

    def spy(self):
        plans.append(_plan(self))
        return to_arrow(self)

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    got = bm25_topk(spark, out, "the call", k=5,
                    doc_filter="role = 'assistant'").collect()
    [p] = plans
    scans = [ln for ln in p.split("\n") if "PushedFilters:" in ln]
    assert scans and all("role" in ln for ln in scans), scans
    schemas = [ln.split("ReadSchema:")[1].strip() for ln in p.split("\n")
               if "ReadSchema:" in ln]
    assert schemas == ["struct<doc_id:bigint,role:string>"], schemas
    role = dict(df.select("doc_id", "role").collect())
    ranked = [r["doc_id"] for r in bm25_topk(spark, out, "the call",
                                             k=10 ** 6).collect()]
    assert [r["doc_id"] for r in got] == [
        d for d in ranked if role[d] == "assistant"][:5]


def test_bm25_prefix_expansion_scan_reads_term_only(spark, tmp_path,
                                                   monkeypatch):
    """Prefix expansion reads the term dictionary, whose one load is a
    driver-side pyarrow read of the version's part files, column-pruned to
    (term, df, max_impact): it runs no Spark job, and posting blobs are
    never read to expand a prefix."""
    import pyarrow.parquet as pq

    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import (build_index, read_index,
                                             open_version)

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_p")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    read_index(spark, out)
    columns = []
    read_table = pq.read_table

    def spy(source, *args, **kwargs):
        columns.append(kwargs.get("columns"))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    sc = spark.sparkContext
    sc.setJobGroup("prefix-dict-load", "dictionary load")
    try:
        td = open_version(spark, out).tdict
    finally:
        sc.setJobGroup("", "")
    assert any(t.startswith("tok00") for t in td.terms)
    assert list(sc.statusTracker().getJobIdsForGroup("prefix-dict-load")) == []
    assert columns and all(c == ["term", "df", "max_impact"] for c in columns)


def test_bm25_no_tombstone_join_when_none_pending(spark, tmp_path):
    """Pending deletes are dropped on the driver: no query plans an
    anti-join, an index without tombstones reads none, and a tombstoned
    doc vanishes from the next result."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import (build_index, delete_docs,
                                             deleted_ids)
    from macrobase_spark.index.bm25 import bm25_topk

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_t")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    res = bm25_topk(spark, out, "the call", k=5)
    assert "LeftAnti" not in _plan(res)
    assert len(deleted_ids(out)) == 0
    top = res.collect()[0]["doc_id"]
    delete_docs(spark, out, [top])
    res = bm25_topk(spark, out, "the call", k=5)
    assert "LeftAnti" not in _plan(res)
    assert top not in [r["doc_id"] for r in res.collect()]


def _driver_reads(monkeypatch):
    """Record every pyarrow ParquetFile read: (path, columns)."""
    import pyarrow.parquet as pq

    reads = []
    parquet_file = pq.ParquetFile

    class Spy(parquet_file):
        def read(self, columns=None, *args, **kwargs):
            reads.append((self.path, columns))
            return super().read(columns, *args, **kwargs)

        def read_row_groups(self, row_groups, columns=None, *args, **kwargs):
            reads.append((self.path, columns))
            return super().read_row_groups(row_groups, columns, *args,
                                           **kwargs)

    def opened(path, *args, **kwargs):
        f = Spy(path, *args, **kwargs)
        f.path = path
        return f

    monkeypatch.setattr(pq, "ParquetFile", opened)
    return reads


def _no_jobs(spark, name, fn):
    """fn()'s result, asserting it ran no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        res = fn()
        assert list(sc.statusTracker().getJobIdsForGroup(name)) == []
        return res
    finally:
        sc.setJobGroup("", "")


def test_bm25_facets_read_no_blobs_and_prune_docs_columns(spark, tmp_path,
                                                          monkeypatch):
    """Facets are an ids-only operation that runs no Spark job: the
    postings read takes term+blob of the QUERY terms' buckets only (never
    positions), and the docs read asks for just doc_id and the facet
    columns — never text-adjacent metadata like rep_ratio/anomaly."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_facets

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_fc")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9,
                positions=True)
    bm25_facets(spark, out, "the call", ["role", "tool"]).collect()
    reads = _driver_reads(monkeypatch)
    rows = _no_jobs(spark, "facets", lambda: bm25_facets(
        spark, out, "the call", ["role", "tool"]).collect())
    assert rows[0]["facet"] == "__total__" and rows[0]["doc_count"] > 0
    docs = [cols for f, cols in reads if "/docs.parquet/" in f]
    post = [cols for f, cols in reads if "/postings/" in f]
    assert docs and all(c == ["doc_id", "role", "tool"] for c in docs)
    assert post and all(c == ["term", "blob"] for c in post)
    assert len(docs) + len(post) == len(reads)  # no positions read


def test_bm25_sort_by_prunes_docs_to_sort_columns(spark, tmp_path,
                                                  monkeypatch):
    """sort_by reads only (doc_id, sort columns) from the docs part files,
    on the driver, and runs no Spark job."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_topk

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_s")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    bm25_topk(spark, out, "the call", k=5, sort_by="turn_idx desc").collect()
    reads = _driver_reads(monkeypatch)
    got = _no_jobs(spark, "sort_by", lambda: bm25_topk(
        spark, out, "the call", k=5, sort_by="turn_idx desc").collect())
    assert [r["turn_idx"] for r in got] == sorted(
        (r["turn_idx"] for r in got), reverse=True)
    docs = [cols for f, cols in reads if "/docs.parquet/" in f]
    assert docs and all(c == ["doc_id", "turn_idx"] for c in docs)


def test_bm25_search_after_keeps_single_term_no_shuffle_shape(spark, tmp_path,
                                                              monkeypatch):
    """after= only cuts the driver-side ranking: the single-term query
    runs no Spark job and reads no docs metadata."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_topk

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_a")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    full = bm25_topk(spark, out, "the", k=10).collect()
    reads = _driver_reads(monkeypatch)
    got = _no_jobs(spark, "after", lambda: bm25_topk(
        spark, out, "the", k=5, after=full[4]).collect())
    assert got == full[5:]
    assert reads and not any("/docs.parquet/" in f for f, _ in reads)


def test_suggest_and_spellcheck_read_the_dictionary_on_the_driver(
        spark, tmp_path, monkeypatch):
    """The suggestion surface answers from the term dictionary: on a new
    index version its one load is a pyarrow read of (term, df,
    max_impact) — posting blobs and block_max are never read, no
    candidate or docs file is opened — and neither call runs a Spark
    job, cold or warm."""
    import pyarrow.parquet as pq

    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import (build_index,
                                             invalidate_index_cache,
                                             read_index)
    from macrobase_spark.index.suggest import spellcheck, suggest_terms

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_sg")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9,
                positions=True)
    invalidate_index_cache(out)
    read_index(spark, out)  # the handles' one job (docs schema inference)
    columns = []
    read_table = pq.read_table

    def spy(source, *args, **kwargs):
        columns.append(kwargs.get("columns"))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", spy)
    reads = _driver_reads(monkeypatch)
    for name in ("cold", "warm"):
        got = _no_jobs(spark, f"suggest {name}", lambda: suggest_terms(
            spark, out, "tok", k=5).collect())
        assert len(got) == 5 and all(r["term"].startswith("tok")
                                     for r in got)
        got = _no_jobs(spark, f"spellcheck {name}", lambda: spellcheck(
            spark, out, "tok0001", max_edits=1, k=5).collect())
        assert got[0]["term"] == "tok0001" and got[0]["distance"] == 0
    assert columns and all(c == ["term", "df", "max_impact"]
                           for c in columns)
    assert reads == []


def test_match_ids_plans_no_scoring_aggregate(spark, tmp_path):
    """bm25_match_ids (disjunctive, no exclusions) is an ids-only decode:
    no per-doc sum aggregate over contributions, no window, no sort —
    just scan → decode → distinct."""
    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index.build import build_index
    from macrobase_spark.index.bm25 import bm25_match_ids

    df = with_doc_id(synth_transcripts(spark, n_convs=20, seed=42))
    out = str(tmp_path / "plan_idx_mi")
    build_index(df, out, num_buckets=4, hot_df_threshold=10 ** 9)
    p = _plan(bm25_match_ids(spark, out, "tok0001 tok0002"))
    assert "Window" not in p and "TakeOrdered" not in p
    assert "contrib" not in p  # the scoring kernel never runs


def test_deterministic_sample_filter_is_scan_level(spark):
    """deterministic_sample plans as a plain Filter over the scan — no
    shuffle, no join, and the md5 expression evaluates JVM-side (no
    Python workers in the plan)."""
    from macrobase_spark.pipelines.sample import deterministic_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(deterministic_sample(d, 0.25, seed=7))
    assert "Exchange" not in p and "Join" not in p
    assert "Python" not in p and "ArrowEval" not in p
    assert "md5" in p.lower()


def _sql_plans(spark, after: int = -1) -> dict[int, str]:
    """Physical plan of every retained SQL execution with id > after."""
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = (seq.apply(i) for i in range(seq.size()))
    return {e.executionId(): e.physicalPlanDescription() for e in execs
            if e.executionId() > after}


def test_compaction_runs_the_build_encode_plan(spark, tmp_path):
    """A purge compaction of a positional index runs each layer through
    the build's encode plan: either layer's write plan holds exactly two
    Arrow kernels (the segment decode and the encode) and no grouped-
    pandas operator, and a warm compaction runs at most 16 Spark jobs (the
    measured count; the grouped-pandas merge it replaced ran 20). No
    applyInPandas is left in the index package."""
    import pathlib
    import re
    import shutil

    from macrobase_spark.fixtures.transcripts import synth_transcripts, with_doc_id
    from macrobase_spark.index import build
    from macrobase_spark.index.build import (build_index, compact_index,
                                             delete_docs, update_index)

    df = with_doc_id(synth_transcripts(spark, n_convs=30, seed=42)).cache()
    new = F.col("conv_id") >= "conv00000020"
    base = str(tmp_path / "base")
    build_index(df.filter(~new), base, num_buckets=4, positions=True)
    update_index(df.filter(new), base)
    ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
    delete_docs(spark, base, ids[::7])
    for name in ("warm", "idx"):
        shutil.copytree(base, str(tmp_path / name))
    compact_index(spark, str(tmp_path / "warm"))
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    last = max(_sql_plans(spark), default=-1)
    out = str(tmp_path / "idx")
    sc.setJobGroup("compact", "compact")
    try:
        compact_index(spark, out)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("compact"))
    assert n_jobs <= 16, n_jobs
    plans = _sql_plans(spark, last).values()
    for layer in ("postings", "positions"):
        [write] = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p
                   and f"{out}/{layer}" in p]
        final = write.split("== Initial Plan ==")[0]
        assert len(re.findall(r"MapInArrow \(\d+\)", final)) == 2, (
            layer, final)
        assert "FlatMapGroupsInPandas" not in write, layer
    index_src = pathlib.Path(build.__file__).parent
    assert [f.name for f in index_src.glob("*.py")
            if "applyInPandas" in f.read_text()] == []
