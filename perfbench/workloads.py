"""The four workloads: build, serve, update, explain.

Each workload generates its inputs from the seed during set-up, then
offers a fixed cycle of ops. `run` executes one op through the public API
of `macrobase_spark` and returns what `check` needs; `check` runs outside
the timed interval and returns an error message or None. Calls into the
program sit inside `tr.span(...)` so the traced run can attribute time
and Spark work to each layer.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import statistics
import time

import numpy as np

MAX_TURNS = 4096          # doc_id = conv_serial * MAX_TURNS + turn_idx
HOT_DF_THRESHOLD = 1000   # far below the ~22% document frequency of the hot terms
HOT_SAMPLE_FRAC = 0.05
DELTA_CONVS = 50


def _span_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def _median(xs):
    return statistics.median(xs) if xs else None


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _postings_table(index_dir: str):
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                      partitioning="hive").to_table(columns=["term", "blob"])


def _postings_digest(index_dir: str) -> str:
    """sha256 over the (term, blob) rows in term order."""
    tbl = _postings_table(index_dir).sort_by("term")
    h = hashlib.sha256()
    for term, blob in zip(tbl.column("term").to_pylist(),
                          tbl.column("blob").to_pylist()):
        h.update(term.encode())
        h.update(len(blob).to_bytes(8, "little"))
        h.update(blob)
    return h.hexdigest()


_RARE = re.compile(r"\brare(\d+)\b")


def _surviving_rare(texts) -> list[int]:
    """Serials whose planted rare term is in the corpus (a planted anomaly
    turn can replace the turn that would carry it)."""
    return sorted({int(m) for t in texts for m in _RARE.findall(t)})


class Workload:
    """Set-up state and the op cycle of one workload."""

    name = ""
    warmup = 1            # untimed ops at full size before timing
    n_convs = 0

    def __init__(self, bench, n_convs: int | None = None):
        self.b = bench
        self.spark = bench.spark
        self.n_convs = n_convs or self.n_convs
        self.layers: dict[str, float] = {}

    def corpus(self, n_convs: int, path: str):
        from macrobase_spark.fixtures.transcripts import (synth_transcripts,
                                                          with_doc_id)

        df = with_doc_id(synth_transcripts(self.spark, n_convs=n_convs,
                                           seed=self.b.seed,
                                           partitions=self.b.slots),
                         max_turns=MAX_TURNS)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def build(self, df, out_dir: str) -> dict:
        from macrobase_spark.index import build_index

        return build_index(df, out_dir, num_buckets=self.b.slots,
                           hot_df_threshold=HOT_DF_THRESHOLD,
                           hot_sample_frac=HOT_SAMPLE_FRAC, resume=False)

    # -- interface
    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list[str]:
        """Op classes of one cycle; timing always runs whole cycles."""
        return [self.name]

    def run(self, cls: str, i: int, tr):
        raise NotImplementedError

    def check(self, cls: str, i: int, out) -> str | None:
        return None

    def items(self, cls: str, out) -> int:
        return 1

    def final_check(self, ops: list[dict]) -> None:
        """Once-per-run checks after timing; marks failing ops."""

    def capacity(self) -> int | None:
        """Most ops the set-up inputs allow, or None for no limit."""
        return None

    def index_bytes_per_input_byte(self, ops: list[dict]) -> float | None:
        """Bytes of the index directory over bytes of the indexed `text`
        column, after the timed ops; None for a workload without an index."""
        return None

    def layer_probes(self, tr, ops: list[dict]) -> None:
        """Traced run only: per-layer measurements after the timed ops."""


class Build(Workload):
    """One op is a full build_index(resume=False) of the seeded corpus."""

    name = "build"
    warmup = 2
    n_convs = 1000

    def setup(self):
        self.df = self.corpus(self.n_convs, self.b.path("corpus"))
        self.n_docs: set[int] = set()
        self.digests: dict[int, str] = {}

    def out_dir(self, i: int) -> str:
        return self.b.path(f"idx{i}")

    def run(self, cls, i, tr):
        shutil.rmtree(self.out_dir(i - 1), ignore_errors=True)
        with tr.span("index.build.build_index"):
            return self.build(self.df, self.out_dir(i))

    def check(self, cls, i, rep):
        self.n_docs.add(rep["n_docs"])
        self.digests[i] = _postings_digest(self.out_dir(i))
        return None

    def items(self, cls, rep):
        return rep["n_docs"]

    def index_bytes_per_input_byte(self, ops):
        text_bytes = self.df.selectExpr("sum(octet_length(text))").first()[0]
        return _dir_bytes(self.out_dir(ops[-1]["i"])) / text_bytes

    def final_check(self, ops):
        """n_docs and the postings digest are equal across all builds of
        the run, warm-up builds included."""
        first = self.digests[min(self.digests)]
        for op in ops:
            if len(self.n_docs) != 1:
                op["error"] = f"n_docs differs across builds: {self.n_docs}"
            elif self.digests.get(op["i"]) not in (None, first):
                op["error"] = "postings digest differs from the first build"

    def layer_probes(self, tr, ops):
        from macrobase_spark.index.build import detect_hot_terms
        from macrobase_spark.index.codec import (delta_varint_decode,
                                                 delta_varint_encode)
        from macrobase_spark.index.tokenize import (partial_postings,
                                                    turn_features)

        reps = [op["out"] for op in ops if op.get("traced")]
        L = self.layers
        L["index.build.build_index_ms"] = _median(
            [r["elapsed_sec"] * 1000 for r in reps])
        for phase in sorted({p for r in reps for p in r["phases"]}):
            L[f"index.build.phase.{phase}_ms"] = _median(
                [r["phases"].get(phase, 0.0) * 1000 for r in reps])
        L["index.build.hot_terms"] = len(reps[-1]["hot_terms"])
        with tr.span("probe") as p:
            with tr.span("index.build.detect_hot_terms") as s:
                detect_hot_terms(self.df, HOT_SAMPLE_FRAC, HOT_DF_THRESHOLD)
            L["index.build.detect_hot_terms_ms"] = _span_ms(s)
            with tr.span("index.tokenize.turn_features") as s:
                turn_features(self.df).write.format("noop").mode(
                    "overwrite").save()
            L["index.tokenize.turn_features_ms"] = _span_ms(s)
            pp = partial_postings(self.df, hot_terms=set(reps[-1]["hot_terms"]))
            with tr.span("index.tokenize.partial_postings") as s:
                pp.write.format("noop").mode("overwrite").save()
            L["index.tokenize.partial_postings_ms"] = _span_ms(s)
        tr.account(p)
        L["index.tokenize.partial_postings_rows"] = pp.count()
        blobs = _postings_table(self.out_dir(ops[-1]["i"])).column(
            "blob").to_pylist()
        total = sum(len(b) for b in blobs)
        t0 = time.perf_counter()
        decoded = [delta_varint_decode(b) for b in blobs]
        dec_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for ids, tfs in decoded:
            delta_varint_encode(ids, tfs)
        enc_s = time.perf_counter() - t0
        L["index.codec.decode_mb_per_s"] = total / 2**20 / dec_s
        L["index.codec.encode_mb_per_s"] = total / 2**20 / enc_s
        L["index.codec.index_bytes"] = _dir_bytes(self.out_dir(ops[-1]["i"]))
        L["index.codec.index_bytes_per_input_byte"] = (
            self.index_bytes_per_input_byte(ops))
        # the classify -> DIFF pipeline over the same corpus, so its layers
        # are measured in a gated workload too
        explain_probe(tr, self.spark, explain_features(self, self.df), L)


SERVE_CYCLE = [
    # (class, op name, query, kwargs) — nine ops, an odd count, so the
    # median of whole cycles falls inside one class
    ("single", "hot", "the", {}),
    ("single", "rare", None, {}),
    ("multi", "or2_hot", "call tool", {}),
    ("multi", "or2", "tok0005 tok0100", {}),
    ("multi", "or3", "tok0003 tok0042 tok0777", {}),
    ("msm", "msm", "tok0003 tok0042 tok0777", {"min_should_match": 2}),
    ("prefix", "prefix", "tok05*", {}),
    ("exclude", "exclude", "tok0007 -the", {}),
    ("filter", "filter", "tok0011 tok0200",
     {"doc_filter": "role = 'assistant'"}),
]
_SERVE = {name: (klass, q, kw) for klass, name, q, kw in SERVE_CYCLE}


class Serve(Workload):
    """One op is one bm25_topk(k=10) from a fixed cycle of query classes
    over an index that set-up built."""

    name = "serve"
    warmup = len(SERVE_CYCLE)
    n_convs = 1000

    def setup(self):
        self.df = self.corpus(self.n_convs, self.b.path("corpus"))
        self.idx = self.b.path("idx")
        self.build(self.df, self.idx)
        self.docs = self.df.select("doc_id", "text", "role").collect()
        self.rare = _surviving_rare(r[1] for r in self.docs)
        rng = np.random.default_rng(self.b.seed)
        rng.shuffle(self.rare)

    def cycle(self):
        return [name for _, name, _, _ in SERVE_CYCLE]

    def query(self, cls, i):
        klass, q, kw = _SERVE[cls]
        if q is None:
            q = f"rare{self.rare[(i // len(SERVE_CYCLE)) % len(self.rare)]}"
        return q, kw

    def run(self, cls, i, tr):
        from macrobase_spark.index import bm25_topk

        q, kw = self.query(cls, i)
        with tr.span("index.bm25.bm25_topk", cls=_SERVE[cls][0]):
            return [(r["doc_id"], r["score"]) for r in
                    bm25_topk(self.spark, self.idx, q, k=10, **kw).collect()]

    def check(self, cls, i, rows):
        q, _ = self.query(cls, i)
        if cls == "rare":
            serial = int(q[4:])
            if not rows or rows[0][0] // MAX_TURNS != serial:
                return f"{q}: rank 1 is not conv {serial}"
        elif len(rows) != 10:
            return f"{q}: {len(rows)} hits, expected 10"
        return None

    def index_bytes_per_input_byte(self, ops):
        return _dir_bytes(self.idx) / sum(len(r[1].encode())
                                          for r in self.docs)

    def final_check(self, ops):
        """The first timed op of each query class against bm25_oracle: doc
        ids and float scores must be identical. (Each oracle call scans the
        whole corpus in Python; later rare-term queries are checked by
        rank only.)"""
        from macrobase_spark.index import bm25_oracle

        docs = [(r[0], r[1]) for r in self.docs]
        assistant = {r[0] for r in self.docs if r[2] == "assistant"}
        seen = set()
        for op in ops:
            if op["error"] or op["cls"] in seen:
                continue
            seen.add(op["cls"])
            q, kw = self.query(op["cls"], op["i"])
            kw = dict(kw)
            keep = assistant if kw.pop("doc_filter", None) else None
            if op["out"] != bm25_oracle(docs, q, k=10, keep_ids=keep, **kw):
                op["error"] = f"{q}: differs from bm25_oracle"

    def layer_probes(self, tr, ops):
        from macrobase_spark.index import bm25_match_ids
        from macrobase_spark.index.bm25 import bm25_topk_batch
        from macrobase_spark.index.build import (invalidate_index_cache,
                                                 read_index)

        L = self.layers
        traced = [op for op in ops if op.get("traced")]
        for klass in sorted({k for k, _, _, _ in SERVE_CYCLE}):
            mine = [op for op in traced if _SERVE[op["cls"]][0] == klass]
            L[f"index.bm25.topk_ms.{klass}"] = _median(
                [op["wall_ms"] for op in mine])
            L[f"index.bm25.jobs.{klass}"] = _median(
                [op["spark"]["jobs"] for op in mine])
        with tr.span("probe") as p:
            invalidate_index_cache(self.idx)
            with tr.span("index.bm25.read_index") as s:
                read_index(self.spark, self.idx)
            L["index.bm25.read_index_ms"] = _span_ms(s)
            match_ms = []
            for j, cls in enumerate(self.cycle()):
                q, kw = self.query(cls, j)
                with tr.span("index.bm25.bm25_match_ids") as s:
                    bm25_match_ids(self.spark, self.idx, q, **kw).count()
                match_ms.append(_span_ms(s))
            L["index.bm25.match_ids_ms"] = _median(match_ms)
            # batch takes one set of options for all queries: the plain ones
            plain = [self.query(c, 0)[0] for c in self.cycle()
                     if not _SERVE[c][2]]
            with tr.span("index.bm25.bm25_topk_batch") as s:
                bm25_topk_batch(self.spark, self.idx, plain, k=10).collect()
            L["index.bm25.batch_ms_per_query"] = _span_ms(s) / len(plain)
        tr.account(p)


class Update(Workload):
    """One op: update_index of the next 50-conv delta, one bm25_topk for a
    rare term planted in that delta, delete_docs of one doc."""

    name = "update"
    warmup = 3
    n_convs = 1500
    max_deltas = 24

    def setup(self):
        from pyspark.sql import functions as F

        n = self.n_convs + DELTA_CONVS * self.max_deltas
        path = self.b.path("corpus")
        all_df = self.corpus(n, path + "_all")
        serial = (F.col("doc_id") / MAX_TURNS).cast("long")
        delta = F.when(serial < self.n_convs, -1).otherwise(
            ((serial - self.n_convs) / DELTA_CONVS).cast("int"))
        all_df.withColumn("delta", delta).write.partitionBy("delta").parquet(
            path)
        base = self.spark.read.parquet(f"{path}/delta=-1")
        self.idx = self.b.path("idx")
        self.build(base, self.idx)
        rows = (self.spark.read.parquet(path).where("delta >= 0")
                .select("delta", "doc_id", "text").collect())
        self.deltas: dict[int, dict] = {}
        for d, doc_id, text in rows:
            rec = self.deltas.setdefault(d, {"texts": [], "ids": []})
            rec["texts"].append(text)
            rec["ids"].append(doc_id)
        self.path = path

    def capacity(self):
        return self.max_deltas

    def plan(self, i):
        """(delta parquet, rare serial to query, doc id to delete)."""
        rec = self.deltas[i]
        serial = _surviving_rare(rec["texts"])[0]
        victim = next(d for d in sorted(rec["ids"])
                      if d // MAX_TURNS != serial)
        return f"{self.path}/delta={i}", serial, victim

    def run(self, cls, i, tr):
        from macrobase_spark.index import bm25_topk, delete_docs
        from macrobase_spark.index.build import update_index

        path, serial, victim = self.plan(i)
        with tr.span("index.build.update_index"):
            rep = update_index(self.spark.read.parquet(path), self.idx)
        with tr.span("index.bm25.bm25_topk"):
            rows = bm25_topk(self.spark, self.idx, f"rare{serial}",
                             k=10).collect()
        with tr.span("index.build.delete_docs"):
            dele = delete_docs(self.spark, self.idx, [victim])
        return {"update": rep, "top": [r["doc_id"] for r in rows],
                "deleted": dele, "turns": len(self.deltas[i]["ids"])}

    def check(self, cls, i, out):
        _, serial, _ = self.plan(i)
        if not out["top"] or out["top"][0] // MAX_TURNS != serial:
            return f"rare{serial}: rank 1 is not conv {serial}"
        if out["deleted"].get("tombstoned") != 1:
            return f"delete_docs returned {out['deleted']}"
        return None

    def items(self, cls, out):
        return out["turns"]

    def index_bytes_per_input_byte(self, ops):
        """Before any compaction, so segment overhead shows."""
        text_bytes = self.spark.read.parquet(self.path).where(
            f"delta <= {ops[-1]['i']}").selectExpr(
            "sum(octet_length(text))").first()[0]
        return _dir_bytes(self.idx) / text_bytes

    def layer_probes(self, tr, ops):
        from macrobase_spark.index.build import compact_index

        L = self.layers
        traced = [op for op in ops if op.get("traced")]

        def children(name):
            return [s for op in traced for s in tr.spans
                    if s["op"] == op["span"] and s["name"] == name]

        def ms(name):
            return _median([_span_ms(s)
                            for s in children(name)])

        L["index.build.update_index_ms"] = ms("index.build.update_index")
        L["index.build.delete_docs_ms"] = ms("index.build.delete_docs")
        L["index.bm25.segmented_topk_ms"] = ms("index.bm25.bm25_topk")
        L["index.build.update_shuffle_write_bytes"] = _median(
            [s["shuffle_write_bytes"]
             for s in children("index.build.update_index")])
        L["index.codec.index_bytes"] = _dir_bytes(self.idx)
        L["index.codec.index_bytes_per_input_byte"] = (
            self.index_bytes_per_input_byte(ops))
        with tr.span("probe") as p:
            with tr.span("index.build.compact_index") as s:
                compact_index(self.spark, self.idx)
        tr.account(p)
        L["index.build.compact_index_ms"] = _span_ms(s)


EXPLAIN_LOW = ["role", "tool"]
EXPLAIN_HIGH = ["role", "tool", "turn_idx", "hour", "conv_bucket"]
OUTLIER_PERCENTILE = 2.0
MIN_SUPPORT = 0.05
MIN_RATIO = 1.5
EXPLAIN_SQL = ("SELECT * FROM DIFF (SPLIT turn_features WHERE rep_ratio > 0.9) "
               f"ON role, tool WITH MIN SUPPORT {MIN_SUPPORT} "
               f"MIN RATIO {MIN_RATIO} MAX COMBO 2")


def explain_features(workload, df):
    """Per-turn rep_ratio from index.tokenize.turn_features plus the
    explanation attributes, written once and registered as the
    `turn_features` view the MacroBase SQL statement reads."""
    from macrobase_spark.index.tokenize import turn_features

    path = workload.b.path("features")
    turn_features(df).selectExpr(
        "role", "tool", "turn_idx", "hour(ts) AS hour",
        f"cast(doc_id div {MAX_TURNS} % 50 AS int) AS conv_bucket",
        "rep_ratio").write.mode("overwrite").parquet(path)
    feats = workload.spark.read.parquet(path)
    feats.createOrReplaceTempView("turn_features")
    return feats


def explain_op(spark, feats, cls: str, tr):
    """classify_percentile → diff over one lattice, or the SQL DIFF."""
    from macrobase_spark.operators import classify_percentile, diff
    from macrobase_spark.sql import MacroBaseSQL

    if cls == "sql":
        with tr.span("sql.interface.execute"):
            res = MacroBaseSQL(spark).execute(EXPLAIN_SQL)
        with tr.span("sql.interface.collect"):
            return res.collect()
    with tr.span("operators.classify.classify_percentile"):
        labelled = classify_percentile(feats, "rep_ratio",
                                       percentile=OUTLIER_PERCENTILE,
                                       include_low=False)
    with tr.span("operators.diff.diff", cls=cls):
        return diff(labelled, EXPLAIN_LOW if cls == "low" else EXPLAIN_HIGH,
                    min_support=MIN_SUPPORT, min_ratio=MIN_RATIO,
                    max_order=2 if cls == "low" else 3).collect()


def check_explanation(cls: str, rows) -> str | None:
    if not rows:
        return f"{cls}: no explanation"
    # the generator plants anomalies on tool='browser' turns of both the
    # 'tool' and the 'assistant' role, so (tool=browser) and
    # (role=tool, tool=browser) have the same expected ratio and either
    # may rank first
    top = rows[0].asDict()
    others = [a for a in EXPLAIN_HIGH
              if a not in ("role", "tool") and top.get(a) is not None]
    if (top["tool"] != "browser" or others
            or top["role"] not in (None, "tool", "assistant")):
        return f"{cls}: top explanation is {top}"
    if top["global_ratio"] < MIN_RATIO:
        return f"{cls}: top ratio {top['global_ratio']} < {MIN_RATIO}"
    return None


def explain_probe(tr, spark, feats, L: dict) -> None:
    """Once each: a classify_percentile with an action forced, both DIFF
    lattices and the SQL DIFF; fills the operators.* and sql.* layers."""
    from macrobase_spark.operators import classify_percentile

    with tr.span("probe") as p:
        with tr.span("operators.classify.classify_percentile") as c:
            classify_percentile(feats, "rep_ratio",
                                percentile=OUTLIER_PERCENTILE,
                                include_low=False).where(
                "_OUTLIER > 0").count()
        for cls in ("low", "high", "sql"):
            explain_op(spark, feats, cls, tr)
    tr.account(p)
    kids = {(s["name"], s.get("cls")): s for s in tr.spans
            if s["op"] == p["id"] and s is not c}
    L["operators.classify.classify_percentile_ms"] = _span_ms(c)
    diffs = [kids[("operators.diff.diff", cls)] for cls in ("low", "high")]
    for d in diffs:
        L[f"operators.diff.diff_ms.{d['cls']}"] = _span_ms(d)
    L["operators.diff.jobs_per_op"] = _median([d["jobs"] for d in diffs])
    L["operators.diff.shuffle_write_bytes"] = _median(
        [d["shuffle_write_bytes"] for d in diffs])
    for step in ("execute", "collect"):
        L[f"sql.interface.{step}_ms"] = _span_ms(
            kids[(f"sql.interface.{step}", None)])


class Explain(Workload):
    """One op is classify_percentile on per-turn rep_ratio followed by
    diff, alternating a low- and a high-cardinality lattice; every fifth op
    is a MacroBase SQL DIFF statement over the same table."""

    name = "explain"
    warmup = 5
    n_convs = 2500

    def setup(self):
        self.feats = explain_features(
            self, self.corpus(self.n_convs, self.b.path("corpus")))
        self.n_rows = self.feats.count()

    def cycle(self):
        return ["low", "high", "low", "high", "sql"]

    def run(self, cls, i, tr):
        return explain_op(self.spark, self.feats, cls, tr)

    def check(self, cls, i, rows):
        return check_explanation(cls, rows)

    def items(self, cls, rows):
        return self.n_rows

    def layer_probes(self, tr, ops):
        explain_probe(tr, self.spark, self.feats, self.layers)


WORKLOADS = {w.name: w for w in (Build, Serve, Update, Explain)}
