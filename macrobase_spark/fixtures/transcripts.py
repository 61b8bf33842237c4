"""Deterministic synthetic conversation-transcript generator (north-rule
input table, shape from BASELINE.json input_hint):

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Generation is *distributed and partition-independent*: each conversation is
seeded by its serial number, so the table content is identical regardless of
parallelism / partitioning — this is what makes the per-turn text-equality
invariant and rank-identical BM25 checks meaningful across local[8] vs
local[32] runs (and N vs 4N executors on a real cluster).

Planted structure (mirrors the reference's seeded-anomaly test style,
/root/reference/lib/src/test/java/.../StreamingSummarizationTest.java:16-90):
- Zipfian token vocabulary (``tok0000``..) → realistic term-frequency skew.
- Hot stopword-like terms ("the", "call", "tool", "run") in nearly every
  turn → near-corpus-length posting lists (the build's skew case).
- One rare discriminative term per conversation (``rare<serial>``) → exact
  top-k targets for BM25 rank-identity tests.
- Degenerate turns (single token repeated many times) planted with
  probability ``p_anomaly``, biased toward role='tool' & tool='browser' →
  targets for the per-turn anomaly score + DIFF explanation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

VOCAB_SIZE = 2000
HOT_TERMS = ["the", "call", "tool", "run"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "browser", "python", "sql"]
BASE_TS = np.datetime64("2025-01-01T00:00:00")


def _gen_conversations(serials: np.ndarray, seed: int, p_anomaly: float) -> pd.DataFrame:
    """Generate all turns for the given conversation serials. Pure function of
    (serial, seed) — identical output for any partitioning of serials."""
    out: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    zipf_ranks = np.arange(1, VOCAB_SIZE + 1)
    zipf_p = 1.0 / zipf_ranks
    zipf_p /= zipf_p.sum()
    for serial in serials:
        rng = np.random.default_rng(seed * 1_000_003 + int(serial))
        n_turns = int(rng.integers(2, 16))
        conv_id = f"conv{int(serial):08d}"
        rare_term = f"rare{int(serial)}"
        for t in range(n_turns):
            role = ROLES[int(rng.integers(0, 4))] if t > 0 else "user"
            tool = TOOLS[int(rng.integers(0, 4))] if role in ("tool", "assistant") and rng.random() < 0.5 else None
            is_anom = rng.random() < p_anomaly * (3.0 if tool == "browser" else 1.0)
            if is_anom:
                tok = f"tok{int(rng.choice(VOCAB_SIZE, p=zipf_p)):04d}"
                words = [tok] * int(rng.integers(60, 200))
            else:
                n_words = int(rng.integers(5, 40))
                idx = rng.choice(VOCAB_SIZE, size=n_words, p=zipf_p)
                words = [f"tok{i:04d}" for i in idx]
                # hot stopword-like tokens in ~90% of normal turns
                if rng.random() < 0.9:
                    words.insert(0, HOT_TERMS[int(rng.integers(0, len(HOT_TERMS)))])
                # rare discriminative term appears in exactly one turn (~turn 1)
                if t == min(1, n_turns - 1):
                    words.append(rare_term)
            out["conv_id"].append(conv_id)
            out["turn_idx"].append(t)
            out["role"].append(role)
            out["text"].append(" ".join(words))
            out["tool"].append(tool)
            out["ts"].append(BASE_TS + np.timedelta64(int(serial) * 3600 + t * 30, "s"))
    pdf = pd.DataFrame(out)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def synth_transcripts(
    spark: SparkSession,
    n_convs: int = 200,
    seed: int = 42,
    p_anomaly: float = 0.03,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation: spark.range over conversation
    serials → mapInPandas (Arrow-batched; no per-row Python)."""
    parts = partitions or max(2, min(64, n_convs // 64 or 2))

    def gen(batches):
        for pdf in batches:
            yield _gen_conversations(pdf["id"].to_numpy(), seed, p_anomaly)

    return (
        spark.range(0, n_convs, numPartitions=parts)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )


def with_doc_id(df: DataFrame, max_turns: int = 4096) -> DataFrame:
    """Stable global docID = conv_serial * max_turns + turn_idx.

    Deterministic and partition-independent (unlike zipWithIndex /
    monotonically_increasing_id). For non-synthetic conv_ids use
    ``xxhash64(conv_id) * max_turns + turn_idx`` instead.
    """
    serial = F.regexp_replace("conv_id", "^conv", "").cast("long")
    return df.withColumn("doc_id", serial * F.lit(max_turns) + F.col("turn_idx").cast("long"))
