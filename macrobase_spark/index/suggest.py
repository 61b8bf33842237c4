"""Query-suggestion surface over the index's term dictionary: prefix
autocomplete and did-you-mean spelling correction.

Both answer from the term dictionary `build.open_version` memoizes per
index version — the sorted vocabulary and each term's df summed over its
posting rows, read with pyarrow from the (term, df, max_impact) columns of
the version's part files, so the posting blobs are never read — on the
driver, with no Spark job: the prefix match is a bisect range over the
sorted terms, and the edit distance is one vectorized levenshtein DP over
the length band (`bm25._near`, the fuzzy-query expansion's matcher; equal
to Spark's `levenshtein`, pytest-pinned).

Reference capability context: the reference's SQL shell exposes the data
through exact relational operators only; the suggestion surface is part
of the Lucene-class query engine this graft adds on top (Lucene
`PrefixQuery`-backed suggesters and `DirectSpellChecker`'s
dictionary-intersection rewrite).

Both accept a LIST of index dirs too (time-partitioned shards): each
shard's dictionary is matched on its own and the matched terms' dfs sum
across shards before ranking (and before min_df), so the suggestion
ranking over shards equals the merged monolith's (pytest-pinned).

Semantics notes shared by both functions:
- A segmented index (post-update, pre-compaction) may carry one row per
  (term, segment); df is summed across segments before ranking.
- Tombstoned documents still count toward df until `compact_index`
  purges them (Lucene docFreq-includes-deleted semantics, same policy as
  scoring).
- Index-time stoplisted terms have no postings rows, so they are never
  suggested — the analyzer and the suggester cannot diverge.
"""

from __future__ import annotations

import heapq
from bisect import bisect_left
from collections import Counter
from itertools import takewhile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from macrobase_spark.index.bm25 import _frame, _near
from macrobase_spark.index.build import TermDict, open_version


def _dictionaries(spark: SparkSession,
                  index_dir: str | list[str]) -> list[TermDict]:
    """The term dictionaries of a single index OR of a list of physical
    shards, which must share one stoplist (shards built with different
    analyzers have incompatible dictionaries — merging their counts would
    silently break the sharded-equals-monolith guarantee)."""
    dirs = [index_dir] if isinstance(index_dir, str) else list(index_dir)
    if not dirs:
        raise ValueError("suggest: empty shard list")
    versions = [open_version(spark, d) for d in dirs]
    stops = {tuple(v.handles[2].get("stopwords", [])) for v in versions}
    if len(stops) > 1:
        raise ValueError(
            "suggest: shards were built with DIFFERENT stoplists "
            f"{sorted(stops)!r} — rebuild with one list")
    return [v.tdict for v in versions]


def suggest_terms(
    spark: SparkSession,
    index_dir: str | list[str],
    prefix: str,
    k: int = 10,
) -> DataFrame:
    """Prefix autocomplete: the k most frequent indexed terms starting
    with `prefix`, as (term, df) ordered by (df desc, term asc) — the
    completion ranking a search-as-you-type box wants (popularity first,
    deterministic tiebreak). Empty prefix suggests the corpus's top
    terms; an unindexable prefix (no token characters) returns empty."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    prefix = prefix.strip().lower()
    df: Counter[str] = Counter()
    for td in _dictionaries(spark, index_dir):
        for t in takewhile(lambda t: t.startswith(prefix),
                           td.terms[bisect_left(td.terms, prefix):]):
            df[t] += td.stats[t].df
    top = heapq.nsmallest(k, df.items(), key=lambda x: (-x[1], x[0]))
    return _frame(spark, "term string, df long",
                  term=pa.array([t for t, _ in top], pa.string()),
                  df=pa.array([n for _, n in top], pa.int64()))


def spellcheck(
    spark: SparkSession,
    index_dir: str | list[str],
    token: str,
    max_edits: int = 2,
    k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Did-you-mean: the k dictionary terms within `max_edits` edits of
    `token`, as (term, df, distance) ordered by (distance asc, df desc,
    term asc) — closer corrections beat popular ones, popularity breaks
    distance ties (Lucene DirectSpellChecker's comparator shape). An
    exact dictionary hit ranks first at distance 0, which callers use as
    the "no correction needed" signal. min_df drops hapax-noise
    corrections (a misspelling suggesting OTHER one-off misspellings).

    Only the length band (|len(term) − len(token)| ≤ max_edits) is
    compared, the same pre-filter the fuzzy-query expansion uses."""
    if max_edits not in (1, 2):
        raise ValueError(
            f"max_edits must be 1 or 2 (Lucene fuzzy bound), got {max_edits!r}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df!r}")
    token = token.strip().lower()
    if not token:
        raise ValueError("spellcheck token must be non-empty")
    df: Counter[str] = Counter()
    dist: dict[str, int] = {}
    for td in _dictionaries(spark, index_dir):
        for t, d in _near(token, td.terms, max_edits).items():
            df[t] += td.stats[t].df
            dist[t] = d
    top = heapq.nsmallest(k, ((t, n, dist[t]) for t, n in df.items()
                              if n >= min_df),
                          key=lambda x: (x[2], -x[1], x[0]))
    return _frame(spark, "term string, df long, distance int",
                  term=pa.array([t for t, _, _ in top], pa.string()),
                  df=pa.array([n for _, n, _ in top], pa.int64()),
                  distance=pa.array([d for _, _, d in top], pa.int32()))
