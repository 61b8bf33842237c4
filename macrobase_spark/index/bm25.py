"""BM25 query family over the inverted index (top-k, batch, sharded, count,
match ids, facets, explain, phrase), plus exact pure-Python oracles for
rank-identity testing.

Scoring (Robertson/Lucene BM25, k1=1.2, b=0.75):
    idf(t)      = ln(1 + (N − df + 0.5)/(df + 0.5))
    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

Every term-query entry point runs the same three stages:

  1. resolve (`_resolve`, driver-side): parse the micro-syntax, drop
     stoplisted tokens, add synonym alternates, expand prefix / fuzzy /
     regexp tokens against the term dictionary (`_TermDict` over the
     `build.open_version` TermDict: term → (df, max_impact, rows), memoized
     with the index handles of the same version), apply boost precedence,
     and refuse the option combinations no surface supports. The result is
     one `_Clauses(terms, nterms, boosts)` per query. Every df — hence
     every idf, WAND upper bound and phrase rarest-term choice — is a
     driver literal from the same dictionary, which no Spark job loads:
     it is one column-pruned pyarrow read of the version's part files on
     the first query after the index version changes (a build,
     compaction, merge or another process's update; an in-process
     update_index folds its delta into the served dictionary instead).
  2. score, in-process on the driver, once per index: `_candidates` reads
     the posting rows of every scored AND excluded term with pyarrow from
     the version's part files (term → bucket is computed driver-side, and
     row groups whose term statistics hold no wanted term are skipped);
     `_score_kernel` then decodes each row once, computes each (term, doc)
     contribution (with per-term block-max / WAND pruning where it stays
     exact), drops docs holding an excluded term, sums per doc in
     ascending-term order, applies the mode='and' / min_should_match count
     and returns each query's (doc ids, scores) — one query is a batch of
     one. Membership surfaces (count, match ids, facets) run the same
     kernel unpruned and keep the doc ids (`_match_set`). A query with a
     few candidate rows costs less to score here than one Spark job costs
     to plan and schedule, so the scoring surfaces run no Spark job.
  3. restrict and rank, on the driver: pending tombstones drop (`_live`,
     from a pyarrow read of the pending ids), and so do docs outside a
     doc_filter (`_allowed`: the filter's doc ids, one Spark job per call
     with the predicate pushed down to the docs scan). The docs-metadata
     modifiers (anomaly, recency, sort_by, collapse, `after`) and the facet
     counts read only the docs columns they need with pyarrow from the
     version's docs part files (`_docs`) and finish in numpy in ranking
     order (score desc, doc_id asc); the result is a local DataFrame.

A sharded call is the same pipeline over several index handles, one
kernel run per shard. The phrase paths share stages 2 and 3: `_candidates`
reads the phrase terms' rows from the version's positional part files,
and `_phrase_hits` decodes them, cuts the candidates to the docs that hold
every phrase term, scores each term with `_row_contrib` and verifies the
ordered match on the driver.

Determinism/rank-identity: postings are scored with float64 throughout;
ties broken by ascending doc_id. Scores are identical bits to the oracle
because each (term, doc) contribution is computed independently, the boost
is one c·b multiplication, and the per-doc sum starts at 0.0 and adds one
term at a time in ascending-term order both here and in the oracle.
"""

from __future__ import annotations

import math
import re as _re
from bisect import bisect_left
from collections import Counter
from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (DateType, NumericType, StringType, StructType,
                               TimestampNTZType, TimestampType)

from macrobase_spark.index.build import (open_version, has_tombstones,
                                         deleted_ids, TermDict, K1, B,
                                         BLOCK_SIZE)
from macrobase_spark.index.tokenize import TOKEN_PATTERN

# query micro-syntax: `-tok` at a token boundary is an exclusion
# (MUST_NOT), a trailing `*` is a prefix wildcard, a trailing `~N` is a
# fuzzy match within N edits (Lucene FuzzyQuery syntax, N in 1..2), a
# trailing `^2.5` is a query-time boost; a hyphen INSIDE a word
# ("well-known") is not an exclusion — the lookbehind requires whitespace
# or start-of-query before the minus. `*` and `~` are mutually exclusive
# on one token.
_BOOST = r"(?:\^[0-9]+(?:\.[0-9]+)?)?"
_QTOK_RE = _re.compile(
    r"(?:^|(?<=\s))-" + TOKEN_PATTERN + r"(?:\*|~[12])?" +
    r"|" + TOKEN_PATTERN + r"(?:\*|~[12])?" + _BOOST)


class ParsedQuery:
    """Structured query parse. `boosts` maps a term / prefix / fuzzy /
    regex token (as written, without its `*`/`~N` suffix or `/` fences)
    to its multiplier; tokens without `^` are absent (1.0).
    `fuzzies`/`neg_fuzzies` map the token to its max edit distance;
    `regexes`/`neg_regexes` hold `/pat/` patterns (fences stripped)."""

    __slots__ = ("terms", "prefixes", "neg_terms", "neg_prefixes",
                 "boosts", "fuzzies", "neg_fuzzies", "regexes",
                 "neg_regexes")

    def __init__(self):
        self.terms: set[str] = set()
        self.prefixes: set[str] = set()
        self.neg_terms: set[str] = set()
        self.neg_prefixes: set[str] = set()
        self.boosts: dict[str, float] = {}
        self.fuzzies: dict[str, int] = {}
        self.neg_fuzzies: dict[str, int] = {}
        self.regexes: set[str] = set()
        self.neg_regexes: set[str] = set()


# `/pat/` at a token boundary is a regexp term query (Lucene RegexpQuery
# syntax); `-/pat/` excludes, `/pat/^2` boosts. The pattern body may not
# contain whitespace or '/'. Extracted BEFORE ordinary tokenization so
# the pattern's alnum runs never leak in as bare terms.
_QREGEX_RE = _re.compile(
    r"(?:^|(?<=\s))(-?)/([^/\s]+)/(\^[0-9]+(?:\.[0-9]+)?)?(?=\s|$)")


def _parse_query_full(q: str) -> ParsedQuery:
    pq = ParsedQuery()
    ql = q.lower()

    def _take_regex(m: "_re.Match") -> str:
        neg, pat, boost = m.group(1), m.group(2), m.group(3)
        if neg:
            pq.neg_regexes.add(pat)
        else:
            pq.regexes.add(pat)
            if boost:
                pq.boosts[pat] = max(float(boost[1:]),
                                     pq.boosts.get(pat, 0.0))
        return " "

    ql = _QREGEX_RE.sub(_take_regex, ql)
    for tok in _QTOK_RE.findall(ql):
        neg = tok.startswith("-")
        if neg:
            tok = tok[1:]
        boost = None
        if "^" in tok:
            tok, _, b = tok.partition("^")
            boost = float(b)
        star = tok.endswith("*")
        if star:
            tok = tok[:-1]
        fuzz = None
        if "~" in tok:
            tok, _, f = tok.partition("~")
            fuzz = int(f)
        if not tok:
            continue
        if neg:
            if fuzz is not None:
                pq.neg_fuzzies[tok] = max(fuzz, pq.neg_fuzzies.get(tok, 0))
            elif star:
                pq.neg_prefixes.add(tok)
            else:
                pq.neg_terms.add(tok)
            continue
        if fuzz is not None:
            # repeated token with different distances: the wider wins
            pq.fuzzies[tok] = max(fuzz, pq.fuzzies.get(tok, 0))
        elif star:
            pq.prefixes.add(tok)
        else:
            pq.terms.add(tok)
        if boost is not None:
            # repeated token with different boosts: the larger wins
            # (deterministic; Lucene would sum duplicate clauses, but
            # this engine dedups terms)
            pq.boosts[tok] = max(boost, pq.boosts.get(tok, 0.0))
    return pq


def _tokenize_query_wild(q: str) -> tuple[list[str], list[str]]:
    """Positive side of the query only: (exact terms, prefix patterns).
    Exclusion tokens (`-tok`) are dropped — callers that render or expand
    positives (snippets) must not treat an excluded term as a match.
    Fuzzy tokens are reported as their base term (a snippet highlights
    the exact spelling; ≥1-edit variants of a fuzzy hit are not
    underlined — they'd need the expansion set, which requires the
    index)."""
    pq = _parse_query_full(q)
    return (sorted(pq.terms | set(pq.fuzzies)), sorted(pq.prefixes))


# field-scoped query sugar: `role:assistant merge scan` restricts the
# rankable docs to role='assistant' — Lucene field-query syntax mapped onto
# the docs-table metadata predicate (doc_filter). Recognized fields are the
# string metadata columns the index persists; values are a conservative
# charset (no quotes), so inlining into the SQL predicate is injection-safe.
_SCOPE_FIELDS = ("conv_id", "role", "tool")
_FIELD_SCOPE_RE = _re.compile(
    r"(?:^|(?<=\s))(-?)(" + "|".join(_SCOPE_FIELDS) +
    r"):([A-Za-z0-9_.\-]+)")


def _split_field_scopes(q: str, doc_filter: str | None = None
                        ) -> tuple[str, str | None]:
    """Strip `field:value` tokens from the query and render them as a SQL
    predicate over the docs metadata, AND-ed with an explicit doc_filter
    (returned as the call's doc_filter): same-field values OR together
    (role:user role:tool = either), distinct fields AND (Lucene's implicit
    per-field disjunction under a conjunctive filter). `-field:value`
    negates (MUST_NOT the scope): same-field negatives AND together as a
    NOT IN — a NULL metadata value never matches a positive scope and
    never survives a negative one (SQL three-valued logic is deliberately
    NOT papered over; transcripts carry NULL tool for non-tool turns)."""
    scopes: dict[str, set[str]] = {}
    neg_scopes: dict[str, set[str]] = {}

    def _take(m: "_re.Match[str]") -> str:
        target = neg_scopes if m.group(1) else scopes
        target.setdefault(m.group(2).lower(), set()).add(m.group(3))
        return ""

    stripped = _FIELD_SCOPE_RE.sub(_take, q)
    if not scopes and not neg_scopes:
        return q, doc_filter
    preds = []
    for f in sorted(scopes):
        vs = sorted(scopes[f])
        preds.append(f"{f} = '{vs[0]}'" if len(vs) == 1 else
                     f"{f} IN (" + ", ".join(f"'{v}'" for v in vs) + ")")
    for f in sorted(neg_scopes):
        vs = sorted(neg_scopes[f])
        preds.append(f"{f} <> '{vs[0]}'" if len(vs) == 1 else
                     f"{f} NOT IN (" + ", ".join(f"'{v}'" for v in vs) + ")")
    scope = " AND ".join(preds)
    return stripped, (scope if doc_filter is None
                      else f"({doc_filter}) AND ({scope})")


def _sort_spec(sort_by: str) -> list[tuple[str, bool]]:
    """Parse a 'col [asc|desc][, col [asc|desc]]*' spec into (column,
    descending) pairs (metadata column names only — not expressions;
    determinism comes from the doc_id tiebreak the caller appends)."""
    spec = []
    for part in sort_by.split(","):
        toks = part.strip().split()
        if not toks or len(toks) > 2 or not toks[0].isidentifier():
            raise ValueError(
                f"sort_by: expected 'column [asc|desc]' items, got "
                f"{part.strip()!r}")
        direction = toks[1].lower() if len(toks) == 2 else "asc"
        if direction not in ("asc", "desc"):
            raise ValueError(f"sort_by: direction must be asc|desc, got "
                             f"{toks[1]!r}")
        spec.append((toks[0], direction == "desc"))
    return spec


def _edit_distance(a: str, b: str, limit: int) -> int:
    """Levenshtein distance with an early exit above `limit` (returns
    limit+1): the oracles' scalar reference for `_edit_distances`."""
    if abs(len(a) - len(b)) > limit:
        return limit + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            cur.append(v)
            row_min = min(row_min, v)
        if row_min > limit:
            return limit + 1
        prev = cur
    return prev[-1]


def _edit_distances(a: str, bs: list[str]) -> np.ndarray:
    """Levenshtein distance from `a` to every string of `bs` at once: one
    DP row per character of `a`, computed for all of `bs` together over
    the strings' code points padded to the longest (a distance is read at
    the string's own length; the padded columns never feed back). The
    insertion recurrence cur[j] = min(v[j], cur[j-1] + 1) is a running
    minimum of v[j] - j."""
    width = max(1, *map(len, bs))
    chars = (np.array(bs, dtype=f"<U{width}").view(np.uint32)
             .reshape(len(bs), width))
    ar = np.arange(width + 1)
    prev = np.tile(ar, (len(bs), 1))
    for i, ca in enumerate(a, 1):
        v = np.empty_like(prev)
        v[:, 0] = i
        v[:, 1:] = np.minimum(prev[:, :-1] + (chars != ord(ca)),
                              prev[:, 1:] + 1)
        prev = np.minimum.accumulate(v - ar, axis=1) + ar
    return prev[np.arange(len(bs)), [len(b) for b in bs]]


def _near(a: str, terms: list[str], n: int) -> dict[str, int]:
    """Every term of `terms` within n edits of `a`, with its distance, in
    `terms` order: the length band, then one vectorized DP over all of
    it."""
    band = [t for t in terms if abs(len(t) - len(a)) <= n]
    return {t: int(d) for t, d in zip(band, _edit_distances(a, band))
            if d <= n} if band else {}


def _after(after, ids: np.ndarray, scores: np.ndarray, *cols: np.ndarray
           ) -> tuple[np.ndarray, ...]:
    """Search-after: the hits (and the aligned `cols`) STRICTLY after the
    cursor in ranking order (score desc, doc_id asc) — exact because
    scores are bitwise-reproducible. The cursor is a previous-page Row (or
    mapping) with doc_id/score fields, or an explicit (score, doc_id)
    tuple."""
    try:
        s0, d0 = after["score"], after["doc_id"]
    except (TypeError, IndexError, KeyError):
        s0, d0 = after
    s0, d0 = float(s0), int(d0)
    keep = (scores < s0) | ((scores == s0) & (ids > d0))
    return (ids[keep], scores[keep], *(c[keep] for c in cols))


# ------------------------------------------------ shared query stages

class _Index(NamedTuple):
    """One index version: docs handle, stats, term dictionary, the
    postings and positional part files per bucket and the docs part
    files."""
    docs: DataFrame
    stats: dict
    tdict: TermDict
    files: dict[int, list[str]]
    docs_files: list[str]
    dir: str
    pos_files: dict[int, list[str]] = {}


def _open(spark: SparkSession, index_dir: str) -> _Index:
    v = open_version(spark, index_dir)
    _, docs, stats = v.handles
    return _Index(docs, stats, v.tdict, v.files, v.docs_files, index_dir,
                  v.pos_files)


class _Clauses(NamedTuple):
    """One resolved query: sorted scored terms, sorted excluded terms,
    effective per-term boosts (absent = 1.0)."""
    terms: list[str]
    nterms: list[str]
    boosts: dict[str, float]


def _check_mode(mode: str, min_should_match: int | None) -> int | None:
    """Validate mode / min_should_match; returns the effective m (None
    for the disjunctive default — m=1 is a no-op)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if min_should_match is not None:
        if not isinstance(min_should_match, int) or min_should_match < 1:
            raise ValueError("min_should_match must be a positive int, "
                             f"got {min_should_match!r}")
        if mode == "and":
            raise ValueError(
                "min_should_match does not compose with mode='and' — "
                "'and' already requires every term; pass one or the other")
    return min_should_match if (min_should_match or 0) > 1 else None


class _TermDict:
    """Prefix / fuzzy / regexp expansion against an index's term
    dictionary (build.TermDict, memoized per index version), answered on
    the driver with no Spark job; each expansion is bounded by
    max_expansions and raises above it (rank-exactness over silent
    truncation — Lucene's TooManyClauses policy)."""

    def __init__(self, td: TermDict, max_expansions: int):
        self.terms = td.terms
        self.max_expansions = max_expansions

    def prefixed(self, prefixes: set[str]) -> list[str]:
        """Every term starting with one of `prefixes`: a bisect into the
        sorted vocabulary, then the contiguous run of matches."""
        out: set[str] = set()
        for p in prefixes:
            i = bisect_left(self.terms, p)
            while i < len(self.terms) and self.terms[i].startswith(p):
                out.add(self.terms[i])
                i += 1
                if len(out) > self.max_expansions:
                    raise ValueError(
                        f"prefix wildcard(s) {sorted(prefixes)!r} expand to "
                        f"more than {self.max_expansions} terms — narrow the "
                        "prefix or raise max_expansions")
        return sorted(out)

    def fuzzy(self, fuzzies: dict[str, int]) -> dict[str, list[str]]:
        """Every term within N edits of each `tok~N` (Lucene FuzzyQuery's
        dictionary rewrite): the length band, then one vectorized DP over
        all of it."""
        out = {}
        for tok, nv in fuzzies.items():
            out[tok] = list(_near(tok, self.terms, nv))
            if len(out[tok]) > self.max_expansions:
                raise ValueError(
                    f"fuzzy token {tok!r}~{nv} expands to more "
                    f"than {self.max_expansions} terms — tighten the "
                    "distance or raise max_expansions")
        return out

    def regex(self, patterns: set[str]) -> dict[str, list[str]]:
        """Every term a `/pat/` matches WHOLE (Lucene RegexpQuery's
        rewrite), by Python `re.fullmatch` — the oracle's own matcher."""
        out = {}
        for pat in patterns:
            try:
                rx = _re.compile(pat)
            except _re.error as e:
                raise ValueError(
                    f"regexp token /{pat}/ is not a valid pattern: {e}"
                ) from None
            out[pat] = [t for t in self.terms if rx.fullmatch(t)]
            if len(out[pat]) > self.max_expansions:
                raise ValueError(
                    f"regexp token /{pat}/ expands to more than "
                    f"{self.max_expansions} dictionary terms — tighten the "
                    "pattern or raise max_expansions")
        return out


def _resolve(td: TermDict, stats: dict, pqs: list[ParsedQuery],
             mode: str = "or", msm: int | None = None,
             synonyms: dict[str, list[str]] | None = None,
             max_expansions: int = 128) -> list[_Clauses]:
    """Resolve parsed queries into term clauses against one index:
    stoplisted terms drop (they have no postings, so mode='and' / m count
    only indexable terms); synonym alternates and positive prefix / fuzzy
    / regexp expansions join the scored terms, negative ones the
    exclusions, all through the index's _TermDict; an explicit term boost
    wins, else the largest boost of a source covering the term. Positive
    expansions and synonyms refuse mode='and' / m > 1 (per-slot "any
    expansion" semantics are not implemented); exclusions may expand."""
    if mode == "and" or msm is not None:
        if any(pq.prefixes or pq.fuzzies or pq.regexes for pq in pqs):
            raise ValueError(
                "prefix wildcards / fuzzy / regexp tokens are not "
                "supported with mode='and' / min_should_match — expand "
                "into explicit terms for conjunctive retrieval")
        if synonyms:
            raise ValueError(
                "synonyms are not supported with mode='and' / "
                "min_should_match — expand into explicit terms for "
                "conjunctive retrieval")
    stop = set(stats.get("stopwords", []))
    syn = {src.strip().lower(): sorted({a.strip().lower() for a in alts}
                                       - stop - {""})
           for src, alts in (synonyms or {}).items()}
    tdict = _TermDict(td, max_expansions)
    out = []
    for pq in pqs:
        qb = pq.boosts
        explicit = pq.terms - stop
        # (boost key, terms it covers) for every non-prefix source
        covers = [(s, alts) for s, alts in syn.items()
                  if s in pq.terms and alts]
        covers += [*tdict.fuzzy(pq.fuzzies).items(),
                   *tdict.regex(pq.regexes).items()]
        terms = set(explicit).union(*(ts for _, ts in covers))
        if pq.prefixes:
            terms.update(tdict.prefixed(pq.prefixes))
        boosts = {t: qb[t] for t in explicit if t in qb}
        for t in terms - boosts.keys():
            pbs = [qb[p] for p in pq.prefixes
                   if p in qb and t.startswith(p)]
            pbs += [qb[s] for s, ts in covers if s in qb and t in ts]
            if pbs:
                boosts[t] = max(pbs)
        nterms = (pq.neg_terms - stop).union(
            *tdict.fuzzy(pq.neg_fuzzies).values(),
            *tdict.regex(pq.neg_regexes).values())
        if pq.neg_prefixes:
            nterms.update(tdict.prefixed(pq.neg_prefixes))
        out.append(_Clauses(sorted(terms), sorted(nterms), boosts))
    return out


def _idf(n_docs: int, df: float) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _idfs(td: TermDict, n_docs: int, terms) -> dict[str, float]:
    """The idf driver literal of every term the dictionary holds (a term
    it lacks has no postings to score)."""
    return {t: _idf(n_docs, td.stats[t].df) for t in terms if t in td.stats}


def _bounds_current(index_dir: str, stats: dict, terms: list[str]) -> bool:
    """Version gate: buckets an incremental update did not touch carry
    block-max bounds computed under an older avgdl — untrustworthy until
    rewritten or compacted (exactness over speed)."""
    from macrobase_spark.index.build import bucket_versions
    from macrobase_spark.index.xxh64 import term_bucket

    sv = stats.get("version", 1)
    bv = bucket_versions(index_dir)
    return all(bv.get(term_bucket(t, stats["num_buckets"]), 1) == sv
               for t in terms)


def _may_hold(stats, terms: list[str]) -> bool:
    """Whether a row group whose term column has these statistics can hold
    one of the sorted `terms` (no min/max: it can)."""
    if stats is None or not stats.has_min_max:
        return True
    i = bisect_left(terms, stats.min)
    return i < len(terms) and terms[i] <= stats.max


def _candidates(h: _Index, terms, cols: tuple[str, ...] = ("term", "blob"),
                positional: bool = False) -> list:
    """The posting rows of `terms` (their positional rows when
    `positional`), read on the driver with pyarrow from the index
    version's part files (one Arrow table per file read): term → bucket =
    pmod(xxhash64(term), B) is computed here, so only the terms' buckets
    are read; a row group is read only when its term statistics can hold a
    wanted term (part files of both layers are term-sorted), and its rows
    then filter on `term IN (…)`."""
    import pyarrow.parquet as pq

    from macrobase_spark.index.xxh64 import term_bucket

    terms = sorted(set(terms))
    want = pa.array(terms, pa.string())
    out = []
    for b in sorted({term_bucket(t, h.stats["num_buckets"]) for t in terms}):
        for f in (h.pos_files if positional else h.files).get(b, ()):
            with pq.ParquetFile(f) as pf:
                md = pf.metadata
                col = md.schema.names.index("term")
                groups = [g for g in range(md.num_row_groups) if _may_hold(
                    md.row_group(g).column(col).statistics, terms)]
                if groups:
                    t = pf.read_row_groups(groups, columns=list(cols))
                    out.append(t.filter(pc.is_in(t["term"], value_set=want)))
    return out


def _row_contrib(ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                 idf: float, avgdl: float, block_max, k: int,
                 single: bool, lam: float | None
                 ) -> tuple[np.ndarray, np.ndarray]:
    """One posting row's (doc ids, BM25 contributions), minus the blocks
    pruning proves cannot matter. `lam` is the term's block-max-WAND
    threshold: a block whose best possible contribution is below it
    cannot lift any doc above the global lower bound θ. `single` is the
    one-term block-max prune: visit blocks in descending upper bound and
    stop when the bound falls below the kth best contribution so far —
    exact for a query of one term, whose score IS the contribution. Each
    contribution is computed elementwise, so pruning never changes a
    kept doc's bits."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    sc = idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    if (lam is None and not single) or block_max is None \
            or len(block_max) <= 1:
        return ids, sc
    bm = np.asarray(block_max, dtype=np.float64) * idf * (K1 + 1.0)
    if lam is not None:
        keep = np.flatnonzero(bm >= lam)
    else:
        keep, best = [], np.empty(0)
        for bi in np.argsort(-bm, kind="stable"):
            if len(best) >= k and bm[bi] < best[0]:
                break
            keep.append(bi)
            best = np.sort(np.concatenate(
                [best, sc[bi * BLOCK_SIZE:(bi + 1) * BLOCK_SIZE]]))[-k:]
    if len(keep) == len(bm):
        return ids, sc
    sel = np.isin(np.arange(len(ids)) // BLOCK_SIZE, keep)
    return ids[sel], sc[sel]


def _score_kernel(rows: list, queries: dict, idfs: dict[str, float],
                  avgdl: float, k: int, mode: str, msm: int | None,
                  single: set[str], lambdas: dict[str, float] | None
                  ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """The one scoring kernel of the BM25 family, run once per index
    handle over the candidate rows (Arrow tables) of every query's scored
    and excluded terms: decode each posting row, compute each scored
    term's contributions (`_row_contrib`), and per query sum a doc's
    contributions (each times its boost, c·b) in ascending-term order from
    0.0, one term at a time — the float order of bm25_oracle, never a
    vectorized reduction — then keep the docs that match mode='and' (every
    term) / min_should_match (≥ m terms; a (term, doc) pair lives in one
    segment row, so counting terms counts distinct terms) and hold no
    excluded term. Returns query_id → (doc ids, scores) for every query
    with a candidate row."""
    from macrobase_spark.index.build import _decode_partial

    scored = {t for c in queries.values() for t in c.terms if t in idfs}
    negs = {t for c in queries.values() for t in c.nterms}
    lambdas = lambdas or {}
    hits: dict[str, list] = {}
    held: dict[str, list] = {}
    for tbl in rows:
        cols = tbl.to_pydict()
        for term, blob, bmax in zip(
                cols["term"], cols["blob"],
                cols.get("block_max", [None] * tbl.num_rows)):
            ids, tfs, dls = _decode_partial(blob)
            ids = ids.astype(np.int64)
            if term in negs:
                held.setdefault(term, []).append(ids)
            if term in scored:
                hits.setdefault(term, []).append(_row_contrib(
                    ids, tfs, dls, idfs[term], avgdl, bmax, k,
                    term in single, lambdas.get(term)))
    per_term = {t: (np.concatenate([i for i, _ in rs]),
                    np.concatenate([c for _, c in rs]))
                for t, rs in hits.items()}
    out = {}
    for qid, (terms, nterms, boosts) in queries.items():
        present = [t for t in terms if t in per_term]
        if not present:
            continue
        docs = np.unique(np.concatenate([per_term[t][0] for t in present]))
        score = np.zeros(len(docs))
        n_terms = np.zeros(len(docs), dtype=np.int64)
        for t in present:
            ids, c = per_term[t]
            pos = np.searchsorted(docs, ids)
            score[pos] += c * boosts.get(t, 1.0)
            n_terms[pos] += 1
        keep = (n_terms == len(terms) if mode == "and"
                else n_terms >= (msm or 1))
        excl = [i for t in nterms for i in held.get(t, [])]
        if excl:
            keep &= ~np.isin(docs, np.concatenate(excl))
        out[qid] = (docs[keep], score[keep])
    return out


_NO_HITS = (np.empty(0, dtype=np.int64), np.empty(0))
_HITS = "doc_id long, score double"
_BATCH = "query_id string, doc_id long, score double, rank int"


def _scores(h: _Index, queries: dict, idfs: dict[str, float], avgdl: float,
            k: int = 10, mode: str = "or", msm: int | None = None,
            single: set[str] = frozenset(),
            lambdas: dict[str, float] | None = None
            ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Every query's (doc ids, scores) over one index handle, from one
    `_score_kernel` run over the candidate rows of all the queries' terms;
    `idfs` may be global (sharded). block_max is read only when a term is
    pruned."""
    terms = {t for c in queries.values() for t in (*c.terms, *c.nterms)}
    cols = ("term", "blob") + (("block_max",) if single or lambdas else ())
    return _score_kernel(_candidates(h, terms, cols), queries, idfs, avgdl,
                         k, mode, msm, single, lambdas)


def _live(handles: list[_Index], ids: np.ndarray, *cols: np.ndarray,
          allowed: np.ndarray | None = None) -> tuple[np.ndarray, ...]:
    """`ids` (and the aligned `cols`) minus the handles' pending deletes —
    they vanish at once, while corpus stats count them until compact_index
    purges (Lucene semantics) — and, given `allowed` (`_allowed`), minus
    the docs outside the doc_filter."""
    dead = np.concatenate([deleted_ids(h.dir) for h in handles])
    keep = ~np.isin(ids, dead) if len(dead) else np.ones(len(ids), bool)
    if allowed is not None:
        keep &= np.isin(ids, allowed)
    return (ids[keep], *(c[keep] for c in cols))


def _allowed(handles: list[_Index], doc_filter: str | None
             ) -> np.ndarray | None:
    """The doc ids that pass doc_filter (None without one). The filter is
    a Spark SQL predicate over the docs metadata, so it runs as ONE Spark
    job over the handles' docs tables, with the predicate pushed down to
    the docs parquet scan, which reads doc_id and the filter's columns."""
    if doc_filter is None:
        return None
    return reduce(DataFrame.unionByName, [
        h.docs.filter(F.expr(doc_filter)).select("doc_id") for h in handles
    ]).toArrow()["doc_id"].to_numpy()


def _docs(handles: list[_Index], cols) -> pa.Table:
    """doc_id and `cols` of the handles' docs tables in doc_id order (so
    np.searchsorted on doc_id finds a doc's row), read on the driver with
    pyarrow from exactly the index versions' docs part files and typed as
    Spark reads the docs table (a column a part file lacks reads NULL)."""
    import pyarrow.parquet as pq

    names = list(dict.fromkeys(["doc_id", *cols]))
    schema = to_arrow_schema(StructType(
        [handles[0].docs.schema[c] for c in names]))
    parts = [schema.empty_table()]
    for f in (f for h in handles for f in h.docs_files):
        with pq.ParquetFile(f) as pf:
            t = pf.read(columns=[c for c in names
                                 if c in pf.schema_arrow.names])
        parts.append(pa.table(
            [t[c] if c in t.column_names
             else pa.nulls(t.num_rows, schema.field(c).type) for c in names],
            names=names).cast(schema))
    t = pa.concat_tables(parts)
    ids = t["doc_id"].to_numpy()
    return t if np.all(ids[1:] >= ids[:-1]) else t.take(pc.sort_indices(ids))


def _rank_codes(values) -> np.ndarray:
    """Dense ascending ranks of an Arrow column with NULLs first and all
    NULLs tied: Spark's asc order (NULLS FIRST); negated, its desc order
    (NULLS LAST). Strings compare as UTF-8 bytes, as Spark's do."""
    return pc.rank(values, sort_keys="ascending", null_placement="at_start",
                   tiebreaker="dense").to_numpy().astype(np.int64)


def _epoch_seconds(values, dt, tz: str) -> np.ndarray:
    """A recency column as epoch seconds, NaN for NULL, as the Spark
    expressions cast(col as double) (numeric) and unix_timestamp(col)
    (timestamp, date, string: whole seconds, floored; dates and strings
    read as local time in the session time zone `tz`) evaluate it."""
    if isinstance(dt, NumericType):
        x = pc.cast(values, pa.float64())
        secs = np.array(x.fill_null(0), dtype=np.float64)
    else:
        if isinstance(dt, (StringType, DateType)):
            values = pc.assume_timezone(
                pc.strptime(values, format="%Y-%m-%d %H:%M:%S", unit="s",
                            error_is_null=True)
                if isinstance(dt, StringType)
                else pc.cast(values, pa.timestamp("s")),
                tz, ambiguous="earliest", nonexistent="latest")
        x = pc.cast(pc.cast(values, pa.timestamp("us", "UTC")), pa.int64())
        secs = np.floor_divide(x.fill_null(0).to_numpy(),
                               1_000_000).astype(np.float64)
    secs[np.asarray(pc.is_null(x))] = np.nan
    return secs


def _hits(spark: SparkSession, ids: np.ndarray, scores: np.ndarray,
          docs: DataFrame | None = None, meta: pa.Table | None = None,
          names=()) -> DataFrame:
    """A top-k relation: (doc_id, score) plus the `names` docs-metadata
    columns (from `meta`, row-aligned; none for a zero-hit result), typed
    as the docs table types them."""
    types = {c: docs.schema[c].dataType for c in dict.fromkeys(names)}
    return _frame(spark, ", ".join(
        [_HITS] + [f"{c} {t.simpleString()}" for c, t in types.items()]),
        doc_id=ids, score=scores, **{
            c: pa.nulls(0, to_arrow_type(t)) if meta is None else meta[c]
            for c, t in types.items()})


def _top(ids: np.ndarray, scores: np.ndarray, k: int
         ) -> tuple[np.ndarray, np.ndarray]:
    """The k best hits in ranking order: score desc, doc_id asc."""
    o = np.lexsort((ids, -scores))[:k]
    return ids[o], scores[o]


def _frame(spark: SparkSession, schema: str, **cols) -> DataFrame:
    """Driver-side columns as a DataFrame: an Arrow table becomes a local
    relation, which Spark collects without running a job."""
    return spark.createDataFrame(pa.table(cols), schema)


def _batch_frame(spark: SparkSession, hits: list) -> DataFrame:
    """A batch result (query_id, doc_id, score, rank) from each query's
    (query_id, doc ids, scores) top-k in ranking order."""
    return _frame(
        spark, _BATCH,
        query_id=pa.array([qid for qid, ids, _ in hits for _ in ids],
                          pa.string()),
        doc_id=np.concatenate([_NO_HITS[0], *(h[1] for h in hits)]),
        score=np.concatenate([_NO_HITS[1], *(h[2] for h in hits)]),
        rank=pa.array([r for _, ids, _ in hits
                       for r in range(1, len(ids) + 1)], pa.int32()))


def _match_set(handles: list[_Index], clauses: _Clauses, mode: str = "or",
               msm: int | None = None, doc_filter: str | None = None
               ) -> np.ndarray:
    """The doc ids of the query's full match set over index handles (a
    doc lives in one shard, so shard sets union exactly) under mode / m /
    exclusions / tombstones / doc_filter, in ascending order — the scoring
    kernel with no pruning, one run per handle. The doc_filter's job runs
    only when some doc matches."""
    terms = clauses.terms
    ids = [_NO_HITS[0]]
    if terms and (msm is None or msm <= len(terms)):
        ids += [_scores(h, {"": clauses},
                        _idfs(h.tdict, h.stats["n_docs"], terms),
                        h.stats["avgdl"], mode=mode, msm=msm)
                .get("", _NO_HITS)[0] for h in handles]
    ids = np.sort(np.concatenate(ids))
    return _live(handles, ids, allowed=_allowed(handles, doc_filter)
                 if len(ids) else None)[0]


def _check_shards(where: str, handles: list[_Index], pq: ParsedQuery) -> None:
    """Sharded surfaces need one analyzer and no per-shard resolution."""
    stops = {tuple(h.stats.get("stopwords", [])) for h in handles}
    if len(stops) > 1:
        raise ValueError(
            f"{where}: shards were built with DIFFERENT stoplists "
            f"{sorted(stops)!r} — global scoring would mix analyzers; "
            "rebuild with one list")
    if (pq.prefixes or pq.neg_prefixes or pq.fuzzies or pq.neg_fuzzies
            or pq.regexes or pq.neg_regexes or pq.boosts):
        raise ValueError(
            f"{where}: wildcard/fuzzy/boost tokens are not supported "
            "across shards — pre-expand the query or use bm25_topk per "
            "shard")


def bm25_topk(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    anomaly_max: float | None = None,
    anomaly_weight: float = 0.0,
    wand: bool = False,
    mode: str = "or",
    min_should_match: int | None = None,
    doc_filter: str | None = None,
    max_expansions: int = 128,
    after: tuple[float, int] | None = None,
    sort_by: str | None = None,
    collapse: str | None = None,
    synonyms: dict[str, list[str]] | None = None,
    recency_half_life: float | None = None,
    recency_ref: float | None = None,
    recency_col: str = "ts",
) -> DataFrame:
    """Top-k (doc_id, score) for the query. Optional anomaly modifier:
    filter docs with anomaly > anomaly_max, and/or down-weight the score by
    (1 − anomaly_weight·anomaly) — the MacroBase row-score heritage as a
    first-class BM25 modifier.

    doc_filter is a SQL boolean expression over the docs table's metadata
    columns (conv_id, turn_idx, role, tool — persisted at build time from
    the transcripts input), e.g. ``doc_filter="role = 'assistant'"``:
    non-matching docs are excluded BEFORE top-k selection (one Spark job
    evaluates the predicate, pushed down to the docs parquet scan, and
    its doc ids restrict the match set on the driver), so the k results
    are the best k *within* the filtered population, not a post-filter of
    the unfiltered top-k. Because filtering changes which docs can occupy
    the top-k, every block-pruning θ computed from raw scores is invalid
    — pruning is disabled (exactness over speed, as for anomaly).

    Query tokens ending in ``*`` are prefix wildcards (``merg*``):
    expanded against the term dictionary by a bisect into the sorted
    vocabulary (bounded by max_expansions: more expansions raise, the
    TooManyClauses policy) and scored as a disjunctive query over the
    expansions, each with its own idf — Lucene's scoring-boolean rewrite.
    Wildcards compose with doc_filter/anomaly but not with mode="and"
    (conjunctive wildcard semantics — "at least one expansion per slot" —
    are not implemented; expand explicitly instead).

    Query tokens starting with ``-`` at a token boundary (``merge -scan``)
    are exclusions (Lucene MUST_NOT): docs containing ANY excluded term
    are dropped before top-k and excluded terms never contribute to the
    score. ``-pre*`` excludes every expansion of the prefix. A query with
    ONLY exclusions (or only stoplisted terms) returns empty, in the same
    columns as any zero-hit result (sort_by / collapse columns included).
    Exclusions compose
    with every other option; block pruning is disabled when present (an
    exclusion can promote docs from pruned blocks into the top-k).

    ``term~1`` / ``term~2`` are fuzzy tokens (Lucene FuzzyQuery syntax):
    expanded against the term dictionary to every indexed term within N
    edits (a length band, then one vectorized levenshtein DP over the
    band, bounded by max_expansions) and scored as
    a disjunction, each expansion with its own idf — the same
    scoring-boolean rewrite as prefixes. ``-tok~1`` excludes every
    expansion; ``tok~1^2`` boosts every expansion. Not combinable with
    mode='and' (same policy as prefixes).

    ``/pat/`` is a regexp term query (Lucene RegexpQuery syntax): the
    pattern matches WHOLE dictionary terms (`re.fullmatch`, bounded by
    max_expansions) and scored as a disjunction with per-term idf, the
    same scoring-boolean rewrite as prefixes. ``-/pat/`` excludes every
    match; ``/pat/^2`` boosts them. Pattern syntax is Python `re` — the
    oracle's matcher, so engine and oracle agree on every pattern; an
    invalid pattern raises ValueError. No whitespace or '/' inside the
    fences. Not combinable with mode='and' / min_should_match; the
    sharded surfaces refuse it (as they refuse every expansion).

    ``term^2`` / ``pre*^1.5`` are query-time boosts (Lucene syntax): the
    term's contribution is multiplied by the boost before the per-doc sum.
    An explicit term boost beats a matching prefix boost; overlapping
    boosts take the max. Boosts compose with everything; the single-term
    block-max prune stays exact (a constant per-term scale preserves
    order) while multi-term WAND is disabled under boosts.

    mode="and" is conjunctive retrieval: only docs containing EVERY query
    term are ranked (Lucene's MUST / +term semantics); scores are the same
    BM25 sums, so mode="and" output is a subset-filter of mode="or" — a
    property the parity test pins. Cost is identical to the disjunctive
    query (the kernel counts each doc's matched terms as it sums them). WAND block pruning is disabled in "and" mode: its θ is
    a DISJUNCTIVE kth-score bound, and the conjunctive kth score can sit
    below it — exactness over speed, same policy as the anomaly gate.

    min_should_match=m is Lucene's minimum_should_match: only docs
    containing at least m DISTINCT query terms are ranked — the middle
    ground between mode="or" (m=1) and mode="and" (m=all). The matched-term
    count is the kernel's, as for mode="and"; scores are unchanged BM25
    sums, so the output is a
    subset-filter of the disjunctive ranking. m counts indexable terms —
    stoplisted query tokens are dropped before the threshold applies
    (query-analyzer symmetry), and m greater than the query's indexable
    term count returns empty (no doc can satisfy it). Not combinable with
    mode="and" (redundant: "and" IS m = all), nor with prefix/fuzzy tokens
    in v1 (clause-count vs expansion-count semantics differ; expand
    explicitly instead). Block pruning is disabled when m > 1 (the filter
    can promote docs from pruned blocks), same policy as the other
    restriction modifiers.

    wand=True enables multi-term block-max WAND pruning (exactness-
    preserving): θ = the kth best SINGLE-term score of the rarest query term
    (a valid lower bound on the final kth score); a block of term t is
    skipped iff ub_t(block) + Σ_{u≠t} ub_u < θ. Any doc with true final
    score ≥ θ then sits in no pruned block (its presence would force the
    block's bound above θ), so every candidate that can reach the top-k is
    fully scored and every pruned doc is provably below the kth. df and
    max_impact come from the term dictionary, so this costs one extra
    kernel run (the rarest-term pass) — worth it for hot multi-term
    queries; off by default.

    ``role:assistant`` / ``tool:grep`` / ``conv_id:c17`` tokens in the
    query are field scopes (Lucene field-query sugar): stripped from the
    scored terms and folded into doc_filter (same-field values OR
    together, distinct fields AND; composes with an explicit doc_filter
    via AND).

    ``after=`` is search-after pagination (the search_after cursor
    shape): only docs STRICTLY after the cursor in ranking order
    (score desc, doc_id asc) are returned — pass the previous page's
    last Row (or an explicit (score, doc_id) tuple) to fetch the next
    k. Exact across pages
    because scores are bitwise-reproducible; page boundaries never
    duplicate or skip a doc. Pruning policy is unchanged — the kernel's
    block-max bounds target the UNPAGED top-k, and the cursor cuts
    strictly deeper than the kth unpaged score can reach only when the
    caller pages past k, so `after` simply disables pruning (exactness
    over speed, same policy as the other restriction modifiers). Not
    combinable with sort_by (the cursor is a score-order position).

    ``sort_by="turn_idx desc"`` ranks the MATCHING docs by docs-table
    metadata columns instead of relevance (Lucene sort-by-field): every
    matching doc competes (block pruning is disabled — a low-scoring
    match can win a metadata sort), ties break by ascending doc_id, and
    the BM25 score still rides along in the output together with the
    sort columns. NULLs sort first under asc and last under desc, as in
    Spark.

    ``recency_half_life=7.0`` is recency-decay scoring (the freshness
    modifier a transcript corpus wants — Elasticsearch's exp/gauss decay
    family): score ×= 0.5^(age_days / half_life), where age is measured
    against ``recency_ref`` (epoch seconds) or, when None, the corpus's
    own max ``recency_col`` — deterministic per index state, no
    wall-clock involved. Ages are epoch seconds as Spark's cast(double)
    (numeric column) or unix_timestamp (timestamp, date, string) reads
    them (`_epoch_seconds`); an age below 0 (a doc newer than
    ``recency_ref``) counts as 0, and docs with a NULL timestamp keep
    weight 1. Block pruning is disabled (the reweighting
    reorders), same policy as anomaly_weight. Requires the index to have
    persisted the ``recency_col`` metadata column (build_index persists
    ``ts`` when the input carries it); a bad half-life or column raises
    even for a query that matches nothing.

    ``synonyms={"fast": ["quick", "rapid"]}`` is query-time synonym
    expansion (the classic QueryParser expand=true behavior): a query
    term present in the map also matches its alternates, scored as a
    disjunction where each alternate carries its OWN idf — the same
    scoring-boolean rewrite as prefix/fuzzy expansions, so rare
    alternates contribute more than common ones. A boost on the query
    term covers its alternates (largest wins on overlap, prefix-boost
    precedence). Alternates are analyzed like query text (lowercased,
    stoplist-dropped); entries whose key is not in the query are
    ignored, so one corpus-wide synonym map can ride along on every
    query. Not combinable with mode='and' / min_should_match in v1
    (per-slot "any alternate" conjunctive semantics — same policy as
    wildcards).

    ``collapse="conv_id"`` is field collapsing (Elasticsearch collapse /
    Lucene grouping): only the best-ranked doc per collapse-key value
    survives — one turn per conversation in a transcript corpus — and
    the top-k then ranks the group winners; the collapse column rides
    along in the output. Collapsing happens BEFORE the after= cursor so
    pages never show a group twice. Pruning is disabled (a group winner
    can sit below the uncollapsed kth score); not combinable with
    sort_by in v1."""
    msm = _check_mode(mode, min_should_match)
    if after is not None and sort_by is not None:
        raise ValueError("after= is a score-order cursor — it does not "
                         "compose with sort_by")
    if collapse is not None and sort_by is not None:
        raise ValueError("collapse does not compose with sort_by (v1) — "
                         "collapse ranks group winners by score")
    query, doc_filter = _split_field_scopes(query, doc_filter)
    ix = _open(spark, index_dir)
    docs, stats = ix.docs, ix.stats
    have = sorted(set(docs.columns) - {"doc_id"})
    spec = _sort_spec(sort_by) if sort_by is not None else []
    missing = [c for c, _ in spec if c not in have]
    if missing:
        raise ValueError(
            f"sort_by: {missing!r} not sortable docs-metadata "
            f"columns (have {have})")
    if collapse is not None and collapse not in have:
        raise ValueError(
            f"collapse: {collapse!r} not a docs-metadata column "
            f"(have {have})")
    if recency_half_life is not None:
        if not recency_half_life > 0:
            raise ValueError("recency_half_life must be > 0 (days), got "
                             f"{recency_half_life!r}")
        if recency_col not in have:
            raise ValueError(
                f"recency: {recency_col!r} is not a docs-metadata column "
                f"(have {have}) — the index must persist the timestamp "
                "at build time")
        ts_type = docs.schema[recency_col].dataType
        if not isinstance(ts_type, (NumericType, TimestampType, DateType,
                                    TimestampNTZType, StringType)):
            raise ValueError(
                f"recency: {recency_col!r} has type "
                f"{ts_type.simpleString()} — need a timestamp/date/"
                "numeric-epoch docs column")
    names = [c for c, _ in spec] or ([collapse] if collapse else [])
    td = ix.tdict
    [clauses] = _resolve(td, stats, [_parse_query_full(query)], mode, msm,
                         synonyms, max_expansions)
    terms, nterms, boosts = clauses
    # no indexable term, or an m above the indexable term count: nothing
    # can match
    if not terms or (msm is not None and msm > len(terms)):
        return _hits(spark, *_NO_HITS, docs, names=names)
    n, avgdl = stats["n_docs"], stats["avgdl"]
    anomaly = anomaly_max is not None or bool(anomaly_weight)
    # filter/anomaly/recency/sort/collapse/cursor/exclusion/tombstone
    # modifiers change the final ranking AFTER raw-BM25 scoring (filtering
    # can promote docs from pruned blocks; weighting reorders), so every
    # block-pruning θ computed from raw scores is invalid — score fully.
    # Exactness over speed, same policy as the stale-version gate.
    allow_prune = (not anomaly and doc_filter is None and after is None
                   and not names and recency_half_life is None
                   and not nterms and msm is None
                   and not has_tombstones(index_dir)
                   and _bounds_current(index_dir, stats, terms))
    # multi-term WAND needs unboosted disjunctive bounds; a boost is a
    # constant per-term scale, so the one-term prune stays exact under it
    lambdas = (_batch_wand_lambdas(ix, {"": terms}, k)
               if wand and len(terms) > 1 and allow_prune and mode == "or"
               and not boosts else None)
    ids, sc = _live([ix], *_scores(
        ix, {"": clauses}, _idfs(td, n, terms), avgdl, k, mode, msm,
        set(terms) if allow_prune and len(terms) == 1 else set(),
        lambdas).get("", _NO_HITS), allowed=_allowed([ix], doc_filter))
    # the docs-metadata modifiers, in the order their semantics compose:
    # anomaly filter and weight, recency weight, then the metadata sort —
    # or collapse, then the cursor — and the top k
    need = (["anomaly"] * anomaly
            + [recency_col] * (recency_half_life is not None) + names)
    meta = _docs([ix], need) if need else None
    # each hit's docs row (a placeholder when no docs column is needed)
    pos = np.searchsorted(meta["doc_id"].to_numpy(), ids) if need else ids
    if anomaly:
        a = np.array(meta["anomaly"].take(pos), dtype=np.float64)
        if anomaly_max is not None:
            keep = a <= anomaly_max
            ids, sc, pos, a = ids[keep], sc[keep], pos[keep], a[keep]
        if anomaly_weight:
            sc = sc * (1.0 - anomaly_weight * a)
    if recency_half_life is not None:
        ts = _epoch_seconds(meta[recency_col], ts_type,
                            spark.conf.get("spark.sql.session.timeZone"))
        if recency_ref is None and np.isnan(ts).all():
            raise ValueError(
                f"recency: every {recency_col!r} in the docs table is "
                "NULL — pass recency_ref explicitly")
        ref = float(np.nanmax(ts) if recency_ref is None else recency_ref)
        # a doc newer than the reference has age 0, so weight 1
        w = np.power(0.5, (np.maximum(ref - ts[pos], 0.0) / 86400.0)
                     / float(recency_half_life))
        sc = sc * np.where(np.isnan(w), 1.0, w)
    if spec:
        o = np.lexsort([ids] + [
            -r if desc else r for c, desc in reversed(spec)
            for r in [_rank_codes(meta[c].take(pos))]])[:k]
        return _hits(spark, ids[o], sc[o], docs, meta.take(pos[o]), names)
    if collapse is not None:
        # the best-ranked doc per key value; NULL keys form one group
        o = np.lexsort((ids, -sc))
        _, first = np.unique(_rank_codes(meta[collapse].take(pos[o])),
                             return_index=True)
        w = o[np.sort(first)]
        ids, sc, pos = ids[w], sc[w], pos[w]
    if after is not None:
        ids, sc, pos = _after(after, ids, sc, pos)
    o = np.lexsort((ids, -sc))[:k]
    return _hits(spark, ids[o], sc[o], docs,
                 meta.take(pos[o]) if names else None, names)


def _batch_wand_lambdas(h: _Index, q_terms: dict[str, list[str]], k: int
                        ) -> dict[str, float] | None:
    """Per-term block-skip thresholds for a BATCH of queries (one query is
    a batch of one), exactness-preserving across every query: λ_t = min
    over queries q∋t of (θ_q − Σ_{u∈q, u≠t} ub_u), with θ_q the kth best
    single-term score of q's rarest present term. Skipping a block of t
    with ub_t < λ_t is safe for EVERY query containing t (the min makes
    pruning at least as conservative as each query's own WAND bound): if
    doc d sat in a pruned block, then for any q∋t, score_q(d) ≤ ub_t +
    Σ_{u≠t} ub_u < θ_q, so d can't reach q's top-k. Returns None when
    nothing is prunable.

    df and max_impact come from the term dictionary; the θs cost one
    kernel run scoring every probed rarest term as its own one-term query
    (block-max pruned), shared across all queries."""
    td, n = h.tdict, h.stats["n_docs"]
    idfs = _idfs(td, n, {t for ts in q_terms.values() for t in ts})
    if not idfs:
        return None
    dfs = {t: td.stats[t].df for t in idfs}
    ubs = {t: idf * (K1 + 1.0) * td.stats[t].max_impact
           for t, idf in idfs.items()}
    rarest: dict[str, str] = {}
    for qid, ts in q_terms.items():
        present = [t for t in ts if t in dfs]
        if present:
            rarest[qid] = min(present, key=lambda t: dfs[t])
    probe = sorted({t for t in rarest.values() if dfs[t] >= k})
    thetas: dict[str, float] = {}
    if probe:
        top = _scores(h, {t: _Clauses([t], [], {}) for t in probe}, idfs,
                      h.stats["avgdl"], k, single=set(probe))
        thetas = {t: float(np.sort(sc)[-k]) for t, (_, sc) in top.items()
                  if len(sc) >= k}
    lambdas: dict[str, float] = {}
    for qid, ts in q_terms.items():
        present = [t for t in ts if t in dfs]
        if not present:
            continue
        theta = thetas.get(rarest[qid])
        tot = sum(ubs[t] for t in present)
        for t in present:
            lam = (theta - (tot - ubs[t])) if theta is not None else -math.inf
            lambdas[t] = min(lambdas.get(t, math.inf), lam)
    # λ ≤ 0 prunes nothing (block bounds are non-negative) — drop to skip
    # the per-block bound math in the scorer
    lambdas = {t: l for t, l in lambdas.items() if l > 0.0}
    return lambdas or None


def bm25_topk_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, str] | list[str],
    k: int = 10,
    wand: bool = False,
    mode: str = "or",
    min_should_match: int | None = None,
    doc_filter: str | None = None,
    max_expansions: int = 128,
    synonyms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Top-k for MANY queries in ONE kernel run — the throughput shape
    for query serving: one bucket- and row-group-pruned driver read of the
    union of all query terms' candidate rows (scored and excluded), one
    `_score_kernel` run that decodes every row once, scores each (term,
    doc) once and sums per (query, doc) in ascending-term order
    (bit-identical to bm25_topk per query — bm25_topk is a batch of one),
    then each query's top-k on the driver. Returns (query_id, doc_id,
    score, rank); only a doc_filter runs a Spark job (one per call).

    A term shared by several queries is read and decoded once. A term
    that only one-term queries use is block-max pruned exactly as
    bm25_topk prunes a one-term query, so a hot single-term query ("the")
    does not score its whole posting list. wand=True adds batch-safe
    block-max pruning for the other terms (see _batch_wand_lambdas) —
    exact, one extra kernel run; worth it when hot multi-term queries
    dominate the batch.

    mode="and" applies conjunctive retrieval to every query in the batch
    (see bm25_topk): a doc must hold each of its query's terms. WAND
    batch pruning is disabled in "and" mode (disjunctive θ bound).

    min_should_match=m applies Lucene's minimum_should_match to every
    query in the batch (see bm25_topk): docs matching fewer than m
    distinct terms of a query drop before that query's top-k. Queries
    with fewer than m indexable terms return no rows (unsatisfiable).
    Same v1 restrictions as bm25_topk: not with mode='and', not with
    prefix/fuzzy tokens; block pruning is disabled when m > 1 (the
    filter changes which docs rank).

    synonyms (one corpus-wide map, see bm25_topk) applies to every
    query in the batch: a query term present in the map also matches
    its alternates, each scored with its own idf; a boost on the term
    covers its alternates; entries absent from a query are ignored —
    exactly the per-query bm25_topk semantics, pytest-pinned bitwise.
    Not with mode='and' / min_should_match (same policy as bm25_topk).

    doc_filter (SQL expression over docs metadata, see bm25_topk) applies
    to EVERY query in the batch: Spark evaluates it once, and its doc ids
    restrict every query's hits on the driver before the query's top-k.
    Prefix / fuzzy /
    regexp tokens expand per query against the term dictionary;
    mode='and' rejects them (same as bm25_topk). Exclusions (``-term`` /
    ``-pre*``, see bm25_topk) apply per query inside the kernel."""
    msm = _check_mode(mode, min_should_match)
    if isinstance(queries, list):
        queries = {str(i): q for i, q in enumerate(queries)}
    scoped = [qid for qid, q in queries.items()
              if _split_field_scopes(q)[1] is not None]
    if scoped:
        # a batch applies ONE doc_filter to every query; a
        # per-query field scope would need per-query doc restriction —
        # refuse loudly rather than silently scoring 'role'/'assistant'
        # as ordinary terms
        raise ValueError(
            f"queries {scoped!r} use field scopes (role:/tool:/conv_id:) "
            "— batch queries share one doc_filter; pass doc_filter= for "
            "the whole batch or run scoped queries via bm25_topk")
    parsed = {qid: _parse_query_full(q) for qid, q in queries.items()}
    ix = _open(spark, index_dir)
    stats, td = ix.stats, ix.tdict
    # expansion bound per query (consistent with bm25_topk)
    live = {qid: c for qid, c in zip(parsed, _resolve(
        td, stats, list(parsed.values()), mode, msm, synonyms,
        max_expansions)) if c.terms}
    if not live:
        return _batch_frame(spark, [])
    all_terms = sorted({t for c in live.values() for t in c.terms})
    n, avgdl = stats["n_docs"], stats["avgdl"]
    allow_prune = (doc_filter is None and msm is None
                   and not any(c.nterms for c in live.values())
                   and not has_tombstones(index_dir)
                   and _bounds_current(index_dir, stats, all_terms))
    # the one-term prune is exact for a term only one-term queries use;
    # every other term may take a WAND bound from every query holding it
    single = {t for t in all_terms
              if all(len(c.terms) == 1 for c in live.values()
                     if t in c.terms)} if allow_prune else set()
    wand_q = {qid: c.terms for qid, c in live.items()
              if set(c.terms) - single}
    lambdas = (_batch_wand_lambdas(ix, wand_q, k)
               if wand and allow_prune and mode == "or" and wand_q
               and not any(c.boosts for c in live.values()) else None)
    allowed = _allowed([ix], doc_filter)
    return _batch_frame(spark, [
        (qid, *_top(*_live([ix], *h, allowed=allowed), k))
        for qid, h in _scores(ix, live, _idfs(td, n, all_terms), avgdl, k,
                              mode, msm, single, lambdas).items()])


def bm25_oracle(
    docs: list[tuple[int, str]], query: str, k: int = 10,
    anomaly: dict[int, float] | None = None,
    anomaly_max: float | None = None,
    anomaly_weight: float = 0.0,
    mode: str = "or",
    min_should_match: int | None = None,
    keep_ids: set[int] | None = None,
    stopwords: set[str] | None = None,
    synonyms: dict[str, list[str]] | None = None,
) -> list[tuple[int, float]]:
    """Exact single-threaded reference implementation over (doc_id, text)
    pairs — the rank-identity oracle for tests. Same tokenizer, same float64
    op order (ascending-term accumulation) as the Spark path; mode="and"
    keeps only docs containing every query term; keep_ids (the doc_filter
    twin) restricts the rankable population — corpus stats (idf, avgdl)
    still come from the FULL corpus, exactly like the index path. The
    query micro-syntax matches the engine: ``pre*`` expands against the
    corpus vocabulary, ``-term``/``-pre*`` exclude docs containing any
    matching term, ``term^2``/``pre*^2`` boost contributions (same c·b
    post-multiplication and precedence as the engine)."""
    stop = set(stopwords or ())
    tokenized = {d: [t for t in _re.findall(TOKEN_PATTERN, t_.lower())
                     if t not in stop] for d, t_ in docs}
    n = len(tokenized)
    avgdl = sum(len(v) for v in tokenized.values()) / max(1, n)
    dfs: Counter[str] = Counter()
    tfs: dict[int, Counter] = {}
    for d, toks in tokenized.items():
        c = Counter(toks)
        tfs[d] = c
        dfs.update(c.keys())
    pq = _parse_query_full(query)
    pq.terms -= stop
    pq.neg_terms -= stop
    terms, prefixes = sorted(pq.terms), sorted(pq.prefixes)
    nterms, nprefixes, qboosts = (sorted(pq.neg_terms),
                                  sorted(pq.neg_prefixes), pq.boosts)
    explicit = list(terms)
    if prefixes:
        terms = sorted(set(terms) | {t for t in dfs
                                     if any(t.startswith(p)
                                            for p in prefixes)})
    fmap = {tok: sorted(t for t in dfs
                        if _edit_distance(tok, t, nv) <= nv)
            for tok, nv in pq.fuzzies.items()}
    if fmap:
        terms = sorted(set(terms) |
                       {t for ts in fmap.values() for t in ts})
    smap: dict[str, list[str]] = {}
    if synonyms:
        for src, alts in synonyms.items():
            s_ = src.strip().lower()
            if s_ not in pq.terms:
                continue
            added = sorted({a.strip().lower() for a in alts} - stop - {""})
            if added:
                smap[s_] = added
        if smap:
            terms = sorted(set(terms) |
                           {a for l in smap.values() for a in l})
    rmap = {pat: sorted(t for t in dfs if _re.fullmatch(pat, t))
            for pat in pq.regexes}
    if rmap:
        terms = sorted(set(terms) |
                       {t for ts in rmap.values() for t in ts})
    if pq.neg_regexes:
        nterms = sorted(set(nterms) | {
            t for pat in pq.neg_regexes
            for t in dfs if _re.fullmatch(pat, t)})
    if nprefixes:
        nterms = sorted(set(nterms) | {t for t in dfs
                                       if any(t.startswith(p)
                                              for p in nprefixes)})
    if pq.neg_fuzzies:
        nterms = sorted(set(nterms) | {
            t for tok, nv in pq.neg_fuzzies.items()
            for t in dfs if _edit_distance(tok, t, nv) <= nv})
    boosts = {t: qboosts[t] for t in explicit if t in qboosts}
    for t in terms:
        if t not in boosts:
            pbs = [qboosts[p] for p in prefixes
                   if p in qboosts and t.startswith(p)]
            pbs += [qboosts[ftok] for ftok, exps in fmap.items()
                    if ftok in qboosts and t in exps]
            pbs += [qboosts[src] for src, alts in smap.items()
                    if src in qboosts and t in alts]
            pbs += [qboosts[pat] for pat, exps in rmap.items()
                    if pat in qboosts and t in exps]
            if pbs:
                boosts[t] = max(pbs)
    scores: dict[int, float] = {}
    for d, c in tfs.items():
        if keep_ids is not None and d not in keep_ids:
            continue
        if nterms and any(t in c for t in nterms):
            continue
        if mode == "and" and any(t not in c for t in terms):
            continue
        if (min_should_match or 0) > 1 and (
                sum(1 for t in set(terms) if t in c) < min_should_match):
            continue
        s = 0.0
        for t in sorted(terms):
            if t not in c or t not in dfs:
                continue
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            tf = float(c[t])
            dl = float(len(tokenized[d]))
            contrib = (idf * (tf * (K1 + 1.0))
                       / (tf + K1 * (1.0 - B + B * dl / avgdl)))
            if t in boosts:
                contrib = contrib * boosts[t]
            s += contrib
        if s > 0.0:
            if anomaly is not None:
                a = anomaly.get(d, 0.0)
                if anomaly_max is not None and a > anomaly_max:
                    continue
                if anomaly_weight:
                    s *= 1.0 - anomaly_weight * a
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def _positional_index(spark: SparkSession, index_dir: str) -> _Index:
    ix = _open(spark, index_dir)
    if not ix.stats.get("has_positions"):
        raise ValueError(
            f"index at {index_dir!r} has no positional layer — build with "
            "build_index(..., positions=True) to enable phrase queries")
    return ix


def _phrase_hits(spark: SparkSession, index_dir: str, phrases: dict[str, str],
                 slop: int, doc_filter: str | None
                 ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Every phrase's matching (doc ids, scores), unranked, on the driver:
    one bucket- and row-group-pruned read of the phrase terms' positional
    rows (`_candidates` over the version's positional part files), each
    row decoded once; per phrase, the candidates are the docs that hold
    every phrase term (the rarest term bounds them), each scored by
    `_row_contrib` per term and verified by `_phrase_score`; pending
    deletes and docs outside the doc_filter drop (`_live`).

    Index-time stoplist: stoplisted phrase tokens were never indexed but
    surviving tokens keep original positions (gap-preserving analysis).
    They drop from the chain while the original span BUDGET stays: "merge
    the scan" matches any ordered merge..scan within span 2 — both "merge
    X scan" and adjacent "merge scan". This is span-budget (sloppy-phrase)
    treatment of the gap, deliberately one notch looser than Lucene's
    exact position-increment match; phrase_oracle implements the
    identical rule."""
    from macrobase_spark.index.codec import decode_positional

    ix = _positional_index(spark, index_dir)
    stop = set(ix.stats.get("stopwords", []))
    seqs, spans = {}, {}
    for qid, p in phrases.items():
        seq_full = _re.findall(TOKEN_PATTERN, p.lower())
        seq = [t for t in seq_full if t not in stop]
        if seq:
            seqs[qid] = seq
            spans[qid] = len(seq_full) - 1 + max(0, int(slop))
    td, avgdl = ix.tdict, ix.stats["avgdl"]
    idf = _idfs(td, ix.stats["n_docs"], {t for s in seqs.values() for t in s})
    # a phrase with an unindexed term can never match
    live = {qid: s for qid, s in seqs.items() if all(t in idf for t in s)}
    if not live:
        return {}
    # per term, over its positional rows: doc ids, tfs, dls, where each
    # doc's positions start in `flat`, and `flat`
    rows: dict[str, list] = {}
    for tbl in _candidates(ix, idf, positional=True):
        for term, blob in zip(tbl["term"].to_pylist(),
                              tbl["blob"].to_pylist()):
            rows.setdefault(term, []).append(decode_positional(blob))
    post = {}
    for t, parts in rows.items():
        ids, tfs, dls, flat = (np.concatenate(c) for c in zip(*parts))
        starts = np.concatenate(([0], np.cumsum(tfs)))[:-1].astype(np.int64)
        o = np.argsort(ids, kind="stable")
        post[t] = (ids[o].astype(np.int64), tfs[o].astype(np.int64), dls[o],
                   starts[o], flat.astype(np.int64))
    out = {}
    for qid, seq in live.items():
        terms = sorted(set(seq), key=lambda t: td.stats[t].df)
        cand = post[terms[0]][0]
        for t in terms[1:]:
            cand = cand[np.isin(cand, post[t][0])]
        parts = {}
        for t in terms:
            ids, tfs, dls, starts, flat = post[t]
            j = np.searchsorted(ids, cand)
            parts[t] = (_row_contrib(cand, tfs[j], dls[j], idf[t], avgdl,
                                     None, 0, False, None)[1],
                        starts[j], tfs[j], flat)
        # a doc without a match scores None, which reads as NaN
        sc = np.array([_phrase_score(
            {t: {"contrib": c[i], "pos": f[s[i]:s[i] + n[i]]}
             for t, (c, s, n, f) in parts.items()}, seq, spans[qid])
            for i in range(len(cand))], dtype=np.float64)
        hit = ~np.isnan(sc)
        out[qid] = (cand[hit], sc[hit])
    allowed = _allowed([ix], doc_filter)
    return {qid: _live([ix], *h, allowed=allowed) for qid, h in out.items()}


def _phrase_score(by_term: dict, seq: list[str], max_span: int
                  ) -> float | None:
    """The phrase `seq`'s score in one doc (`by_term`: term → its gathered
    part), or None when the doc lacks a phrase term or holds no ordered
    match within `max_span`. Greedy ordered match: for each start position
    of the first token, repeatedly take the SMALLEST position of the next
    token strictly after the current one — for a fixed start this
    minimizes the end (exchange argument), so a span-bound match exists
    iff the greedy chain's span fits. slop=0 degenerates to the
    consecutive-phrase check (span == len-1 forces adjacency under
    strictly increasing positions). The score sums the distinct terms'
    contributions in ascending-term order."""
    if any(t not in by_term for t in seq):
        return None
    pos = {t: np.asarray(by_term[t]["pos"], dtype=np.int64) for t in seq}
    starts = cur = pos[seq[0]]
    alive = np.ones(len(starts), dtype=bool)
    for t in seq[1:]:
        nxt = pos[t]
        idx = np.searchsorted(nxt, cur, side="right")
        alive &= idx < len(nxt)
        if not alive.any():
            return None
        cur = nxt[np.minimum(idx, len(nxt) - 1)]
    if not (alive & (cur - starts <= max_span)).any():
        return None
    s = 0.0
    for t in sorted(set(seq)):
        s += float(by_term[t]["contrib"])
    return s


def bm25_phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    doc_filter: str | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Exact phrase/proximity top-k over the positional layer
    (build_index(positions=True)): returns (doc_id, score) for documents
    containing the phrase's tokens IN ORDER at strictly increasing
    positions whose span is at most (len(phrase)−1)+slop — slop=0 is the
    exact consecutive phrase, slop=w allows up to w extra tokens
    interleaved (ordered proximity, Lucene-style sloppy phrase with
    order preserved). Ranked by the BM25 sum of the phrase's distinct
    terms (ascending-term float order — the engine-wide reproducibility
    convention).

    Plan, on the driver: a bucket/row-group-pruned pyarrow read of the
    phrase terms' positional rows → one decode per row → the docs that
    hold every phrase term (the rarest term bounds them, as WAND's
    pivoting does) → per-term contributions and a greedy ordered-match
    verify per candidate (`_phrase_hits`) → top-k. No Spark job runs
    unless a doc_filter is given (one job, `_allowed`).

    doc_filter (SQL expression over docs metadata, see bm25_topk)
    restricts the phrase match to the filtered doc population before
    top-k selection. after=(score, doc_id) is the same search-after
    pagination cursor as bm25_topk's (strict ranking-order position;
    exact across pages).
    """
    if not _re.findall(TOKEN_PATTERN, phrase.lower()):
        return _hits(spark, *_NO_HITS)
    ids, sc = _phrase_hits(spark, index_dir, {"": phrase}, slop,
                           doc_filter).get("", _NO_HITS)
    if after is not None:
        ids, sc = _after(after, ids, sc)
    return _hits(spark, *_top(ids, sc, k))


def phrase_oracle(docs: list[tuple[int, str]], phrase: str,
                  k: int = 10, slop: int = 0,
                  keep_ids: set[int] | None = None,
                  stopwords: set[str] | None = None) -> list[tuple[int, float]]:
    """Single-threaded exact reference for bm25_phrase_topk (same
    tokenizer, same ascending-term float order, same ordered-proximity
    slop semantics — matched by brute force over every start, not the
    greedy chain, so it independently checks the greedy argument).
    keep_ids mirrors doc_filter: restricts the rankable population while
    corpus stats stay global. `stopwords` mirrors the index-time
    stoplist: removed tokens keep their position slot (None — matches
    nothing) while dl/tf/df count survivors, and stoplisted phrase
    tokens shrink the chain but not the span budget."""
    stop = set(stopwords or ())
    seq_full = _re.findall(TOKEN_PATTERN, phrase.lower())
    seq = [t for t in seq_full if t not in stop]
    if not seq:
        return []
    tokenized = {d: [t if t not in stop else None
                     for t in _re.findall(TOKEN_PATTERN, t_.lower())]
                 for d, t_ in docs}
    live = {d: [t for t in toks if t is not None]
            for d, toks in tokenized.items()}
    n = len(tokenized)
    avgdl = sum(len(v) for v in live.values()) / n
    dfs: Counter[str] = Counter()
    tfs: dict[int, Counter] = {}
    for d, toks in live.items():
        c = Counter(toks)
        tfs[d] = c
        dfs.update(c.keys())
    uterms = sorted(set(seq))
    scores: dict[int, float] = {}
    for d, toks in tokenized.items():
        if keep_ids is not None and d not in keep_ids:
            continue
        if any(dfs.get(t, 0) == 0 or t not in tfs[d] for t in uterms):
            continue
        max_span = len(seq_full) - 1 + max(0, int(slop))

        def _matches_from(start: int) -> bool:
            # brute-force DFS over ordered assignments within the span
            def rec(j: int, prev: int) -> bool:
                if j == len(seq):
                    return True
                for p in range(prev + 1, start + max_span + 1):
                    if p < len(toks) and toks[p] == seq[j] and rec(j + 1, p):
                        return True
                return False
            return toks[start] == seq[0] and rec(1, start)

        if not any(_matches_from(i) for i in range(len(toks))):
            continue
        s = 0.0
        dl = float(len(live[d]))
        for t in uterms:
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            tf = float(tfs[d][t])
            s += idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * dl / avgdl))
        scores[d] = s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def bm25_facets(
    spark: SparkSession,
    index_dir: str,
    query: str,
    facets: list[str] | None = None,
    mode: str = "or",
    doc_filter: str | None = None,
    max_expansions: int = 128,
    ranges: dict[str, list[float]] | None = None,
    metrics: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Facet counts over ALL matching documents (not just the top-k) —
    the Lucene/Elasticsearch faceting shape: for each facet column (a
    docs-table metadata column, e.g. role/tool) the number of matching
    docs per value, plus one ('__total__', '', n_matches) row.

    "Matching" follows the query's retrieval semantics exactly: mode='or'
    is any positive term (or prefix expansion), mode='and' every term;
    exclusions (`-term`), field scopes (`role:user`), doc_filter, and
    pending tombstones all restrict the match set the same way they
    restrict bm25_topk's rankable population — so the total row equals
    the number of docs bm25_topk could ever return for this query.

    Plan, all on the driver: the match set (`_match_set`: one kernel run
    over the bucket/row-group-pruned postings of the scored and excluded
    terms, minus pending deletes and docs outside the doc_filter; no
    positions) → a pyarrow read of doc_id and the facet, range and metric
    columns from the version's docs part files (`_docs`) → one pass that
    counts every (facet, label) entry (`_facet_rows`). No Spark job runs
    unless a doc_filter is given (one job, `_allowed`). Value labels
    render as Spark's cast(... as string) renders them. The posting blobs
    of non-query terms are never read.

    Returns (facet string, value string, doc_count long), ordered by
    (facet, doc_count desc, value) with '__total__' first. NULL metadata
    values count under the '(null)' bucket. A query with zero matches —
    including one with no indexable term (stoplist-only, exclusion-only)
    — returns the lone ('__total__', '', 0) row.

    `ranges` adds numeric range facets (Lucene range faceting) over
    numeric docs columns (anomaly, doc_len, turn_idx, …): for
    ``ranges={"anomaly": [0, 0.25, 0.5, 1.0]}`` each matching doc counts
    into its half-open bucket ``[lo,hi)`` (the LAST bucket is closed —
    ``[lo,hi]`` — so the top boundary value is not silently dropped);
    values outside every bucket land in '(out)', NULLs in '(null)'.
    Bucket labels render with 6-digit precision stripped of trailing
    zeros.

    `metrics` adds numeric aggregations over each bucket (and the
    __total__ row) — the Elasticsearch sub-aggregation shape:
    ``metrics={"anomaly": ["avg", "max"]}`` appends `anomaly_avg` /
    `anomaly_max` columns computed over the matching docs in each
    bucket (fns: avg, min, max, sum). A sum, and the sum behind an avg,
    adds the values one at a time in ascending doc_id order, so the float
    result does not depend on how the docs are stored or sharded."""
    return _facets(spark, [index_dir], query, facets, mode, doc_filter,
                   max_expansions, ranges, metrics)


def _facets(spark: SparkSession, index_dirs: list[str], query: str,
            facets: list[str] | None, mode: str, doc_filter: str | None,
            max_expansions: int, ranges: dict[str, list[float]] | None,
            metrics: dict[str, list[str]] | None,
            sharded: str | None = None) -> DataFrame:
    """The facet body of bm25_facets (one handle) and bm25_facets_sharded
    (one per shard; `sharded` names it for the shard refusals)."""
    _check_mode(mode, None)
    facets = facets or []
    ranges = ranges or {}
    metrics = metrics or {}
    if not facets and not ranges:
        raise ValueError(
            "facets: pass at least one docs metadata column (facets=) "
            "or numeric range spec (ranges=)")
    _METRIC_FNS = ("avg", "min", "max", "sum")
    for col, fns in metrics.items():
        bad_fns = [f for f in fns if f not in _METRIC_FNS]
        if bad_fns:
            raise ValueError(
                f"metrics[{col!r}]: unsupported fn(s) {bad_fns!r} — "
                f"supported: {_METRIC_FNS}")
    for col, edges in ranges.items():
        if (len(edges) < 2 or sorted(edges) != list(edges)
                or len(set(edges)) != len(edges)):
            raise ValueError(
                f"ranges[{col!r}]: need >= 2 strictly increasing edges, "
                f"got {edges!r}")
    query, doc_filter = _split_field_scopes(query, doc_filter)
    handles = [_open(spark, d) for d in index_dirs]
    pq = _parse_query_full(query)
    if sharded:
        _check_shards(sharded, handles, pq)
    fcols = list(dict.fromkeys([*facets, *ranges, *metrics]))
    have = set.intersection(*(set(h.docs.columns) for h in handles))
    have.discard("doc_id")
    bad = [c for c in fcols if c not in have]
    if bad:
        raise ValueError(
            f"facets: {bad!r} not docs-metadata columns "
            f"(have {sorted(have)})")
    [cl] = _resolve(handles[0].tdict, handles[0].stats, [pq], mode,
                    max_expansions=max_expansions)
    ids = _match_set(handles, cl, mode, doc_filter=doc_filter)
    meta = _docs(handles, fcols)
    rows = _facet_rows(
        meta.take(np.searchsorted(meta["doc_id"].to_numpy(), ids)), facets,
        ranges, metrics, spark.conf.get("spark.sql.session.timeZone"))
    mcols = [f"{col}_{fn}" for col, fns in sorted(metrics.items())
             for fn in fns]
    types = [pa.string(), pa.string(), pa.int64()] + [pa.float64()] * len(
        mcols)
    return _frame(spark, ", ".join(
        ["facet string, value string, doc_count long"]
        + [f"{c} double" for c in mcols]),
        **{c: pa.array(v, t) for c, v, t in zip(
            ["facet", "value", "doc_count", *mcols], zip(*rows), types)})


def _edge(x: float) -> str:
    """A range-facet edge label: 6-digit precision, trailing zeros
    stripped."""
    s = f"{float(x):.6f}".rstrip("0").rstrip(".")
    return s if s else "0"


def _java_str(x: float, digits: str) -> str:
    """A float as Java's Double/Float.toString renders it (Spark's
    cast(... as string)), from `digits`, its shortest round-trip repr:
    as Python's repr for 1e-3 <= |x| < 1e7 and zero, else d.dddE±n."""
    from decimal import Decimal

    special = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}
    if digits in special or x == 0 or 1e-3 <= abs(x) < 1e7:
        return special.get(digits, digits)
    m, e = f"{Decimal(digits).normalize():E}".split("E")
    return f"{m if '.' in m else m + '.0'}E{int(e)}"


def _spark_str(values: pa.Array, tz: str) -> list:
    """An Arrow array rendered as Spark's cast(... as string) renders it
    (None for NULL): floats as Java's toString, timestamps as
    'yyyy-MM-dd HH:mm:ss[.ffffff]' in the session time zone `tz`, other
    types (strings, integers, booleans, dates) as Arrow casts them."""
    t = values.type
    if pa.types.is_floating(t):
        rep = repr if t == pa.float64() else lambda v: str(np.float32(v))
        return [None if v is None else _java_str(v, rep(v))
                for v in values.to_pylist()]
    if pa.types.is_timestamp(t):
        local = pc.cast(values, pa.timestamp("us", tz if t.tz else None))
        return pc.replace_substring_regex(pc.strftime(
            local, "%Y-%m-%d %H:%M:%S"), r"\.?0+$", "").to_pylist()
    return pc.cast(values, pa.string()).to_pylist()


def _facet_rows(meta, facets: list[str], ranges: dict[str, list[float]],
                metrics: dict[str, list[str]], tz: str) -> list[tuple]:
    """Facet counts and metric sub-aggregations over the match set's docs
    metadata `meta` (in doc_id order), in one pass: each doc counts once
    under every (facet, label) entry — value facets label as Spark's
    cast(... as string) (`_spark_str`), range facets by their half-open
    bucket (the last one closed), values outside every bucket as '(out)',
    NULLs as '(null)' — plus the ('__total__', '') entry. Metrics are over
    cast(col as double), NULLs ignored, and sums add in doc_id order.
    Rows come in (facet, doc_count desc, value) order."""
    entries = [("__total__", np.zeros(meta.num_rows, np.int64), [""])]
    for f in dict.fromkeys(facets):
        enc = pc.dictionary_encode(meta[f].combine_chunks(),
                                   null_encoding="encode")
        entries.append((f, enc.indices.to_numpy(), [
            "(null)" if v is None else v
            for v in _spark_str(enc.dictionary, tz)]))
    for f, edges in ranges.items():
        x = np.array(pc.cast(meta[f], pa.float64()).fill_null(0), np.float64)
        nb = len(edges) - 1
        b = np.searchsorted(np.asarray(edges, np.float64), x, "right") - 1
        b[x == edges[-1]] = nb - 1
        b[(b < 0) | (b >= nb)] = nb
        b[np.asarray(pc.is_null(meta[f]))] = nb + 1
        entries.append((f, b, [
            f"[{_edge(lo)},{_edge(hi)}" + ("]" if i == nb - 1 else ")")
            for i, (lo, hi) in enumerate(zip(edges, edges[1:]))]
            + ["(out)", "(null)"]))
    # (facet, label) → its rows; two entries can share a label (a column
    # faceted by value and by range)
    groups: dict[tuple[str, str], list[np.ndarray]] = {}
    for f, codes, labels in entries:
        counts = np.bincount(codes, minlength=len(labels))
        for label, rows in zip(labels, np.split(
                np.argsort(codes, kind="stable"), np.cumsum(counts)[:-1])):
            if len(rows) or f == "__total__":
                groups.setdefault((f, label), []).append(rows)
    vals = {c: pc.cast(meta[c], pa.float64()) for c in metrics}
    vals = {c: (np.array(x.fill_null(0), np.float64),
                ~np.asarray(pc.is_null(x))) for c, x in vals.items()}
    out = []
    for (f, label), parts in groups.items():
        rows = np.sort(np.concatenate(parts))
        aggs = []
        for c, fns in sorted(metrics.items()):
            v = vals[c][0][rows[vals[c][1][rows]]]
            if not len(v):
                aggs += [None] * len(fns)
                continue
            total = float(np.cumsum(v)[-1])
            got = {"sum": total, "avg": total / len(v),
                   "min": float(v.min()), "max": float(v.max())}
            aggs += [got[fn] for fn in fns]
        out.append((f, label, len(rows), *aggs))
    return sorted(out, key=lambda r: (r[0], -r[2], r[1]))


def bm25_explain(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    doc_ids: list[int] | None = None,
    max_expansions: int = 128,
    **topk_kwargs,
) -> DataFrame:
    """Per-term scoring breakdown (Lucene Explanation): for each of the
    query's top-k docs (or an explicit doc_ids list), one row per
    contributing term with every input to the BM25 formula:

        (doc_id, term, tf, dl, df, idf, boost, contrib)

    where contrib = idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) · boost —
    summing contrib over a doc's rows reproduces bm25_topk's raw score
    bit-for-bit when summed in ascending-term order (the engine-wide
    float convention), which the identity test pins.

    Plan: one bm25_topk pass selects the target docs (skipped when
    doc_ids is given), then the query terms' candidate rows (the driver
    read of `_candidates`) are decoded on the driver and filtered to the
    target ids; the rows come back as a local DataFrame. The terms and
    boosts come from the same resolver as bm25_topk's, so synonym
    alternates (``synonyms=`` in **topk_kwargs)
    get their own rows. Anomaly/sort modifiers affect WHICH docs are
    selected via **topk_kwargs, not the raw contributions shown."""
    from macrobase_spark.index.build import _decode_partial

    query, doc_filter = _split_field_scopes(
        query, topk_kwargs.pop("doc_filter", None))
    ix = _open(spark, index_dir)
    stats = ix.stats
    [(terms, _, boosts)] = _resolve(
        ix.tdict, stats, [_parse_query_full(query)],
        synonyms=topk_kwargs.get("synonyms"), max_expansions=max_expansions)
    out_schema = ("doc_id long, term string, tf double, dl double, "
                  "df double, idf double, boost double, contrib double")
    if not terms:
        return spark.createDataFrame([], out_schema)
    if doc_ids is None:
        hits = bm25_topk(spark, index_dir, query, k=k,
                         doc_filter=doc_filter,
                         max_expansions=max_expansions,
                         **topk_kwargs).select("doc_id").collect()
        doc_ids = [r["doc_id"] for r in hits]
    if not doc_ids:
        return spark.createDataFrame([], out_schema)
    target = np.sort(np.asarray(sorted(set(int(d) for d in doc_ids)),
                                dtype=np.int64))
    n, avgdl = stats["n_docs"], stats["avgdl"]
    dfs = {t: float(ix.tdict.stats[t].df) for t in terms
           if t in ix.tdict.stats}
    bmap = dict(boosts)
    frames = []
    for tbl in _candidates(ix, terms):
        cols = tbl.to_pydict()
        for term, blob in zip(cols["term"], cols["blob"]):
            dfv = dfs[term]
            ids, tfs, dls = _decode_partial(blob)
            # int64 like the target ids: numpy's isin fails on a uint64
            # array against a negative int64 id
            ids = ids.astype(np.int64)
            keep = np.flatnonzero(np.isin(ids, target, assume_unique=True))
            if len(keep) == 0:
                continue
            tf = tfs[keep].astype(np.float64)
            dl = dls[keep].astype(np.float64)
            idf = math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
            b = bmap.get(term, 1.0)
            contrib = (idf * (tf * (K1 + 1.0))
                       / (tf + K1 * (1.0 - B + B * dl / avgdl))) * b
            frames.append(pd.DataFrame({
                "doc_id": ids[keep],
                "term": term, "tf": tf, "dl": dl,
                "df": dfv, "idf": idf, "boost": b,
                "contrib": contrib}))
    if not frames:
        return spark.createDataFrame([], out_schema)
    return spark.createDataFrame(pd.concat(frames, ignore_index=True)
                                 .sort_values(["doc_id", "term"]), out_schema)


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    source_df: DataFrame,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 2,
    include_self: bool = False,
    **topk_kwargs,
) -> DataFrame:
    """Find documents similar to a seed document (Lucene MoreLikeThis):
    extract the seed's most informative terms by tf·idf, then run them as
    an ordinary disjunctive BM25 query.

    `source_df` is the corpus the index was built from (the index stores
    postings, not text) — the seed text is fetched with a doc_id pushdown
    filter, so at 100 TB this reads one document's row group. Term
    selection is driver-side over that ONE document: tf from its token
    list, df from the index's term dictionary (no Spark job), ranked by
    tf·idf with (−tfidf, term) tiebreak so the query is deterministic.
    Terms below min_tf/min_df are dropped (Lucene's noise gates); the
    top max_query_terms survive.

    The result is bm25_topk's output for that derived query (every
    modifier — doc_filter, mode, anomaly, after — passes through via
    **topk_kwargs); the seed itself is excluded unless include_self=True.
    Returns (doc_id, score)."""
    # executeTake short-circuit: the pushed-down doc_id filter hits one row
    # group; limit(1) stops the scan at the first partition that yields the
    # row instead of scanning every input split (same result — the old path
    # also used only rows[0])
    rows = (source_df.filter(F.col("doc_id") == int(doc_id))
            .select("text").limit(1).collect())
    if not rows:
        raise ValueError(f"more_like_this: doc_id {doc_id} not found in "
                         "source_df")
    toks = _re.findall(TOKEN_PATTERN, (rows[0]["text"] or "").lower())
    tf = Counter(toks)
    cand = sorted(t for t, c in tf.items() if c >= min_tf)
    out_schema = "doc_id long, score double"
    if not cand:
        return spark.createDataFrame([], out_schema)
    ix = _open(spark, index_dir)
    n, tstats = ix.stats["n_docs"], ix.tdict.stats
    ranked = sorted(
        ((tf[t] * _idf(n, tstats[t].df), t) for t in cand
         if t in tstats and tstats[t].df >= min_df),
        key=lambda x: (-x[0], x[1]))
    terms = sorted(t for _, t in ranked[:max_query_terms])
    if not terms:
        return spark.createDataFrame([], out_schema)
    hits = bm25_topk(spark, index_dir, " ".join(terms),
                     k=k + (0 if include_self else 1), **topk_kwargs)
    if include_self:
        return hits
    # drop the seed from the k+1 collected hits on the driver
    rows = sorted((r.asDict() for r in hits.collect()
                   if r["doc_id"] != int(doc_id)),
                  key=lambda r: (-r["score"], r["doc_id"]))[:k]
    return spark.createDataFrame(pa.Table.from_pylist(
        rows, schema=to_arrow_schema(hits.schema)), hits.schema)


def bm25_topk_sharded(
    spark: SparkSession,
    index_dirs: list[str],
    query: str,
    k: int = 10,
    mode: str = "or",
    doc_filter: str | None = None,
) -> DataFrame:
    """Top-k over a corpus SHARDED across several physical indexes
    (time-partitioned transcript eras, per-tenant shards, rolling
    windows) — scored with GLOBAL statistics so the ranking is
    bit-identical to one monolithic index over the union corpus: the
    Lucene MultiReader / Elasticsearch DFS-query-then-fetch shape.

    Global stats: n_docs and avgdl from the shards' persisted integer
    counts; per-term df summed across the shards' term dictionaries on
    the driver (no metadata job). Scoring is one kernel run per shard
    over its bucket-pruned candidate rows, with the global idfs — a doc
    lives in exactly one shard (caller contract: globally unique
    doc_ids), so its whole ascending-term sum and its exclusions are
    computed in that shard's run, the union of the shards' (doc_id,
    score) rows is exact, and the ranking reproduces the monolithic
    float order (identity pinned in pytest). The top-k is taken on the
    driver, and only a doc_filter runs a Spark job (one per call).

    Supports mode='and'/'or', field scopes, exclusions, doc_filter
    (one job over the union of the shards' docs tables), stoplists (which
    must be IDENTICAL across shards — mixing analyzers raises), and
    pending tombstones per shard. Wildcards / fuzzy / boosts are not supported
    in v1 — expand them per query via bm25_topk, or pre-expand.
    Block pruning is disabled (per-shard block-max bounds were computed
    under per-shard stats)."""
    _check_mode(mode, None)
    if not index_dirs:
        raise ValueError("index_dirs: pass at least one index")
    query, doc_filter = _split_field_scopes(query, doc_filter)
    handles = [_open(spark, d) for d in index_dirs]
    pq = _parse_query_full(query)
    _check_shards("bm25_topk_sharded", handles, pq)
    [clauses] = _resolve(handles[0].tdict, handles[0].stats, [pq], mode)
    if not clauses.terms:
        return _hits(spark, *_NO_HITS)
    n_docs = sum(h.stats["n_docs"] for h in handles)
    sum_dl = sum(h.stats.get("sum_dl", h.stats["avgdl"] * h.stats["n_docs"])
                 for h in handles)
    # the global df of a term is the sum of the shards' dictionary dfs
    dfs: Counter[str] = Counter()
    for h in handles:
        for t in clauses.terms:
            if t in h.tdict.stats:
                dfs[t] += h.tdict.stats[t].df
    idfs = {t: _idf(n_docs, d) for t, d in dfs.items()}
    hits = [_scores(h, {"": clauses}, idfs, sum_dl / n_docs,
                    mode=mode).get("", _NO_HITS) for h in handles]
    ids, sc = _top(*_live(handles, np.concatenate([i for i, _ in hits]),
                          np.concatenate([s for _, s in hits]),
                          allowed=_allowed(handles, doc_filter)), k)
    return _hits(spark, ids, sc)


def bm25_phrase_topk_batch(
    spark: SparkSession,
    index_dir: str,
    phrases: dict[str, str] | list[str],
    k: int = 10,
    slop: int = 0,
    doc_filter: str | None = None,
) -> DataFrame:
    """Top-k for MANY phrase queries in one positional read — the batch
    twin of bm25_phrase_topk (same span-budget semantics, same
    ascending-term scores, pytest-pinned bit-identical per query): one
    bucket/row-group-pruned read and decode of the union of every
    phrase's terms, then each phrase's candidates, verify and top-k on the
    driver (`_phrase_hits`). Returns (query_id, doc_id, score, rank).
    slop and doc_filter apply to every phrase in the batch; only a
    doc_filter runs a Spark job (one per call)."""
    if isinstance(phrases, list):
        phrases = {str(i): p for i, p in enumerate(phrases)}
    return _batch_frame(spark, [
        (qid, *_top(ids, sc, k)) for qid, (ids, sc) in _phrase_hits(
            spark, index_dir, phrases, slop, doc_filter).items()])


def bm25_count(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "or",
    min_should_match: int | None = None,
    doc_filter: str | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """Number of documents matching the query under full retrieval
    semantics (mode / min_should_match / exclusions / field scopes /
    doc_filter / tombstones) — a one-row (n_matches long) relation: the
    size of bm25_match_ids' match set, so it shares the resolver and the
    match set with bm25_match_ids and bm25_facets. It is counted on the
    driver, with no positions and no docs-metadata read; a doc_filter adds
    its one Spark job (`_allowed`), which runs only when some doc matches.
    A query no document can match (no indexable term, or
    min_should_match above the term count) counts 0."""
    return _frame(spark, "n_matches long", n_matches=[len(_match_ids(
        spark, index_dir, query, mode, min_should_match, doc_filter,
        max_expansions))])


def bm25_match_ids(
    spark: SparkSession,
    index_dir: str,
    query: str,
    mode: str = "or",
    min_should_match: int | None = None,
    doc_filter: str | None = None,
    max_expansions: int = 128,
) -> DataFrame:
    """EVERY matching doc_id — the scroll/export shape that feeds a
    downstream pipeline stage ("drop all docs matching these boilerplate
    queries", "re-embed everything mentioning X") rather than a results
    page. Same full retrieval semantics as bm25_count over the same
    match set (one driver-side kernel run, no positions read, no top-k
    limit, plus the doc_filter's one Spark job when there is one): the
    result is a local (doc_id) relation in ascending doc_id order, to
    join/anti-join against the corpus. For a ranked export use bm25_topk
    with a large k instead."""
    return _frame(spark, "doc_id long", doc_id=_match_ids(
        spark, index_dir, query, mode, min_should_match, doc_filter,
        max_expansions))


def _match_ids(spark: SparkSession, index_dir: str, query: str, mode: str,
               min_should_match: int | None, doc_filter: str | None,
               max_expansions: int) -> np.ndarray:
    """bm25_count's and bm25_match_ids' match set, the query's field
    scopes folded into the doc_filter."""
    msm = _check_mode(mode, min_should_match)
    query, doc_filter = _split_field_scopes(query, doc_filter)
    handles = [_open(spark, index_dir)]
    [cl] = _resolve(handles[0].tdict, handles[0].stats,
                    [_parse_query_full(query)], mode, msm,
                    max_expansions=max_expansions)
    return _match_set(handles, cl, mode, msm, doc_filter)


def hybrid_topk(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame | None,
    query: str,
    query_vec: list[float],
    k: int = 10,
    depth: int = 60,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    ann_index: str | None = None,
    ann_kind: str = "ivf",
    n_probe: int = 4,
    **topk_kwargs,
) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion: run
    BM25 top-`depth` over the index AND exact cosine top-`depth` of
    `query_vec` against the `vectors` table (id_col must be the same
    doc_id space), then fuse with the standard RRF formula

        rrf(d) = Σ_runs 1 / (rrf_k + rank_run(d))

    (docs absent from a run contribute nothing for it — the
    rank-fusion default). Returns (doc_id, rrf_score, bm25_rank,
    cos_rank) top-k by (rrf desc, doc_id asc) — deterministic because
    both input rankings are. Every bm25_topk option (mode, doc_filter,
    field scopes, …) passes through via **topk_kwargs and restricts the
    LEXICAL run only; the semantic run is pure nearest-neighbor.

    Both runs are `depth`-bounded (the serving pattern: fuse two cheap
    deep-ish lists rather than score the union exactly); the fusion
    itself is driver-free — a full-outer join of two k-scale relations.

    The semantic run scans the `vectors` table exactly (brute force) —
    OR, with ``ann_index=`` set, queries a PERSISTED ANN index instead
    (`ann_kind` 'ivf' or 'lsh' — pipelines.similarity ivf_build/
    lsh_build output; `vectors` is then ignored and may be None): the
    100 TB semantic leg, cell/bucket-pruned instead of scanned. At
    full probe (n_probe = the index's n_centroids) IVF is exact, so
    ANN-hybrid equals brute-hybrid bit-for-bit — pytest-pinned."""
    from pyspark.sql import Window as W

    from macrobase_spark.pipelines.similarity import cosine_topk_bruteforce

    lex = (bm25_topk(spark, index_dir, query, k=depth, **topk_kwargs)
           .select("doc_id",
                   F.row_number().over(
                       W.orderBy(F.col("score").desc(),
                                 F.col("doc_id").asc()))
                   .alias("bm25_rank")))
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in query_vec])],
        "q_id long, q_vec array<double>")
    if ann_index is not None:
        from macrobase_spark.pipelines.similarity import ivf_query, lsh_query

        if ann_kind == "ivf":
            raw = ivf_query(spark, ann_index, qdf, k=depth,
                            n_probe=n_probe)
        elif ann_kind == "lsh":
            raw = lsh_query(spark, ann_index, qdf, k=depth)
        else:
            raise ValueError(
                f"ann_kind must be 'ivf' or 'lsh', got {ann_kind!r}")
        sem = raw.select(F.col("vec_id").alias("doc_id"),
                         F.col("rank").alias("cos_rank"))
    else:
        if vectors is None:
            raise ValueError(
                "hybrid_topk: pass a vectors DataFrame (brute force) or "
                "ann_index= (persisted ANN)")
        sem = (cosine_topk_bruteforce(vectors, qdf, k=depth,
                                      id_col=id_col, vec_col=vec_col)
               .select(F.col(id_col).alias("doc_id"),
                       F.col("rank").alias("cos_rank")))
    fused = (lex.join(sem, "doc_id", "full")
             .withColumn(
                 "rrf_score",
                 F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")),
                            F.lit(0.0))
                 + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("cos_rank")),
                              F.lit(0.0))))
    return (fused.select("doc_id", "rrf_score", "bm25_rank", "cos_rank")
            .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
            .limit(k))


def bm25_facets_sharded(
    spark: SparkSession,
    index_dirs: list[str],
    query: str,
    facets: list[str] | None = None,
    mode: str = "or",
    doc_filter: str | None = None,
    max_expansions: int = 128,
    ranges: dict[str, list[float]] | None = None,
    metrics: dict[str, list[str]] | None = None,
) -> DataFrame:
    """bm25_facets over a sharded corpus (see bm25_topk_sharded): the
    same facet body over one index handle per shard. Facet membership is
    stats-free (a doc matches in exactly one shard), so the result is
    IDENTICAL to a monolithic index over the union — pytest-pinned, the
    empty cases included. Each shard contributes its match set and its
    docs part files; the match sets and docs columns concatenate, then
    the same facet pass runs. Mixed stoplists refuse loudly (they change
    which query terms exist); wildcard / fuzzy / regexp / boost tokens
    are rejected as in bm25_topk_sharded."""
    if not index_dirs:
        raise ValueError("index_dirs: pass at least one index")
    return _facets(spark, index_dirs, query, facets, mode, doc_filter,
                   max_expansions, ranges, metrics,
                   sharded="bm25_facets_sharded")
