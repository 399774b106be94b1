"""Query model, classic-syntax parser and rewrite rules.

Driver-side only (pure Python, never in the data plane — SURVEY.md §2.4
"Query parsing (classic)"). Mirrors the semantics of:

- `[U] lucene/queryparser/.../classic/QueryParser.jj` — the
  ``field:term``/``AND``/``OR``/``NOT``/``"phrase"``/parens subset,
  default operator OR (bare terms become SHOULD clauses);
- `[U] lucene/core/.../search/BooleanQuery.java :: rewrite` — the
  simplification pass (single-SHOULD unwrap, nested flatten, clause
  dedup);
- `[U] lucene/core/.../search/PhraseQuery.java` — phrase weight uses
  the SUM of constituent term idfs and the phrase occurrence count as
  tf.

Scoring semantics encoded here and honored by both the Spark engine
and the test oracle:

- SHOULD: union; matching clause scores SUM (DisjunctionSumScorer).
- MUST: intersection; scores sum. MUST + SHOULD: SHOULD adds optional
  score to docs that satisfy all MUSTs.
- MUST_NOT: excluded, contributes no score
  (`[U] .../search/ReqExclScorer.java`).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from typing import Callable, Iterator, List, Tuple, Union

from ..analysis import tokenize, tokenize_for_phrase

__all__ = [
    "Query",
    "TermQuery",
    "PhraseQuery",
    "BooleanQuery",
    "MatchAllQuery",
    "ConstantScoreQuery",
    "DisjunctionMaxQuery",
    "MultiTermQuery",
    "MultiPhraseQuery",
    "SpanFirstQuery",
    "SpanOrQuery",
    "SpanNotQuery",
    "ComplexPhraseQuery",
    "parse_complex_phrase",
    "expand_phrase_slot",
    "parse_query",
    "rewrite",
    "query_terms",
    "leaves",
    "map_leaves",
    "node_terms",
    "expand_multiterm",
    "scan_predicates",
    "sloppy_phrase_freq",
    "multiterm_predicate",
    "scan_prefix",
    "wildcard_to_regex",
    "levenshtein",
]

DEFAULT_FIELD = "content"


@dataclass(frozen=True)
class TermQuery:
    term: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class PhraseQuery:
    terms: Tuple[str, ...]
    field: str = DEFAULT_FIELD
    boost: float = 1.0
    slop: int = 0


@dataclass(frozen=True)
class MultiPhraseQuery:
    """Exact phrase where each position admits ALTERNATIVE terms
    (`[U] lucene/core/.../search/MultiPhraseQuery.java` — the query
    behind query-time synonym-expanded phrases). ``slots`` is one
    tuple of alternatives per phrase position; the weight is
    boost * Σ idf over EVERY alternative in slot order (Lucene's
    MultiPhraseWeight collects allTermStats), tf counts anchor
    positions where every slot matches one of its alternatives.
    Slop > 0 is not modeled (Lucene's UnionPostingsEnum sloppy case) —
    exact adjacency only, the dominant synonym-phrase shape."""

    slots: Tuple[Tuple[str, ...], ...]
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAllQuery:
    boost: float = 1.0


@dataclass(frozen=True)
class BooleanQuery:
    should: Tuple["Query", ...] = field(default=())
    must: Tuple["Query", ...] = field(default=())
    must_not: Tuple["Query", ...] = field(default=())
    #: minimumShouldMatch (`[U] .../search/MinShouldMatchSumScorer.java`,
    #: folded into WANDScorer in 8.x): >= this many SHOULD clauses must
    #: match (in addition to all MUSTs). 0/1 == plain disjunction.
    min_should_match: int = 0


@dataclass(frozen=True)
class DisjunctionMaxQuery:
    """Score = max(clause scores) + tiebreak * sum(other matching
    clause scores) (`[U] .../search/DisjunctionMaxQuery.java`)."""

    clauses: Tuple["Query", ...]
    tiebreak: float = 0.0


@dataclass(frozen=True)
class ConstantScoreQuery:
    """All docs matching ``query`` score exactly ``boost``
    (`[U] .../search/ConstantScoreQuery.java`; also the default
    CONSTANT_SCORE rewrite target of MultiTermQuery)."""

    query: "Query"
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirstQuery:
    """Span-family position filter (`[U] lucene/core/.../search/spans/
    SpanFirstQuery.java` over a `SpanTermQuery.java` inner): the term
    must occur within the first ``end`` positions of the field. A
    qualifying occurrence is a span with end() <= ``end`` — for a term
    span at position p that is p + 1 <= end, i.e. p < end. freq = the
    number of qualifying occurrences (each term span contributes
    sloppyFreq(0) = 1), scored with the term's own BM25 weight (the
    inner SpanTermQuery's collection stats — FULL df, not the
    position-filtered df). The ordered SpanNearQuery case is already
    covered by PhraseQuery(slop=...) — sloppy_phrase_freq IS the
    NearSpansOrdered per-anchor minimal-span semantics."""

    term: str
    end: int
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOrQuery:
    """`[U] lucene/core/.../search/spans/SpanOrQuery.java` over
    SpanTermQuery clauses: the span stream is the union of every
    clause's term spans. As a top-level scored query each span
    contributes sloppyFreq(0) = 1, so freq = Σ clause tf (spans at the
    SAME position from stacked tokens are distinct spans and each
    count), and SpanOrWeight's buildSimWeight collects EVERY clause
    term's stats: weight = boost * Σ idf in clause order (allTermStats,
    like MultiPhraseWeight)."""

    terms: Tuple[str, ...]
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNotQuery:
    """`[U] lucene/core/.../search/spans/SpanNotQuery.java` with term
    include/exclude spans: include occurrences survive unless an
    exclude occurrence lies within ``pre`` positions before or ``post``
    positions after (overlap window [p-pre, p+post] for single-token
    spans). freq = surviving occurrences; the weight is the INCLUDE
    term's own stats — createWeight builds the exclude weight with
    ScoreMode.COMPLETE_NO_SCORES and hands only the include term
    states to buildSimWeight."""

    term: str
    exclude: str
    pre: int = 0
    post: int = 0
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class MultiTermQuery:
    """Term-dict-expanded query (`[U] .../search/MultiTermQuery.java`):
    prefix / wildcard / regexp / range rewrite to a CONSTANT-SCORE
    union of matching terms; fuzzy rewrites to a SCORED disjunction of
    the ``max_expansions`` nearest terms ordered by (edit distance,
    term) — deterministic stand-in for Lucene's blended top-terms
    rewrite, mirrored exactly by the test oracle.

    Documented deviation: the edit distance is PLAIN Levenshtein
    (shared by the engine predicate, Spark's pushdown pruning filter,
    and the DuckDB oracles), while Lucene 8's FuzzyQuery defaults to
    transpositions=true (Damerau/OSA: 'ab'->'ba' is ONE edit). A
    transposed-pair neighbor at the edit boundary can therefore be
    excluded here where Lucene would admit it — engine and every
    oracle stay in lockstep on the plain metric."""

    kind: str                 # prefix | wildcard | regexp | fuzzy | range
    pattern: str = ""         # prefix text / wildcard / regex / fuzzy term
    field: str = DEFAULT_FIELD
    boost: float = 1.0
    max_edits: int = 2
    max_expansions: int = 50
    lo: str = ""              # range bounds ("" == open)
    hi: str = ""
    include_lo: bool = True
    include_hi: bool = True
    #: TOP_TERMS scoring rewrite (`[U] .../search/MultiTermQuery.java
    #: :: TopTermsScoringBooleanQueryRewrite`): expand to a SCORED
    #: BM25 disjunction of the matching terms instead of the
    #: constant-score bitset (Solr's rewriteMethod=topTerms)
    scoring_rewrite: bool = False


@dataclass(frozen=True)
class ComplexPhraseQuery:
    """Phrase whose slots may be multiterm subqueries (`[U] lucene/
    queryparser/.../complexPhrase/ComplexPhraseQueryParser.java`,
    surfaced as Solr's ``{!complexphrase}``): ``"jo* smith~2"`` matches
    docs where some anchor position satisfies every slot. Lucene
    rewrites the phrase to SpanNearQuery(spanOr(expanded terms per
    slot), slop=0, inOrder=true); with exact adjacency that is
    precisely MultiPhraseQuery semantics — per-slot union postings
    (UnionPostingsEnum) and a weight over allTermStats — so the engine
    expands each multiterm slot against the term dictionary
    (IndexReader._matching_terms, capped at ``max_expansions``) via
    expand_phrase_slot and hands the result to the MultiPhraseQuery
    path. Slop > 0 is not modeled, matching MultiPhraseQuery above.

    ``parts``: one literal term (str) or MultiTermQuery per slot."""

    parts: Tuple[Union[str, MultiTermQuery], ...]
    field: str = DEFAULT_FIELD
    boost: float = 1.0


Query = Union[TermQuery, PhraseQuery, MultiPhraseQuery, BooleanQuery,
              MatchAllQuery, ConstantScoreQuery, MultiTermQuery,
              DisjunctionMaxQuery, ComplexPhraseQuery, SpanOrQuery,
              SpanNotQuery]


# ------------------------------------------------- multi-term expansion

def wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


_REGEX_META = set(".^$*+?{}[]()|\\")


def scan_prefix(q: MultiTermQuery) -> str:
    """Longest LITERAL term prefix implied by a multiterm pattern — the
    Catalyst scan pushdown, a guaranteed SUPERSET filter. The Python
    ``multiterm_predicate`` stays the single source of match truth:
    evaluating the user pattern via Spark's Java regex dialect could
    silently drop terms wherever the two dialects diverge (ADVICE r1)."""
    if q.kind == "prefix":
        return q.pattern
    if q.kind == "wildcard":
        out = []
        for ch in q.pattern:
            if ch in "*?\\":
                break
            out.append(ch)
        return "".join(out)
    if q.kind == "regexp":
        out = []
        p = q.pattern
        i = 0
        while i < len(p):
            if p[i] in _REGEX_META:
                break
            if i + 1 < len(p) and p[i + 1] in "*+?{":
                break  # quantifier binds to this char — not literal
            out.append(p[i])
            i += 1
        return "".join(out)
    return ""


def levenshtein(a: str, b: str, cap: int = 8) -> int:
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def sloppy_phrase_freq(positions, slop: int) -> float:
    """Ordered sloppy-phrase pseudo-freq, SHARED by engine and oracle.

    Semantics (documented simplification of `[U] .../search/
    SloppyPhraseMatcher.java` — ordered matches only, no term
    reordering): starting at each occurrence p0 of the first term,
    greedily take the smallest q_i > q_{i-1} for each following term;
    matchLength = q_last - p0 - (n-1); a match needs matchLength <=
    slop and contributes sloppyFreq = 1/(1+matchLength)
    (`[U] .../search/similarities/Similarity.SimScorer` weighting).
    ``positions``: one ascending position array per phrase term.
    """
    import bisect

    n = len(positions)
    freq = 0.0
    for p0 in positions[0]:
        prev = p0
        ok = True
        for i in range(1, n):
            arr = positions[i]
            j = bisect.bisect_right(arr, prev)
            if j >= len(arr):
                ok = False
                break
            prev = arr[j]
        if ok:
            match_len = prev - p0 - (n - 1)
            if match_len <= slop:
                freq += 1.0 / (1.0 + match_len)
    return freq


def multiterm_predicate(q: MultiTermQuery):
    """-> term -> bool, the Python-side term-dict matcher (the oracle's
    expansion; the engine pushes the equivalent filter into the
    postings scan — see IndexReader._expand)."""
    if q.kind == "prefix":
        return lambda t: t.startswith(q.pattern)
    if q.kind == "wildcard":
        rx = re.compile(wildcard_to_regex(q.pattern))
        return lambda t: rx.fullmatch(t) is not None
    if q.kind == "regexp":
        rx = re.compile(q.pattern)
        return lambda t: rx.fullmatch(t) is not None
    if q.kind == "fuzzy":
        return lambda t: levenshtein(t, q.pattern) <= q.max_edits
    if q.kind == "range":
        def pred(t: str) -> bool:
            if q.lo:
                if t < q.lo or (t == q.lo and not q.include_lo):
                    return False
            if q.hi:
                if t > q.hi or (t == q.hi and not q.include_hi):
                    return False
            return True
        return pred
    raise ValueError(f"unknown multiterm kind {q.kind!r}")


def expand_multiterm(q: MultiTermQuery, matching_terms: List[str]) -> "Query":
    """FUZZY expansion: matching terms -> scored disjunction of the
    nearest ``max_expansions``. BOTH the engine and the oracle build the
    replacement through this one function, so the float32 summation
    order (sorted terms) is identical by construction.

    The constant-score kinds (prefix/wildcard/regexp/range) are NOT
    expanded into clause lists at all — 'spar*' can match thousands of
    terms and Lucene solves this with a per-segment bitset rewrite
    (CONSTANT_SCORE_REWRITE), not maxClauseCount-bounded booleans. Here
    the MultiTermQuery node flows to the scorer, its predicate pushed
    into the postings scan (Catalyst StartsWith/RLike/range filters),
    and the kernel unions matching terms' doc lists per segment — no
    driver-side O(matching terms) anywhere."""
    if q.kind != "fuzzy" and not q.scoring_rewrite:
        return ConstantScoreQuery(
            MultiTermQuery(q.kind, q.pattern, q.field, 1.0, q.max_edits,
                           q.max_expansions, q.lo, q.hi,
                           q.include_lo, q.include_hi),
            q.boost,
        )
    ranked = sorted(matching_terms, key=lambda t: (levenshtein(t, q.pattern), t))
    chosen = ranked[: q.max_expansions]
    if not chosen:
        return BooleanQuery()
    return rewrite(BooleanQuery(
        should=tuple(TermQuery(t, q.field, q.boost) for t in sorted(chosen))
    ))


def expand_phrase_slot(mq: MultiTermQuery, matching_terms: List[str]) -> Tuple[str, ...]:
    """One ComplexPhraseQuery multiterm slot -> its alternative-term
    tuple. BOTH the engine and the oracle build slots through this one
    function: rank (edit distance to the written pattern, term), keep
    ``max_expansions`` (Lucene's TopTermsRewrite cap inside spanOr),
    then SORT — the deterministic slot order shared with
    expand_multiterm's fuzzy rewrite. Under the cap (the common case)
    the slot is simply the sorted matching-term set."""
    ranked = sorted(matching_terms, key=lambda t: (levenshtein(t, mq.pattern), t))
    return tuple(sorted(ranked[: mq.max_expansions]))


_CP_FUZZY_RE = re.compile(r"^(?P<base>[^~*?]+)~(?P<edits>[012])?$")


def parse_complex_phrase(body: str, field: str = DEFAULT_FIELD,
                         boost: float = 1.0, max_expansions: int = 50,
                         analyzer: str = "standard") -> ComplexPhraseQuery:
    """Parse the QUOTED-phrase body of a ``{!complexphrase}`` query
    (`[U] lucene/queryparser/.../complexPhrase/ComplexPhraseQueryParser
    .java :: ComplexPhraseQuery.parsePhraseElements`): whitespace-split
    slots; ``tok~N`` is a fuzzy slot (default 2 edits), a token holding
    ``*``/``?`` a wildcard slot, anything else a literal term run
    through the FIELD's phrase analyzer (Lucene analyzes phrase
    elements with the field analyzer — a stemming chain must stem the
    literal slots)."""
    parts: List[Union[str, MultiTermQuery]] = []
    for tok in body.split():
        m = _CP_FUZZY_RE.match(tok)
        if m:
            parts.append(MultiTermQuery(
                "fuzzy", m.group("base").lower(), field,
                max_edits=int(m.group("edits") or 2),
                max_expansions=max_expansions))
        elif "*" in tok or "?" in tok:
            parts.append(MultiTermQuery(
                "wildcard", tok.lower(), field,
                max_expansions=max_expansions))
        else:
            parts.extend(tokenize_for_phrase(tok, analyzer))
    return ComplexPhraseQuery(tuple(parts), field, boost)


def scan_predicates(q: "Query") -> List[MultiTermQuery]:
    """Constant-score MultiTermQuery nodes remaining in the tree (their
    term-dict predicates must be OR'd into the postings scan filter)."""
    return [n for n in leaves(q) if isinstance(n, MultiTermQuery)]


# ---------------------------------------------------------------- parser

_TOKEN_SPEC = re.compile(
    r"""\s*(?:
        (?P<lparen>\() | (?P<rparen>\)) |
        (?P<regex>/(?:[^/\\\s]|\\.)+/) |
        (?P<lbracket>[\[\{]) | (?P<rbracket>[\]\}]) |
        (?P<and>AND\b) | (?P<or>OR\b) | (?P<not>NOT\b|-) | (?P<must>\+) |
        (?P<phrase>"[^"]*") |
        (?P<fieldname>[A-Za-z_][A-Za-z0-9_]*(?=:)) | (?P<colon>:) |
        (?P<word>[^\s()":\[\]{}]+)
    )""",
    re.VERBOSE,
)


class _Lexer:
    def __init__(self, text: str):
        self.tokens: List[Tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_SPEC.match(text, pos)
            if not m or m.end() == pos:
                if text[pos:].strip():
                    raise ValueError(f"cannot lex query at: {text[pos:]!r}")
                break
            pos = m.end()
            kind = m.lastgroup
            self.tokens.append((kind, m.group(kind)))
        self.i = 0

    def peek(self):
        return self.tokens[self.i] if self.i < len(self.tokens) else (None, None)

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok


class _Parser:
    """Recursive descent for the classic subset. Precedence: NOT > AND > OR."""

    def __init__(self, text: str, default_field: str, analyzer: str,
                 default_op: str = "OR"):
        self.lex = _Lexer(text)
        self.default_field = default_field
        self.analyzer = analyzer
        self.default_op = default_op

    def parse(self) -> Query:
        q = self._or_expr(self.default_field)
        if self.lex.peek()[0] is not None:
            raise ValueError(f"unexpected token {self.lex.peek()!r}")
        return q

    def _or_expr(self, fld: str) -> Query:
        clauses = [self._and_expr(fld)]
        explicit_or = False
        while True:
            kind, _ = self.lex.peek()
            if kind == "or":
                self.lex.next()
                explicit_or = True
                # Lucene makes the clause before OR optional: +a OR b == a OR b
                if isinstance(clauses[-1], _Must):
                    clauses[-1] = clauses[-1].query
                clauses.append(self._and_expr(fld))
            elif kind in ("lparen", "phrase", "fieldname", "word", "not",
                          "must", "regex", "lbracket"):
                # implicit operator: classic QueryParser applies the
                # default operator (q.op) — OR unless AND is configured
                # (`[U] .../queryparser/classic/QueryParserBase.java ::
                # setDefaultOperator`)
                nxt = self._and_expr(fld)
                if self.default_op == "AND":
                    prev = clauses.pop()
                    must, must_not = [], []
                    for c in (prev, nxt):
                        (must_not if isinstance(c, _Neg) else must).append(
                            c.query if isinstance(c, (_Neg, _Must)) else c)
                    clauses.append(_conj(must, must_not))
                else:
                    clauses.append(nxt)
            else:
                break
        if len(clauses) == 1 and not explicit_or:
            return clauses[0]
        should, must, must_not = [], [], []
        for c in clauses:
            if isinstance(c, _Neg):
                must_not.append(c.query)
            elif isinstance(c, _Must):
                must.append(c.query)
            else:
                should.append(c)
        if must:
            return BooleanQuery(should=tuple(should), must=tuple(must),
                                must_not=tuple(must_not))
        if not should and must_not:
            # purely negative disjunction ('-a -b', q.op=OR): same
            # makeQueryable fix as _conj — all-docs-minus, never
            # match-nothing
            return BooleanQuery(must=(MatchAllQuery(),),
                                must_not=tuple(must_not))
        return BooleanQuery(should=tuple(should), must_not=tuple(must_not))

    def _and_expr(self, fld: str) -> Query:
        clauses = [self._not_expr(fld)]
        while self.lex.peek()[0] == "and":
            self.lex.next()
            clauses.append(self._not_expr(fld))
        if len(clauses) == 1:
            return clauses[0]
        must, must_not = [], []
        for c in clauses:
            if isinstance(c, _Neg):
                must_not.append(c.query)
            else:
                must.append(c.query if isinstance(c, _Must) else c)
        return _conj(must, must_not)

    def _not_expr(self, fld: str):
        kind = self.lex.peek()[0]
        if kind == "not":
            self.lex.next()
            inner = self._not_expr(fld)
            if isinstance(inner, _Neg):  # double negation
                return inner.query
            return _Neg(inner.query if isinstance(inner, _Must) else inner)
        if kind == "must":
            self.lex.next()
            inner = self._not_expr(fld)
            return inner if isinstance(inner, (_Neg, _Must)) else _Must(inner)
        return self._atom(fld)

    def _atom(self, fld: str):
        kind, val = self.lex.next()
        if kind == "lparen":
            q = self._or_expr(fld)
            if self.lex.next()[0] != "rparen":
                raise ValueError("unbalanced parenthesis")
            return q.query if isinstance(q, _Must) else q
        if kind == "fieldname":
            colon = self.lex.next()
            assert colon[0] == "colon"
            return self._atom(val)
        if kind == "phrase":
            slop, boost = self._trailing_slop_boost()
            if boost == 1.0:
                boost = self._trailing_boost()
            terms = tuple(tokenize_for_phrase(val.strip('"'), self.analyzer))
            if not terms:
                # analyzes to nothing (e.g. all stopwords) -> matches
                # nothing, like a clause the analyzer dropped entirely
                return BooleanQuery()
            if len(terms) == 1:
                return TermQuery(terms[0], fld, boost)
            return PhraseQuery(terms, fld, boost, slop)
        if kind == "regex":
            return MultiTermQuery("regexp", val[1:-1], fld, self._trailing_boost())
        if kind == "lbracket":
            return self._range(fld, include_lo=(val == "["))
        if kind == "word":
            if val == "*" or val == "*:*":
                # "*:*" may also lex as word('*') colon word('*'):
                # treat a "*:" prefix as the all-fields selector
                # (single-field engine -> default field)
                if self.lex.peek()[0] == "colon":
                    self.lex.next()
                    return self._atom(fld)
                return MatchAllQuery()
            val, boost = _split_boost(val)
            # multi-term syntax (expanded against the term dict at
            # search time; text is lowercased, NOT analyzed, like the
            # classic parser's wildcard handling)
            m = re.fullmatch(r"(.+?)~(\d*)", val)
            if m and "*" not in val and "?" not in val:
                edits = int(m.group(2)) if m.group(2) else 2
                return MultiTermQuery("fuzzy", m.group(1).lower(), fld,
                                      boost, max_edits=min(edits, 2))
            if len(val) > 2 and val.startswith("/") and val.endswith("/"):
                return MultiTermQuery("regexp", val[1:-1], fld, boost)
            if "*" in val or "?" in val:
                if val.endswith("*") and "?" not in val and "*" not in val[:-1]:
                    return MultiTermQuery("prefix", val[:-1].lower(), fld, boost)
                return MultiTermQuery("wildcard", val.lower(), fld, boost)
            toks = tokenize(val, self.analyzer)
            if not toks:
                return BooleanQuery()  # analyzes to nothing -> matches nothing
            if len(toks) == 1:
                return TermQuery(toks[0], fld, boost)
            # a single word that analyzes to multiple tokens (e.g. "3.14x")
            # becomes a SHOULD group, like the classic parser's behavior
            return BooleanQuery(should=tuple(TermQuery(t, fld, boost) for t in toks))
        raise ValueError(f"unexpected token ({kind}, {val!r})")

    def _range(self, fld: str, include_lo: bool) -> "MultiTermQuery":
        kind, lo = self.lex.next()
        if kind != "word":
            raise ValueError("range: expected lower bound")
        kind, to = self.lex.next()
        if kind != "word" or to.upper() != "TO":
            raise ValueError("range: expected TO")
        kind, hi = self.lex.next()
        if kind != "word":
            raise ValueError("range: expected upper bound")
        kind, rb = self.lex.next()
        if kind != "rbracket":
            raise ValueError("range: expected ] or }")
        return MultiTermQuery(
            "range", field=fld,
            lo="" if lo == "*" else lo.lower(),
            hi="" if hi == "*" else hi.lower(),
            include_lo=include_lo, include_hi=(rb == "]"),
        )


    def _trailing_boost(self) -> float:
        kind, val = self.lex.peek()
        if kind == "word" and val.startswith("^"):
            self.lex.next()
            return float(val[1:])
        return 1.0

    def _trailing_slop_boost(self) -> Tuple[int, float]:
        """Parse a trailing ``~slop`` after a phrase, including the
        combined single-token ``~slop^boost`` form ('"a b"~2^3' lexes
        the suffix as ONE word token — ADVICE r1: the old slop-only
        fullmatch let it fall through to the term path, silently
        dropping both slop and boost)."""
        kind, val = self.lex.peek()
        if kind == "word":
            m = re.fullmatch(r"~(\d+)(?:\^(\d+(?:\.\d+)?))?", val)
            if m:
                self.lex.next()
                return int(m.group(1)), float(m.group(2)) if m.group(2) else 1.0
        return 0, 1.0


def _split_boost(val: str) -> Tuple[str, float]:
    m = re.fullmatch(r"(.+)\^(\d+(?:\.\d+)?)", val)
    if m:
        return m.group(1), float(m.group(2))
    return val, 1.0


@dataclass(frozen=True)
class _Neg:
    """Parse-time marker for NOT; resolved into must_not by the parent."""

    query: Query


@dataclass(frozen=True)
class _Must:
    """Parse-time marker for a leading ``+``; resolved into must by the
    parent (`[U] .../queryparser/classic/QueryParserBase.java ::
    addClause` MOD_REQ)."""

    query: Query


def _conj(must, must_not) -> BooleanQuery:
    """Conjunction builder shared by explicit AND and q.op=AND implicit
    joins: a PURELY negative conjunction ('NOT a NOT b' / 'NOT a AND
    NOT b') gets MatchAll injected into must — mirroring the top-level
    pure-negation rewrite in parse_query — so it means all-docs-minus
    instead of Lucene's match-nothing prohibited-only BooleanQuery
    (`[U] solr/core/.../search/QueryUtils.java :: makeQueryable`
    fixNegativeQuery behavior)."""
    if not must and must_not:
        must = [MatchAllQuery()]
    return BooleanQuery(must=tuple(must), must_not=tuple(must_not))


def parse_query(text: str, default_field: str = DEFAULT_FIELD,
                analyzer: str = "standard", default_op: str = "OR") -> Query:
    q = _Parser(text, default_field, analyzer, default_op).parse()
    if isinstance(q, _Neg):
        # pure negation: NOT x == MatchAll minus x
        q = BooleanQuery(must=(MatchAllQuery(),), must_not=(q.query,))
    elif isinstance(q, _Must):
        q = q.query
    return rewrite(q)


# ---------------------------------------------------------------- rewrite


def rewrite(q: Query) -> Query:
    """BooleanQuery simplification pass (single-clause unwrap, flatten,
    dedup) mirroring `[U] .../search/BooleanQuery.java :: rewrite`."""
    if isinstance(q, ConstantScoreQuery):
        return ConstantScoreQuery(rewrite(q.query), q.boost)
    if isinstance(q, DisjunctionMaxQuery):
        clauses = tuple(rewrite(c) for c in q.clauses)
        if len(clauses) == 1:
            return clauses[0]
        return DisjunctionMaxQuery(clauses, q.tiebreak)
    if not isinstance(q, BooleanQuery):
        return q
    should = [rewrite(c) for c in q.should]
    must = [rewrite(c) for c in q.must]
    must_not = [rewrite(c) for c in q.must_not]

    # flatten nested pure-SHOULD into SHOULD, pure-MUST into MUST
    # (never across a minimumShouldMatch boundary)
    flat_should: List[Query] = []
    for c in should:
        if (isinstance(c, BooleanQuery) and not c.must and not c.must_not
                and c.min_should_match <= 1 and q.min_should_match <= 1):
            flat_should.extend(c.should)
        else:
            flat_should.append(c)
    flat_must: List[Query] = []
    for c in must:
        if isinstance(c, BooleanQuery) and not c.should and not c.must_not:
            flat_must.extend(c.must)
        else:
            flat_must.append(c)

    # dedup, preserving first-occurrence order (scoring order!)
    def _dedup(cs: List[Query]) -> Tuple[Query, ...]:
        seen, out = set(), []
        for c in cs:
            if c not in seen:
                seen.add(c)
                out.append(c)
        return tuple(out)

    should_t, must_t, must_not_t = _dedup(flat_should), _dedup(flat_must), _dedup(must_not)

    # single-clause unwrap (not under a minimumShouldMatch constraint)
    if q.min_should_match <= 1:
        if len(should_t) == 1 and not must_t and not must_not_t:
            return should_t[0]
        if len(must_t) == 1 and not should_t and not must_not_t:
            return must_t[0]
    return BooleanQuery(should=should_t, must=must_t, must_not=must_not_t,
                        min_should_match=q.min_should_match)


# ------------------------------------------------------------- traversal

#: compound node type -> its child fields, in walk order (should + must +
#: must_not for BooleanQuery). The ONE place that knows which nodes have
#: children; every tree walk but ``rewrite`` and the parser goes through
#: ``leaves`` / ``map_leaves``.
_CHILDREN = {
    BooleanQuery: ("should", "must", "must_not"),
    DisjunctionMaxQuery: ("clauses",),
    ConstantScoreQuery: ("query",),
}


def leaves(q: Query) -> Iterator[Query]:
    """Leaf (non-compound) nodes of ``q``, depth-first in walk order."""
    fields = _CHILDREN.get(type(q))
    if fields is None:
        yield q
        return
    for f in fields:
        v = getattr(q, f)
        for c in (v if type(v) is tuple else (v,)):
            yield from leaves(c)


def map_leaves(q: Query, fn: Callable[[Query], Query]) -> Query:
    """Rebuild ``q`` with every leaf replaced by ``fn(leaf)``; compound
    nodes keep their own fields (boost, tiebreak, min_should_match)."""
    fields = _CHILDREN.get(type(q))
    if fields is None:
        return fn(q)

    def sub(v):
        if type(v) is tuple:
            return tuple(map_leaves(c, fn) for c in v)
        return map_leaves(v, fn)

    return replace(q, **{f: sub(getattr(q, f)) for f in fields})


def node_terms(q: Query) -> Tuple[str, ...]:
    """Terms one leaf node reads, in order, repeats kept (a multi-term
    weight sums one idf per occurrence). SpanNot's exclude term carries
    no score but its postings must reach the kernel (position veto)."""
    if isinstance(q, (TermQuery, SpanFirstQuery)):
        return (q.term,)
    if isinstance(q, SpanNotQuery):
        return (q.term, q.exclude)
    if isinstance(q, (PhraseQuery, SpanOrQuery)):
        return q.terms
    if isinstance(q, MultiPhraseQuery):
        return tuple(t for slot in q.slots for t in slot)
    if isinstance(q, MultiTermQuery) and q.kind == "fuzzy":
        raise ValueError("fuzzy MultiTermQuery must be expanded "
                         "before stats (IndexReader._expand)")
    return ()  # constant-score multiterm kinds carry no scored terms


def query_terms(q: Query) -> List[Tuple[str, str]]:
    """All (field, term) pairs referenced by a query, in stable
    first-appearance order (this order defines float32 summation order
    in both engine and oracle)."""
    return list(dict.fromkeys(
        (n.field, t) for n in leaves(q) for t in node_terms(n)))
