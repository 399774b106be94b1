"""MultiTermQuery family (prefix/wildcard/fuzzy/regexp/range) + boosts:
engine must be rank-identical to the exhaustive oracle (SURVEY.md §2.4)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators.build import build_index, read_manifest
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.plans.query import (
    BooleanQuery,
    ConstantScoreQuery,
    MultiTermQuery,
    TermQuery,
    levenshtein,
    parse_query,
    wildcard_to_regex,
)
from lucene_solr_spark.sources import load_source_table
from tests.oracle import OracleIndex

QUERIES = [
    "spark*",
    "content:merg*",
    "ident_00?4",
    "par*ion",
    "spark~1",
    "vector~2",
    "/sp[aeiou]rk/",
    "[spark TO spars]",
    "{spark TO spars]",
    "[* TO aaa]",
    "spark^2 OR merge",
    'merge AND spark*',
    '"batch batch"^3 OR spark',
    # same phrase twice, different boosts: each keeps its own weight
    '"batch batch"^3 OR "batch batch"',
    "spark* AND NOT merge",
]


@pytest.fixture(scope="module")
def idx_pair(spark, sf_dir, tmp_path_factory):
    corpus = load_source_table(spark, sf_dir).cache()
    d = str(tmp_path_factory.mktemp("mt") / "idx")
    build_index(spark, corpus, d, docs_per_seg=128)
    reader = IndexReader(spark, d)
    oracle = OracleIndex(
        [(r["doc_id"], r["content"]) for r in corpus.collect()]
    )
    return reader, oracle


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identical_to_oracle(idx_pair, q):
    reader, oracle = idx_pair
    expected = oracle.search(q, k=20)
    got, total = reader.search_with_total(q, k=20)
    assert [d for d, _ in got] == [d for d, _ in expected.score_docs], q
    for (gd, gs), (ed, es) in zip(got, expected.score_docs):
        assert abs(gs - es) < 1e-6, (q, gd, gs, es)
    assert total == expected.total_hits


def test_parser_shapes():
    q = parse_query("spark*")
    assert isinstance(q, MultiTermQuery) and q.kind == "prefix" and q.pattern == "spark"
    q = parse_query("wild?card*")
    assert q.kind == "wildcard" and q.pattern == "wild?card*"
    q = parse_query("term~1")
    assert q.kind == "fuzzy" and q.max_edits == 1 and q.pattern == "term"
    q = parse_query("/a+b/")
    assert q.kind == "regexp" and q.pattern == "a+b"
    q = parse_query("[abc TO def}")
    assert q.kind == "range" and q.lo == "abc" and q.hi == "def"
    assert q.include_lo and not q.include_hi
    q = parse_query("spark^2.5")
    assert isinstance(q, TermQuery) and q.boost == 2.5
    q = parse_query('"a phrase"^3')
    assert q.boost == 3.0


def test_wildcard_to_regex():
    assert wildcard_to_regex("a*b?c.") == "a.*b.c\\."


def test_levenshtein():
    assert levenshtein("spark", "spark") == 0
    assert levenshtein("spark", "spars") == 1
    assert levenshtein("spark", "par") == 2
    assert levenshtein("abc", "xyz") == 3


def test_constant_score_semantics(idx_pair):
    reader, oracle = idx_pair
    # every hit of a prefix query scores exactly 1.0 (constant-score rewrite)
    rows = reader.search("spark*", k=50).collect()
    assert rows and all(abs(r["score"] - 1.0) < 1e-9 for r in rows)


def test_empty_expansion_matches_nothing(idx_pair):
    reader, oracle = idx_pair
    got, total = reader.search_with_total("zzzznotaterm*", k=10)
    assert got == [] and total == 0


def test_dismax_rank_identical(idx_pair):
    from lucene_solr_spark.plans.query import DisjunctionMaxQuery, TermQuery

    reader, oracle = idx_pair
    for tie in (0.0, 0.3, 1.0):
        q = DisjunctionMaxQuery(
            (TermQuery("spark"), TermQuery("merge"), TermQuery("vector")), tie
        )
        expected = oracle.search(q, k=20)
        got, total = reader.search_with_total(q, k=20)
        assert [d for d, _ in got] == [d for d, _ in expected.score_docs], tie
        for (gd, gs), (ed, es) in zip(got, expected.score_docs):
            assert abs(gs - es) < 1e-6
        assert total == expected.total_hits


def test_min_should_match(idx_pair):
    from lucene_solr_spark.plans.query import BooleanQuery, TermQuery

    reader, oracle = idx_pair
    terms = tuple(TermQuery(t) for t in ("spark", "merge", "vector", "hash"))
    for mm in (2, 3, 4):
        q = BooleanQuery(should=terms, min_should_match=mm)
        expected = oracle.search(q, k=30)
        got, total = reader.search_with_total(q, k=30)
        assert [d for d, _ in got] == [d for d, _ in expected.score_docs], mm
        assert total == expected.total_hits
    # mm hits shrink monotonically
    t2 = reader.search_with_total(BooleanQuery(should=terms, min_should_match=2), k=1)[1]
    t4 = reader.search_with_total(BooleanQuery(should=terms, min_should_match=4), k=1)[1]
    assert t2 >= t4


@pytest.mark.parametrize("q", ['"window batch"~2', '"spark merge"~4', '"batch batch"~1'])
def test_sloppy_phrase_rank_identical(idx_pair, q):
    reader, oracle = idx_pair
    expected = oracle.search(q, k=20)
    got, total = reader.search_with_total(q, k=20)
    assert [d for d, _ in got] == [d for d, _ in expected.score_docs], q
    for (gd, gs), (ed, es) in zip(got, expected.score_docs):
        assert abs(gs - es) < 1e-6
    assert total == expected.total_hits


def test_sloppy_widens_exact(idx_pair):
    reader, _ = idx_pair
    exact = reader.search_with_total('"spark merge"', k=5)[1]
    sloppy = reader.search_with_total('"spark merge"~6', k=5)[1]
    assert sloppy >= exact


def test_sloppy_phrase_freq_semantics():
    from lucene_solr_spark.plans.query import sloppy_phrase_freq

    # adjacent pair: matchLength 0 -> weight 1
    assert sloppy_phrase_freq([[0], [1]], 2) == 1.0
    # one-gap pair: matchLength 1 -> 1/2, needs slop >= 1
    assert sloppy_phrase_freq([[0], [2]], 0) == 0.0
    assert sloppy_phrase_freq([[0], [2]], 1) == 0.5
    # two independent adjacent matches
    assert sloppy_phrase_freq([[0, 10], [1, 11]], 0) == 2.0
    # ordered-only: reversed terms never match
    assert sloppy_phrase_freq([[5], [1]], 9) == 0.0


def test_parser_phrase_slop():
    q = parse_query('"a b"~3')
    assert q.slop == 3
    q = parse_query('"a b"')
    assert q.slop == 0


def test_stop_analyzer_index_rank_identical(spark, sf_dir, tmp_path_factory):
    """standard_stop index: stopwords absent, position GAPS preserved —
    phrases don't match across removed stopwords, sloppy ones do;
    engine == oracle throughout."""
    from lucene_solr_spark.sources import load_source_table

    corpus = load_source_table(spark, sf_dir)
    d = str(tmp_path_factory.mktemp("stop") / "idx")
    build_index(spark, corpus, d, docs_per_seg=128, analyzer="standard_stop")
    reader = IndexReader(spark, d)
    oracle = OracleIndex(
        [(r["doc_id"], r["content"]) for r in corpus.collect()],
        analyzer="standard_stop",
    )
    assert reader.search_with_total("the", k=5)[1] == 0  # stopword gone
    for q in ["spark OR merge", "hash AND join", '"batch batch"',
              '"spark merge"~3', "spar*"]:
        expected = oracle.search(q, k=20)
        got, total = reader.search_with_total(q, k=20)
        assert [d_ for d_, _ in got] == [d_ for d_, _ in expected.score_docs], q
        assert total == expected.total_hits


def test_spanfirst_rank_identical(idx_pair):
    from lucene_solr_spark.plans.query import SpanFirstQuery

    reader, oracle = idx_pair
    for term, end in [("spark", 5), ("spark", 1), ("merge", 20),
                      ("nosuchterm", 5)]:
        q = SpanFirstQuery(term, end)
        expected = oracle.search(q, k=20)
        got, total = reader.search_with_total(q, k=20)
        assert [d for d, _ in got] == [d for d, _ in expected.score_docs], (term, end)
        for (gd, gs), (ed, es) in zip(got, expected.score_docs):
            assert abs(gs - es) < 1e-6, (term, end, gd)
        assert total == expected.total_hits


def test_spanfirst_subset_of_term(idx_pair):
    from lucene_solr_spark.plans.query import SpanFirstQuery, TermQuery

    reader, _ = idx_pair
    all_docs = {r["doc_id"] for r in reader.score_all(TermQuery("spark")).collect()}
    first = {r["doc_id"]
             for r in reader.score_all(SpanFirstQuery("spark", 3)).collect()}
    assert first <= all_docs
    # a huge end bound degenerates to the plain term matches
    wide = {r["doc_id"]
            for r in reader.score_all(SpanFirstQuery("spark", 1 << 30)).collect()}
    assert wide == all_docs


def test_reversed_wildcard_leading(spark, tmp_path):
    """ReversedWildcardFilter: leading wildcards rewrite to a prefix
    over the marker-reversed twins — same doc set as the full-dict
    scan, but the scan condition becomes a StartsWith pushdown."""
    from lucene_solr_spark.analysis import REVERSE_MARKER
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.plans.query import MultiTermQuery, scan_prefix

    docs = [(0, "spark merge dark"), (1, "mark the spot"),
            (2, "nothing here"), (3, "parka shark bark")]
    df = spark.createDataFrame(
        [(i, t, "r", f"p/{i}", "c", "en") for i, t in docs],
        "doc_id long, content string, repo string, path string, "
        "commit string, lang string")
    d = str(tmp_path / "rw")
    build_index(spark, df, d, docs_per_seg=2, analyzer="reversed_wildcard")
    idx = IndexReader(spark, d)

    q = MultiTermQuery(kind="wildcard", pattern="*ark")
    got = sorted(r["doc_id"] for r in idx.search(q, k=10).collect())
    assert got == [0, 1, 3]            # dark, mark, shark/bark — not parka
    # the rewritten node carries a literal scan prefix (pushdown-able)
    rw = idx._expand(q)
    inner = rw.query if hasattr(rw, "query") else rw
    assert inner.pattern == REVERSE_MARKER + "kra*"
    assert scan_prefix(inner) == REVERSE_MARKER + "kra"
    # un-rewritten, the same pattern has NO scan prefix (full dict scan)
    assert scan_prefix(q) == ""
    # trailing wildcard unaffected: matches originals only
    got = sorted(r["doc_id"] for r in idx.search(
        MultiTermQuery(kind="wildcard", pattern="spa*"), k=10).collect())
    assert got == [0]
    # phrases see only original tokens (reversed twins are posIncr 0)
    got = sorted(r["doc_id"] for r in idx.search('"spark merge"', k=10).collect())
    assert got == [0]


def test_fuzzy_expansion_capped_top_terms_by_df(spark, tmp_path):
    """FuzzyQuery rewrite is bounded at max_expansions (`[U] lucene/
    core/.../search/MultiTermQuery.java ::
    TopTermsBlendedFreqScoringRewrite`): with a vocabulary of more
    edit-1 neighbors than the cap, the driver-side collect receives
    exactly max_expansions terms, selected nearest-distance-first and
    by df desc among ties (Lucene's blended-freq tie-break)."""
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.plans.query import MultiTermQuery, TermQuery

    # 12 edit-1 neighbors of "beam0": "beama".."beaml"; neighbor i
    # appears in i+1 docs so df strictly increases along the alphabet
    neighbors = [f"beam{c}" for c in "abcdefghijkl"]
    docs, did = [], 0
    for i, t in enumerate(neighbors):
        for _ in range(i + 1):
            docs.append((did, f"{t} filler{did}"))
            did += 1
    df = spark.createDataFrame(
        [(i, t, "r", f"p/{i}", "c", "en") for i, t in docs],
        "doc_id long, content string, repo string, path string, "
        "commit string, lang string")
    d = str(tmp_path / "fz")
    build_index(spark, df, d, docs_per_seg=16)
    idx = IndexReader(spark, d)

    q = MultiTermQuery(kind="fuzzy", pattern="beam0", max_edits=1,
                       max_expansions=5)
    terms = idx._matching_terms(q)
    assert len(terms) == 5
    # all 12 neighbors are distance 1, so the df tie-break picks the 5
    # highest-df terms: the LAST five alphabet letters
    assert sorted(terms) == neighbors[-5:]
    # and the rewritten query is a bounded disjunction of exactly those
    rw = idx._expand(q)
    leaf_terms = sorted(c.term for c in rw.should)
    assert leaf_terms == neighbors[-5:]
    assert all(isinstance(c, TermQuery) for c in rw.should)


def test_multiphrase_union_semantics(spark, tmp_path):
    """MultiPhraseQuery: per-slot alternatives union their postings
    (UnionPostingsEnum); a degenerate one-alternative-per-slot query
    matches exactly the docs of the plain phrase, and the synonym slot
    admits both variants."""
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.plans.query import MultiPhraseQuery, PhraseQuery

    docs = [(0, "batch batch merge"), (1, "big batch merge"),
            (2, "batch big merge"), (3, "merge batch"), (4, "big big")]
    df = spark.createDataFrame(
        [(i, t, "r", f"p/{i}", "c", "en") for i, t in docs],
        "doc_id long, content string, repo string, path string, "
        "commit string, lang string")
    d = str(tmp_path / "mp")
    build_index(spark, df, d, docs_per_seg=2)
    idx = IndexReader(spark, d)

    mp = MultiPhraseQuery((("batch", "big"), ("batch",)))
    got = sorted(r["doc_id"] for r in idx.search(mp, k=10).collect())
    assert got == [0, 1]                      # "batch batch", "big batch"
    # degenerate: single alternative per slot == plain phrase doc set
    mp1 = MultiPhraseQuery((("batch",), ("batch",)))
    ph = PhraseQuery(("batch", "batch"))
    got_mp = {(r["doc_id"]) for r in idx.search(mp1, k=10).collect()}
    got_ph = {(r["doc_id"]) for r in idx.search(ph, k=10).collect()}
    assert got_mp == got_ph == {0}
    # missing alternative terms don't kill the slot; a slot with NO
    # indexed alternative matches nothing
    assert idx.search(MultiPhraseQuery((("zzz",), ("batch",))),
                      k=10).collect() == []


def test_complex_phrase_parse_and_expand(spark, tmp_path):
    """{!complexphrase}: wildcard/fuzzy slots expand against the term
    dictionary and the phrase evaluates as a MultiPhraseQuery (Lucene's
    spanNear(spanOr(...), 0, true) rewrite with exact adjacency)."""
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.plans.query import (
        ComplexPhraseQuery, MultiPhraseQuery, MultiTermQuery,
        parse_complex_phrase)

    q = parse_complex_phrase("jo* smith~1 the")
    assert isinstance(q, ComplexPhraseQuery)
    w, f, lit = q.parts
    assert isinstance(w, MultiTermQuery) and w.kind == "wildcard" \
        and w.pattern == "jo*"
    assert isinstance(f, MultiTermQuery) and f.kind == "fuzzy" \
        and f.pattern == "smith" and f.max_edits == 1
    assert lit == "the"
    # bare ~ defaults to 2 edits (ComplexPhraseQueryParser's fuzzy slop)
    assert parse_complex_phrase("smith~").parts[0].max_edits == 2

    docs = [(0, "john smith here"), (1, "joan smyth here"),
            (2, "smith john here"), (3, "jolt smith gone"),
            (4, "john smith gone")]
    df = spark.createDataFrame(
        [(i, t, "r", f"p/{i}", "c", "en") for i, t in docs],
        "doc_id long, content string, repo string, path string, "
        "commit string, lang string")
    d = str(tmp_path / "cp")
    build_index(spark, df, d, docs_per_seg=2)
    idx = IndexReader(spark, d)

    cp = parse_complex_phrase("jo* smith~1")
    rw = idx._expand(cp)
    assert isinstance(rw, MultiPhraseQuery)
    # slot 0: every jo* term in the dictionary, sorted; slot 1: smith
    # and its edit-1 neighbor smyth
    assert rw.slots == (("joan", "john", "jolt"), ("smith", "smyth"))
    got = sorted(r["doc_id"] for r in idx.search(cp, k=10).collect())
    assert got == [0, 1, 3, 4]   # doc 2 reverses the order -> no anchor
    # literal-only complex phrase degenerates to the exact phrase
    lit = parse_complex_phrase("john smith")
    assert sorted(r["doc_id"] for r in idx.search(lit, k=10).collect()) \
        == [0, 4]


def test_spanor_spannot_semantics(spark, tmp_path):
    """SpanOr: freq = sum of clause tfs under ONE allTermStats weight.
    SpanNot(include, exclude, pre, post): include occurrences survive
    only with no exclude occurrence inside [p-pre, p+post]."""
    from lucene_solr_spark.operators.build import build_index
    from lucene_solr_spark.operators.search import IndexReader
    from lucene_solr_spark.plans.query import SpanNotQuery, SpanOrQuery

    docs = [(0, "a x a b a"),      # a at 1,3,5 (1-based); b at 4
            (1, "a a a"),          # no b anywhere
            (2, "b a b"),          # a at 2 vetoed by b at 1 and 3
            (3, "x b x a"),        # b two before a -> outside pre=1
            (4, "b b b")]          # no include
    df = spark.createDataFrame(
        [(i, t, "r", f"p/{i}", "c", "en") for i, t in docs],
        "doc_id long, content string, repo string, path string, "
        "commit string, lang string")
    d = str(tmp_path / "sp")
    build_index(spark, df, d, docs_per_seg=2)
    idx = IndexReader(spark, d)

    # SpanNot with pre=post=1: doc0 keeps only position 1 (3 and 5
    # overlap b@4), doc1 keeps all 3, doc2 loses its only a, doc3's b
    # sits 2 positions before a -> survives
    got = {r["doc_id"]: r["score"] for r in
           idx.search(SpanNotQuery("a", "b", pre=1, post=1), k=10).collect()}
    assert set(got) == {0, 1, 3}
    # surviving tf: doc0=1, doc1=3, doc3=1 — same-norm doc0(dl 5) vs
    # doc1(dl 3): higher tf must outscore at equal weight
    assert got[1] > got[0]
    # pre/post=0: only exact overlap vetoes (impossible for distinct
    # single-token spans) -> every include occurrence survives
    got0 = {r["doc_id"] for r in
            idx.search(SpanNotQuery("a", "b", pre=0, post=0), k=10).collect()}
    assert got0 == {0, 1, 2, 3}

    # SpanOr freq: doc0 has a*3 + b*1 = 4 spans; doc4 has 3; doc2 has 3
    so = idx.search(SpanOrQuery(("a", "b")), k=10)
    assert {r["doc_id"] for r in so.collect()} == {0, 1, 2, 3, 4}


def test_needs_positions_gate():
    """The pos-blob column gate ships positions ONLY for
    position-consuming nodes; SpanOr and plain scoring stay pos-free."""
    from lucene_solr_spark.operators.search import _needs_positions
    from lucene_solr_spark.plans.query import (
        BooleanQuery, DisjunctionMaxQuery, MultiPhraseQuery, PhraseQuery,
        SpanFirstQuery, SpanNotQuery, SpanOrQuery, TermQuery)

    assert not _needs_positions(TermQuery("a"))
    assert not _needs_positions(SpanOrQuery(("a", "b")))
    assert _needs_positions(PhraseQuery(("a", "b")))
    assert _needs_positions(MultiPhraseQuery((("a",), ("b",))))
    assert _needs_positions(SpanFirstQuery("a", 3))
    assert _needs_positions(SpanNotQuery("a", "b"))
    assert _needs_positions(BooleanQuery(
        should=(TermQuery("c"), PhraseQuery(("a", "b")))))
    assert not _needs_positions(DisjunctionMaxQuery(
        (TermQuery("a"), SpanOrQuery(("b",)))))
