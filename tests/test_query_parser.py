"""Classic query parser + rewrite semantics (SURVEY.md §2.4, §4.1)."""

import numpy as np

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchAllQuery,
    PhraseQuery,
    TermQuery,
    leaves,
    map_leaves,
    parse_query,
    query_terms,
)
from tests.oracle import OracleIndex


def test_single_term():
    assert parse_query("content:spark") == TermQuery("spark")
    assert parse_query("Spark") == TermQuery("spark")  # analyzed/lowercased


def test_or_group():
    q = parse_query("content:(spark OR merge OR q7token)")
    assert isinstance(q, BooleanQuery)
    assert q.should == (TermQuery("spark"), TermQuery("merge"), TermQuery("q7token"))
    assert not q.must and not q.must_not


def test_implicit_or():
    assert parse_query("spark merge") == BooleanQuery(
        should=(TermQuery("spark"), TermQuery("merge"))
    )


def test_and():
    q = parse_query("spark AND merge")
    assert q.must == (TermQuery("spark"), TermQuery("merge"))


def test_mixed_not():
    q = parse_query("spark AND NOT merge")
    assert q.must == (TermQuery("spark"),)
    assert q.must_not == (TermQuery("merge"),)
    q2 = parse_query("spark OR merge NOT wand")
    assert q2.should == (TermQuery("spark"), TermQuery("merge"))
    assert q2.must_not == (TermQuery("wand"),)


def test_phrase():
    q = parse_query('content:"Inverted Index"')
    assert q == PhraseQuery(("inverted", "index"))
    # single-token phrase collapses to TermQuery
    assert parse_query('"spark"') == TermQuery("spark")


def test_pure_negation_wraps_matchall():
    q = parse_query("NOT spark")
    assert q.must == (MatchAllQuery(),)
    assert q.must_not == (TermQuery("spark"),)


def test_plus_prefix_is_must():
    """A leading ``+`` makes a clause required, as in Lucene's classic
    parser: ``+a +b`` is ``a AND b``; ``+a b`` keeps ``b`` optional."""
    spark, merge = TermQuery("spark"), TermQuery("merge")
    assert parse_query("+spark +merge") == parse_query("spark AND merge")
    assert parse_query("+spark +merge") == BooleanQuery(must=(spark, merge))
    assert parse_query("+spark merge") == BooleanQuery(must=(spark,), should=(merge,))
    assert parse_query("+spark -merge") == BooleanQuery(must=(spark,), must_not=(merge,))
    assert parse_query("+spark") == spark
    # OR makes the clause before it optional: +a OR b == a OR b
    assert parse_query("+spark OR merge") == parse_query("spark OR merge")
    # a '+' inside a word is not an operator
    assert parse_query("c++") == TermQuery("c")
    assert parse_query("c++ +spark") == BooleanQuery(must=(spark,), should=(TermQuery("c"),))


def test_nested_and_flatten_dedup():
    q = parse_query("(spark OR (merge OR wand)) OR spark")
    assert q == BooleanQuery(should=(TermQuery("spark"), TermQuery("merge"), TermQuery("wand")))


def test_field_scoping():
    q = parse_query("lang:python")
    assert q == TermQuery("python", field="lang")


def test_query_terms_order():
    q = parse_query("b AND a OR c")
    assert [t for _, t in query_terms(q)] == ["b", "a", "c"]


def test_leaves_and_map_leaves():
    """should + must + must_not order through every compound node, and
    a rebuild keeps min_should_match, tiebreak and boost."""
    a, b, c, d, e = (TermQuery(t) for t in "abcde")
    q = BooleanQuery(should=(DisjunctionMaxQuery((a, b), 0.3),),
                     must=(ConstantScoreQuery(c, 2.0), d), must_not=(e,),
                     min_should_match=1)
    assert list(leaves(q)) == [a, b, c, d, e]
    up = map_leaves(q, lambda n: TermQuery(n.term.upper(), boost=n.boost))
    assert [n.term for n in leaves(up)] == list("ABCDE")
    assert up.min_should_match == 1 and up.should[0].tiebreak == 0.3
    assert up.must[0].boost == 2.0


# ------------------------------------------------------- oracle sanity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "quick spark engine builds an inverted index fast"),
    (2, "spark spark spark everywhere, nothing but spark"),
    (3, "a very long document " + "filler " * 200 + "with one spark mention"),
    (4, "the inverted index maps terms to documents"),
]


def test_oracle_term_ranking():
    idx = OracleIndex(DOCS)
    td = idx.search("spark", k=10)
    assert td.total_hits == 3
    docs = [d for d, _ in td.score_docs]
    # doc 2 has tf=4 and is short -> top; doc 3 is very long -> lowest
    assert docs[0] == 2
    assert docs[-1] == 3
    scores = [s for _, s in td.score_docs]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    assert all(np.float32(s) == s for s in scores)  # exactly representable


def test_oracle_bool_and_phrase():
    idx = OracleIndex(DOCS)
    td = idx.search("spark AND index", k=10)
    assert [d for d, _ in td.score_docs] == [1]
    td_ph = idx.search('"inverted index"', k=10)
    assert sorted(d for d, _ in td_ph.score_docs) == [1, 4]
    # phrase in wrong order does not match
    td_rev = idx.search('"index inverted"', k=10)
    assert td_rev.total_hits == 0


def test_oracle_must_not():
    idx = OracleIndex(DOCS)
    td = idx.search("quick NOT spark", k=10)
    assert [d for d, _ in td.score_docs] == [0]


def test_oracle_tiebreak_doc_asc():
    idx = OracleIndex([(7, "same text"), (3, "same text"), (5, "same text")])
    td = idx.search("same", k=3)
    assert [d for d, _ in td.score_docs] == [3, 5, 7]
    s = {s for _, s in td.score_docs}
    assert len(s) == 1  # identical scores, ordered by doc_id


def test_oracle_absent_term():
    idx = OracleIndex(DOCS)
    td = idx.search("zzzmissing", k=10)
    assert td.total_hits == 0 and td.score_docs == ()


def test_phrase_combined_slop_boost():
    """ADVICE r1 (low): '"a b"~2^3' lexes the suffix as one token; it
    must parse as slop=2 AND boost=3, not fall through to a term."""
    q = parse_query('"merge line"~2^3')
    assert isinstance(q, PhraseQuery)
    assert q.slop == 2 and q.boost == 3.0
    q2 = parse_query('"merge line"~2 ^3')
    assert isinstance(q2, PhraseQuery)
    assert q2.slop == 2 and q2.boost == 3.0
    q3 = parse_query('"merge line"~2')
    assert q3.slop == 2 and q3.boost == 1.0
    q4 = parse_query('"merge line"^3')
    assert q4.slop == 0 and q4.boost == 3.0


def test_scan_prefix_superset():
    from lucene_solr_spark.plans.query import MultiTermQuery, scan_prefix

    assert scan_prefix(MultiTermQuery("wildcard", "spa*k")) == "spa"
    assert scan_prefix(MultiTermQuery("wildcard", "?park")) == ""
    assert scan_prefix(MultiTermQuery("regexp", "spar[kx]")) == "spar"
    assert scan_prefix(MultiTermQuery("regexp", "spab*")) == "spa"
    assert scan_prefix(MultiTermQuery("regexp", "s(p|q)ark")) == "s"
    assert scan_prefix(MultiTermQuery("regexp", ".*ark")) == ""
    assert scan_prefix(MultiTermQuery("prefix", "spar")) == "spar"


def test_default_operator_and():
    from lucene_solr_spark.plans.query import BooleanQuery, parse_query

    q = parse_query("spark merge vector", default_op="AND")
    assert isinstance(q, BooleanQuery)
    assert len(q.must) == 3 and not q.should
    # explicit OR wins over the default operator
    q = parse_query("spark OR merge vector", default_op="AND")
    assert len(q.should) == 2
    inner = q.should[1]
    assert isinstance(inner, BooleanQuery) and len(inner.must) == 2
    # NOT composes: "a -b" with AND default
    q = parse_query("spark NOT merge", default_op="AND")
    assert len(q.must) == 1 and len(q.must_not) == 1


def test_pure_negative_conjunction_gets_matchall():
    """'NOT a NOT b' (q.op=AND) and 'NOT a AND NOT b' mean
    all-docs-minus, not match-nothing: the conjunction builder injects
    MatchAll when must and should are empty but must_not is not
    (mirrors Solr's fixNegativeQuery; the single-clause top-level
    rewrite already handled bare 'NOT a')."""
    from lucene_solr_spark.plans.query import (
        BooleanQuery, MatchAllQuery, parse_query)

    for text, op in [("NOT spark NOT merge", "AND"),
                     ("NOT spark AND NOT merge", "OR")]:
        q = parse_query(text, default_op=op)
        assert isinstance(q, BooleanQuery), (text, q)
        assert len(q.must_not) == 2, (text, q)
        assert any(isinstance(m, MatchAllQuery) for m in q.must), (text, q)


def test_sloppy_sql_oracle_matches_kernel():
    """The DuckDB list-algebra sloppy-phrase formula used by the
    bm25_sloppy_phrase_topk oracle is bit-identical to the shared
    sloppy_phrase_freq kernel on randomized position lists (the same
    validation that gated the oracle's introduction)."""
    import random

    import duckdb

    from lucene_solr_spark.plans.query import sloppy_phrase_freq

    con = duckdb.connect()
    random.seed(7)
    for _ in range(150):
        n = random.randint(2, 30)
        tk = [random.choice("abx") for _ in range(n)]
        slop = random.randint(0, 4)
        pa = [i for i, t in enumerate(tk) if t == "a"]
        pb = [i for i, t in enumerate(tk) if t == "b"]
        expect = sloppy_phrase_freq([pa, pb], slop) if pa and pb else 0.0
        tk_sql = "[" + ",".join(f"'{t}'" for t in tk) + "]"
        got = con.execute(f"""
          WITH m AS (SELECT {tk_sql} AS tk),
          p AS (SELECT
            [i FOR i IN range(1, len(tk)+1) IF tk[i] = 'a'] AS pa,
            [i FOR i IN range(1, len(tk)+1) IF tk[i] = 'b'] AS pb FROM m),
          f AS (SELECT
            [CAST(1.0 AS DOUBLE) / (list_min(list_filter(pb, j -> j > i)) - i)
             FOR i IN pa
             IF len(list_filter(pb, j -> j > i)) > 0
                AND list_min(list_filter(pb, j -> j > i)) - i - 1 <= {slop}] AS cs
            FROM p)
          SELECT CASE WHEN len(cs) = 0 THEN CAST(0 AS DOUBLE)
                      ELSE list_reduce(cs, (x, y) -> x + y) END FROM f
        """).fetchone()[0]
        assert got == expect, (tk, slop, got, expect)
