"""Highlighting, MoreLikeThis, suggester, grouping (SURVEY.md §2.13)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.operators import streamexpr as sx
from lucene_solr_spark.operators.build import build_index
from lucene_solr_spark.operators.highlight import highlight, highlight_text
from lucene_solr_spark.operators.search import IndexReader
from lucene_solr_spark.sources import load_source_table


@pytest.fixture(scope="module")
def reader(spark, sf_dir, tmp_path_factory):
    corpus = load_source_table(spark, sf_dir).cache()
    d = str(tmp_path_factory.mktemp("enrich") / "idx")
    build_index(spark, corpus, d, docs_per_seg=128)
    return IndexReader(spark, d), corpus


def test_highlight_text_basic():
    snips = highlight_text("The quick Spark engine sparkles", ["spark"])
    assert len(snips) == 1
    assert "<em>Spark</em>" in snips[0]
    assert "sparkles" in snips[0] and "<em>sparkles</em>" not in snips[0]


def test_highlight_text_passages_ranked():
    text = ("alpha beta gamma. " * 20 + "spark merge spark. " +
            "delta " * 40 + "spark.")
    snips = highlight_text(text, ["spark", "merge"], max_passages=2)
    assert len(snips) == 2
    # best passage (3 matches) first
    assert snips[0].count("<em>") == 3
    assert snips[1].count("<em>") == 1


def test_highlight_df(reader):
    idx, corpus = reader
    top = idx.search("content:spark", k=5)
    hits = idx.fetch(top).join(
        corpus.select("doc_id", "content"), "doc_id"
    )
    out = highlight(hits, "content", ["spark"]).collect()
    assert len(out) == 5
    for r in out:
        assert r["snippets"] and all("<em>" in s for s in r["snippets"])


def test_highlight_sql_oracle_matches_kernel(sf_dir):
    """The DuckDB snippet oracle (__spark_entry__._highlight_sql) must
    replay highlight_text EXACTLY — n_snippets and the rendered first
    snippet — over EVERY doc of the corpus, not just the top-k hits
    (the snippet CTEs are driven here without the BM25 hit filter)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._highlight_sql("spark", k=5)
    # swap the hits CTE for the whole corpus: exercise every doc
    body = sql.split("docs AS (", 1)[1]
    all_sql = (
        "WITH hits AS (SELECT doc_id FROM documents),\n    docs AS ("
        + body
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')")
    got = {r[0]: (r[1], r[2]) for r in con.execute(all_sql).fetchall()}
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    assert len(got) == len(docs)
    for did, text in docs:
        snips = highlight_text(text, ["spark"])
        want = (len(snips), snips[0] if snips else None)
        assert got[did] == want, (did, want, got[did])


def test_more_like_this(reader):
    idx, corpus = reader
    seed = corpus.filter(F.col("doc_id") == 7).collect()[0]["content"]
    out = idx.more_like_this(seed, k=10).collect()
    assert out
    # the seed document itself must be among its own nearest docs
    # (not necessarily first: BM25 length normalization can prefer
    # shorter docs dense in the same terms)
    assert 7 in [r["doc_id"] for r in out]
    q = idx.more_like_this_query(seed)
    assert 1 <= len(q.should) <= 25


def test_more_like_this_terms(reader):
    """interestingTerms=details: ranked (tf*idf desc, term asc), the
    same terms more_like_this_query turns into its disjunction."""
    from collections import Counter

    from lucene_solr_spark.analysis import tokenize
    from lucene_solr_spark.functions.bm25 import idf

    idx, corpus = reader
    seed = corpus.filter(F.col("doc_id") == 7).collect()[0]["content"]
    terms = idx.more_like_this_terms(seed, max_query_terms=10)
    assert 1 <= len(terms) <= 10
    assert terms == sorted(terms, key=lambda ts: (-ts[1], ts[0]))
    tf = Counter(tokenize(seed, idx.manifest.analyzer))
    for t, sc in terms:
        assert sc == tf[t] * idf(idx.docfreq(t), idx.doc_count), t
    q = idx.more_like_this_query(seed, max_query_terms=10)
    assert sorted(t for t, _ in terms) == [c.term for c in getattr(q, "should", (q,))]


def test_suggest(reader):
    idx, _ = reader
    sugg = idx.suggest("s", n=5)
    assert sugg and all(t.startswith("s") for t, _ in sugg)
    # ranked by docFreq desc
    dfs = [df for _, df in sugg]
    assert dfs == sorted(dfs, reverse=True)
    assert idx.suggest("zzzznope") == []


def test_group_top_k(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = sx.group_top_k(orders, "o_custkey", 2,
                         F.desc("o_totalprice"), F.asc("o_orderkey"))
    counts = out.groupBy("o_custkey").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    # rank 1 matches collapse()
    best = {r["o_custkey"]: r["o_orderkey"]
            for r in out.filter(F.col("group_rank") == 1).collect()}
    coll = {r["o_custkey"]: r["o_orderkey"] for r in sx.collapse(
        orders, "o_custkey", F.desc("o_totalprice"), F.asc("o_orderkey")
    ).collect()}
    assert best == coll


def test_expand_excludes_collapsed_head(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    order = [F.desc("o_totalprice"), F.asc("o_orderkey")]
    exp = sx.expand(orders, "o_custkey", 2, *order)
    counts = exp.groupBy("o_custkey").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    # the collapsed heads never appear in the expanded section
    heads = {r["o_orderkey"]
             for r in sx.collapse(orders, "o_custkey", *order).collect()}
    assert heads.isdisjoint({r["o_orderkey"] for r in exp.collect()})
    # collapse + expand together cover min(group_size, 3) rows per key
    sizes = {r["o_custkey"]: r["count"]
             for r in orders.groupBy("o_custkey").count().collect()}
    got = {r["o_custkey"]: r["count"] for r in counts}
    for k, n in sizes.items():
        assert got.get(k, 0) == min(n - 1, 2)


def test_facet_interval_bounds(spark):
    df = spark.createDataFrame([(float(i),) for i in range(11)], ["x"])
    row = sx.facet_interval(df, "x", [
        ("closed", 2.0, 5.0, False, False),   # [2,5] -> 4
        ("open", 2.0, 5.0, True, True),       # (2,5) -> 2
        ("left_unbounded", None, 3.0, False, True),   # (*,3) -> 3
        ("right_unbounded", 8.0, None, True, False),  # (8,*] -> 2
    ]).collect()[0]
    assert (row["closed"], row["open"], row["left_unbounded"],
            row["right_unbounded"]) == (4, 2, 3, 2)


def test_stats_percentiles_exact_and_approx(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["x"])
    row = sx.stats_percentiles(df, "x", [0.25, 0.5, 0.75]).collect()[0]
    assert row["count"] == 100
    # exact linear interpolation over 1..100
    assert row["p25"] == pytest.approx(25.75)
    assert row["p50"] == pytest.approx(50.5)
    assert row["p75"] == pytest.approx(75.25)
    # the sketch path (the 10^12-row analog of Solr's t-digest) is close
    arow = sx.stats_percentiles(df, "x", [0.5], approx=True).collect()[0]
    assert abs(arow["p50"] - 50.5) <= 2.0


def test_facet_heatmap_grid(spark):
    pts = [(0.5, 0.5), (0.5, 0.5), (-59.9, -119.9), (59.9, 119.9),
           (60.0, 0.0), (0.0, 120.0)]  # last two outside [min, max)
    df = spark.createDataFrame(pts, ["lat", "lon"])
    cells = {(r["grid_row"], r["grid_col"]): r["cnt"]
             for r in sx.facet_heatmap(df, "lat", "lon",
                                       -60.0, 60.0, -120.0, 120.0,
                                       12, 24).collect()}
    assert cells == {(6, 12): 2, (0, 0): 1, (11, 23): 1}


def test_term_vectors_reanalysis(spark):
    from lucene_solr_spark.operators.search import term_vectors

    df = spark.createDataFrame(
        [(0, "spark merge spark"), (1, "batch window")],
        ["doc_id", "content"])
    rows = {(r["doc_id"], r["term"]): (r["tf"], list(r["positions"]))
            for r in term_vectors(df, [0, 1], analyzer="simple").collect()}
    assert rows == {
        (0, "spark"): (2, [0, 2]), (0, "merge"): (1, [1]),
        (1, "batch"): (1, [0]), (1, "window"): (1, [1]),
    }
    # id filter: only requested docs are analyzed
    assert not [k for k in rows if k[0] == 1 and k[1] == "spark"]
    only0 = term_vectors(df, [0], analyzer="simple").collect()
    assert {r["doc_id"] for r in only0} == {0}


def test_terms_enum_knobs(reader):
    idx, corpus = reader
    # prefix + count-sort: superset semantics of suggest()
    out = idx.terms_enum(prefix="s", limit=5, sort="count").collect()
    assert out and all(r["term"].startswith("s") for r in out)
    dfs = [r["df"] for r in out]
    assert dfs == sorted(dfs, reverse=True)
    assert [(r["term"], r["df"]) for r in out] == idx.suggest("s", n=5)
    # regex filter composes with mincount
    rx = idx.terms_enum(regex="^s.*k$", min_count=1, limit=100).collect()
    assert rx and all(r["term"].startswith("s") and r["term"].endswith("k")
                      for r in rx)
    # max_count bounds df from above; sort=index is term-ascending
    top_df = max(r["df"] for r in out)
    capped = idx.terms_enum(max_count=top_df - 1, limit=20,
                            sort="index").collect()
    assert all(r["df"] <= top_df - 1 for r in capped)
    terms = [r["term"] for r in capped]
    assert terms == sorted(terms)
    # range bounds honor inclusivity flags
    lo = idx.terms_enum(lower="spark", upper="spark", upper_incl=True,
                        limit=5).collect()
    assert [r["term"] for r in lo] == ["spark"]
    ex = idx.terms_enum(lower="spark", lower_incl=False, upper="spark",
                        upper_incl=True, limit=5).collect()
    assert ex == []
    # docFreq matches the corpus ground truth for one term
    truth = corpus.filter(F.col("content").rlike(r"(^|[^a-z0-9_])spark([^a-z0-9_]|$)")).count()
    assert lo[0]["df"] == truth


def test_rerank_query_window_semantics(reader):
    from lucene_solr_spark.operators.ltr import rerank_query

    idx, _ = reader
    out = rerank_query(idx, "spark OR merge", "vector",
                       k=10, rerank_docs=20, rerank_weight=5.0).collect()
    assert len(out) == 10
    win = {r["doc_id"]: r["score"]
           for r in idx.search("spark OR merge", k=20).collect()}
    # docs never leave the main window (ReRankCollector contract)
    assert all(r["doc_id"] in win for r in out)
    rr = {r["doc_id"]: r["score"]
          for r in idx.score_all("vector").collect()}
    import numpy as np
    for r in out:
        exp = np.float32(win[r["doc_id"]]) + np.float32(
            np.float32(5.0) * np.float32(rr.get(r["doc_id"], 0.0)))
        assert abs(r["score"] - float(exp)) < 1e-6
    # weight 0 reduces to the main ranking
    base = rerank_query(idx, "spark OR merge", "vector",
                        k=10, rerank_docs=20, rerank_weight=0.0).collect()
    main = idx.search("spark OR merge", k=10).collect()
    assert [r["doc_id"] for r in base] == [r["doc_id"] for r in main]


def test_update_processor_chain(spark):
    from lucene_solr_spark.sources import apply_update_processors

    df = spark.createDataFrame(
        [(1, "  Hello 42 ", "EN", ""), (2, None, "FR", "web")],
        "id long, t string, l string, s string")
    out = apply_update_processors(df, [
        {"trim": ["t"]},
        {"regex_replace": {"field": "t", "pattern": "[0-9]+",
                           "replacement": "#"}},
        {"lower": ["l"]},
        {"copy_field": {"source": "l", "dest": "l2"}},
        {"remove_blank": ["s"]},
        {"default_value": {"field": "t", "value": "(empty)"}},
    ])
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["t"] == "Hello #"
    assert rows[1]["l"] == "en" and rows[1]["l2"] == "en"
    assert rows[1]["s"] is None           # blank removed
    assert rows[2]["t"] == "(empty)"      # default filled the NULL
    import pytest as _pt
    with _pt.raises(ValueError):
        apply_update_processors(df, [{"nope": []}])


def test_ltr_tree_ensemble_rerank(spark):
    """MultipleAdditiveTreesModel: nested CASE WHEN Columns (no Python
    in the scoring path), left-associative weighted sum, exact scores
    verified against a hand-evaluated model."""
    from lucene_solr_spark.operators.ltr import (tree_node_column,
                                                 tree_node_sql,
                                                 trees_rerank)

    trees = [
        {"weight": 2.0, "root": {
            "feature": "f1", "threshold": 5.0,
            "left": {"value": 1.0},
            "right": {"feature": "f2", "threshold": 0.5,
                      "left": {"value": 2.0}, "right": {"value": 3.0}}}},
        {"weight": 0.5, "root": {"value": 4.0}},
    ]
    df = spark.createDataFrame(
        [(1, 3.0, 0.9), (2, 7.0, 0.1), (3, 9.0, 0.8)],
        "doc_id long, f1 double, f2 double")
    got = {r["doc_id"]: r["ltr_score"] for r in trees_rerank(
        df, {"f1": __import__("pyspark.sql.functions", fromlist=["col"]).col("f1"),
             "f2": __import__("pyspark.sql.functions", fromlist=["col"]).col("f2")},
        trees, k=3).collect()}
    # doc1: f1<5 -> 1.0;          2*1.0 + 0.5*4 = 4.0
    # doc2: f1>=5, f2<0.5 -> 2.0; 2*2.0 + 0.5*4 = 6.0
    # doc3: f1>=5, f2>=0.5 -> 3.0; 2*3.0 + 0.5*4 = 8.0
    assert got == {1: 4.0, 2: 6.0, 3: 8.0}
    # the SQL renderer agrees with the Column compiler leaf-for-leaf
    sql = tree_node_sql(trees[0]["root"])
    assert "CASE WHEN f1 < 5.0" in sql and "ELSE 3.0 END" in sql
    # scoring plan stays JVM-side: no Python evaluation operators
    plan = trees_rerank(
        df, {}, trees, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
