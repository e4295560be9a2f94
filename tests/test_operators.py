"""Semantic tests for the KG-side and engine operators, beyond the
DuckDB oracle equality that tools/check_contract.py checks: entity
co-occurrence, the relational first-degree hash, skew-safe and
bucketed joins, heavy hitters, connected components, PageRank and URL
canonicalization -- do they actually find what they should?
"""

import pytest
from pyspark.sql import functions as F


def test_entity_cooccurrence_planted(spark):
    """Co-occurrence PMI: pair counts over distinct per-doc mentions,
    the entity cap excludes mega-list documents BEFORE pairing (and
    from the marginals), min_count prunes singletons, and pmi_micro
    matches the hand-computed micro-nat value."""
    import math

    from rdf_canonize_spark.pipeline.entities import entity_cooccurrence
    from rdf_canonize_spark.rdfc.terms import NAMED

    ns = "http://kg.example.org/entity/"
    doc_ents = {
        "u1": ["A", "B", "C"],
        "u2": ["A", "B"],
        "u3": ["A", "B", "B"],   # duplicate mention collapses
        "u4": ["D", "E", "F", "G"],  # over the cap -> excluded
        "u5": ["C"],
    }
    rows = [
        (u, NAMED, ns + e, 2, "lit")
        for u, ents in doc_ents.items()
        for e in ents
    ]
    quads = spark.createDataFrame(
        rows, "url string, s_kind int, s string, o_kind int, o string"
    )
    got = {
        (r["entity_a"], r["entity_b"]): r
        for r in entity_cooccurrence(
            quads, max_doc_entities=3, min_count=2
        ).collect()
    }
    # kept docs: u1, u2, u3, u5 -> c_AB=3, c_A=3, c_B=3, c_C=2, nd=4
    assert set(got) == {(ns + "A", ns + "B")}
    r = got[(ns + "A", ns + "B")]
    assert r["c_ab"] == 3
    assert r["pmi_micro"] == math.floor(
        math.log((3 * 4) / (3 * 3)) * 1e6
    )


def test_sql_first_degree_hash_matches_python_kernel(spark, sf_dir):
    """The relational O4 fast path must byte-match the Python kernel's
    first-degree hashes for every (url, bnode) in the pipeline corpus."""
    from rdf_canonize_spark.operators.relational import (
        bnode_first_degree_hash_exact,
    )
    from rdf_canonize_spark.pipeline.canon_stage import rows_to_dataset
    from rdf_canonize_spark.pipeline.link import build_quads, gazetteer_df
    from rdf_canonize_spark.pipeline.pages import pages_from_documents
    from rdf_canonize_spark.rdfc.canonize import RDFC10

    quads = build_quads(
        pages_from_documents(spark, sf_dir), gazetteer_df(spark)
    ).cache()
    sql_hashes = {
        (r["url"], r["bnode"]): r["first_degree_hash"]
        for r in bnode_first_degree_hash_exact(quads).collect()
    }
    assert sql_hashes, "corpus has no blank nodes?"

    cols = ["s_kind", "s", "p", "o_kind", "o",
            "o_datatype", "o_lang", "g_kind", "g"]
    by_url = {}
    for row in quads.collect():
        by_url.setdefault(row["url"], []).append(
            tuple(row[c] for c in cols)
        )
    py_hashes = {}
    for url, rows in by_url.items():
        engine = RDFC10(max_work_factor=3)
        dataset = rows_to_dataset(rows)
        for quad in dataset:
            engine._add_info(quad, quad[0])
            engine._add_info(quad, quad[2])
            engine._add_info(quad, quad[3])
        for bid in engine.blank_node_info:
            py_hashes[(url, bid)] = engine.hash_first_degree_quads(bid)
    assert sql_hashes == py_hashes


def test_sql_first_degree_hash_graph_position_bnodes(spark):
    """Bnodes appearing as graph names (and self-loops) must hash
    identically through the SQL path -- the pipeline corpus has none,
    so they are pinned here explicitly."""
    from rdf_canonize_spark.operators.relational import (
        bnode_first_degree_hash_exact,
    )
    from rdf_canonize_spark.pipeline.canon_stage import rows_to_dataset
    from rdf_canonize_spark.rdfc.canonize import RDFC10

    LANGSTR = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    rows = [
        ("u1", 1, "x", "http://p/1", 1, "x", None, None, 3, ""),
        ("u1", 1, "x", "http://p/2", 1, "y", None, None, 1, "gb"),
        ("u1", 1, "gb", "http://p/3", 2, "lit", None, None, 3, ""),
        ("u1", 1, "y", "http://p/4", 2, "5",
         "http://www.w3.org/2001/XMLSchema#integer", None, 0,
         "http://g/n"),
        ("u1", 1, "y", "http://p/5", 2, "hi", LANGSTR, "en", 3, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, s_kind int, s string, p string, o_kind int, "
        "o string, o_datatype string, o_lang string, g_kind int, g string",
    )
    sql_h = {
        r["bnode"]: r["first_degree_hash"]
        for r in bnode_first_degree_hash_exact(df).collect()
    }
    engine = RDFC10()
    for q in rows_to_dataset([r[1:] for r in rows]):
        engine._add_info(q, q[0])
        engine._add_info(q, q[2])
        engine._add_info(q, q[3])
    py_h = {
        b: engine.hash_first_degree_quads(b)
        for b in engine.blank_node_info
    }
    assert set(py_h) == {"x", "y", "gb"}
    assert sql_h == py_h


def test_sharded_broadcast_join_equals_plain_join(spark):
    """Sharded dictionary join == plain join, including null keys and
    unmatched rows on the left path; and the fact side is never
    shuffled (zero shuffle exchanges in the whole plan)."""
    from rdf_canonize_spark.operators.joins import sharded_broadcast_join
    from rdf_canonize_spark.plans import checks

    fact = spark.createDataFrame(
        [(i, f"k{i % 37}" if i % 11 else None) for i in range(500)],
        "row_id int, surface string",
    )
    dim = spark.createDataFrame(
        [(f"k{i}", f"iri:{i}") for i in range(0, 37, 2)],
        "surface string, iri string",
    )
    key = lambda r: tuple(map(str, r))
    for how in ("left", "inner"):
        got = sharded_broadcast_join(fact, dim, "surface", 5, how)
        want = fact.join(dim, "surface", how)
        assert sorted(map(key, got.collect())) == \
            sorted(map(key, want.collect()))
    checks.assert_no_shuffle(
        sharded_broadcast_join(fact, dim, "surface", 5, "left"),
        "sharded broadcast join",
    )


def test_connected_components_planted(spark):
    """Hash-min CC on planted components, including a long chain that
    needs many propagation rounds and a self-loop singleton."""
    from rdf_canonize_spark.operators.graph import connected_components

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "a"), ("d", "e"), ("f", "f")]
        + chain,
        "src string, dst string",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    want = {"a": "a", "b": "a", "c": "a", "x": "a", "d": "d", "e": "d",
            "f": "f"}
    want.update({f"n{i:02d}": "n00" for i in range(12)})
    assert got == want


def test_heavy_hitters_exact_under_eviction(spark):
    """SpaceSaving candidate generation must stay a superset of true
    heavy hitters even when k is far below the distinct-key count
    (heavy eviction), so the recount result is exact."""
    from rdf_canonize_spark.operators.sketches import heavy_hitters

    # 2000 rows: 'hot' 400x, 'warm' 150x, 1450 singletons
    rows = (
        [("hot",)] * 400 + [("warm",)] * 150
        + [(f"cold{i}",) for i in range(1450)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(8)
    got = {
        r["key"]: r["n_occurrences"]
        for r in heavy_hitters(df, "key", 0.05).collect()
    }
    assert got == {"hot": 400, "warm": 150}  # 5% of 2000 = 100
    # tighter threshold drops 'warm'
    got2 = {
        r["key"]: r["n_occurrences"]
        for r in heavy_hitters(df, "key", 0.10).collect()
    }
    assert got2 == {"hot": 400}


def test_salted_join_equals_plain_join(spark):
    """Salted skew join == plain join on a hot-key dataset, for inner
    and left; every fact row appears exactly once."""
    from rdf_canonize_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 2 else f"k{i % 50}") for i in range(1000)],
        "row_id int, key string",
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"v{i}") for i in range(0, 50, 3)],
        "key string, val string",
    )
    norm = lambda rows: sorted(tuple(map(str, r)) for r in rows)
    # 'leftouter'/'left_outer' are legitimate Spark aliases for 'left'
    for how in ("inner", "left", "leftouter", "left_outer", "LEFT"):
        got = salted_join(fact, dim, "key", n_salts=7, how=how)
        want = fact.join(dim, "key", how)
        assert norm(got.collect()) == norm(want.collect()), how
    for bad in ("right", "full", "outer", "left_anti", "cross"):
        with pytest.raises(ValueError):
            salted_join(fact, dim, "key", how=bad)


def test_heavy_hitters_two_pass_and_empty(spark):
    """The sketch pass carries per-partition row totals, so the whole
    operator is two scans of the input (no separate count job); an
    empty input yields an empty result, not a division error."""
    from rdf_canonize_spark.operators.sketches import heavy_hitters

    empty = spark.createDataFrame([], "key string")
    assert heavy_hitters(empty, "key", 0.1).collect() == []
    # single partition, all rows one key: count must be exact
    df = spark.createDataFrame([("x",)] * 37 + [("y",)], "key string")
    got = {r["key"]: r["n_occurrences"]
           for r in heavy_hitters(df, "key", 0.5).collect()}
    assert got == {"x": 37}
    # output schema unchanged by the internal partition-total column
    assert [f.name for f in heavy_hitters(df, "key", 0.5).schema.fields] \
        == ["key", "n_occurrences"]
    # int64 keys above 2^53: a float64 coercion in the sketch pass
    # would corrupt them and silently drop the heavy hitter
    big = 2 ** 53 + 3
    bdf = spark.createDataFrame(
        [(big,)] * 20 + [(i,) for i in range(30)], "key long"
    ).repartition(4)
    bgot = {r["key"]: r["n_occurrences"]
            for r in heavy_hitters(bdf, "key", 0.2).collect()}
    assert bgot == {big: 20}


def test_bucketed_join_no_shuffle(spark, tmp_path, sf_dir):
    """Bucketed tables co-located on the join key: the sort-merge join
    runs with ZERO shuffle exchanges (the 100 TB repeated-join path --
    pay the bucketing write once, join shuffle-free forever)."""
    from rdf_canonize_spark.plans import checks

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .option("path", str(tmp_path / "li_b")).saveAsTable("t_li_b"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .option("path", str(tmp_path / "ord_b")).saveAsTable("t_ord_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_li_b").join(
            spark.table("t_ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).select("l_orderkey", "l_quantity", "o_orderpriority")
        plan = checks.executed_plan(j)
        assert "SortMergeJoin" in plan
        checks.assert_no_shuffle(j, "bucketed join")
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_pagerank_semantics(spark):
    """Mass conservation (dangling redistribution), hub dominance, and
    the symmetric-cycle closed form."""
    from rdf_canonize_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string"
    )
    pr = {r["node"]: r["rank"]
          for r in pagerank(star, n_iter=30).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr["c"] > pr["a"] == pr["b"]

    cyc = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "src string, dst string"
    )
    pr2 = {r["node"]: r["rank"]
           for r in pagerank(cyc, n_iter=5).collect()}
    assert abs(pr2["x"] - 0.5) < 1e-12
    assert abs(pr2["y"] - 0.5) < 1e-12


def test_pagerank_fixedpoint_matches_float_and_partitioning(spark):
    """The contract form (round-4 verdict action #4): fixed-point
    bigint ranks (a) track the float ranks within the documented
    <1e-9 absolute flooring loss, and (b) are EXACTLY invariant to
    input partitioning -- the property float summation cannot give
    and the reason the contract query uses this form."""
    from rdf_canonize_spark.operators.graph import (
        PR_SCALE,
        pagerank,
        pagerank_fixedpoint,
    )

    edges = [("a", "c"), ("b", "c"), ("c", "d"), ("d", "a"),
             ("e", "a"), ("e", "c"), ("f", "f")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fp = {r["node"]: r["rank_fp"]
          for r in pagerank_fixedpoint(df, n_iter=10).collect()}
    fl = {r["node"]: r["rank"]
          for r in pagerank(df, n_iter=10).collect()}
    assert set(fp) == set(fl)
    for node in fl:
        assert abs(fp[node] / PR_SCALE - fl[node]) < 1e-9
    # exact partitioning invariance: 1 partition vs 7 partitions
    fp1 = {r["node"]: r["rank_fp"]
           for r in pagerank_fixedpoint(
               df.coalesce(1), n_iter=10).collect()}
    fp7 = {r["node"]: r["rank_fp"]
           for r in pagerank_fixedpoint(
               df.repartition(7), n_iter=10).collect()}
    assert fp1 == fp7 == fp


def test_heavy_hitters_drive_salted_join(spark):
    """The documented composition (joins.py: 'size n_salts from the
    heavy-hitter counts'): detect hot keys with heavy_hitters, salt
    the join because one exists, and get exactly the plain-join
    result on a corpus where one key holds half the rows."""
    from rdf_canonize_spark.operators.joins import salted_join
    from rdf_canonize_spark.operators.sketches import heavy_hitters

    fact = spark.createDataFrame(
        [(i, "hot" if i % 2 == 0 else f"k{i % 100}") for i in range(2000)],
        "row_id int, key string",
    ).repartition(8)
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"v{i}") for i in range(100)],
        "key string, val string",
    )
    hot = {r["key"]: r["n_occurrences"]
           for r in heavy_hitters(fact, "key", 0.25).collect()}
    assert hot == {"hot": 1000}  # detection found the skew
    # salt factor sized from the detected hot-key share
    n_salts = max(2, int(hot["hot"] / (2000 * 0.05)))
    got = salted_join(fact, dim, "key", n_salts=n_salts, how="inner")
    want = fact.join(dim, "key", "inner")
    norm = lambda rows: sorted(tuple(map(str, r)) for r in rows)
    assert norm(got.collect()) == norm(want.collect())


def test_url_canonicalization_edges(spark):
    """SURT canonicalization edge cases beyond the synthetic corpus:
    userinfo stripped, bare :port (no digits) dropped, '' path ->
    '/', repeated trailing slashes collapsed, all-tracking query
    dropped entirely, fragment-only URL, param sorting stable."""
    from rdf_canonize_spark.operators import urls

    df = spark.createDataFrame(
        [
            (1, "https://user:pw@Host.Example.com:8080/a/b/?z=1&a=2"),
            (2, "HTTP://WWW.host.example.COM/a/b?a=2&z=1#frag"),
            (3, "https://site.org"),
            (4, "http://site.org///"),
            (5, "https://site.org/x?utm_source=a&utm_medium=b&fbclid=z"),
            (6, "http://site.org/x#only-frag"),
        ],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["canonical_url"]
        for r in urls.canonical_urls(df).collect()
    }
    assert got[1] == "com,example,host)/a/b?a=2&z=1"
    assert got[2] == "com,example,host)/a/b?a=2&z=1"
    assert got[3] == "org,site)/"
    assert got[4] == "org,site)/"
    assert got[5] == "org,site)/x"
    assert got[6] == "org,site)/x"
