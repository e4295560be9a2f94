"""Semantic tests for the KG-side and engine operators, beyond the
DuckDB oracle equality that tools/check_contract.py checks: entity
co-occurrence, the relational first-degree hash, skew-safe and
bucketed joins, heavy hitters, connected components, PageRank and URL
canonicalization -- do they actually find what they should?  The
near-duplicate detectors in ``operators/dedup.py`` have no contract
query; their planted-duplicate tests here are their only check.
"""

import pytest
from pyspark.sql import functions as F

from rdf_canonize_spark.operators import dedup
from rdf_canonize_spark.pipeline.pages import pages_from_documents


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return dedup.near_dup_corpus(spark, sf_dir).cache()


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


def test_exact_dedup_finds_planted_copies(spark, corpus, sf_dir):
    dups = dedup.exact_dedup(corpus).filter("n_copies > 1")
    rows = {r["keeper_id"]: r["n_copies"] for r in dups.collect()}
    # every 10th doc has an exact copy planted at +2000000
    n_docs = corpus.filter("doc_id < 1000000").count()
    assert len(rows) == n_docs // 10
    assert all(k % 10 == 0 for k in rows)
    assert all(v == 2 for v in rows.values())


def test_jaccard_finds_planted_near_dups(corpus):
    pairs = dedup.jaccard_pairs(corpus, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    base_ids = [
        r["doc_id"]
        for r in corpus.filter("doc_id < 1000000").select("doc_id").collect()
    ]
    # every planted near-copy (first word dropped) and exact copy must
    # be recovered; the corpus also contains natural near-dups, fine
    expected = {(k, k + 1000000) for k in base_ids if k % 3 == 0}
    expected |= {(k, k + 2000000) for k in base_ids if k % 10 == 0}
    missed = expected - got
    assert not missed, f"missed planted pairs: {sorted(missed)[:5]}"


def test_lsh_candidates_superset_of_high_jaccard(corpus):
    """Any pair with near-identical signatures must share a band."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(corpus, threshold=0.9).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidates(corpus).collect()
    }
    missed = exact - cand
    # 4 bands of 4 over jaccard>=0.9: P(miss) = (1-s^4)^4 ~ small
    assert len(missed) <= max(1, len(exact) // 10)


def test_lsh_verified_equals_jaccard_on_candidate_pairs(corpus):
    """The composed scale path (LSH -> verify survivors only) returns
    exactly the all-pairs Jaccard result restricted to LSH candidates:
    verification never invents or loses a pair."""
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidates(corpus).collect()
    }
    allpairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(corpus, threshold=0.5).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.lsh_verified_pairs(corpus, threshold=0.5).collect()
    }
    assert verified == {
        p: j for p, j in allpairs.items() if p in cand
    }
    # and the planted exact copies (jaccard 1.0) always survive
    base_ids = [
        r["doc_id"]
        for r in corpus.filter("doc_id < 1000000").select("doc_id").collect()
    ]
    planted = {(k, k + 2000000) for k in base_ids if k % 10 == 0}
    assert planted <= set(verified)


def test_jaccard_max_doc_freq_drops_boilerplate(spark):
    """A boilerplate shingle shared by every document must not create
    pairs once capped: the cap removes the k^2 blow-up source while
    leaving genuinely-similar pairs intact."""
    boiler = "all rights reserved globally"
    rows = [(i, f"unique{i} text{i} body{i} {boiler}")
            for i in range(40)]
    # docs 0 and 1 genuinely similar beyond the boilerplate
    rows[1] = (1, rows[0][1].replace("unique0", "unique1"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.jaccard_pairs(df, threshold=0.1)
    capped = dedup.jaccard_pairs(df, threshold=0.1, max_doc_freq=5)
    pairs_capped = {(r["doc_a"], r["doc_b"])
                    for r in capped.collect()}
    # uncapped: every pair shares the boilerplate shingles -> O(k^2)
    assert uncapped.count() == 40 * 39 // 2
    # capped: only the genuinely similar planted pair remains
    assert pairs_capped == {(0, 1)}


def test_simhash_near_dups_close_in_hamming(corpus):
    sh = {r["doc_id"]: r["simhash_bits"] for r in
          dedup.simhash(corpus).collect()}
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    near = [(k - 1000000, k) for k in sh if 1000000 <= k < 2000000]
    assert near
    dists = [ham(sh[a], sh[b]) for a, b in near if a in sh]
    assert sum(dists) / len(dists) <= 3.0
    exact_pairs = [(k - 2000000, k) for k in sh if k >= 2000000]
    assert all(sh[a] == sh[b] for a, b in exact_pairs if a in sh)


def test_incremental_dedup_planted(spark):
    """Snapshot screening: an exact copy of an old doc is exact_dup
    (matched to the SMALLEST old copy), a near variant is near_dup,
    novel text is kept, and a doc duplicating another NEW doc (but
    nothing old) is kept -- the new x new quadrant is never
    compared."""
    from rdf_canonize_spark.operators.dedup import incremental_dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau")
    old = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different old content "
                                   "about completely other things")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base),                                   # exact dup
            (102, base.replace("alpha ", "")),             # near dup
            (103, "brand new unseen writing nothing like "
                  "anything already collected before now"),
            (104, "brand new unseen writing nothing like "
                  "anything already collected before now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in incremental_dedup(new, old).collect()
    }
    assert got[101] == ("exact_dup", 1)  # min old copy
    assert got[102][0] == "near_dup" and got[102][1] == 1
    assert got[103] == ("kept", None)
    assert got[104] == ("kept", None)   # new-vs-new never compared


def test_dedup_clusters_planted_transitive(corpus):
    """Every planted copy clusters with its base as keeper; docs that
    have BOTH a near-copy and an exact copy (doc_id % 30 == 0) form
    one transitive cluster of >= 3."""
    from collections import Counter

    got = {r["doc_id"]: r["keeper_id"]
           for r in dedup.dedup_clusters(corpus, threshold=0.5).collect()}
    base_ids = [
        r["doc_id"]
        for r in corpus.filter("doc_id < 1000000").select("doc_id").collect()
    ]
    for k in base_ids:
        if k % 10 == 0:  # exact copy at +2000000: same cluster, and
            # the keeper is never a planted copy (min id <= base)
            assert got.get(k + 2000000) == got.get(k) is not None
            assert got[k] <= k
    sizes = Counter(got.values())
    for k in base_ids:
        if k % 30 == 0:  # near at +1M and exact at +2M -> one cluster
            assert got.get(k + 1000000) == got.get(k + 2000000) == got[k]
            assert sizes[got[k]] >= 3


def test_decontaminate_planted_overlap(spark):
    from rdf_canonize_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "totally different words here nothing shared at all"),
         (3, "prefix alpha beta gamma delta epsilon zeta suffix")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_overlap_ngrams"], r["is_contaminated"])
           for r in decontaminate(train, bench, n=6, min_hits=2).collect()}
    # doc 1 IS the benchmark doc: all three 6-grams shared
    assert got[1] == (3, True)
    # doc 2 shares nothing
    assert got[2] == (0, False)
    # doc 3 contains one shared 6-gram (alpha..zeta)
    assert got[3] == (1, False)


def test_paragraph_dedup_and_boilerplate_planted(spark):
    """Window-aligned segment dedup finds exactly the planted shared
    paragraphs; boilerplate detection flags the per-source repeated
    header and nothing from the unique-text source."""
    header = " ".join(f"hdr{i}" for i in range(12))
    para = " ".join(f"shared{i}" for i in range(12))

    def uniq(tag, n=12):
        return " ".join(f"{tag}w{i}" for i in range(n))

    rows = [
        # s1: three docs opening with the same 12-word header
        (0, "s1", header + " " + uniq("a")),
        (1, "s1", header + " " + uniq("b")),
        (2, "s1", header + " " + uniq("c")),
        # s2: unique docs, but 10 and 11 share an aligned paragraph
        (10, "s2", para + " " + uniq("d")),
        (11, "s2", para + " " + uniq("e")),
        (12, "s2", uniq("f") + " " + uniq("g")),
        # ragged tail shorter than a window contributes nothing
        (13, "s2", "tiny text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    dups = {r["seg_hash"]: r for r in dedup.paragraph_dedup(docs).collect()}
    import hashlib
    h_header = hashlib.md5(header.encode()).hexdigest()
    h_para = hashlib.md5(para.encode()).hexdigest()
    assert set(dups) == {h_header, h_para}
    assert dups[h_header]["n_docs"] == 3
    assert dups[h_header]["keeper_doc_id"] == 0
    assert dups[h_para]["n_docs"] == 2
    assert dups[h_para]["keeper_doc_id"] == 10

    bp = {(r["source"], r["seg_hash"]): r
          for r in dedup.boilerplate_segments(
              docs, min_docs=2, min_frac=0.5).collect()}
    # header: 3/3 s1 docs -> flagged; para: 2/4 s2 docs -> 0.5 -> flagged
    assert set(bp) == {("s1", h_header), ("s2", h_para)}
    assert bp[("s1", h_header)]["doc_frac"] == 1.0
    # tightening min_frac drops the s2 paragraph
    bp2 = dedup.boilerplate_segments(docs, min_docs=2, min_frac=0.75)
    assert {(r["source"], r["seg_hash"]) for r in bp2.collect()} \
        == {("s1", h_header)}

    # the cleaning pass: flagged segments vanish, everything else
    # (including sub-window tails) survives whitespace-normalized
    removal = dedup.boilerplate_segments(docs, min_docs=2, min_frac=0.5)
    cleaned = {r["doc_id"]: r
               for r in dedup.remove_boilerplate(docs, removal).collect()}
    assert len(cleaned) == len(rows)
    assert cleaned[0]["cleaned_text"] == uniq("a")
    assert cleaned[0]["n_removed"] == 1
    assert cleaned[10]["cleaned_text"] == uniq("d")
    assert cleaned[12]["cleaned_text"] == uniq("f") + " " + uniq("g")
    assert cleaned[12]["n_removed"] == 0
    assert cleaned[13]["cleaned_text"] == "tiny text"  # tail-only doc


def test_remove_boilerplate_identity_on_random_docs(spark):
    """Invariant: with an EMPTY removal list, remove_boilerplate is
    exactly whitespace-normalization (every token survives in order),
    and n_removed == 0 -- over seeded random docs of every shape
    (empty, sub-window, window-aligned, ragged, messy whitespace)."""
    import random

    rng = random.Random(20260817)
    rows = []
    for i in range(100):
        n = rng.randrange(0, 40)
        words = [f"w{rng.randrange(50)}" for _ in range(n)]
        sep = rng.choice([" ", "  ", "\t", " \t "])
        pad = rng.choice(["", " ", "\t"])
        rows.append((i, f"s{i % 3}", pad + sep.join(words) + pad))
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    empty_removal = spark.createDataFrame(
        [], "source string, seg_hash string"
    )
    got = {r["doc_id"]: r
           for r in dedup.remove_boilerplate(docs, empty_removal).collect()}
    assert len(got) == 100
    for i, _, text in rows:
        expect = " ".join(text.split())
        assert got[i]["cleaned_text"] == expect, i
        assert got[i]["n_removed"] == 0, i


def test_duplicate_spans_planted(spark):
    """Offset-free exact-substring dedup: a 15-word passage planted
    mid-document at DIFFERENT word offsets in two documents is found
    as one merged span per doc with the exact token boundaries; the
    unique remainder text is not flagged; a doc sharing nothing stays
    absent.  n=5 keeps the planted case compact."""
    shared = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    assert len(shared.split()) == 15
    docs = spark.createDataFrame(
        [
            # shared passage at offset 3
            (1, "alpha beta gamma " + shared + " tail one"),
            # same passage at offset 5
            (2, "one two three four five " + shared),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(docs, n=5).collect()
    }
    assert set(rows) == {1, 2}
    # doc 1: span covers tokens [3, 18); 15-5+1 = 11 grams
    assert rows[1]["span_start"] == 3
    assert rows[1]["span_end"] == 18
    assert rows[1]["span_words"] == 15
    assert rows[1]["n_grams"] == 11
    # doc 2: same passage at [5, 20)
    assert rows[2]["span_start"] == 5
    assert rows[2]["span_end"] == 20
    assert rows[2]["n_grams"] == 11


def test_duplicate_spans_merges_adjacent_islands(spark):
    """Gaps-and-islands boundary: duplicated grams at position
    distance exactly n have ADJACENT coverage ([0,n) + [n,2n)) and
    merge into one span; at distance n+1 one word between them is
    unique and they stay two spans.  Both docs carry both passages so
    every passage gram is cross-document, while the grams spanning
    the passage boundary are unique to their doc (not duplicated)."""
    a = "aa bb cc dd ee"  # 5 words, n=5 -> one gram each
    b = "vv ww xx yy zz"
    docs = spark.createDataFrame(
        [
            (1, a + " " + b),         # dup grams at 0 and 5: merged
            (2, a + " u1 " + b),      # dup grams at 0 and 6: split
        ],
        "doc_id long, text string",
    )
    spans = dedup.duplicate_spans(docs, n=5)
    one = sorted(
        (r["span_start"], r["span_end"], r["n_grams"])
        for r in spans.filter(F.col("doc_id") == 1).collect()
    )
    assert one == [(0, 10, 2)]
    two = sorted(
        (r["span_start"], r["span_end"])
        for r in spans.filter(F.col("doc_id") == 2).collect()
    )
    assert two == [(0, 5), (6, 11)]


def test_containment_pairs_asymmetric_case(spark):
    """Containment dedup finds the short-doc-embedded-in-long-doc
    case that symmetric Jaccard misses entirely: a 7-word quote
    inside a 30-word page has containment 1.0 but Jaccard ~0.16;
    direction puts the smaller shingle set inner; partial overlap
    below threshold is excluded; disjoint docs never pair."""
    from rdf_canonize_spark.operators import dedup

    long_words = " ".join(f"w{i}" for i in range(30))
    quote = " ".join(f"w{i}" for i in range(10, 17))       # inside
    partial = " ".join(f"w{i}" for i in range(27, 30)) + " x1 x2 x3 x4"
    docs = spark.createDataFrame(
        [
            (1, long_words),
            (2, quote),
            (3, "u0 u1 u2 u3 u4 u5"),
            (4, partial),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_inner"], r["doc_outer"]): r
        for r in dedup.containment_pairs(docs).collect()
    }
    assert (2, 1) in got
    r = got[(2, 1)]
    assert r["containment"] == 1.0
    assert r["size_inner"] == 5 and r["size_outer"] == 28
    assert all(3 not in pair for pair in got)
    assert (4, 1) not in got and (1, 4) not in got  # 1/5 < 0.8
    # and symmetric Jaccard at its default threshold misses the pair
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_remove_duplicate_spans_planted(spark):
    """Span cleaning drops exactly the duplicated passage from both
    carriers (drop-all-occurrences), keeps unique text on either
    side, and reports stats consistently; a span-free doc passes
    through whitespace-normalized with zero removals."""
    shared = "one two three four five six seven"  # 7 words, n=5
    docs = spark.createDataFrame(
        [
            (1, "pre1 pre2 " + shared + " post1"),
            (2, shared + " tail1 tail2"),
            (3, "no  duplicated   content here at all"),
        ],
        "doc_id long, text string",
    )
    spans = dedup.duplicate_spans(docs, n=5)
    cleaned = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(docs, spans).collect()
    }
    assert cleaned[1]["cleaned_text"] == "pre1 pre2 post1"
    assert cleaned[1]["n_removed_words"] == 7
    assert cleaned[2]["cleaned_text"] == "tail1 tail2"
    assert cleaned[2]["n_removed_words"] == 7
    assert cleaned[3]["cleaned_text"] == "no duplicated content here at all"
    assert cleaned[3]["n_removed_words"] == 0
    stats = {
        r["doc_id"]: r
        for r in dedup.duplicate_span_stats(docs, spans).collect()
    }
    assert stats[1]["dup_words"] == 7 and stats[1]["n_spans"] == 1
    assert stats[1]["n_words"] == 10
    assert abs(stats[1]["dup_word_frac"] - 0.7) < 1e-9
    assert stats[3]["dup_words"] == 0 and stats[3]["dup_word_frac"] == 0.0
