"""Semantic tests for the training-data operators (beyond the oracle
equality the driver checks): do they actually find what they should?
"""

import pytest
from pyspark.sql import functions as F

from rdf_canonize_spark.operators import dedup, multimodal, similarity
from rdf_canonize_spark.operators.textstats import lang_id, token_counts
from rdf_canonize_spark.pipeline.pages import pages_from_documents


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return dedup.near_dup_corpus(spark, sf_dir).cache()


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


def test_ann_variants_defining_properties(spark, sf_dir):
    """Assert each ANN variant's exact defining property, plus
    recall-vs-brute-force bounds for IVF (the embeddings are random,
    so the floor is modest; exactness when probing every cell is the
    structural guarantee)."""
    bf = similarity.brute_force_topk(spark, sf_dir).collect()
    ivf = similarity.ivf_topk(spark, sf_dir).collect()
    lsh = similarity.lsh_ann_topk(spark, sf_dir).collect()
    assert len(bf) == 50  # 10 queries x top5, ranks 1..5 unique
    for rows in (bf, ivf, lsh):
        for r in rows:
            assert -1.0 <= r["cosine"] <= 1.0
            assert 1 <= r["rank"] <= 5
    # IVF: every returned neighbor's assigned cell is one of the
    # query's probed cells (the candidate-restriction invariant)
    emb = similarity._load(spark, sf_dir).filter(
        F.size("v") == similarity.EMB_DIM
    )
    cents = similarity.centroids(emb)
    n_cells = cents.count()
    assigned = {
        r["vec_id"]: r["cell_id"]
        for r in similarity.assign_cells(emb, cents).collect()
    }
    cent_v = {r["cell_id"]: r["cv"] for r in cents.collect()}
    qv = {r["vec_id"]: r["v"]
          for r in emb.filter("vec_id < 10").collect()}

    def d2(a, b):
        return sum(x * x for x in a) - 2 * sum(
            x * y for x, y in zip(a, b)
        ) + sum(y * y for y in b)

    probe_cells = {
        q: {c for c, _ in sorted(
            ((c, d2(v, cv)) for c, cv in cent_v.items()),
            key=lambda t: (t[1], t[0]),
        )[:3]}
        for q, v in qv.items()
    }
    for r in ivf:
        assert assigned[r["vec_id"]] in probe_cells[r["query_id"]]
    # recall@5 vs brute force: modest floor at nprobe=3 on random
    # vectors; probing EVERY cell must reproduce brute force exactly
    bf_set = {(r["query_id"], r["vec_id"]) for r in bf}
    ivf_set = {(r["query_id"], r["vec_id"]) for r in ivf}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.4, f"IVF recall@5 {recall} below floor"
    full = similarity.ivf_topk(spark, sf_dir, nprobe=n_cells)
    full_rows = {
        (r["query_id"], r["vec_id"], r["rank"]) for r in full.collect()
    }
    assert full_rows == {
        (r["query_id"], r["vec_id"], r["rank"]) for r in bf
    }
    # both approximations agree with brute force on shared pairs
    bf_cos = {(r["query_id"], r["vec_id"]): r["cosine"] for r in bf}
    for r in ivf + lsh:
        key = (r["query_id"], r["vec_id"])
        if key in bf_cos:
            assert abs(bf_cos[key] - r["cosine"]) < 1e-9


def test_train_centroids_and_external_ivf(spark, sf_dir):
    """Lloyd trainer: inertia (sum of squared distance to the
    assigned centroid) must not increase round over round, and the
    trained table plugs into ivf_topk via centroids_df with valid
    ANN output (the external-centroid deployment path)."""
    emb = similarity._load(spark, sf_dir).filter(
        F.size("v") == similarity.EMB_DIM
    ).cache()

    def inertia(cents):
        a = similarity.assign_cells(emb, cents)
        joined = a.join(
            cents.withColumnRenamed("cell_id", "cid"),
            a["cell_id"] == F.col("cid"),
        )
        return joined.agg(
            F.sum(
                similarity._d2(F.col("v"), F.col("cv"))
            ).alias("i")
        ).collect()[0]["i"]

    prev = None
    for it in (0, 2, 5):
        cents = similarity.train_centroids(emb, k=8, n_iter=it)
        assert cents.count() == 8
        cur = inertia(cents)
        if prev is not None:
            assert cur <= prev + 1e-6, (it, cur, prev)
        prev = cur
    trained = similarity.train_centroids(emb, k=8, n_iter=3)
    rows = similarity.ivf_topk(
        spark, sf_dir, centroids_df=trained
    ).collect()
    assert len(rows) == 50  # 10 queries x top-5
    assert all(1 <= r["rank"] <= 5 and -1.0 <= r["cosine"] <= 1.0
               for r in rows)
    emb.unpersist()


def test_init_centroids_fixed_k_and_backfill(spark, sf_dir):
    """init_centroids (the oracle-checked fixed-K IVF configuration):
    always yields exactly min(k, N) rows with cell_ids 0..k-1 -- and
    when sparse/non-contiguous vec_ids leave the stride filter with
    zero survivors, the backfill selects the smallest-vec_id vectors
    (the advisor's under-fill finding)."""
    emb = similarity._load(spark, sf_dir).filter(
        F.size("v") == similarity.EMB_DIM
    ).cache()
    cents = similarity.init_centroids(emb, k=16)
    rows = sorted(cents.collect(), key=lambda r: r["cell_id"])
    assert [r["cell_id"] for r in rows] == list(range(16))

    # every vec_id multiplied by 1000: even ids, so vec_id % stride
    # (= 2 for n=40, k=16) never equals 13 % 2 -- zero stride matches,
    # pure backfill
    sparse = emb.limit(40).select(
        (F.col("vec_id") * 1000).alias("vec_id"), "v", "label"
    )
    c2 = sorted(
        similarity.init_centroids(sparse, k=16).collect(),
        key=lambda r: r["cell_id"],
    )
    assert [r["cell_id"] for r in c2] == list(range(16))
    want = [
        r["v"]
        for r in sparse.orderBy("vec_id").limit(16).collect()
    ]
    assert [r["cv"] for r in c2] == want

    # and the trained-path entry point produces full ANN output
    out = similarity.ivf_trained_topk(spark, sf_dir).collect()
    assert len(out) == 50  # 10 queries x top-5
    assert all(1 <= r["rank"] <= 5 for r in out)
    emb.unpersist()


def test_semantic_dedup_verdicts(spark, sf_dir):
    """SemDeDup cell-bucketed dedup: every indexable vector gets
    exactly one verdict; a dropped vector's keeper is a smaller-id
    SAME-CELL mate with cosine >= threshold (recomputed exactly);
    an unreachable threshold keeps everything."""
    import math

    emb = similarity._load(spark, sf_dir).filter(
        F.size("v") == similarity.EMB_DIM
    )
    n = emb.count()
    rows = similarity.semantic_dedup(spark, sf_dir, threshold=0.2).collect()
    assert len(rows) == n
    assert len({r["vec_id"] for r in rows}) == n
    by_id = {r["vec_id"]: r for r in rows}
    vecs = {r["vec_id"]: r["v"] for r in emb.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    dropped = [r for r in rows if not r["is_kept"]]
    assert dropped, "corpus has planted near-dups; some must drop"
    for r in dropped:
        k = r["dup_of"]
        assert k is not None and k < r["vec_id"]
        assert by_id[k]["cell_id"] == r["cell_id"]
        assert cos(vecs[k], vecs[r["vec_id"]]) >= 0.2
    for r in rows:
        assert r["is_kept"] == (r["dup_of"] is None)

    all_kept = similarity.semantic_dedup(
        spark, sf_dir, threshold=1.01
    ).collect()
    assert all(r["is_kept"] for r in all_kept)


def test_banded_hyperplane_lsh_semantics(spark, sf_dir):
    """Banded multi-table hyperplane LSH: (1) table 0 reproduces the
    original single-table buckets, so n_tables=1 keeps the contract
    query unchanged; (2) the n-table candidate set equals the union of
    the per-seed single-table candidate sets (OR-of-tables, the
    MinHash-band shape); (3) verified output = candidates filtered by
    exact cosine, so every banded result is a true near-dup pair."""
    emb = similarity._load(spark, sf_dir).filter(
        F.size("v") == similarity.EMB_DIM
    )
    pairs = lambda df: {(r["vec_a"], r["vec_b"]) for r in df.collect()}
    banded = pairs(
        similarity.embedding_near_dup_candidates(emb, n_tables=3, bits=6)
    )
    per_table = set()
    for t in range(3):
        per_table |= pairs(
            similarity.embedding_near_dup_candidates(
                emb, n_tables=1, bits=6,
                base_seed=similarity.HYPERPLANE_SEED + t,
            )
        )
    assert banded == per_table
    # verified pairs ⊆ candidates, and each meets the threshold
    verified = similarity.embedding_near_dup_pairs(
        spark, sf_dir, threshold=0.2, n_tables=3, bits=6
    ).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in verified} <= banded
    assert all(r["cosine"] >= 0.2 for r in verified)
    # multi-table candidates ⊇ single-table at the same width
    single = pairs(
        similarity.embedding_near_dup_candidates(emb, n_tables=1, bits=6)
    )
    assert single <= banded


def test_hyperplane_bucket_occupancy_bounded_at_10x(spark):
    """The scale contract: with bits ~ log2(N / target_occupancy),
    bucket occupancy stays bounded when the corpus grows 10x -- the
    within-bucket pair join cost per vector does NOT grow with N
    (unlike a fixed-width bucket space, where it grows linearly)."""
    import numpy as np

    rng = np.random.default_rng(20260817)
    dim = similarity.EMB_DIM
    target = 64  # desired expected bucket occupancy

    def occupancies(n, bits):
        vecs = rng.standard_normal((n, dim))
        pdf = __import__("pandas").DataFrame(
            {"vec_id": range(n), "v": [list(map(float, v)) for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        bk = similarity.hyperplane_buckets(df, "v", n_tables=1, bits=bits)
        sizes = [
            r["n"]
            for r in bk.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        return sizes

    import math

    n_small, n_big = 1500, 15000
    bits_small = max(1, round(math.log2(n_small / target)))   # ~5
    bits_big = max(1, round(math.log2(n_big / target)))       # ~8
    occ_small = occupancies(n_small, bits_small)
    occ_big = occupancies(n_big, bits_big)
    # expected occupancy is design-constant; allow concentration slack
    # (hyperplane buckets on iid vectors are not perfectly uniform)
    assert max(occ_big) <= 6 * target
    # the pair-join cost per vector (sum s^2 / N) must not grow ~10x
    # as it would with fixed-width buckets
    cost_small = sum(s * s for s in occ_small) / n_small
    cost_big = sum(s * s for s in occ_big) / n_big
    assert cost_big <= 3 * cost_small


def test_semantic_dedup_cell_occupancy_bounded_at_10x(spark):
    """Round-4 verdict action #2 scale contract: with the scaled
    configuration k = max(IVF_K, n // target_occupancy), the
    within-cell pair-join cost per vector (sum s^2 / N over cell
    sizes s) stays bounded when the corpus grows 10x -- the fixed-k
    form's cost would grow ~10x.  Mirrors
    test_hyperplane_bucket_occupancy_bounded_at_10x for the Voronoi
    cell bucketing."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(20260817)
    dim = similarity.EMB_DIM
    target = similarity.SEMDEDUP_TARGET_OCCUPANCY

    def occupancies(n):
        vecs = rng.standard_normal((n, dim))
        pdf = pd.DataFrame(
            {
                "vec_id": range(n),
                "v": [list(map(float, v)) for v in vecs],
                "label": ["x"] * n,
            }
        )
        df = spark.createDataFrame(pdf)
        k = similarity.scaled_n_cells(n)
        cents = similarity.init_centroids(df, k=k, n=n).localCheckpoint()
        assigned = similarity.assign_cells(df, cents)
        return k, [
            r["n"]
            for r in assigned.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]

    n_small, n_big = 800, 8000
    k_small, occ_small = occupancies(n_small)
    k_big, occ_big = occupancies(n_big)
    # k scales with the corpus (x10 here), so expected occupancy is
    # design-constant at `target` on both corpora
    assert k_small == n_small // target
    assert k_big == n_big // target
    assert sum(occ_small) == n_small and sum(occ_big) == n_big
    # the pair-join cost per vector (sum s^2 / N) must not grow ~10x
    # as it would with fixed k; Voronoi cells of stride-picked
    # centroids are less uniform than hyperplane buckets, so allow
    # concentration slack on the absolute bound
    cost_small = sum(s * s for s in occ_small) / n_small
    cost_big = sum(s * s for s in occ_big) / n_big
    assert cost_big <= 3 * cost_small
    assert cost_big <= 10 * target


def test_lang_id_and_token_counts_sane(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    li = lang_id(docs)
    assert li.filter(F.col("lang_pred").isin("en", "de", "fr", "es")) \
             .count() == docs.count()
    tc = token_counts(docs)
    bad = tc.filter(F.col("n_tokens") < F.col("n_words")).count()
    assert bad == 0  # regex tokens split punctuation, never fewer


def test_media_features_deterministic_and_stubbed(spark, sf_dir):
    pages = pages_from_documents(spark, sf_dir).limit(50)
    media = multimodal.attach_media(pages)
    f1 = multimodal.extract_media_features(media)
    rows = f1.collect()
    assert all(r["decode_status"] == "stubbed" for r in rows)
    assert all(len(r["feature"]) == multimodal.MEDIA_FEATURE_DIM
               for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["feature"])
    # deterministic under repartitioning
    f2 = multimodal.extract_media_features(media.repartition(7))
    a = {r["url"]: (r["media_sha256"], tuple(r["feature"]))
         for r in rows}
    b = {r["url"]: (r["media_sha256"], tuple(r["feature"]))
         for r in f2.collect()}
    assert a == b


def _make_bmp(width, height, pixels_rgb):
    """Minimal uncompressed 24-bit BMP (BITMAPINFOHEADER, bottom-up).
    ``pixels_rgb``: row-major top-down [(r,g,b), ...]."""
    import struct

    stride = ((width * 3 + 3) // 4) * 4
    rows = []
    for y in reversed(range(height)):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            r, g, b = pixels_rgb[y * width + x]
            row += bytes([b, g, r])
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    pix = b"".join(rows)
    header = b"BM" + struct.pack(
        "<IHHI", 54 + len(pix), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pix),
        2835, 2835, 0, 0,
    )
    return header + pix


def test_media_features_real_bmp_ppm_decode(spark):
    """Round-4 verdict action #6: the decode path is REAL for
    uncompressed rasters -- planted BMP and PPM payloads come back
    'decoded' with exact width/height/mean-pixel features; a
    truncated BMP is 'decode-error'; non-raster payloads keep the
    deterministic digest feature ('stubbed')."""
    from rdf_canonize_spark.operators import multimodal

    # 2x2 BMP: pure red, green, blue, white -> means (127.5+64=...)
    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
    bmp = _make_bmp(2, 2, px)
    # 2x1 PPM with a comment line: black + mid-gray
    ppm = b"P6\n# planted\n2 1\n255\n" + bytes([0, 0, 0, 128, 128, 128])
    rows = [
        ("u_bmp", bytearray(bmp), "image/bmp"),
        ("u_ppm", bytearray(ppm), "image/x-portable-pixmap"),
        ("u_trunc", bytearray(bmp[:40]), "image/bmp"),
        ("u_html", bytearray(b"<html>x</html>"), "text/html"),
    ]
    media = spark.createDataFrame(
        rows, "url string, media binary, media_type string"
    )
    got = {r["url"]: r
           for r in multimodal.extract_media_features(media).collect()}
    tol = 1e-6  # feature column is float32
    b = got["u_bmp"]
    assert b["decode_status"] == "decoded"
    assert abs(b["feature"][0] - 2 / 4096.0) < tol
    assert abs(b["feature"][1] - 2 / 4096.0) < tol
    for i, ch in enumerate([0, 1, 2]):
        mean_c = sum(c[ch] for c in px) / 4.0
        assert abs(b["feature"][2 + i] - mean_c / 255.0) < tol
    p = got["u_ppm"]
    assert p["decode_status"] == "decoded"
    assert abs(p["feature"][2] - 64 / 255.0) < tol
    assert got["u_trunc"]["decode_status"] == "decode-error"
    assert got["u_html"]["decode_status"] == "stubbed"
    # stubbed/decode-error features remain the digest fake
    fake = multimodal._fake_feature(b"<html>x</html>")
    assert all(
        abs(a - e) < tol
        for a, e in zip(got["u_html"]["feature"], fake)
    )


def test_robots_parse_and_gate_planted(spark):
    """robots.txt semantics: comments and junk lines drop, directive
    keys are case-insensitive, rules before any User-agent drop,
    rules attach to the most recent group, the gate picks the
    longest matching prefix with allow winning length ties, empty
    Disallow is a no-op, other agents' groups are invisible, and
    hosts without rules (or with no matching prefix) are allowed."""
    from rdf_canonize_spark.operators.robots import (
        parse_robots,
        robots_gate,
    )

    nl = chr(10)
    txt = nl.join([
        "Disallow: /orphan",            # before any group -> dropped
        "# comment only",
        "User-Agent: *",
        "DISALLOW: /a",                 # case-insensitive key
        "Allow: /a/b",
        "Disallow: /a/b",               # tie with Allow -> allow wins
        "Disallow:",                    # empty path: parsed, gate no-op
        "not a directive",
        "User-agent: gptbot",
        "Disallow: /",
    ])
    robots = spark.createDataFrame(
        [("h1.example.com", txt)], "host string, robots_txt string"
    )
    rules = parse_robots(robots)
    got = [
        (r["agent"], r["rule"], r["path"])
        for r in rules.orderBy("line_idx").collect()
    ]
    assert got == [
        ("*", "disallow", "/a"),
        ("*", "allow", "/a/b"),
        ("*", "disallow", "/a/b"),
        ("*", "disallow", ""),
        ("gptbot", "disallow", "/"),
    ]

    urls = spark.createDataFrame(
        [
            (1, "https://h1.example.com/a/x"),      # /a -> disallow
            (2, "https://WWW.h1.Example.COM/a/b/c"),  # tie -> allow
            (3, "https://h1.example.com/zzz"),      # no match -> ok
            (4, "https://h1.example.com"),          # path '/' -> ok
            (5, "https://other.example.com/a"),     # no rules -> ok
        ],
        "doc_id long, url string",
    )
    gate = {
        r["doc_id"]: (r["matched_rule"], r["matched_path"], r["allowed"])
        for r in robots_gate(urls, rules).collect()
    }
    assert gate[1] == ("disallow", "/a", False)
    assert gate[2] == ("allow", "/a/b", True)
    assert gate[3] == (None, None, True)
    assert gate[4] == (None, None, True)
    assert gate[5] == (None, None, True)
    # the gptbot group is enforced only when asked for
    gate_bot = {
        r["doc_id"]: r["allowed"]
        for r in robots_gate(urls, rules, agent="gptbot").collect()
    }
    assert gate_bot[3] is False  # Disallow: / blocks everything on h1
    assert gate_bot[5] is True


def test_quality_threshold_matches_python_mirror(spark):
    """The per-language cutoff equals an exact Python recomputation
    from the per-doc quality scores: smallest kept set >= ceil(frac *
    n), thr is the LARGEST quality level that reaches it, n_kept
    counts docs at-or-above thr."""
    from rdf_canonize_spark.operators.textstats import (
        quality_score,
        quality_threshold,
    )

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 3 else "de",
             ("the of and a to in is it that word " * (1 + i % 7))
             + "x" * (i % 5))
            for i in range(40)
        ],
        "doc_id long, lang string, text string",
    )
    scores = {
        r["doc_id"]: round(r["quality"] * 1e6)
        for r in quality_score(docs.select("doc_id", "text")).collect()
    }
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    got = {
        r["lang"]: r for r in quality_threshold(docs, 0.7).collect()
    }
    for lang in ("en", "de"):
        qs = sorted(
            (scores[d] for d in scores if langs[d] == lang),
            reverse=True,
        )
        n = len(qs)
        n_target = -((-n * 700000) // 1000000)
        thr = qs[n_target - 1]
        # largest level reaching the target: extend through ties
        n_kept = sum(1 for q in qs if q >= thr)
        r = got[lang]
        assert (r["n_docs"], r["n_target"]) == (n, n_target)
        assert (r["thr_micro"], r["n_kept"]) == (thr, n_kept)


def test_length_histogram_and_blocklist_planted(spark):
    """Length histogram: bucket b holds 2^(b-1) <= n < 2^b, empty
    docs land in bucket 0, aggregates are exact.  Blocklist gate:
    exact-host and suffix rules fire with host precedence, hosts are
    normalized (case/port/www/userinfo), clean hosts pass."""
    from rdf_canonize_spark.operators.textstats import length_histogram
    from rdf_canonize_spark.operators.urls import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "a b"), (3, "en", "a b c"),
         (4, "en", " ".join(["w"] * 8)), (5, "de", "")],
        "doc_id long, lang string, text string",
    )
    got = {
        (r["lang"], r["len_bucket"]): r
        for r in length_histogram(docs).collect()
    }
    assert got[("en", 1)]["n_docs"] == 1          # n=1
    assert got[("en", 2)]["n_docs"] == 2          # n=2,3
    assert got[("en", 2)]["total_tokens"] == 5
    assert got[("en", 2)]["min_tokens"] == 2
    assert got[("en", 2)]["max_tokens"] == 3
    assert got[("en", 4)]["n_docs"] == 1          # n=8
    assert got[("de", 0)]["n_docs"] == 1          # empty doc

    urls_df = spark.createDataFrame(
        [
            (1, "https://WWW.Bad.Example.NET:443/x?y=1"),
            (2, "http://user@site3.example.com/ok"),
            (3, "https://www.site4.example.com/fine#frag"),
            (4, "http://site13.example.com.evil.org/"),
        ],
        "doc_id long, url string",
    )
    got_b = {
        r["doc_id"]: (r["host"], r["block_reason"], r["blocked"])
        for r in blocklist_filter(urls_df).collect()
    }
    assert got_b[1] == ("bad.example.net", "suffix", True)
    assert got_b[2] == ("site3.example.com", "host", True)
    assert got_b[3] == ("site4.example.com", None, False)
    # suffix match is on the host tail, not a substring anywhere
    assert got_b[4] == ("site13.example.com.evil.org", None, False)


def test_blocklist_filter_empty_lists(spark):
    """Empty blocklists are a valid config: nothing is blocked."""
    from rdf_canonize_spark.operators.urls import blocklist_filter

    urls_df = spark.createDataFrame(
        [(1, "https://www.bad.example.net/x"),
         (2, "http://site3.example.com/")],
        "doc_id long, url string",
    )
    cases = [((), ()), ((), (".net",)), (("site3.example.com",), ())]
    for hosts, suffixes in cases:
        got = {
            r["doc_id"]: (r["block_reason"], r["blocked"])
            for r in blocklist_filter(urls_df, hosts, suffixes).collect()
        }
        want = {
            1: ("suffix", True) if suffixes else (None, False),
            2: ("host", True) if hosts else (None, False),
        }
        assert got == want, (hosts, suffixes)


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


def test_temperature_sample_planted(spark):
    """Temperature mixing at alpha=0.5: the rare source's keep
    probability saturates (every doc kept) while the dominant source
    is cut to its sqrt-weighted share; the kept set equals an exact
    Python mirror of the integer threshold math, and is invariant
    under repartitioning."""
    import hashlib
    import math

    from rdf_canonize_spark.operators.sampling import temperature_sample

    n_a, n_b = 90, 10
    rows = [(i, "A") for i in range(n_a)] + [
        (1000 + i, "B") for i in range(n_b)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")

    # exact integer mirror of the operator's math
    w_a = math.floor(math.sqrt(n_a) * 1e6)
    w_b = math.floor(math.sqrt(n_b) * 1e6)
    tw, tn, t_micro = w_a + w_b, n_a + n_b, 500000
    k = {
        "A": min(10**6, (t_micro * tn * w_a) // (tw * n_a)),
        "B": min(10**6, (t_micro * tn * w_b) // (tw * n_b)),
    }
    assert k["B"] == 10**6  # rare source saturates -> keep all

    def bucket(doc_id):
        return hashlib.md5(str(doc_id).encode()).hexdigest()[:8]

    def thr(km):
        return "g" if km >= 10**6 else format(
            km * 4294967296 // 10**6, "08x"
        )

    expected = {
        d for d, s in rows if bucket(d) < thr(k[s])
    }
    got = {r["doc_id"] for r in temperature_sample(docs).collect()}
    assert got == expected
    assert {d for d, s in rows if s == "B"} <= got
    n_kept_a = len([d for d in got if d < 1000])
    assert 0 < n_kept_a < n_a  # dominant source actually cut
    got2 = {
        r["doc_id"]
        for r in temperature_sample(docs.repartition(7)).collect()
    }
    assert got2 == got


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


def test_image_ahash_and_near_dups(spark):
    """Perceptual hashing end-to-end on REAL planted rasters: a
    half-black/half-white BMP has the exactly-known average hash
    0f0f0f0f0f0f0f0f, a 1-sampled-pixel edit lands at Hamming 1, the
    inverted image at Hamming 64; the banded near-dup join finds the
    Hamming-0 copy and Hamming-1 neighbor and rejects the inversion;
    non-raster payloads take the sha256-prefix fallback; and the
    exactness precondition (max_hamming < bands) is enforced."""
    import hashlib

    import pytest as _pytest

    from rdf_canonize_spark.operators import multimodal

    w = h = 16
    left_black = [
        (0, 0, 0) if x < 8 else (255, 255, 255)
        for y in range(h)
        for x in range(w)
    ]
    noisy = list(left_black)
    noisy[1 * w + 1] = (255, 255, 255)  # sampled block (0,0) flips
    inverted = [
        (255, 255, 255) if x < 8 else (0, 0, 0)
        for y in range(h)
        for x in range(w)
    ]
    rows = [
        ("img_base", bytearray(_make_bmp(w, h, left_black)), "image/bmp"),
        ("img_copy", bytearray(_make_bmp(w, h, left_black)), "image/bmp"),
        ("img_near", bytearray(_make_bmp(w, h, noisy)), "image/bmp"),
        ("img_inv", bytearray(_make_bmp(w, h, inverted)), "image/bmp"),
        ("page", bytearray(b"<html>x</html>"), "text/html"),
        # zero-variance rasters: solid black / white / black again --
        # perceptual bits are degenerate, so flats take the content
        # hash (identical flats pair at 0, different colors never)
        ("flat_k1", bytearray(_make_bmp(4, 4, [(0, 0, 0)] * 16)),
         "image/bmp"),
        ("flat_k2", bytearray(_make_bmp(4, 4, [(0, 0, 0)] * 16)),
         "image/bmp"),
        ("flat_w", bytearray(_make_bmp(4, 4, [(255, 255, 255)] * 16)),
         "image/bmp"),
    ]
    media = spark.createDataFrame(
        rows, "url string, media binary, media_type string"
    )
    hashes = multimodal.image_ahash(media)
    got = {r["url"]: r for r in hashes.collect()}
    assert got["img_base"]["decode_status"] == "decoded"
    assert got["img_base"]["ahash"] == "0f0f0f0f0f0f0f0f"
    assert got["img_copy"]["ahash"] == got["img_base"]["ahash"]
    assert got["img_near"]["ahash"] == "8f0f0f0f0f0f0f0f"  # 1 bit
    assert got["img_inv"]["ahash"] == "f0f0f0f0f0f0f0f0"
    assert got["page"]["decode_status"] == "stubbed"
    assert got["page"]["ahash"] == hashlib.sha256(
        b"<html>x</html>"
    ).hexdigest()[:16]

    assert got["flat_k1"]["decode_status"] == "decoded-flat"
    assert got["flat_k1"]["ahash"] == got["flat_k2"]["ahash"]
    assert got["flat_k1"]["ahash"] != got["flat_w"]["ahash"]

    pairs = {
        (r["url_a"], r["url_b"]): r["hamming"]
        for r in multimodal.ahash_near_dups(hashes).collect()
    }
    assert pairs[("img_base", "img_copy")] == 0
    assert pairs[("img_base", "img_near")] == 1
    assert pairs[("img_copy", "img_near")] == 1
    assert pairs[("flat_k1", "flat_k2")] == 0  # identical flats
    assert ("flat_k1", "flat_w") not in pairs  # different flats
    assert not any("img_inv" in p or "page" in p for p in pairs)

    with _pytest.raises(ValueError):
        multimodal.ahash_near_dups(hashes, max_hamming=4)


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


def test_chunking_covers_and_overlaps(spark):
    from rdf_canonize_spark.operators.textstats import chunk_documents

    words = [f"w{i}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["chunk_idx"]): (r["chunk_text"],
                                            r["n_chunk_words"])
            for r in chunk_documents(df, chunk_size=40, stride=30).collect()}
    # doc 1: starts 0,30,60,90 -> 4 chunks; full coverage + overlap
    assert {i for (d, i) in rows if d == 1} == {0, 1, 2, 3}
    assert rows[(1, 0)][0].split(" ") == words[0:40]
    assert rows[(1, 1)][0].split(" ") == words[30:70]
    assert rows[(1, 3)] == (" ".join(words[90:100]), 10)
    # short + empty docs yield exactly one chunk
    assert rows[(2, 0)] == ("short doc", 2)
    assert rows[(3, 0)] == ("", 1)


def test_redact_pii_planted(spark):
    from rdf_canonize_spark.operators.textstats import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org and phone 1234567 ok"),
         (2, "clean text 123 short"),
         (3, "two x@y.z a@b.c nums 999999999")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["redacted_text"], r["n_emails"],
                         r["n_longnums"])
           for r in redact_pii(df).collect()}
    assert got[1] == ("mail <EMAIL> and phone <NUM> ok", 1, 1)
    assert got[2] == ("clean text 123 short", 0, 0)
    assert got[3] == ("two <EMAIL> <EMAIL> nums <NUM>", 2, 1)


def test_sampling_deterministic_and_quota_exact(spark, sf_dir):
    from rdf_canonize_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.5, "de": 0.2}
    s1 = {r["doc_id"] for r in
          sampling.stratified_sample(docs, rates).collect()}
    s2 = {r["doc_id"] for r in
          sampling.stratified_sample(
              docs.repartition(13), rates).collect()}
    assert s1 == s2 and s1  # deterministic under repartitioning
    # rate sanity: en stratum within a loose binomial envelope
    n_en = docs.filter("lang = 'en'").count()
    got_en = sampling.stratified_sample(docs, rates).filter(
        "stratum = 'en'").count()
    assert abs(got_en / n_en - 0.5) < 0.2
    # rate 1.0 keeps EVERY row of the stratum (no ffffffff edge drop)
    full = sampling.stratified_sample(docs, {"en": 1.0})
    assert full.count() == n_en
    # quotas exact (strata large enough in the fixture corpus)
    quotas = {"en": 7, "de": 3}
    mix = sampling.source_mix_quota(docs, quotas).collect()
    from collections import Counter
    by = Counter(r["stratum"] for r in mix)
    assert by == {"en": 7, "de": 3}
    assert {r["mix_rank"] for r in mix if r["stratum"] == "en"} == set(
        range(1, 8))


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


def test_sample_frames_slicing_exact(spark):
    """Frame sampling slices bytes exactly: offsets, lengths (short
    tail frame), sampled indices, and digests over known payloads."""
    import hashlib

    from rdf_canonize_spark.operators.multimodal import sample_frames

    payload = bytes(range(256)) * 4 + b"tail"  # 1028 bytes -> 5 frames
    df = spark.createDataFrame(
        [("u:1", bytearray(payload), "video/fake")],
        "url string, media binary, media_type string",
    )
    rows = {r["frame_idx"]: r
            for r in sample_frames(df, frame_size=256, every=3).collect()}
    assert set(rows) == {0, 3}  # frames 0..4 sampled every 3rd
    assert rows[0]["frame_offset"] == 0 and rows[0]["frame_len"] == 256
    assert rows[3]["frame_offset"] == 768 and rows[3]["frame_len"] == 256
    exp0 = hashlib.sha256(payload[:256].hex().encode()).hexdigest()
    assert rows[0]["frame_sha256"] == exp0
    assert all(r["decode_status"] == "stubbed" for r in rows.values())
    # tail-only payload: one short frame
    short = spark.createDataFrame(
        [("u:2", bytearray(b"xyz"), "video/fake")],
        "url string, media binary, media_type string",
    )
    (r,) = sample_frames(short, frame_size=256, every=3).collect()
    assert (r["frame_idx"], r["frame_len"]) == (0, 3)


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


def test_pack_sequences_semantics(spark, sf_dir):
    from collections import defaultdict

    from rdf_canonize_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = sampling.pack_sequences(docs, budget=100, shards=4)
    rows = packed.collect()
    assert len(rows) == docs.count()
    # reconstruct each shard's stream: offsets and seq ids must be the
    # running concatenation semantics exactly
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    # recover order within shard via (seq_id, seq_offset) is ambiguous
    # across budget boundaries, so re-sort by the operator's own sort
    # key reconstructed here
    import hashlib as hl
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (
            hl.md5(str(r["doc_id"]).encode()).hexdigest()[:8],
            r["doc_id"],
        ))
        cum = 0
        for r in rs:
            assert r["seq_id"] == cum // 100
            assert r["seq_offset"] == cum % 100
            cum += r["n_tokens"]
    # deterministic under repartitioning
    again = {(r["doc_id"], r["shard"], r["seq_id"], r["seq_offset"])
             for r in sampling.pack_sequences(
                 docs.repartition(13), budget=100, shards=4).collect()}
    assert again == {(r["doc_id"], r["shard"], r["seq_id"],
                      r["seq_offset"]) for r in rows}


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


def test_repetition_stats_planted(spark):
    """Gopher repetition rules on planted documents: a looping
    boilerplate doc and a keyword-stuffed doc flag as repetitive;
    varied prose and too-short docs do not (and short docs survive
    with zero fractions rather than dropping)."""
    from rdf_canonize_spark.operators.textstats import repetition_stats

    loop = " ".join(["click here to buy now"] * 20)  # looping bigrams
    stuffed = " ".join(["cheap"] * 50) + " watches"  # one stuffed word
    prose = " ".join(f"word{i} and{i % 7}" for i in range(60))
    rows = [
        (1, loop), (2, stuffed), (3, prose),
        (4, "single"), (5, "two words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert len(got) == 5  # short docs are kept, not dropped
    assert got[1]["is_repetitive"] and got[2]["is_repetitive"]
    assert not got[3]["is_repetitive"]
    # "cheap cheap" covers 49 of 50 bigram slots
    assert got[2]["top_bigram_frac"] == 0.98
    assert got[2]["dup_word_frac"] == round(1 - 2 / 51, 6)
    # n<2 and n<3 degenerate cases: zero fractions, never null
    assert got[4]["top_bigram_frac"] == 0.0
    assert got[4]["dup_trigram_frac"] == 0.0
    assert not got[4]["is_repetitive"]
    assert got[5]["top_bigram_frac"] == 1.0  # one bigram = 100% cover
    assert got[5]["dup_trigram_frac"] == 0.0
    # ...but the min-length gate keeps short docs unflagged
    assert not got[5]["is_repetitive"]


def test_repetition_char_ladder_full_gopher(spark):
    """The FULL Gopher ladder (round-4 verdict action #5): top n-gram
    char fractions (n=2..4) and dup n-gram char fractions (n=5..10)
    checked column-by-column against an independent pure-Python
    reference on planted per-rule documents, plus flag expectations:
    a repeated long sentence trips the dup-5..10 char rules; a stuffed
    4-gram trips the top-2/3/4 char rules; varied prose trips none."""
    from rdf_canonize_spark.operators.textstats import (
        REP_DUP_NGRAM_CHAR_MAX,
        REP_MIN_WORDS,
        REP_TOP_NGRAM_CHAR_MAX,
        repetition_stats,
    )

    def ref_fracs(text):
        w = text.split(" ")
        n_chars = len(text)
        out = {}

        def counts(n):
            c = {}
            for i in range(len(w) - n + 1):
                g = " ".join(w[i: i + n])
                c[g] = c.get(g, 0) + 1
            return c

        def frac(mass):
            if n_chars == 0:
                return 0.0
            return round(min(1.0, mass / n_chars), 6)

        for n in REP_TOP_NGRAM_CHAR_MAX:
            c = counts(n)
            if c:
                top_c, top_l = max(
                    (cnt, len(g)) for g, cnt in c.items()
                )
                out[f"top_{n}gram_char_frac"] = frac(top_c * top_l)
            else:
                out[f"top_{n}gram_char_frac"] = 0.0
        for n in REP_DUP_NGRAM_CHAR_MAX:
            c = counts(n)
            mass = sum(cnt * len(g) for g, cnt in c.items() if cnt > 1)
            out[f"dup_{n}gram_char_frac"] = frac(mass)
        return out

    sentence = "the quick brown fox jumps over the lazy dog again"
    looped_sentence = " ".join(
        [sentence, "u1", sentence, "u2", sentence, "u3"]
    )
    stuffed4 = " ".join(
        [f"buy cheap watches now f{i}" for i in range(12)]
    )
    prose = " ".join(f"w{i} x{i * 3 % 11} y{i * 7 % 13}"
                     for i in range(40))
    rows = [
        (1, looped_sentence), (2, stuffed4), (3, prose),
        (4, "single"), (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert len(got) == 5
    for doc_id, text in rows:
        exp = ref_fracs(text)
        for name, val in exp.items():
            assert got[doc_id][name] == val, (doc_id, name)
    # the repeated sentence trips every dup rung its length reaches
    for n in REP_DUP_NGRAM_CHAR_MAX:
        assert got[1][f"dup_{n}gram_char_frac"] > \
            REP_DUP_NGRAM_CHAR_MAX[n]
    assert got[1]["is_repetitive"]
    # the stuffed 4-gram trips the top-2/3/4 char rules
    for n in REP_TOP_NGRAM_CHAR_MAX:
        assert got[2][f"top_{n}gram_char_frac"] > \
            REP_TOP_NGRAM_CHAR_MAX[n]
    assert got[2]["is_repetitive"]
    assert not got[3]["is_repetitive"]
    # degenerate docs: zero char fractions everywhere, unflagged
    for doc_id in (4, 5):
        for n in REP_TOP_NGRAM_CHAR_MAX:
            assert got[doc_id][f"top_{n}gram_char_frac"] in (0.0, 1.0)
        assert not got[doc_id]["is_repetitive"]
    assert got[3]["n_words"] >= REP_MIN_WORDS


def test_segment_tokenizer_vertical_tab_parity(spark):
    """chr(11) (vertical tab): Java regex backslash-s includes it, RE2
    (DuckDB) backslash-s does not -- the shared EXPLICIT whitespace
    class must make the Spark tokenizer and the DuckDB oracle twin
    segment chr(11)-bearing text identically (seg_idx AND seg_hash)."""
    import duckdb

    from rdf_canonize_spark.operators import oracle_ops

    words = [f"w{i}" for i in range(30)]
    # first window split entirely by vertical tabs, second by spaces,
    # plus a mixed-run separator and a ragged tail
    text = (
        chr(11).join(words[:12])
        + " " + " ".join(words[12:24])
        + chr(11) + chr(9) + chr(11) + " ".join(words[24:])
    )
    docs = spark.createDataFrame(
        [(1, "s", text)], "doc_id long, source string, text string"
    )
    got = sorted(
        (r["seg_idx"], r["seg_hash"])
        for r in dedup.doc_segments(docs).collect()
    )
    assert len(got) == 2  # 30 tokens -> two full 12-word windows

    con = duckdb.connect()
    con.execute("CREATE TABLE src(doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO src VALUES (1, ?)", [text])
    sql = (
        "WITH" + oracle_ops._segs_cte("src", "doc_id")
        + "\nSELECT seg_idx, seg_hash FROM segs"
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want


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


def test_dsir_weights_separate_target_like_docs(spark):
    """DSIR importance weights: a document written in the TARGET
    vocabulary scores positive (more likely under the target
    distribution) even when its own label is non-target, and beats
    every document written in the raw-only vocabulary; weights are
    integers (micro-nats) and n_tokens matches the tokenizer."""
    from rdf_canonize_spark.operators import sampling

    rows = (
        [(i, "en", "red green blue crimson teal") for i in range(5)]
        + [(10 + i, "de", "rot gruen blau purpur petrol")
           for i in range(5)]
        # target-vocabulary doc labeled de: should look target-like
        + [(20, "de", "red green blue crimson teal")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in sampling.dsir_weights(docs).collect()}
    assert len(got) == 11
    assert all(r["n_tokens"] == 5 for r in got.values())
    # en-vocab docs (including the mislabeled one) score positive...
    for d in list(range(5)) + [20]:
        assert got[d]["logw_micro"] > 0 and got[d]["keep"]
    # ...raw-only-vocab docs score negative
    for d in range(10, 15):
        assert got[d]["logw_micro"] < 0 and not got[d]["keep"]
    # and the weight ordering separates the two vocabularies strictly
    assert min(got[d]["logw_micro"] for d in [0, 20]) > max(
        got[d]["logw_micro"] for d in range(10, 15)
    )


def test_unigram_ppl_reference_subset(spark):
    """CCNet-style unigram perplexity: the add-one-smoothed LM is fit
    ONLY on the lang='en' reference subset; every doc (ref or not) is
    scored against it with integer micro-nat exactness.  Expected
    values recomputed in Python with the same floor(1e6*ln(p))
    integerization; an all-OOV doc's mean NLL is exactly the smoothed
    unseen-token cost; a token-free doc vanishes (no tokens to
    score)."""
    import math

    from rdf_canonize_spark.operators import sampling

    docs = spark.createDataFrame(
        [
            (1, "en", "a a b"),
            (2, "en", "a b c"),
            (3, "de", "a x"),
            (4, "de", "zz zz"),
            (5, "en", "   "),
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: r
        for r in sampling.unigram_ppl(
            docs, ref_predicate="lang = 'en'"
        ).collect()
    }
    # ref counts: a=3 b=2 c=1 -> T=6, V=3, denominator 9
    def lp(c):
        return math.floor(math.log((c + 1) / 9) * 1e6)

    assert set(got) == {1, 2, 3, 4}  # doc 5 has no tokens
    assert got[1]["n_tokens"] == 3 and got[4]["n_tokens"] == 2
    assert got[1]["logprob_micro"] == 2 * lp(3) + lp(2)
    assert got[2]["logprob_micro"] == lp(3) + lp(2) + lp(1)
    assert got[3]["logprob_micro"] == lp(3) + lp(0)
    assert got[4]["logprob_micro"] == 2 * lp(0)
    for d, r in got.items():
        assert r["mean_nll_micro"] == (-r["logprob_micro"]) // r["n_tokens"]
        assert r["ppl_band"] == r["mean_nll_micro"] // 1_000_000
    # in-distribution text scores strictly better than OOV-heavy text
    assert (
        got[1]["mean_nll_micro"]
        < got[3]["mean_nll_micro"]
        < got[4]["mean_nll_micro"]
    )
    # the all-OOV doc pays exactly the unseen-token cost per token
    assert got[4]["mean_nll_micro"] == -lp(0)


def test_tfidf_keywords_ranks_and_ties(spark):
    """TF-IDF keywords: stopwords and non-alpha tokens are excluded
    before any counting, scores are tf x floor(1e6*ln((N+1)/(df+1)))
    integer-exact, rarer terms outrank commoner ones at equal tf,
    equal scores break token-ascending, and k/min_df prune as
    documented."""
    import math

    from rdf_canonize_spark.operators.textstats import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple the"),
            (2, "banana cherry 42 !!"),
            (3, "apple cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    # N=3; df: apple 2, banana 2, cherry 2, date 1
    def idf(df):
        return math.floor(math.log(4 / (df + 1)) * 1e6)

    rows = tfidf_keywords(docs).collect()
    got = {(r["doc_id"], r["rank"]): r for r in rows}
    # doc 1: 'the' (stopword) gone; apple tf=2 beats banana
    assert (got[(1, 1)]["token"], got[(1, 1)]["score_micro"]) == (
        "apple", 2 * idf(2)
    )
    assert got[(1, 2)]["token"] == "banana"
    assert (1, 3) not in got
    # doc 2: '42' and '!!' excluded; tie at tf=1,df=2 -> token asc
    assert [got[(2, i)]["token"] for i in (1, 2)] == ["banana", "cherry"]
    assert got[(2, 1)]["score_micro"] == got[(2, 2)]["score_micro"]
    # doc 3: date (df=1, idf ln2) outscores cherry tf=2 at df=2
    assert [got[(3, i)]["token"] for i in (1, 2, 3)] == [
        "date", "cherry", "apple"
    ]
    assert got[(3, 1)]["score_micro"] == idf(1)
    assert got[(3, 2)]["score_micro"] == 2 * idf(2)
    # k caps per-doc output; min_df drops singleton terms entirely
    assert max(
        r["rank"] for r in tfidf_keywords(docs, k=2).collect()
    ) == 2
    toks2 = {
        r["token"] for r in tfidf_keywords(docs, min_df=2).collect()
    }
    assert "date" not in toks2 and "cherry" in toks2


def test_kmeans_quantized_planted_and_empty_cell(spark):
    """Integer-quantized Lloyd: with two planted well-separated
    clusters and init centroids landing one in each (vec_id stride
    selection), the trained centroids are the exact floored integer
    means and the inertia matches a hand computation; with all
    points identical, the d2 ties all break to cell 0 and the empty
    cell keeps its init centroid with zero members."""
    import math

    from rdf_canonize_spark.operators.similarity import (
        EMB_DIM,
        kmeans_quantized,
    )

    def vec(x):
        return [float(x)] * EMB_DIM

    def q(x):
        return math.floor(x * 1e6)

    # n=4, k=2 -> stride 2, matches vec_id%2==1: init = v1, v3
    docs = spark.createDataFrame(
        [
            (0, vec(1.0), "a"),
            (1, vec(1.2), "a"),
            (2, vec(-1.0), "b"),
            (3, vec(-1.2), "b"),
        ],
        "vec_id long, v array<double>, label string",
    )
    got = {
        r["cell_id"]: r for r in kmeans_quantized(docs, k=2).collect()
    }
    ma = (q(1.0) + q(1.2)) // 2        # exact floored integer mean
    mb = (q(-1.0) + q(-1.2)) // 2
    assert got[0]["centroid"] == ",".join([str(ma)] * EMB_DIM)
    assert got[1]["centroid"] == ",".join([str(mb)] * EMB_DIM)
    assert got[0]["n_members"] == 2 and got[1]["n_members"] == 2
    ia = EMB_DIM * ((q(1.0) - ma) ** 2 + (q(1.2) - ma) ** 2)
    ib = EMB_DIM * ((q(-1.0) - mb) ** 2 + (q(-1.2) - mb) ** 2)
    assert got[0]["inertia_q"] == str(ia)
    assert got[1]["inertia_q"] == str(ib)
    # all-identical points: ties collapse into cell 0, cell 1 empty
    same = spark.createDataFrame(
        [(i, vec(0.5), "s") for i in range(4)],
        "vec_id long, v array<double>, label string",
    )
    got2 = {
        r["cell_id"]: r for r in kmeans_quantized(same, k=2).collect()
    }
    assert got2[0]["n_members"] == 4 and got2[0]["inertia_q"] == "0"
    assert got2[1]["n_members"] == 0 and got2[1]["inertia_q"] == "0"
    assert got2[1]["centroid"] == ",".join([str(q(0.5))] * EMB_DIM)


def test_nfc_profile_planted_and_duckdb_parity(spark):
    """NFC profile: decomposed combining marks and Hangul jamo
    compose (changed=True, shorter norm_len), precomposed / ASCII /
    astral text passes through, and canonically-equivalent spellings
    collapse to the SAME dedup key.  The same planted rows run
    through DuckDB's utf8proc nfc_normalize to pin the
    Python-unicodedata <-> utf8proc equivalence the oracle relies
    on (the synthetic corpus is mostly ASCII, so the contract row
    alone would not exercise it)."""
    import hashlib
    import unicodedata

    import duckdb

    from rdf_canonize_spark.operators import oracle_ops
    from rdf_canonize_spark.operators.textstats import nfc_profile

    e_acute = chr(0xE9)                      # precomposed
    e_combining = "e" + chr(0x301)           # decomposed
    hangul_jamo = chr(0x1100) + chr(0x1161) + chr(0x11A8)
    astral = chr(0x1F600) + " ok"
    rows = [
        (1, "plain ascii"),
        (2, e_acute),
        (3, e_combining),
        (4, hangul_jamo),
        (5, astral),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in nfc_profile(docs).collect()}
    assert not got[1]["changed"] and got[1]["norm_len"] == 11
    assert not got[2]["changed"] and got[2]["norm_len"] == 1
    assert got[3]["changed"] and got[3]["norm_len"] == 1
    # canonical equivalence -> identical dedup key
    assert got[3]["norm_hash"] == got[2]["norm_hash"]
    assert got[2]["norm_hash"] == hashlib.md5(
        e_acute.encode("utf-8")
    ).hexdigest()
    assert got[4]["changed"] and got[4]["norm_len"] == 1
    assert got[4]["norm_hash"] == hashlib.md5(
        unicodedata.normalize("NFC", hangul_jamo).encode("utf-8")
    ).hexdigest()
    assert not got[5]["changed"] and got[5]["norm_len"] == 4
    # utf8proc parity on the same planted rows
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {
        r[0]: r
        for r in con.execute(oracle_ops.nfc_profile()).fetchall()
    }
    for d in got:
        assert (
            got[d]["changed"],
            got[d]["norm_len"],
            got[d]["norm_hash"],
        ) == oracle[d][1:], f"doc {d} diverges from utf8proc"


def test_round5_operators_repartition_invariant(spark):
    """The round-5 scoring operators are pure functions of their
    input rows: identical outputs whatever the physical partitioning
    (the repartition-invariance bar every per-doc operator in this
    repo has to clear), and nfc_profile adds ZERO exchanges to the
    plan (embarrassingly parallel map)."""
    from rdf_canonize_spark.operators import sampling
    from rdf_canonize_spark.operators.textstats import (
        nfc_profile,
        tfidf_keywords,
    )
    from rdf_canonize_spark.plans.checks import assert_no_shuffle

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 2 else "de",
             f"alpha beta w{i} w{i % 3} gamma " * (1 + i % 4))
            for i in range(24)
        ],
        "doc_id long, lang string, text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(sampling.unigram_ppl(docs, "lang = 'en'")) == rows(
        sampling.unigram_ppl(docs.repartition(13), "lang = 'en'")
    )
    assert rows(tfidf_keywords(docs)) == rows(
        tfidf_keywords(docs.repartition(7))
    )
    assert rows(nfc_profile(docs)) == rows(
        nfc_profile(docs.repartition(5))
    )
    assert_no_shuffle(nfc_profile(docs), "nfc_profile")


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


def test_source_profile_planted(spark):
    """Per-source profile: exact-dup rate counts repeated text once,
    token/char means are integer floor divisions, majority language
    breaks count ties lexicographically (lang ASC), purity is the
    majority share."""
    from rdf_canonize_spark.operators.textstats import source_profile

    docs = spark.createDataFrame(
        [
            (1, "s1", "en", "a b c"),
            (2, "s1", "en", "a b c"),
            (3, "s1", "de", "d e f g"),
            (4, "s2", "de", "x y"),
            (5, "s2", "en", "z w"),
        ],
        "doc_id long, source string, lang string, text string",
    )
    got = {r["source"]: r for r in source_profile(docs).collect()}
    s1 = got["s1"]
    assert s1["n_docs"] == 3
    assert abs(s1["dup_rate"] - round(1 - 2 / 3, 6)) < 1e-12
    assert s1["total_tokens"] == 10 and s1["mean_tokens"] == 3
    assert s1["major_lang"] == "en"
    assert abs(s1["lang_purity"] - round(2 / 3, 6)) < 1e-12
    assert s1["mean_chars"] == (5 + 5 + 7) // 3
    s2 = got["s2"]
    assert s2["dup_rate"] == 0.0
    assert s2["major_lang"] == "de"  # 1-1 tie -> lang ASC
    assert s2["lang_purity"] == 0.5


def test_line_filter_planted_and_duckdb_parity(spark):
    """C4 line cleaning: each rule fires on its planted line with the
    fixed first-fail order (short -> no_terminal -> brace ->
    javascript), clean_text rebuilds ONLY kept lines with original
    bytes, the document gate needs >= 3 kept lines AND no
    "lorem ipsum" anywhere, and the plan is shuffle-free.  The same
    planted rows run through the DuckDB oracle (the synthetic corpus
    has no braces / javascript / lorem lines, so the contract row
    alone would not exercise every rule)."""
    import duckdb

    from rdf_canonize_spark.operators import oracle_ops
    from rdf_canonize_spark.operators.textstats import line_filter
    from rdf_canonize_spark.plans.checks import assert_no_shuffle

    good = "this is a perfectly normal sentence with many words."
    nl = chr(10)
    rows = [
        (1, nl.join([good, good, good])),
        (2, nl.join(["tiny line.", good])),
        (3, "this line has plenty of words but no terminal punct"),
        (4, "this line contains a brace { and ends properly."),
        (5, "please enable javascript to view this page content."),
        (6, nl.join([good, good, good,
                     "lorem ipsum dolor sit amet consectetur elit."])),
        (7, ""),
        # CRLF document: lines end in \r, which Java-regex '$' and
        # RE2 '$' treat differently -- the char-set trim + last-char
        # rule must keep both engines identical AND keep the lines
        (8, (good + chr(13) + nl) * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_filter(docs).collect()}

    assert got[1]["n_lines"] == 3 and got[1]["n_kept"] == 3
    assert got[1]["doc_kept"] and got[1]["clean_text"] == rows[0][1]
    assert got[2]["n_short"] == 1 and got[2]["n_kept"] == 1
    assert not got[2]["doc_kept"] and got[2]["clean_text"] == good
    assert got[3]["n_no_terminal"] == 1 and got[3]["n_kept"] == 0
    assert got[4]["n_brace"] == 1          # brace outranks javascript
    assert got[5]["n_javascript"] == 1
    assert got[6]["n_kept"] == 4 and got[6]["lorem_ipsum"]
    assert not got[6]["doc_kept"]          # lorem gate despite 4 kept
    assert got[7]["n_lines"] == 1 and got[7]["n_short"] == 1
    assert got[7]["clean_text"] == ""
    assert got[8]["n_kept"] == 3 and got[8]["doc_kept"]  # CRLF kept

    # repartition invariance + shuffle-free plan (pure per-row map)
    assert sorted(map(tuple, line_filter(docs).collect())) == sorted(
        map(tuple, line_filter(docs.repartition(5)).collect())
    )
    assert_no_shuffle(line_filter(docs), "line_filter")

    # cross-engine parity on the same planted rows
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = {
        r[0]: r for r in con.execute(oracle_ops.line_filter()).fetchall()
    }
    for d, r in got.items():
        assert tuple(r) == oracle[d], f"doc {d} diverges from DuckDB"


def test_inverted_index_planted(spark):
    """Inverted index: df counts documents (not occurrences),
    total_count counts occurrences, posting lists are ascending
    doc_ids and TRUNCATED at max_postings while the stats stay exact
    over the full corpus."""
    from rdf_canonize_spark.operators.textstats import inverted_index

    docs = spark.createDataFrame(
        [(i, "common word" + (" rare" if i == 10 else "")
          + (" twice twice" if i == 2 else ""))
         for i in range(1, 13)],
        "doc_id long, text string",
    )
    got = {
        r["token"]: r
        for r in inverted_index(docs, max_postings=5).collect()
    }
    c = got["common"]
    assert c["df"] == 12 and c["total_count"] == 12
    assert c["n_postings"] == 5                    # capped
    assert c["postings"] == "1,2,3,4,5"            # ascending, capped
    t = got["twice"]
    assert t["df"] == 1 and t["total_count"] == 2  # occurrences
    assert t["postings"] == "2"
    assert got["rare"]["postings"] == "10"
    # repartition invariance
    assert sorted(
        map(tuple, inverted_index(docs, max_postings=5).collect())
    ) == sorted(
        map(
            tuple,
            inverted_index(docs.repartition(7), max_postings=5).collect(),
        )
    )


def _ref_bpe(word_counts, n_merges):
    """Reference BPE (Sennrich et al. 2016) on a word-frequency dict:
    per round count adjacent symbol pairs weighted by word count, pick
    (count DESC, pair ASC), merge left-to-right non-overlapping."""
    import collections

    vocab = {
        tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()
    }
    merges = []
    for i in range(1, n_merges + 1):
        pairs = collections.Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        mx = max(pairs.values())
        a, b = min(p for p, c in pairs.items() if c == mx)
        merges.append((i, a, b, mx))
        new_vocab = collections.Counter()
        for sym, c in vocab.items():
            out, j = [], 0
            while j < len(sym):
                if j + 1 < len(sym) and sym[j] == a and sym[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(sym[j])
                    j += 1
            new_vocab[tuple(out)] += c
        vocab = dict(new_vocab)
    return merges


def test_bpe_merges_matches_reference_bpe(spark):
    """The Spark BPE trainer reproduces a direct Python implementation
    of Sennrich-style BPE exactly, including the two replace()-trap
    cases the guard wrapping exists for: same-symbol runs ('aaaa'
    merges left-to-right non-overlapping) and adjacent occurrences of
    the winning pair ('low low' inside one word cannot happen, but
    'lowlow' exercises back-to-back pair sites), plus count-tie
    determinism.  The same corpus also runs through the DuckDB
    unrolled-CTE oracle."""
    import collections

    import duckdb

    from rdf_canonize_spark.operators import oracle_ops
    from rdf_canonize_spark.operators.textstats import bpe_merges

    # classic example + pathological shapes; numbers chosen so several
    # rounds have count ties
    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaaa"] * 4 + ["lowlow"] * 2
    )
    word_counts = collections.Counter(words)
    rows = [(i, " ".join(words[i::3])) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    expected = _ref_bpe(word_counts, 6)
    got = sorted(
        tuple(r) for r in bpe_merges(docs, n_merges=6).collect()
    )
    assert got == sorted(expected)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = sorted(
        tuple(r)
        for r in con.execute(oracle_ops.bpe_merges(6)).fetchall()
    )
    assert oracle == sorted(expected)


def test_bigram_ppl_order_awareness(spark):
    """Bigram perplexity separates fluent text from scrambled word
    salad with the IDENTICAL unigram profile (the signal unigram_ppl
    cannot see), and matches the hand-computed add-one conditional
    probabilities exactly; single-token docs have no bigrams and are
    absent."""
    import math

    from rdf_canonize_spark.operators import sampling

    fluent = "the cat sat on the mat"
    salad = "mat the on sat cat the"  # same multiset of words
    docs = spark.createDataFrame(
        [(i, "en", fluent) for i in range(5)]
        + [
            (10, "de", fluent),
            (11, "de", salad),
            (12, "en", "solo"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: r
        for r in sampling.bigram_ppl(
            docs, ref_predicate="lang = 'en'"
        ).collect()
    }
    assert 12 not in got  # 1 token -> no bigrams
    assert got[10]["n_bigrams"] == 5 and got[11]["n_bigrams"] == 5
    # same words, scrambled order -> strictly worse bigram NLL
    assert got[10]["mean_nll_micro"] < got[11]["mean_nll_micro"]

    # hand-exact micro case: ref 'a b a b' -> cb(a,b)=2, cb(b,a)=1,
    # c(a)=2, c(b)=1, V=2
    docs2 = spark.createDataFrame(
        [(1, "en", "a b a b"), (2, "de", "a b"), (3, "de", "b b")],
        "doc_id long, lang string, text string",
    )
    got2 = {
        r["doc_id"]: r
        for r in sampling.bigram_ppl(
            docs2, ref_predicate="lang = 'en'"
        ).collect()
    }

    def lp(cb, c1):
        return math.floor(math.log((cb + 1) / (c1 + 2)) * 1e6)

    assert got2[2]["logprob_micro"] == lp(2, 2)          # seen (a,b)
    assert got2[3]["logprob_micro"] == lp(0, 1)          # unseen (b,b)
    assert got2[1]["logprob_micro"] == 2 * lp(2, 2) + lp(1, 1)
    for r in got2.values():
        assert r["mean_nll_micro"] == (
            -r["logprob_micro"]
        ) // r["n_bigrams"]
        assert r["ppl_band"] == r["mean_nll_micro"] // 1_000_000


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


def test_quality_gate_rules_and_order(spark):
    """Each ladder rule fires on its planted document, the first
    failing rule names the reason, and a clean document passes.
    Duplication is cross-document (both carriers rejected)."""
    from rdf_canonize_spark.operators import gate

    good = ("the quick brown fox jumps over the lazy dog and then "
            "the small bird sings in the tall tree while the old man "
            "walks along the quiet river bank at dawn")  # stop-rich
    shared = ("the ancient library holds many rare books and the "
              "scholars of the city gather there to study them")  # 18w
    rows = [
        (1, "en", good),
        (2, "en", "too short to pass the length gate here"),  # 8 words
        # english text, claimed de -> language (distinct words from
        # doc 1 so the cross-document duplication rule stays quiet)
        (3, "de", ("the bright red kite floats over the green hill "
                   "and the children watch it from the warm sand as "
                   "the waves roll in slowly from the deep blue sea")),
        (4, "en", " ".join(f"xx{i}," for i in range(30))),  # quality
        (5, "en", "the cat sat on the mat and then " * 8),  # repetition
        (6, "en", shared + " with one extra closing phrase added for "
                  "the patient reader standing near the door"),
        (7, "en", shared + " and a different unique ending that "
                  "wanders toward the garden past the old gate"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in gate.quality_gate(docs).collect()}
    assert got[1]["keep"] and got[1]["reject_reason"] is None
    assert got[2]["reject_reason"] == "length"
    assert got[3]["reject_reason"] == "language"
    assert got[4]["reject_reason"] == "quality"
    assert got[5]["reject_reason"] == "repetition"
    for d in (6, 7):
        assert got[d]["reject_reason"] == "duplication", got[d]
        assert got[d]["dup_word_frac"] > 0.3
    hist = {
        r["outcome"]: r["n_docs"]
        for r in gate.gate_histogram(gate.quality_gate(docs)).collect()
    }
    assert hist == {"kept": 1, "length": 1, "language": 1,
                    "quality": 1, "repetition": 1, "duplication": 2}


def test_build_vocab_and_oov(spark):
    """Vocab: top-k by (count desc, token asc) with contiguous ids and
    exact counts/doc-freqs; OOV: rate over the same tokenizer, full
    coverage -> 0.0, half coverage -> 0.5, empty doc -> 0 tokens."""
    from rdf_canonize_spark.operators.textstats import build_vocab, oov_stats

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa cc"),
            (2, "aa bb dd"),
            (3, "aa"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    vocab = build_vocab(docs, k=3)
    rows = sorted(
        (r["token_id"], r["token"], r["count"], r["doc_freq"])
        for r in vocab.collect()
    )
    # counts: aa=4(3 docs), bb=2(2), cc=1(1), dd=1(1); top3 ties at
    # count 1 break lexicographically -> cc
    assert rows == [(0, "aa", 4, 3), (1, "bb", 2, 2), (2, "cc", 1, 1)]
    oov = {r["doc_id"]: r for r in oov_stats(docs, vocab).collect()}
    assert oov[1]["oov_rate"] == 0.0 and oov[1]["n_tokens"] == 4
    assert oov[2]["n_in_vocab"] == 2 and abs(
        oov[2]["oov_rate"] - 1 / 3
    ) < 1e-5
    assert oov[3]["oov_rate"] == 0.0
    assert oov[4]["n_tokens"] == 0 and oov[4]["oov_rate"] == 0.0
