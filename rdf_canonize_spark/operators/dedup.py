"""Near-duplicate detection over document text.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, segment
and span dedup -- every variant built from Catalyst primitives and
checked by the planted-duplicate tests in ``tests/test_operators.py``
(the DuckDB contract oracles these once had are deleted).

Hash choices are deliberately engine-portable: ``md5``/``sha2`` hex
strings (identical lowercase output in Spark and DuckDB) rather than
engine-native ``hash()`` (xxhash64 in Spark, different in DuckDB).
MinHash minima are taken over *hex strings* -- lexicographic min of a
uniform hash is as valid a sketch as numeric min, and both engines
compare ASCII identically.

Scale notes (100 TB):
* shingle explode -> band-key equi-join is the textbook LSH shape: the
  join key (band hash) is uniform by construction, so no skew salting
  needed;
* ``groupBy(doc).agg(min)`` per seed is a partial-aggregating shuffle
  (map-side combine cuts it by the shingle count);
* candidate verification (exact Jaccard) runs only on LSH survivors:
  ``lsh_verified_pairs`` = ``lsh_candidates`` ->
  ``jaccard_on_candidates``.  The standalone all-pairs
  ``jaccard_pairs`` is the small-corpus/diagnostic form (quadratic in
  shingle document frequency) and takes a ``max_doc_freq`` cap.
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_MINHASH = 16
LSH_BANDS = 4  # 4 rows per band
SHINGLE_N = 3


def near_dup_corpus(spark, sf_dir):
    """documents + a deterministic near-duplicate of every 3rd doc
    (first word dropped) + an exact duplicate of every 10th doc.
    Mirrors a crawl with boilerplate reposts; the construction is pure
    SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    near = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr(
                "substring(text, instr(text, ' ') + 1)"
            ).alias("text"),
        )
    )
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return docs.unionAll(near).unionAll(exact)


def exact_dedup(corpus):
    """Hash-groupBy exact dedup: one shuffle on the content hash,
    map-side partial agg.  Keeper = min doc_id."""
    return (
        corpus.groupBy(F.sha2(F.col("text"), 256).alias("text_sha256"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(corpus, n=SHINGLE_N):
    """Distinct word n-grams per document (Catalyst higher-order fns;
    no Python)."""
    words = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.slice(words, i + 1, n)
        ),
    )
    return corpus.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    ).filter(F.length("shingle") > 0)


def _jaccard_from_common(common, sizes, threshold):
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(corpus, threshold=0.5, max_doc_freq=None):
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1
    shingle.  Self-join on shingle, then |A&B| / (|A|+|B|-|A&B|).

    SCALE WARNING: this standalone form is quadratic in the document
    frequency of a shingle (a boilerplate 3-gram in k documents emits
    k^2 join rows) -- it is the small-corpus/diagnostic path.  The
    100 TB path is ``lsh_candidates`` -> ``jaccard_on_candidates``,
    which verifies only LSH survivors.  ``max_doc_freq`` bounds the
    blow-up here when the standalone form IS wanted: shingles appearing
    in more documents are dropped from the join (a boilerplate shingle
    carries ~no similarity signal; note Jaccard then becomes exact over
    the *filtered* shingle sets -- sizes are computed after the cap so
    the measure stays a true Jaccard of those sets).
    """
    sh = word_shingles(corpus)
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    sh = sh.cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def jaccard_on_candidates(corpus, pairs_df, threshold=0.5):
    """Exact Jaccard computed ONLY for candidate pairs (LSH survivors):
    the verification stage of the scale path.

    Shape: the shingle table joins the candidate list on doc id (cost
    linear in candidates x shingles-per-doc), then the pair's two
    shingle sets equi-join on (doc_b, shingle) -- never a corpus-wide
    shingle self-join, so a boilerplate shingle shared by k documents
    costs k rows, not k^2.  ``pairs_df``: (doc_a, doc_b) with
    doc_a < doc_b (``lsh_candidates`` output shape).
    """
    sh = word_shingles(corpus).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs_df.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def lsh_verified_pairs(corpus, threshold=0.5, n_hashes=N_MINHASH,
                       bands=LSH_BANDS):
    """The composed 100 TB near-dup path: MinHash -> LSH banding ->
    bucket equi-join candidates -> exact Jaccard verification on
    survivors only."""
    return jaccard_on_candidates(
        corpus, lsh_candidates(corpus, n_hashes, bands), threshold
    )


def minhash_signatures(corpus, n_hashes=N_MINHASH):
    """Per (doc, seed): min over shingles of md5(seed || '|' || shingle).
    Lexicographic min of hex = a valid uniform minhash."""
    sh = word_shingles(corpus)
    seeds = F.explode(
        F.sequence(F.lit(0), F.lit(n_hashes - 1))
    ).alias("seed")
    return (
        sh.select("doc_id", "shingle", seeds)
        .select(
            "doc_id",
            "seed",
            F.md5(
                F.concat_ws("|", F.col("seed").cast("string"), "shingle")
            ).alias("h"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def lsh_bands(corpus, n_hashes=N_MINHASH, bands=LSH_BANDS):
    """Band the signature: band key = md5 of the concatenated row
    minima (rows ordered by seed)."""
    sig = minhash_signatures(corpus, n_hashes)
    rows_per_band = n_hashes // bands
    banded = sig.withColumn(
        "band", (F.col("seed") / rows_per_band).cast("int")
    )
    return banded.groupBy("doc_id", "band").agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("seed", "minhash"))
                    ),
                    lambda s: s["minhash"],
                ),
            )
        ).alias("band_key")
    )


def lsh_candidates(corpus, n_hashes=N_MINHASH, bands=LSH_BANDS):
    """Candidate near-dup pairs: docs sharing any band bucket.  The
    bucket join replaces the quadratic all-pairs comparison -- this is
    the 100 TB path (jaccard_pairs verifies survivors)."""
    b = lsh_bands(corpus, n_hashes, bands)
    x = b.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    y = b.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        x.join(y, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def incremental_dedup(new_docs, old_docs, threshold=0.5,
                      n_hashes=N_MINHASH, bands=LSH_BANDS):
    """Snapshot-over-snapshot dedup -- the recurring-crawl shape: a
    NEW batch of documents is screened against an EXISTING corpus
    without ever comparing old-vs-old or new-vs-new.  Statuses:
    ``exact_dup`` (content hash already in the old corpus),
    ``near_dup`` (verified Jaccard >= threshold against some old doc
    via LSH band candidates), ``kept``.  Output ``(doc_id, status,
    match_id)``, ``match_id`` = smallest matching old doc at the
    strongest level (NULL for kept).  Caller contract: the two
    doc_id spaces are disjoint and new ids sort above old ids.

    Scale shape: the old side's hash table and band index are pure
    functions of the old corpus -- in production they are computed
    once per snapshot and reused (written as tables), so screening a
    new batch costs one hash equi-join + one band equi-join sized by
    the NEW side, plus exact Jaccard on candidate survivors only.
    No all-pairs anywhere; the old x old and new x new quadrants are
    never joined."""
    old_hashes = old_docs.groupBy(
        F.sha2(F.col("text"), 256).alias("h")
    ).agg(F.min("doc_id").alias("exact_match"))
    exact = (
        new_docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
        .join(old_hashes, "h", "left")
        .select("doc_id", "exact_match")
    )
    ob = lsh_bands(old_docs, n_hashes, bands).select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    nb = lsh_bands(new_docs, n_hashes, bands).select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    cand = (
        ob.join(nb, ["band", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    corpus = old_docs.select("doc_id", "text").unionByName(
        new_docs.select("doc_id", "text")
    )
    near = (
        jaccard_on_candidates(corpus, cand, threshold)
        .groupBy(F.col("doc_b").alias("doc_id"))
        .agg(F.min("doc_a").alias("near_match"))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
    )


def dedup_clusters(corpus, threshold=0.5, n_hashes=N_MINHASH,
                   bands=LSH_BANDS):
    """End-to-end near-dup clustering, the operator a training-data
    pipeline actually runs: MinHash -> LSH candidates -> exact-Jaccard
    verification -> connected components over surviving pairs ->
    (doc_id, keeper_id) where keeper = min doc id in the cluster.
    Docs in no verified pair are implicitly their own keeper and are
    not emitted (at corpus scale that is ~all rows; emitting them
    would dwarf the actual dedup signal).

    Scale shape: every stage is the bucketed/verified path (never an
    all-pairs join), and the component step is one shuffle per round
    over the tiny verified-pair edge list.
    """
    from .graph import connected_components

    pairs = lsh_verified_pairs(corpus, threshold, n_hashes, bands)
    comps = connected_components(
        pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b"
    )
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keeper_id"),
    )


_HEXDIGITS = "0123456789abcdef"
SIMHASH_BITS = 16


def simhash(corpus, bits=SIMHASH_BITS):
    """Per-document SimHash over distinct words.

    bit j of md5(word): hex digit d = j // 4 (1-based position d+1),
    bit r = j % 4; digit value via position in the hex alphabet --
    identical arithmetic is expressible in DuckDB (no hex->int cast
    needed in either engine).  Output: the bits as a 16-char 0/1 string
    (MSB = bit 15) plus the signed accumulator per document.
    """
    words = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("w"),
    ).filter(F.length("w") > 0)
    h = F.md5(F.col("w"))
    cols = []
    for j in range(bits):
        d = j // 4 + 1
        r = j % 4
        # conv(hexdigit,16,10) == strpos(hex_alphabet, digit)-1 (oracle)
        digit = F.conv(F.substring(h, d, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, r).bitwiseAND(F.lit(1))
        cols.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{j}")
        )
    acc = words.groupBy("doc_id").agg(*cols)
    bitstr = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(bits - 1, -1, -1)
        ]
    )
    return acc.select("doc_id", bitstr.alias("simhash_bits"))


DECONTAM_NGRAM = 6


def decontaminate(train_docs, benchmark_docs, n=DECONTAM_NGRAM,
                  min_hits=2):
    """Benchmark decontamination: per training document, the number of
    distinct word n-grams it shares with the benchmark set, and a
    contamination flag at ``min_hits``.

    Scale shape: the benchmark side is tiny by definition, so its
    shingle set broadcasts; the train side is scanned once with the
    shingle explode (bounded amplification) and one map-side-combinable
    groupBy -- never a train x train comparison.
    """
    tr = word_shingles(train_docs, n)
    bm = word_shingles(benchmark_docs, n).select("shingle").distinct()
    hits = (
        tr.join(F.broadcast(bm), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_ngrams"))
    )
    return (
        train_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap_ngrams", F.lit(0))
            .cast("int").alias("n_overlap_ngrams"),
            (F.coalesce("n_overlap_ngrams", F.lit(0)) >= min_hits)
            .alias("is_contaminated"),
        )
    )


# --- sub-document (paragraph/segment) dedup ----------------------------------
SEGMENT_WORDS = 12
# explicit whitespace class: Java \s includes \x0B, RE2 \s does not
WS_CHARS = " " + chr(9) + chr(10) + chr(11) + chr(12) + chr(13)


def _seg_tokens(text_col):
    """THE segmentation tokenizer: every consumer (segment pass and
    tail reconstruction) must use this exact expression or segment
    boundaries silently disagree.  Whitespace is the EXPLICIT class
    ``WS_CHARS`` (engine-native \\s would split \\x0B-bearing text
    differently in Java and RE2 engines)."""
    return F.split(F.trim(F.col(text_col)), "[" + WS_CHARS + "]+")


def doc_segments(docs, words_per_seg=SEGMENT_WORDS, id_col="doc_id",
                 text_col="text", extra_cols=(), with_text=False):
    """(id, [extra], seg_idx, seg_hash[, seg_text]): non-overlapping
    windows of ``words_per_seg`` whitespace tokens, md5-hashed.  Only
    FULL windows are emitted (a ragged tail is not a comparable unit);
    ``with_text`` additionally carries the joined window text (for
    consumers that rebuild documents, e.g. ``remove_boilerplate``).

    Window-ALIGNED segmentation: it catches whole-document duplicates
    and boilerplate that repeats from the same token offset; prose
    duplicated at arbitrary offsets is the shingle/MinHash paths' job
    (``lsh_candidates``).  Catalyst-only, zero joins: tokenize ->
    explode a seg-index sequence -> slice+hash.  At 100 TB this is one
    narrow pass over the text column."""
    toks = _seg_tokens(text_col)
    n_segs = F.floor(F.size(toks) / words_per_seg).cast("int")
    seg_ix = F.explode(F.sequence(F.lit(0), n_segs - 1))
    base = docs.filter(n_segs > 0).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        toks.alias("__toks"),
        seg_ix.alias("seg_idx"),
    )
    seg_text = F.concat_ws(
        " ",
        F.slice(
            F.col("__toks"),
            F.col("seg_idx") * words_per_seg + 1,
            words_per_seg,
        ),
    )
    out_cols = [
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col("seg_idx"),
        F.md5(seg_text).alias("seg_hash"),
    ]
    if with_text:
        out_cols.append(seg_text.alias("seg_text"))
    return base.select(*out_cols)


def paragraph_dedup(docs, words_per_seg=SEGMENT_WORDS):
    """Sub-document exact dedup: segments appearing in more than one
    DISTINCT document, with their spread and a deterministic keeper
    (min doc_id).  The practical training-data use: drop or down-weight
    repeated passages (licenses, navigation, templated intros) without
    discarding the documents that contain them.

    Shape: the segment pass is narrow; the only shuffle is the
    seg_hash groupBy, map-side combinable, keys uniform (md5)."""
    segs = doc_segments(docs, words_per_seg)
    return (
        segs.groupBy("seg_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def boilerplate_segments(docs, words_per_seg=SEGMENT_WORDS,
                         min_docs=2, min_frac=0.05):
    """CCNet-style boilerplate detection per source/domain: segments
    present in >= ``min_docs`` distinct documents AND >= ``min_frac``
    of the source's documents.  Emits (source, seg_hash, n_docs,
    doc_frac) -- the removal list a cleaning pass anti-joins against.

    Shape: segment pass (narrow) + one (source, seg_hash) groupBy +
    a broadcast join of per-source doc totals (|sources| rows).  The
    per-source totals frame is tiny by construction; the groupBy key
    space is uniform md5 -- no skew handling needed."""
    segs = doc_segments(docs, words_per_seg, extra_cols=("source",))
    per_source_docs = docs.groupBy("source").agg(
        F.countDistinct("doc_id").alias("__total_docs")
    )
    counts = (
        segs.select("source", "seg_hash", "doc_id")
        .distinct()
        .groupBy("source", "seg_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        counts.join(F.broadcast(per_source_docs), "source")
        .withColumn(
            "doc_frac",
            F.round(
                F.col("n_docs").cast("double") / F.col("__total_docs"), 6
            ),
        )
        .filter(
            (F.col("n_docs") >= min_docs)
            & (F.col("doc_frac") >= min_frac)
        )
        .select("source", "seg_hash", "n_docs", "doc_frac")
    )


def remove_boilerplate(docs, removal_df, words_per_seg=SEGMENT_WORDS):
    """Apply a ``boilerplate_segments`` removal list: rebuild each
    document's text with flagged segments dropped (ragged tail always
    preserved).  Output text is WHITESPACE-NORMALIZED (single spaces):
    segmentation tokenizes, so reconstruction is from tokens.

    Emits (doc_id, source, cleaned_text, n_removed).  Shape: one
    narrow segment pass (``doc_segments`` -- the one segmentation
    definition), a broadcast anti-join against the (tiny) removal
    list, one groupBy(doc) to reassemble -- the corpus text crosses
    exactly one shuffle, keyed by the uniform doc id."""
    toks = _seg_tokens("text")
    base = docs.select(
        "doc_id",
        "source",
        toks.alias("__toks"),
        F.floor(F.size(toks) / words_per_seg).cast("int").alias("__n"),
    )
    segs = doc_segments(
        docs, words_per_seg, extra_cols=("source",), with_text=True
    )
    kept = segs.join(
        F.broadcast(removal_df.select("source", "seg_hash")),
        ["source", "seg_hash"],
        "left_anti",
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
        ).alias("__kept_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    tail = base.select(
        "doc_id",
        "source",
        F.col("__n"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("__toks"),
                F.col("__n") * words_per_seg + 1,
                F.greatest(
                    F.size(F.col("__toks"))
                    - F.col("__n") * words_per_seg,
                    F.lit(0),
                ),
            ),
        ).alias("__tail"),
    )
    return (
        tail.join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.trim(
                F.concat_ws(
                    " ",
                    F.coalesce(F.col("__kept_text"), F.lit("")),
                    F.col("__tail"),
                )
            ).alias("cleaned_text"),
            (F.col("__n") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


# --- exact-substring span dedup (offset-free) --------------------------------
SPAN_NGRAM = 13


def duplicate_spans(docs, n=SPAN_NGRAM, id_col="doc_id",
                    text_col="text"):
    """Exact-substring duplicate spans, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    family: maximal runs of word positions whose every ``n``-gram also
    appears in ANOTHER document.  Unlike ``doc_segments`` (window-
    ALIGNED units) this is offset-free -- a passage duplicated at any
    word offset is found, the suffix-array use case re-expressed as
    dataframe ops.  Output: one row per merged span,
    ``(doc_id, span_start, span_end, span_words, n_grams)`` with
    ``[span_start, span_end)`` in token positions.

    Shape: rolling-gram explode (narrow, |words| rows -- same
    amplification as the shingle pass), one md5-keyed groupBy to find
    cross-document grams (uniform keys, map-side combinable), one
    equi-join back on the gram hash, then a per-document
    gaps-and-islands window merge (shuffle keyed by the uniform doc
    id).  Three shuffles total, no all-pairs comparison anywhere; at
    100 TB each is the textbook bounded shape.  A gram starting at
    ``pos`` covers ``[pos, pos+n)``; consecutive duplicated grams
    merge while the coverage stays contiguous (gap <= n)."""
    from pyspark.sql import Window

    toks = _seg_tokens(text_col)
    grams = (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.size("__toks") - n)
            ).alias("pos"),
            F.col("__toks"),
        )
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("pos"),
            F.md5(
                F.concat_ws(
                    " ", F.slice("__toks", F.col("pos") + 1, F.lit(n))
                )
            ).alias("gram_hash"),
        )
    )
    cross_doc = (
        grams.groupBy("gram_hash")
        .agg(F.countDistinct(id_col).alias("__n_docs"))
        .filter(F.col("__n_docs") > 1)
        .select("gram_hash")
    )
    hits = grams.join(cross_doc, "gram_hash").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "__brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > n, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("__island", F.sum("__brk").over(w))
    return (
        flagged.groupBy(F.col(id_col), F.col("__island"))
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start"))
            .cast("int")
            .alias("span_words"),
            "n_grams",
        )
    )


def duplicate_span_stats(docs, spans_df=None, n=SPAN_NGRAM,
                         id_col="doc_id", text_col="text"):
    """Per-document duplicated-text profile from the span table:
    words covered by cross-document spans, span count, longest span,
    and the duplicated-word fraction -- the filter signal
    (drop/down-weight docs above a dup-fraction threshold).  One
    groupBy over the (already small) span table + one join back to
    the corpus keyed on the uniform doc id."""
    spans = spans_df if spans_df is not None else duplicate_spans(
        docs, n, id_col=id_col, text_col=text_col
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_words").alias("dup_words"),
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_words").alias("max_span_words"),
    )
    toks = _seg_tokens(text_col)
    base = docs.select(F.col(id_col), F.size(toks).alias("n_words"))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_words",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("int")
        .alias("n_spans"),
        F.coalesce(F.col("dup_words"), F.lit(0)).cast("int")
        .alias("dup_words"),
        F.coalesce(F.col("max_span_words"), F.lit(0)).cast("int")
        .alias("max_span_words"),
        F.round(
            F.coalesce(F.col("dup_words"), F.lit(0)).cast("double")
            / F.col("n_words"),
            6,
        ).alias("dup_word_frac"),
    )


def remove_duplicate_spans(docs, spans_df=None, n=SPAN_NGRAM,
                           id_col="doc_id", text_col="text"):
    """Span-level cleaning: rebuild each document with every token
    covered by a cross-document duplicate span dropped (the
    drop-all-occurrences policy; keeper-aware policies are a filter
    on the spans table before passing it in).  Output text is
    whitespace-normalized, like ``remove_boilerplate``.

    Shape: one posexplode (narrow), one doc-keyed join against the
    span table with a range predicate (equi on the doc id -- never a
    cartesian), one groupBy(doc) to reassemble.  The corpus text
    crosses exactly two doc-keyed shuffles."""
    spans = spans_df if spans_df is not None else duplicate_spans(
        docs, n, id_col=id_col, text_col=text_col
    )
    toks = _seg_tokens(text_col)
    base = docs.select(F.col(id_col), toks.alias("__toks"))
    pos_tok = base.select(
        F.col(id_col), F.posexplode("__toks")
    ).withColumnRenamed("pos", "pos").withColumnRenamed("col", "tok")
    sp = spans.select(
        F.col(id_col).alias("__sid"), "span_start", "span_end"
    )
    kept = pos_tok.join(
        sp,
        (F.col(id_col) == F.col("__sid"))
        & (F.col("pos") >= F.col("span_start"))
        & (F.col("pos") < F.col("span_end")),
        "left_anti",
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
        ).alias("__kept_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    return (
        base.select(F.col(id_col), F.size("__toks").alias("__n"))
        .join(kept_agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__kept_text"), F.lit(""))
            .alias("cleaned_text"),
            (F.col("__n") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed_words"),
        )
    )


CONTAIN_THRESHOLD = 0.8
CONTAIN_MAX_DF = 8


def containment_pairs(corpus, threshold=CONTAIN_THRESHOLD,
                      max_doc_freq=CONTAIN_MAX_DF):
    """Asymmetric containment dedup -- the quote/mirror/aggregator
    case SYMMETRIC Jaccard misses: a 50-word doc embedded verbatim in
    a 5,000-word page has Jaccard ~0.01 but containment ~1.0.
    ``containment(inner in outer) = |S_inner & S_outer| / |S_inner|``
    over the full shingle sets; inner = the smaller shingle set
    (ties: smaller doc_id).  Output ``(doc_inner, doc_outer,
    n_common, size_inner, size_outer, containment)`` for pairs at or
    above ``threshold``.

    Candidates are pairs sharing >= 1 RARE shingle (doc-freq <=
    ``max_doc_freq``) -- the prefix-filter analog: a truly contained
    document shares ALL its shingles with its container, including
    its rarest, so every inner doc owning at least one rare shingle
    is recalled exactly; documents composed entirely of boilerplate
    shingles are the documented recall gap (and are what
    ``boilerplate_segments`` exists to strip first).

    Scale shape: the candidate self-join is bounded at
    ``max_doc_freq^2`` rows per rare shingle -- never
    corpus-quadratic -- and intersection counting joins candidates
    back to the full shingle table doc-keyed (the
    ``jaccard_on_candidates`` shape).  One multi-consumer shingle
    table, cached."""
    sh = word_shingles(corpus).cache()
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("shingle")
    )
    rare_sh = sh.join(rare, "shingle", "left_semi")
    cand = (
        rare_sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(
            rare_sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"),
                  "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
              ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    joined = common.join(
        sizes.select(F.col("doc_id").alias("doc_a"),
                     F.col("n_shingles").alias("size_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"),
                     F.col("n_shingles").alias("size_b")),
        "doc_b",
    )
    a_is_inner = (F.col("size_a") < F.col("size_b")) | (
        (F.col("size_a") == F.col("size_b"))
        & (F.col("doc_a") < F.col("doc_b"))
    )
    directed = joined.select(
        F.when(a_is_inner, F.col("doc_a")).otherwise(F.col("doc_b"))
        .alias("doc_inner"),
        F.when(a_is_inner, F.col("doc_b")).otherwise(F.col("doc_a"))
        .alias("doc_outer"),
        "n_common",
        F.when(a_is_inner, F.col("size_a")).otherwise(F.col("size_b"))
        .alias("size_inner"),
        F.when(a_is_inner, F.col("size_b")).otherwise(F.col("size_a"))
        .alias("size_outer"),
    )
    return directed.withColumn(
        "containment",
        F.round(F.col("n_common") / F.col("size_inner"), 6),
    ).filter(
        (F.col("n_common") / F.col("size_inner"))
        >= F.lit(float(threshold))
    )
