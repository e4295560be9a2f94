"""Synthesize a larger derived corpus for cross-scale evidence.

The sandbox testdata tops out at sf0.1 (60k documents).  To check
that plans and throughput hold at the next decade WITHOUT touching
/root/testdata, this derives an N-fold corpus under /tmp: each
replica re-ids its documents into a disjoint ``doc_id`` range and
prefixes the text with a replica tag, so URL-keyed pipeline stages
see genuinely distinct documents (no accidental 10x exact-dup
collapse in the canonize path) while the content statistics stay
crawl-like.  Embeddings are replicated with re-ids ONLY: every
vector gains n-1 exact twins, as a recrawl would produce.

Usage: python3 tools/gen_scaled_corpus.py [src_sf_dir] [dst_dir] [n]
Defaults: /root/testdata/sf0.1 /tmp/sfx1 10
"""

from __future__ import annotations

import os
import sys

import duckdb

REPLICA_STRIDE = 10_000_000


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfx1"
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    shards = int(os.environ.get("SPARK_GRAFT_SCALE_SHARDS", "32"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{src}/documents.parquet'")
    con.execute(f"CREATE VIEW embs AS SELECT * FROM '{src}/embeddings.parquet'")
    # SHARDED output -- one parquet file per hash shard.  A single
    # file is one Spark scan partition however many row groups it
    # holds (file size < maxPartitionBytes), and every narrow heavy
    # stage downstream (the canonize kernel above all) inherits that
    # single-task bottleneck: measured 0.2 "efficiency" before this
    # fix, i.e. the corpus shape, not the engine, throttled the big
    # leg.  Production tables arrive as thousands of files; the
    # derived corpus must too.
    for t in ("documents", "embeddings"):
        os.makedirs(f"{dst}/{t}.parquet", exist_ok=True)
    for i in range(shards):
        con.execute(
            f"""
            COPY (
              SELECT d.doc_id + r.i * {REPLICA_STRIDE} AS doc_id,
                     'rep' || CAST(r.i AS VARCHAR) || ' ' || d.text
                       AS text,
                     d.lang, d.source, d.n_chars + 5 AS n_chars
              FROM docs d, (SELECT unnest(range({n})) AS i) r
              WHERE (d.doc_id + r.i * {REPLICA_STRIDE}) % {shards} = {i}
              ORDER BY r.i, d.doc_id
            ) TO '{dst}/documents.parquet/part-{i:05d}.parquet'
            (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              SELECT e.vec_id + r.i * {REPLICA_STRIDE} AS vec_id,
                     e.embedding, e.label
              FROM embs e, (SELECT unnest(range({n})) AS i) r
              WHERE (e.vec_id + r.i * {REPLICA_STRIDE}) % {shards} = {i}
              ORDER BY r.i, e.vec_id
            ) TO '{dst}/embeddings.parquet/part-{i:05d}.parquet'
            (FORMAT PARQUET)
            """
        )
    for t in ("documents", "embeddings"):
        cnt = con.execute(
            f"SELECT count(*) FROM '{dst}/{t}.parquet/*.parquet'"
        ).fetchone()[0]
        print(f"{t}: {cnt} rows -> {dst}/{t}.parquet ({shards} shards)")


if __name__ == "__main__":
    main()
