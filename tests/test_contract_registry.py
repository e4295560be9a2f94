"""Driver-contract registry invariants.

The driver's CORRECTNESS artifact samples a PREFIX of ``queries()``,
so the registry's ordering is load-bearing: the queries never captured
in a driver artifact through round 3 (plus round 4's new entry) must
stay in front until a driver artifact has recorded them.  Cheap
structural checks -- the semantic per-query verification is
tools/check_contract.py's job.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

# never in a driver CORRECTNESS artifact: the round-5 additions lead
# (the prior 70 are all green in CORRECTNESS_full_r04.json); the
# round-3/4 priority block follows
PRIORITY_PREFIX = [
    "entity_cooccurrence",
    "url_canonicalize",
    "url_dedup",
    "events_asof_orders",
    "events_close_pairs",
    "lineitem_quantiles",
    "events_pivot",
    "orders_cube",
    "customers_above_nation_avg",
    "embedding_norms",
    "entity_sharded_link",
    "entity_components",
    "entity_pagerank",
    "events_user_rolling",
    "text_word_udtf",
    "docs_geo_mean",
    "word_heavy_hitters",
    "lineitem_salted_join",
    "local_supplier_volume",
    "canonize_incremental",
]


def test_registry_shape_and_priority_prefix():
    qs = entrymod.queries()
    names = list(qs)
    assert len(names) == len(set(names)) == 41
    assert names[: len(PRIORITY_PREFIX)] == PRIORITY_PREFIX
    assert all(callable(fn) for fn in qs.values())


def test_every_query_has_an_oracle():
    """Repo invariant (CLAUDE.md): every operator carries an oracle
    entry -- rows-only checks would need a documented reason, and
    currently none exist."""
    qs = set(entrymod.queries())
    oracles = entrymod.oracle_sql()
    assert set(oracles) == qs
    assert all(
        isinstance(sql, str) and sql.strip().upper().startswith(
            ("SELECT", "WITH")
        )
        for sql in oracles.values()
    )


def test_entity_pagerank_oracle_runs_in_bounded_memory(sf_dir):
    """The 10 unrolled PageRank iterations each read the previous
    ranks twice; unless every ``r{i}`` is materialized, DuckDB inlines
    the chain into 2^10 copies and runs out of memory."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.execute(entrymod.oracle_sql()["entity_pagerank"]).fetchall()
    assert len(rows) == 150
