"""Driver-contract smoke tests: entry(), queries(), oracle_sql() wiring."""

from __future__ import annotations

import importlib


def test_entry_returns_rows(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0


def test_query_registry_shape(spark):
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "no queries registered"
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    mod = importlib.import_module("__spark_entry__")
    for name, fn in mod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
        assert df.columns, name


def test_contrast_rows_name_registered_twins():
    """Every deliberately-slow demo query must label itself 'CONTRAST ROW'
    and name a REGISTERED production twin, so no reader of its timings
    or results mistakes it for a production path."""
    import re

    from sig_etl_spark.queries import QUERIES

    expected = {
        "linkage_fuzzy_match_skew",
        "linkage_fuzzy_match_wratio",
        "llm_simhash_pairs",
        "llm_ngram_jaccard",
        "llm_dedup_clusters",
        "llm_corpus_curation",
        # the exact all-pairs-within-label embedding arm, labeled against
        # its IVF twin
        "llm_embedding_near_dup",
    }
    found = {n for n, rq in QUERIES.items() if "CONTRAST ROW" in rq.doc}
    assert found == expected, found ^ expected
    for name in found:
        m = re.search(r"production twin:\s*([a-z0-9_\s]+?)[.,]", QUERIES[name].doc)
        assert m, f"{name}: no 'production twin: <name>' in doc"
        twin = re.sub(r"\s+", "", m.group(1))
        assert twin in QUERIES, f"{name}: twin {twin!r} not registered"
        assert twin != name
