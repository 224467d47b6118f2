"""Every queries() entry hash-matches its DuckDB oracle at sf0.01 —
a local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as entry_mod
from tests.compare import compare_query, duckdb_connect
from tests.conftest import SF_BENCH, SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def con():
    con = duckdb_connect(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, con, name):
    df = entry_mod.queries()[name](spark, SF_ORACLE)
    compare_query(df, con, entry_mod.oracle_sql()[name])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 2


def test_registry_shape():
    """queries() and oracle_sql() share one key order, window first, and a
    name cannot be registered twice."""
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert list(q) == list(o)
    assert list(q)[:50] == entry_mod._WINDOW
    with pytest.raises(ValueError, match="registered twice"):
        entry_mod._register("q1_pricing_summary", entry_mod.entry, "SELECT 1")
    assert entry_mod.oracle_sql() == o


@pytest.mark.parametrize(
    ("name", "sf_dir"),
    [
        # every event type has no hour below its median at sf0.001, so the
        # runs-test variance is zero: z must be NULL, not a DIVIDE_BY_ZERO
        pytest.param("events_runs_test", SF_SMALL, id="events_runs_test-sf0.001"),
        # sf0.1 has re-priced orders whose double product sits at a half
        # cent, where rounding a double differs by a cent between engines
        pytest.param("cdc_merge_upsert", SF_BENCH, id="cdc_merge_upsert-sf0.1"),
        pytest.param("cdc_snapshot_diff", SF_BENCH, id="cdc_snapshot_diff-sf0.1"),
    ],
)
def test_query_matches_oracle_at_scale(spark, name, sf_dir):
    """Queries whose parity depends on the data scale match at that scale."""
    con = duckdb_connect(sf_dir)
    try:
        df = entry_mod.queries()[name](spark, sf_dir)
        compare_query(df, con, entry_mod.oracle_sql()[name])
    finally:
        con.close()


#: The (operator, keyword) defaults that some caller overrides.
_KEPT_DEFAULTS = {
    ("dedup_embedding_cosine", "max_vectors"),
    ("dedup_embedding_cosine", "threshold"),
    ("dedup_exact_substring", "window"),
    ("dedup_kcore_peel", "rounds"),
    ("dedup_link_prediction", "degree_cap"),
    ("dedup_link_prediction", "k"),
    ("dedup_semdedup", "row_block"),
    ("dedup_simhash_pairs", "max_nibble_distance"),
    ("dedup_tfidf_cosine", "docs"),
    ("orders_hill_tail_index", "k"),
    ("sample_kcenter_coreset", "k"),
    ("sample_token_budget_mix", "tokens_per_lang"),
    ("similarity_ann_lsh", "k"),
    ("similarity_range_search", "emb"),
    ("similarity_range_search", "k"),
    ("similarity_range_search", "threshold"),
    ("stream_full_outer_interval_join", "glob"),
    ("stream_inactivity_sessions", "glob"),
    ("stream_inactivity_sessions", "max_files_per_trigger"),
    ("stream_stream_interval_join", "glob"),
    ("stream_stream_interval_join", "max_files_per_trigger"),
    ("stream_stream_interval_join", "watermark"),
    ("stream_stream_left_outer_interval_join", "glob"),
    ("stream_stream_left_outer_interval_join", "max_files_per_trigger"),
    ("stream_two_level_window", "glob"),
    ("stream_two_level_window", "max_files_per_trigger"),
    ("stream_upsert_latest", "glob"),
    ("stream_upsert_latest", "max_files_per_trigger"),
    ("text_bpe_word_merges", "iters"),
}


def test_operator_defaults_are_the_kept_ones():
    """Each oracle twin inlines its operator's keyword defaults as SQL
    literals, so a default can drift from its twin unseen.  Defaults that
    no caller overrides are therefore written as literals in the operator
    body; only the ones a caller sets stay keyword defaults.  A new default
    must be added here, and its twin checked, on purpose."""
    pairs = {
        (entry.fn.__name__, p.name)
        for entry in entry_mod._REGISTRY.values()
        for p in inspect.signature(entry.fn).parameters.values()
        if p.default is not p.empty
    }
    assert pairs == _KEPT_DEFAULTS
