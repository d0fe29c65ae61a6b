"""Every oracle-backed registry query must match DuckDB exactly.

Each query's result is compared with its SQL oracle run by DuckDB on
the same parquet (row count, schema and an order-insensitive value
hash); sf0.01 by default, another scale with SPARK_GRAFT_PARITY_SF.
"""

import os

import pytest

from telemetry_streaming_spark.plans.queries import QUERIES
from tests.oracle_harness import compare_query

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")

ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle is None)

# Two-tier split (pytest.ini): the default (fast) run checks this
# frozen sample of oracle-backed queries; the rest run under `-m full`.
_FAST_PARITY = frozenset({
    "array_mean", "asof_enrich", "attribution_linear", "bpe_token_stats",
    "cohort_revenue_matrix", "conversion_delay_buckets",
    "cumulative_unique_users", "curation_funnel", "dedup_normalized",
    "discount_quantity_slope", "dow_seasonality", "dup_span_removal",
    "dup_span_stats", "embedding_gram_matrix", "event_transition_matrix",
    "ewma_revenue", "experiment_chisq", "hard_negatives",
    "incremental_dedup_components", "interval_coverage", "ks_drift",
    "logit_training_stats", "market_basket_pairs", "name_linkage",
    "new_vs_returning", "ngram_repetition", "part_clustering",
    "part_supplier_breadth", "part_triangles", "pii_scan",
    "repeat_purchase_rate", "revenue_gini", "revenue_wow",
    "rolling_anomaly_flags", "salted_agg", "sessionize_native",
    "source_drift", "source_length_quantiles", "stratified_sample",
    "supplier_balance_pct_rank", "survival_churn", "token_budget_sample",
    "ttr_by_source", "vocab_coverage", "weighted_median_price",
    "znorm_window_stats",
})


def _tiered(names):
    return [
        n if n in _FAST_PARITY else pytest.param(n, marks=pytest.mark.full)
        for n in names
    ]


def test_fast_parity_names_are_oracle_backed():
    """A mistyped or rows-only name would silently drop out of the
    fast tier instead of failing."""
    stray = sorted(_FAST_PARITY - set(ORACLE_QUERIES))
    assert not stray, f"fast-tier names that are not oracle-backed queries: {stray}"


def test_registry_counts_pinned():
    """Pin the registry size so prose counts (README, SURVEY) cannot
    silently drift from the registry.  Adding a query means updating
    this pin in the same commit."""
    counts = (len(QUERIES), len(ORACLE_QUERIES), len(ROWS_ONLY_QUERIES))
    assert counts == (235, 216, 19), (
        f"registry is {counts[0]} queries ({counts[1]} oracle-backed"
        f" + {counts[2]} rows-only) — update this pin AND every prose count"
        " (README.md, SURVEY.md)"
    )


@pytest.mark.parametrize("name", _tiered(ORACLE_QUERIES))
def test_oracle_parity(spark, duck, name):
    spec = QUERIES[name]
    compare_query(spark, duck, name, spec.fn, spec.oracle, SF_DIR)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    keys = set(e.queries())
    oracle_keys = set(e.oracle_sql())
    assert oracle_keys <= keys


# full tier: double-execution of every rows-only query (the fast tier
# keeps the single-run smoke above, so coverage is a time split only)
@pytest.mark.full
@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_are_deterministic(spark, name):
    """No SQL oracle means the driver only sees row counts — so pin
    the stronger property locally: two executions in one session must
    produce identical result sets (sketches, sampling, clustering and
    DP tiers are all seeded/deterministic by design)."""
    spec = QUERIES[name]
    a = sorted(map(str, spec.fn(spark, SF_DIR).collect()))
    b = sorted(map(str, spec.fn(spark, SF_DIR).collect()))
    assert a == b
    spark.catalog.clearCache()
