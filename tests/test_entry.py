"""Driver-contract smoke tests: entry(), queries()/oracle_sql() integrity."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_entry_returns_rows(spark):
    import __spark_entry__ as ent

    df = ent.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"subject", "label"}


def test_queries_oracle_alignment():
    import __spark_entry__ as ent

    qs, os_ = ent.queries(), ent.oracle_sql()
    assert len(qs) >= 40
    assert set(os_) <= set(qs)
    # every oracle is non-empty SQL text
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_all_queries_run_at_smallest_sf(spark, sf_dir):
    """Every catalog query must execute (correctness vs oracle is checked by
    tools/check_correctness.py and the driver at sf0.01)."""
    import __spark_entry__ as ent

    failures = {}
    for name, fn in ent.queries().items():
        try:
            fn(spark, sf_dir).limit(5).collect()
        except Exception as e:  # pragma: no cover
            failures[name] = f"{type(e).__name__}: {e}"
    assert not failures, failures


def test_catalog_entries_restore_session_confs(spark, sf_dir):
    """Catalog entries that tune session confs (runtime Bloom filter,
    SQL scripting) must save/restore them — no entry may leave shared
    session state mutated after its DataFrame is built and consumed."""
    import __spark_entry__ as ent

    keys = {
        # conf.get type-checks the fallback, so defaults must be typed
        "spark.sql.scripting.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    before = {k: spark.conf.get(k, d) for k, d in keys.items()}
    qs = ent.queries()
    qs["sql_scripting_threshold_search"](spark, sf_dir).collect()
    qs["j_runtime_bloom_filter"](spark, sf_dir).collect()
    after = {k: spark.conf.get(k, d) for k, d in keys.items()}
    assert before == after
