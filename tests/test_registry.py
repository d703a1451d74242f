"""Registry contract guards (no Spark execution): every oracle has a
matching query, and every oracle SQL string binds cleanly in DuckDB
against the test tables — catches dialect/binder errors in seconds
instead of a full compare_oracle run."""

from __future__ import annotations

import pytest

from elb_log_to_mysql_spark.queries import ORACLE_SQL, QUERIES


def test_every_oracle_key_has_a_query():
    missing = set(ORACLE_SQL) - set(QUERIES)
    assert not missing, f"oracle without query: {sorted(missing)}"


def test_registry_is_nontrivially_large():
    # the coverage contract: SQL-checkable operators dominate
    assert len(QUERIES) >= 90
    assert len(ORACLE_SQL) >= 80


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_sql_binds_in_duckdb(con, name):
    # EXPLAIN parses, binds, and plans without executing
    con.execute(f"EXPLAIN {ORACLE_SQL[name]}")


def test_registry_md_matches_catalog():
    # REGISTRY.md is generated; regenerate with tools/registry_catalog.py
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "registry_catalog", repo / "tools" / "registry_catalog.py"
    )
    catalog = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog)
    assert (repo / "REGISTRY.md").read_text() == catalog.render()
