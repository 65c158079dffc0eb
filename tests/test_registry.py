"""Smoke: every registered query runs at sf0.001 and returns a stable schema."""

from __future__ import annotations

from pathlib import Path

import pytest

from streams_spark.registry import load_all

REGISTRY = load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    # schema is derivable without executing; collect a small prefix to
    # prove the plan executes
    assert df.schema is not None and len(df.schema) > 0
    df.limit(5).collect()


def test_entry_contract(spark):
    import importlib
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
