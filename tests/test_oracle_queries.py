"""Differential tests: every SQL-expressible registry query vs DuckDB.

This is the local mirror of the driver's t2 gate (CORRECTNESS_r{N}.json):
run the Spark implementation and the oracle SQL on the same fixtures and
require identical row count, column names, and canonical values.
"""

from __future__ import annotations

import re

import pytest

from ascii_hydra_spark import verification
from ascii_hydra_spark.verification import REGISTRY
from tests.oracle_compare import assert_results_match

SQL_CHECKED = [name for name, spec in REGISTRY.items() if spec.sql is not None]


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_query_matches_oracle(spark, oracle, sf_dir, name):
    spec = REGISTRY[name]
    spark_df = spec.fn(spark, sf_dir)
    duck_pdf = oracle.execute(spec.sql).fetchdf()
    assert_results_match(spark_df, duck_pdf, name=name)


def test_sim_pairs_lsh_portable_finds_pairs(spark, sf_dir):
    # its hash check only bites if the fixture holds pairs at or above
    # the entry's cosine threshold: two empty results always match
    assert REGISTRY["sim_pairs_lsh_portable"].fn(spark, sf_dir).count() > 0


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_registry_keeps_declaration_order():
    with open(verification.__file__) as f:
        declared = re.findall(r'^@q\(\s*"([^"]+)"', f.read(), re.M)
    assert list(REGISTRY) == declared


def test_q_rejects_duplicate_name(monkeypatch):
    monkeypatch.setattr(verification, "REGISTRY", {})
    verification.q("dup", None)(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="duplicate registry name: 'dup'"):
        verification.q("dup", "SELECT 1")(lambda spark, sf_dir: None)
    assert verification.REGISTRY["dup"].sql is None
