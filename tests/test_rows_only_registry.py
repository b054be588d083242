"""Execute every rows-only (sql=None) registry entry end-to-end.

Rows-only entries have no DuckDB oracle, so the oracle hash-check in
test_oracle_queries cannot cover them; THIS module is where each one's
registry callable provably runs: schema stays stable and the result is
non-trivial at sf0.001. The deeper semantic checks (LSH recall, sketch
error bounds, JPEG PSNR, MMR demotion, isotonic pooling) live in the
per-operator test modules. Names asserted here:

approx_stats, near_dup_minhash, minhash_dedup_survivors, simhash_pairs,
containment_pairs, sim_pairs_lsh, hll_sketch_distinct,
incremental_minhash_survivors, multimodal_jpeg_decode,
cms_heavy_hitter_estimates, compression_ratio_quality,
holt_linear_daily_revenue.
(sim_topk_ivf and mmr_rerank_topk left this list in round 5: the
deterministic IVF build+probe and the 10-step-unrolled MMR greedy now
replay in DuckDB oracles. holt_linear_daily_revenue joined it: DuckDB
LIST_REDUCE evaluates struct-accumulator fields sequentially, so the
two-component Holt fold has no portable oracle — its recurrence is
pinned against a pure-Python reference in test_analytics.py.)
"""

from __future__ import annotations

import pytest

from ascii_hydra_spark import verification as v

from conftest import SF_DIR

ROWS_ONLY = sorted(n for n, s in v.REGISTRY.items() if s.sql is None)


def test_rows_only_set_is_the_documented_tail() -> None:
    # additions must register here (docstring)
    documented = {
        "approx_stats", "near_dup_minhash", "minhash_dedup_survivors",
        "simhash_pairs", "containment_pairs", "sim_pairs_lsh",
        "hll_sketch_distinct",
        "incremental_minhash_survivors", "multimodal_jpeg_decode",
        "cms_heavy_hitter_estimates",
        "compression_ratio_quality",
        "holt_linear_daily_revenue",
    }
    assert set(ROWS_ONLY) == documented


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_entry_runs(spark, name) -> None:
    df = v.REGISTRY[name].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(df.schema.fields) > 0
    assert len(rows) >= 0
    # every declared column materializes (no all-null phantom schema)
    if rows:
        present = {f.name for f in df.schema.fields}
        populated = {
            k for r in rows[:50] for k, val in r.asDict().items() if val is not None
        }
        assert populated, f"{name}: first rows entirely null across {present}"
