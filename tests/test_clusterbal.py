"""Cluster-balanced sampling (plans/clusterbal_queries.py) properties."""

from __future__ import annotations

from etl_pipeline_excel_sql__spark.operators.similarity import IVF_NCELLS
from etl_pipeline_excel_sql__spark.plans.clusterbal_queries import (
    CB_K,
    q_cluster_balanced_sample,
)


def test_quota_and_balance(spark, sf_dir):
    rows = q_cluster_balanced_sample(spark, sf_dir).collect()
    assert rows, "sample is non-empty"
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    assert len(by_cell) <= IVF_NCELLS
    for cell, kept in by_cell.items():
        # quota respected; small cells keep everything
        assert len(kept) == min(CB_K, kept[0].cell_size), cell
        # ranks are 1..n without gaps
        assert sorted(r.cell_rank for r in kept) == list(
            range(1, len(kept) + 1)
        )
        # the population count is consistent within a cell
        assert len({r.cell_size for r in kept}) == 1
    # the sample is deterministic run-over-run (trained seeds + md5 rank)
    again = q_cluster_balanced_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
