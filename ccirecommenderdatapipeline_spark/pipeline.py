"""The operational daily pipeline — the reference's three entry points as
chained DataFrame jobs writing parquet tables (SURVEY.md §3):

- E1 ``execute_pipeline`` (app.py:49-90, daily_function.py:904-1138):
  symbol universe -> prices -> CCI -> full strategy simulation -> the three
  best-strategy tables.
- E2 signal scan (daily_function.py:1180-1243): recommendations.
- E3 exit scan (daily_function.py:1713-1824): sell decisions.

Where the reference fans out a ProcessPoolExecutor per symbol and
checkpoints per-symbol CSVs, this is four lazy DataFrame jobs whose only
materialization points are the partitioned parquet writes — task retries
and idempotent overwrite replace the resume machinery (S13).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import plans


# E1 stage tables -> the query registry entry that computes each
E1_TABLES = {
    "symbol_list": "symbol_universe",
    "prices": "prices",
    "cci": "cci",
    "best_win": "best_win",
    "best_return": "best_return",
    "best_return_per_days_held": "best_return_per_days_held",
}
E2_TABLES = {
    "reco_revenue": "recommendations",
    "reco_win": "reco_win",
    "reco_revenue_per_days_held": "reco_revenue_per_days_held",
    "buy_candidates": "buy_candidates",
}
E3_TABLES = {"sell_decisions": "sell_decisions", "order_reconciliation": "order_reconciliation"}


def run_daily_batch(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Run E1+E2+E3 end to end; returns row counts per written table.

    Every table is written as an unpartitioned parquet overwrite, so a
    rerun replaces it (at scale, bucket prices/cci by symbol; see
    tests/test_bucketing.py for the layout)."""
    counts: dict[str, int] = {}
    for stage in (E1_TABLES, E2_TABLES, E3_TABLES):
        for table, query_name in stage.items():
            df: DataFrame = plans.QUERIES[query_name](spark, sf_dir)
            path = os.path.join(out_dir, table)
            df.write.mode("overwrite").parquet(path)
            counts[table] = spark.read.parquet(path).count()
    return counts
