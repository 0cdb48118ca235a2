"""Lineage-cut helper for iterative loops.

Every iterative plan in the engine (connected components, PageRank,
k-hop/DFS frontiers) must cut lineage each round or the plan tree grows
unboundedly. `localCheckpoint` stores blocks on
executors — fast, but executor loss on a real cluster forces a full
recompute (and can fail the job since lineage was truncated). Production
runs therefore configure a reliable checkpoint directory
(`sc.setCheckpointDir('hdfs://...')`); this helper upgrades every loop to
reliable `checkpoint()` automatically when that is set, and falls back to
`localCheckpoint()` in local/test mode where executor loss is impossible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_lazy(df: DataFrame) -> DataFrame:
    """cut_lineage with DEFERRED materialization: the checkpoint blocks
    persist inside the next action that covers the DataFrame instead of
    a standalone job, fusing the lineage cut into work that runs anyway
    (reuse across later consumers is unchanged — the first covering
    action materializes the blocks once).

    Use when every consumer is a full-coverage action (join, aggregate,
    count, write). Keep the EAGER form when the checkpoint must
    materialize before a side effect invalidates its inputs (e.g.
    overwriting a parquet path the plan reads) or when the next consumer
    might execute only some partitions (limit-style)."""
    return cut_lineage(df, eager=False)
