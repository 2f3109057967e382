"""Two-phase exact top-k: the one ranked top-k kernel for a FIXED tiny set
of partitions (ANN query ids) or no partition at all (global samples).

A single ``Window.partitionBy(query)`` caps the ranking stage at
N_QUERIES-way parallelism regardless of cluster size — one task sorts the
whole candidate set of a query — and an unpartitioned window sorts the
whole input on one task. Phase 1 ranks within (partition, slice % salt)
slices, salt times more parallel; every global top-k row is in its slice's
top-k by the same total order. Phase 2 assigns the FINAL rank over the
<= salt*k survivors per partition. Both phases share one total order, so
the output is identical to the single window for ANY salt (ties must be
broken by the order itself) and the oracles stay a plain
``row_number() OVER (PARTITION BY .. ORDER BY ..)``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# Phase-1 slices per partition for the ANN family. 8 bounds the small-scale
# overhead of the second window phase (min-of-6 interleaved A/B at sf0.1
# read 8 flat-to-better than 32 on all five consumers) while still lifting
# the NQ(=8)-way ranking ceiling to 64-way. A constant on purpose: deriving
# it from the session's core count would make plans depend on the machine.
TOPK_SALT = 8


def two_phase_topk(
    df: DataFrame,
    partition_by: Sequence[str],
    slice_col: str,
    order: Sequence[str | Column],
    k: int,
    salt: int = TOPK_SALT,
    rank_col: str = "rank",
) -> DataFrame:
    """Rows of ``df`` ranked 1..k per ``partition_by`` group (the whole
    frame when empty) by ``order``, with the BIGINT rank in ``rank_col``.

    ``order`` must be a total order (end it with a unique column);
    ``slice_col`` is an integer column that spreads phase 1."""
    w1 = Window.partitionBy(
        *partition_by, F.expr(f"{slice_col} % {salt}")
    ).orderBy(*order)
    w2 = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
        .withColumn(rank_col, F.row_number().over(w2).cast("bigint"))
        .filter(F.col(rank_col) <= k)
    )
