"""The one batched group kernel: many whole groups per Arrow batch.

Every per-group builder in the engine (MVT tiles, raster tiles, pyramid
parents, Douglas-Peucker trajectories) runs through `batched_group_map`
instead of `groupBy().applyInPandas`. applyInPandas pays one Python
call and one Arrow round trip per GROUP, which dominates whenever
groups are small (a z6 tile holds a few hundred points, a pyramid
parent <= 4 children, a single-point z10 tile one row: 1500 such tiles
took ~8 s through applyInPandas while the painting itself is
microseconds). The kernel keeps the same single exchange and pays the
boundary once per Arrow batch.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def batched_group_map(
    rows: DataFrame,
    keys: Sequence[str],
    build: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    order: Sequence[str] = (),
    single_task: bool = False,
) -> DataFrame:
    """Hash-repartition `rows` on `keys`, sort each partition by
    `keys + order`, and call `build(group_pdf) -> pd.DataFrame` once per
    whole group inside mapInPandas; `schema` is the output schema of
    the concatenated build frames.

    The rows of the LAST key in each Arrow batch are held back and
    prepended to the next batch, so a group split across a batch
    boundary is built exactly once, from all of its rows: keys are
    contiguous within a partition after the sort, and mapInPandas walks
    one partition's batches in order. Groups whose key has a null
    component are dropped (pandas groupby semantics).

    `repartition(*keys)` leaves the partition count to
    spark.sql.shuffle.partitions, which AQE coalesces to the data; a
    fixed defaultParallelism count (which AQE cannot coalesce) was
    slower on the pipeline's raster and MVT stages. `single_task=True`
    puts every row in one task instead, with no exchange: for inputs a
    caller has already bounded (a store refresh's touched tiles,
    vector_tiles.MAX_REFRESH_TILES), where the exchange would cost a
    Spark job and a query stage per call and buy no parallelism."""
    keys = list(keys)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for b in batches:
            if carry is not None:
                b = pd.concat([carry, b], ignore_index=True)
            if len(b) == 0:
                carry = None
                continue
            tail = np.ones(len(b), dtype=bool)
            for k in keys:
                tail &= (b[k] == b[k].iloc[-1]).to_numpy()
            carry, body = b[tail], b[~tail]
            if len(body):
                yield pd.concat(
                    [build(g) for _, g in body.groupby(keys, sort=False)],
                    ignore_index=True,
                )
        if carry is not None and len(carry):
            yield build(carry)

    parts = rows.coalesce(1) if single_task else rows.repartition(*keys)
    parts = parts.sortWithinPartitions(*keys, *order)
    return parts.mapInPandas(run, schema)
