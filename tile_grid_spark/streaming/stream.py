"""The served MVT store and the one stream that maintains it.

The reference has no streaming (SURVEY §2.B.10); the north rule asks for
resumable batch, not streams. This module keeps only what something
runs:

- refresh_mvt_store upserts a batch of points into a parquet store of
  point-MVT tiles and swaps it live (_swap_store), restoring a store a
  crash left as `<store>.old` first (_recover_store). The `serve`
  benchmark workload times it.
- stream_mvt_store_refresh runs refresh_mvt_store per micro-batch. It is
  the one streaming entry point, and the reason the swap is atomic and a
  replayed batch is a no-op on the store.

Batch operators that are stateless column expressions need no wrapper
here: they run unchanged under readStream.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from ..core.tms import Tms


def _recover_store(store_path: str) -> None:
    """Undo a store swap that a crash cut between its two renames: the
    live directory is gone and `<store>.old` holds the previous store.
    Rename `.old` back, so the replayed batch merges into the previous
    store — safe because the store merge is idempotent. A stale
    `.tmp` needs no cleanup: _swap_store overwrites it."""
    old = store_path + ".old"
    if not os.path.isdir(store_path) and os.path.isdir(old):
        os.rename(old, store_path)


def _swap_store(store_path: str, df: DataFrame) -> None:
    """Write `df` in full to `<store>.tmp`, then swap it live: rename
    live -> `.old`, `.tmp` -> live, delete `.old`. A crash at any point
    leaves a complete live store or a complete `.old` one
    (_recover_store restores it), never a half-written store."""
    tmp = store_path + ".tmp"
    old = store_path + ".old"
    df.write.mode("overwrite").parquet(tmp)  # materialized BEFORE swap
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(store_path):
        os.rename(store_path, old)
    os.rename(tmp, store_path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def refresh_mvt_store(
    store_path: str,
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    attr_cols: tuple = (),
) -> None:
    """Upsert a batch of points BY FEATURE ID into a parquet store of
    point-MVT tile binaries (operators/vector_tiles.upsert_point_tiles,
    tags included; the batch wins fid collisions, so a point update
    re-renders its tile) and swap the result live (_swap_store). The
    first batch builds the store. Only the tiles the batch touches are
    decoded and re-encoded; the others are copied as stored bytes, but
    the parquet store itself is still rewritten in full. Replaying the
    same batch reproduces identical bytes — the idempotence the
    streaming wrapper relies on — and a refresh that finds only
    `<store>.old` (a crash between the swap's renames) restores it
    first (_recover_store), so the replay merges into the previous
    store. At 100 TB a table format bounds the rewritten span with
    partition pruning; the full-rewrite swap here is the format-free
    equivalent.

    A refresh of an existing store runs two Spark jobs: the collect of
    the batch's tile keys and the store write. The store is read with
    its declared TILES_SCHEMA (inferring it would be a third job), the
    touched tiles are picked by a parsed IN-list predicate, not a join,
    and a batch over vector_tiles.MAX_REFRESH_TILES distinct tiles
    raises ValueError before anything is written."""
    from ..operators.vector_tiles import TILES_SCHEMA, upsert_point_tiles

    spark = points.sparkSession
    _recover_store(store_path)
    old = None
    if os.path.isdir(store_path):
        # the declared schema: inferring it runs a Spark job per refresh
        old = spark.read.schema(TILES_SCHEMA).parquet(store_path)
    merged = upsert_point_tiles(
        old, points, tms, zoom, id_col=id_col, attr_cols=tuple(attr_cols)
    )
    if old is not None:
        # untouched tiles keep their scan partitions: hold the file count
        # at the live store's, or every refresh would add a file
        merged = merged.coalesce(max(1, len(old.inputFiles())))
    _swap_store(store_path, merged)


def stream_mvt_store_refresh(
    points: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    attr_cols: tuple = (),
):
    """Streaming maintenance of the SERVED artifact itself: each
    micro-batch of (id, lon, lat[, attrs]) points re-encodes exactly
    the vector tiles it touches (refresh_mvt_store: two Spark jobs, the
    batch's tile keys picking the touched tiles by a parsed IN-list
    predicate; untouched tiles are copied as stored bytes, the parquet
    store is rewritten in full) and swaps the result into the live
    store; a micro-batch over vector_tiles.MAX_REFRESH_TILES distinct
    tiles fails the query before its write. Append-mode source,
    foreachBatch sink, one availableNow run over what the source holds;
    idempotent under at-least-once replay because the tile merge is
    keyed by feature id, and a batch replayed after a crash between the
    swap's renames merges into the restored previous store. Returns the
    started query handle."""

    def commit(bdf: DataFrame, batch_id: int) -> None:
        refresh_mvt_store(
            store_path, bdf, tms, zoom, id_col=id_col, attr_cols=attr_cols
        )

    return (
        points.writeStream.outputMode("append")
        .foreachBatch(commit)
        .queryName("tgs_mvt_store")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
