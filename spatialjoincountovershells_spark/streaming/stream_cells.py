"""Structured-Streaming ingestion of point/image rows.

The reference has no streaming semantics (its "pipelined" mode is
build/probe overlap — SURVEY §2.8); this module is the graft-scope
ingestion path: a stream of image rows is decoded, cell-assigned and
aggregated into per-cell occupancy — the maintenance job that keeps a
prepartitioned particle store fresh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.phash import decode_phash
from ..operators.cells import with_cell


def stream_cell_occupancy(
    stream: DataFrame,
    ncells: int,
    box: float = 1000.0,
    ts_col: str | None = None,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """streaming (phash[, ts]) -> per-cell (windowed) counts.

    Without ts: complete-mode global per-cell counts.  With ts:
    watermarked tumbling-window counts (late rows beyond the watermark
    are dropped) — append-mode safe.
    """
    df = with_cell(decode_phash(stream), ncells, box)
    if ts_col is None:
        return df.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_shell_counts(
    stream: DataFrame,
    halos: DataFrame,
    edges,
    box: float = 1000.0,
    dtype: str = "float32",
    id_col: str = "halo_id",
) -> DataFrame:
    """Streaming count-over-shells: incremental shell counts of a
    particle STREAM against a static halo table.

    The streaming analog of the reference's per-file accumulation loop
    (`src/astr_rcount/main.c` builds its index once and adds each
    particle file's counts into the running totals — SURVEY §3.1):
    here every micro-batch plays the role of one particle file.  The
    call is ``shell_count(plan='bcast')`` with the stream as the
    particle side: the static halo table is read, CSR-indexed and
    broadcast ONCE, when this query is built (a changed halo table
    needs a new query), and every micro-batch runs one ``mapInArrow``
    past that grid, emitting partial (halo, shell, cnt) rows that a
    streaming ``sum(cnt)`` folds in.  Run it in update/complete mode
    and the sink holds the same running totals the reference prints at
    the end of its file loop.  In update mode the sink receives only the
    (halo, shell) totals that the batch changed, so sink traffic follows
    the batch, not the halo table; complete mode rewrites every total
    every batch.  The halo table must fit the broadcast payload (about
    40 B per halo) and `id_col` must be an integer column.
    -> streaming (halo_id, shell_idx, cnt)
    """
    from ..operators.shell_count import shell_count

    return shell_count(halos, stream, edges, box, dtype, id_col, plan="bcast")


def stream_geo_tile_counts(
    stream: DataFrame,
    level: int,
    latlon: tuple[str, str] = ("lat", "lon"),
    ts_col: str | None = None,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming geo-tagged rows -> per-slippy-tile (windowed) counts:
    the live hot-spot map over arriving lat/lon rows (stateless tile
    assignment, the same geo_tile_expr the batch path uses).

    Without ts: complete-mode global per-tile counts.  With ts:
    watermarked tumbling-window counts, append-mode safe.
    """
    from ..operators.geo import geo_tile_expr

    lat, lon = (F.col(c) for c in latlon)
    df = stream.withColumn("tile_id", geo_tile_expr(lat, lon, level))
    if ts_col is None:
        return df.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), "tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_geo_shell_counts(
    stream: DataFrame,
    sites: DataFrame,
    edges_km,
    id_col: str = "site_id",
    stream_latlon: tuple[str, str] = ("lat", "lon"),
    site_latlon: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """Streaming GREAT-CIRCLE shell counts: arriving geo-tagged rows
    against a static site table — e.g. "images within 1/5/25 km of each
    POI, live".  Both sides embed on the quantized chord lattice
    (operators/geo.py) and ``stream_shell_counts``' broadcast site grid
    is swept by every micro-batch on the shifted coordinates.
    -> streaming (id_col, shell_idx, cnt); update/complete-mode sink
    holds the running totals.
    """
    from ..operators.geo import GEO_BOX, _embed, chord_edges_km

    p = _embed(stream, *stream_latlon, keep=[])
    h = _embed(sites, *site_latlon, keep=[id_col])
    return stream_shell_counts(
        p, h, chord_edges_km(edges_km), box=GEO_BOX, dtype="float64",
        id_col=id_col,
    )


def stream_trajectory_stats(
    stream: DataFrame,
    latlon: tuple[str, str] = ("lat", "lon"),
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    stay_hop: int = 1000,
) -> DataFrame:
    """Stateful streaming twin of operators/geo.py:trajectory_stats:
    per-user great-circle trajectory totals maintained across
    micro-batches via applyInPandasWithState.

    Group state per user holds the LAST lattice position plus the five
    running totals; each micro-batch sorts its rows by `order_cols`,
    chains the first hop off the stored position, and re-emits only the
    users the batch touched (update-mode sink).  Hop math is the batch
    operator's exact tree — embed via geo_unit_exprs (exact integers in
    f64), hop = floor(sqrt((dx*dx + dy*dy) + dz*dz)) — so the stream
    equals the batch result over any prefix, provided each user's pings
    arrive in `order_cols` order ACROSS batches (in-batch disorder is
    sorted out; cross-batch late data is not — this is the running-
    totals twin, not a watermarking re-sequencer).
    -> streaming (user_id, n_pings, path_len, max_hop, n_moves,
    n_stays), all int64.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from ..operators.geo import geo_unit_exprs

    lat, lon = (F.col(c) for c in latlon)
    qx, qy, qz = geo_unit_exprs(lat, lon)
    src = stream.select(
        F.col(user_col).cast("long").alias(user_col),
        *[F.col(c) for c in order_cols],
        qx.alias("_qx"), qy.alias("_qy"), qz.alias("_qz"),
    )
    out_t = StructType([
        StructField(user_col, LongType()),
        StructField("n_pings", LongType()),
        StructField("path_len", LongType()),
        StructField("max_hop", LongType()),
        StructField("n_moves", LongType()),
        StructField("n_stays", LongType()),
    ])
    state_t = StructType([
        StructField("qx", DoubleType()),
        StructField("qy", DoubleType()),
        StructField("qz", DoubleType()),
        StructField("n_pings", LongType()),
        StructField("path_len", LongType()),
        StructField("max_hop", LongType()),
        StructField("n_moves", LongType()),
        StructField("n_stays", LongType()),
    ])
    ocols = list(order_cols)

    def accumulate(key, pdfs, state):
        if state.exists:
            px, py, pz, n_pings, path_len, max_hop, n_moves, n_stays = state.get
            prev = np.array([[px, py, pz]], dtype=np.float64)
        else:
            prev = None
            n_pings = path_len = max_hop = n_moves = n_stays = 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.sort_values(ocols, kind="mergesort")
        Q = rows[["_qx", "_qy", "_qz"]].to_numpy(np.float64)
        chain = Q if prev is None else np.concatenate([prev, Q])
        d = chain[1:] - chain[:-1]
        # the batch operator's exact f64 tree (see geo.trajectory_stats)
        hops = np.floor(
            np.sqrt((d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
                    + d[:, 2] * d[:, 2])
        ).astype(np.int64)
        n_pings += len(rows)
        if len(hops):
            path_len += int(hops.sum())
            max_hop = max(int(max_hop), int(hops.max()))
            n_moves += len(hops)
            n_stays += int((hops < stay_hop).sum())
        state.update((float(Q[-1, 0]), float(Q[-1, 1]), float(Q[-1, 2]),
                      int(n_pings), int(path_len), int(max_hop),
                      int(n_moves), int(n_stays)))
        yield pd.DataFrame({
            user_col: [key[0]], "n_pings": [n_pings],
            "path_len": [path_len], "max_hop": [max_hop],
            "n_moves": [n_moves], "n_stays": [n_stays],
        })

    return src.groupBy(user_col).applyInPandasWithState(
        accumulate, out_t, state_t, "update", GroupStateTimeout.NoTimeout
    )
