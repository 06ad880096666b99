"""Trajectory operators: trip segmentation and dwell detection.

Geotagged image streams are trajectories — a device's photos ordered by
timestamp trace a path. Two classic operators over (entity, ts, lon, lat)
point streams, both pure window + aggregate algebra (one shuffle on the
entity key, no UDF, no per-group Python):

- trip_segments: split each entity's ordered stream into trips wherever the
  time gap exceeds a threshold (gaps-and-islands: a lag comparison marks trip
  starts, a running sum numbers them), then aggregate per-trip stats
  including geodesic length (engine.joins.haversine_m — the same
  expression-order-pinned twin pair the knn_haversine oracle row is
  hash-green on). Lengths also come FLOOR-scaled to integer millimeters
  (length_mm) so downstream oracle checks never sum raw doubles.

- dwell_episodes: maximal runs of consecutive slow points (leg speed under a
  threshold), reported when they last long enough — the window analog of
  stay-point detection. Same gaps-and-islands trick on the speed flag.

Scale: both operators are a single hash partition by entity + in-partition
sort — the natural layout for trajectory data (entity count >> executor
count; one entity's stream fits a partition by construction of any sane
device-id keyspace). Skewed entities (one device with 10^8 points) would
need range-bucketed windows; at that point the trip CUT points are still
per-neighbor decisions, so a two-pass split (mark boundaries, then
re-aggregate) keeps correctness — noted, not implemented.

Timestamps are int64 epoch MICROSECONDS (ts_us) throughout — callers convert
once (TIMESTAMP_NTZ parquet needs a TIMESTAMP cast first; see the driver's
_epoch_us helper).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .joins import haversine_m
from .raster import floor_div


def _with_legs(
    df: DataFrame, id_col: str, ts_col: str, lon_col: str, lat_col: str
) -> DataFrame:
    """Normalize columns and attach each point's predecessor. Deterministic
    in-entity order: ties on ts break by (lon, lat) so both engines see the
    same neighbor sequence."""
    w = Window.partitionBy("_id").orderBy("_ts", "_lon", "_lat")
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.col(lon_col).cast("double").alias("_lon"),
        F.col(lat_col).cast("double").alias("_lat"),
    ).select(
        "*",
        F.lag("_ts").over(w).alias("_pts"),
        F.lag("_lon").over(w).alias("_plon"),
        F.lag("_lat").over(w).alias("_plat"),
    )


def trip_segments(
    df: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """One row per (entity, trip): trip_idx numbers trips 1..n in time order;
    start_us/end_us/duration_us bound it; n_points counts fixes; length_mm is
    the geodesic path length in integer millimeters (per-leg FLOOR — exact
    cross-engine reproducible; divide by 1e6 for km). A new trip starts at
    the first point and after any gap > gap_minutes. Single-point trips have
    length 0."""
    gap_us = int(gap_minutes * 60_000_000)
    pts = _with_legs(df, id_col, ts_col, lon_col, lat_col)
    is_new = (
        F.col("_pts").isNull() | ((F.col("_ts") - F.col("_pts")) > gap_us)
    ).cast("long")
    w = Window.partitionBy("_id").orderBy("_ts", "_lon", "_lat").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    leg_mm = F.when(
        is_new == 1, F.lit(0).cast("long")
    ).otherwise(
        F.floor(
            haversine_m(
                F.col("_plon"), F.col("_plat"), F.col("_lon"), F.col("_lat")
            )
            * 1000.0
        ).cast("long")
    )
    seg = pts.select(
        "_id", "_ts", leg_mm.alias("_leg_mm"), F.sum(is_new).over(w).alias("trip_idx")
    )
    return seg.groupBy(F.col("_id"), F.col("trip_idx")).agg(
        F.min("_ts").alias("start_us"),
        F.max("_ts").alias("end_us"),
        (F.max("_ts") - F.min("_ts")).alias("duration_us"),
        F.count("*").alias("n_points"),
        F.sum("_leg_mm").alias("length_mm"),
    ).withColumnRenamed("_id", id_col)


def trip_segments_sql(
    table: str,
    id_expr: str,
    ts_expr: str,
    lon_expr: str,
    lat_expr: str,
    gap_minutes: float = 30.0,
    out_id: str = "entity_id",
) -> str:
    """DuckDB twin of trip_segments: identical window order (ts, lon, lat),
    identical haversine op order (engine.joins.haversine_m_sql), identical
    FLOOR-to-millimeter leg scaling. ts_expr must already be epoch micros.
    out_id names the entity column in the output (match the Spark id_col)."""
    from .joins import haversine_m_sql

    gap_us = int(gap_minutes * 60_000_000)
    hav = haversine_m_sql("_plon", "_plat", "_lon", "_lat")
    return f"""
        WITH pts AS MATERIALIZED (
          SELECT {id_expr} AS _id, CAST({ts_expr} AS BIGINT) AS _ts,
                 CAST({lon_expr} AS DOUBLE) AS _lon,
                 CAST({lat_expr} AS DOUBLE) AS _lat
          FROM {table}
        ), lagged AS (
          SELECT *,
                 LAG(_ts)  OVER w AS _pts,
                 LAG(_lon) OVER w AS _plon,
                 LAG(_lat) OVER w AS _plat
          FROM pts
          WINDOW w AS (PARTITION BY _id ORDER BY _ts, _lon, _lat)
        ), flagged AS (
          SELECT *,
                 CASE WHEN _pts IS NULL OR (_ts - _pts) > {gap_us}
                      THEN 1 ELSE 0 END AS _new,
                 CASE WHEN _pts IS NULL OR (_ts - _pts) > {gap_us}
                      THEN 0
                      ELSE CAST(FLOOR(({hav}) * 1000.0) AS BIGINT)
                 END AS _leg_mm
          FROM lagged
        ), numbered AS (
          SELECT _id, _ts, _leg_mm,
                 SUM(_new) OVER (PARTITION BY _id ORDER BY _ts, _lon, _lat
                                 ROWS UNBOUNDED PRECEDING) AS trip_idx
          FROM flagged
        )
        SELECT _id AS {out_id}, CAST(trip_idx AS BIGINT) AS trip_idx,
               MIN(_ts) AS start_us, MAX(_ts) AS end_us,
               MAX(_ts) - MIN(_ts) AS duration_us,
               COUNT(*) AS n_points,
               CAST(SUM(_leg_mm) AS BIGINT) AS length_mm
        FROM numbered GROUP BY _id, trip_idx
    """


def dwell_episodes(
    df: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
    speed_mps_max: float = 0.5,
    min_duration_minutes: float = 5.0,
) -> DataFrame:
    """Maximal runs of consecutive SLOW legs (speed <= speed_mps_max; a
    zero-dt leg counts as slow), reported when the run spans at least
    min_duration_minutes: (entity, start_us, end_us, duration_us, n_points).
    The episode includes the anchor point that began the slow run (the run's
    first leg's origin), so n_points >= 2. The window analog of stay-point
    detection: no iterative scan, one partition-by-entity shuffle."""
    pts = _with_legs(df, id_col, ts_col, lon_col, lat_col)
    dt = F.col("_ts") - F.col("_pts")
    leg_m = haversine_m(
        F.col("_plon"), F.col("_plat"), F.col("_lon"), F.col("_lat")
    )
    slow = (
        F.col("_pts").isNotNull()
        & ((dt == 0) | (leg_m / (dt.cast("double") / 1e6) <= speed_mps_max))
    ).cast("long")
    order = Window.partitionBy("_id").orderBy("_ts", "_lon", "_lat")
    run = Window.partitionBy("_id").orderBy("_ts", "_lon", "_lat").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # gaps-and-islands: a slow leg STARTS an episode when the previous leg
    # wasn't slow; episode id = running count of starts, over slow legs only
    prev_slow = F.lag(slow).over(order)
    starts = (slow.cast("boolean") & ~F.coalesce(prev_slow.cast("boolean"), F.lit(False))).cast("long")
    flagged = pts.select(
        "_id", "_ts", "_pts", slow.alias("_slow"), F.sum(starts).over(run).alias("_ep")
    )
    eps = (
        flagged.filter(F.col("_slow") == 1)
        .groupBy("_id", "_ep")
        .agg(
            F.min("_pts").alias("start_us"),  # first slow leg's origin point
            F.max("_ts").alias("end_us"),
            F.count("*").alias("_n_legs"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
        .withColumn("n_points", F.col("_n_legs") + 1)
        .filter(F.col("duration_us") >= int(min_duration_minutes * 60_000_000))
        .select(
            F.col("_id").alias(id_col),
            "start_us", "end_us", "duration_us", "n_points",
        )
    )
    return eps


def _sector8(dlon: Column, dlat: Column) -> Column:
    """45-degree direction sector 0..7 counterclockwise from east (0 = [0,45),
    1 = [45,90), ...): quadrant signs + |dlat| vs |dlon| dominance, half-open
    at each boundary exactly like floor(theta/45). Pure comparisons on the
    raw double deltas — no trig, so the classification is bit-identical
    cross-engine. NULL for zero displacement. The WHEN chain order is pinned;
    kinematics_sql replays it verbatim."""
    return (
        F.when((dlon > 0) & (dlat >= 0) & (dlat < dlon), 0)
        .when((dlon > 0) & (dlat > 0) & (dlat >= dlon), 1)
        .when((dlon <= 0) & (dlat > 0) & (-dlon < dlat), 2)
        .when((dlon < 0) & (dlat > 0) & (dlat <= -dlon), 3)
        .when((dlon < 0) & (dlat <= 0) & (-dlat < -dlon), 4)
        .when((dlon < 0) & (dlat < 0) & (-dlat >= -dlon), 5)
        .when((dlon >= 0) & (dlat < 0) & (dlon < -dlat), 6)
        .when((dlon > 0) & (dlat < 0) & (dlon >= -dlat), 7)
    )


def kinematics(
    df: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-fix motion derivatives over (entity, ts, lon, lat) streams — the
    feature columns every movement classifier / anomaly filter wants, exact
    integer end to end:

    - dt_us: micros since the previous fix (NULL on each entity's first fix)
    - leg_mm: geodesic displacement since the previous fix, FLOOR-scaled to
      integer millimeters (the trip_segments discipline — haversine_m's
      expression-order-pinned twin, then one FLOOR, so no raw double is
      summed or compared downstream)
    - speed_mmps: floor(leg_mm * 1e6 / dt_us) — integer mm/s derived from
      the already-exact leg_mm by int64 floor division (NULL when dt_us = 0:
      a duplicate-timestamp fix has no defined speed)
    - accel_mmps2: floor((speed_mmps - prev_speed_mmps) * 1e6 / dt_us) —
      integer mm/s^2, signed floor division (NULL when either speed is NULL)
    - sector: 45-degree direction sector 0..7 counterclockwise from east
      (_sector8 — comparisons only, no atan2; NULL for zero displacement)

    One hash partition by entity + in-partition sort (the trajectory family's
    single-shuffle layout); everything else is whole-stage-codegen Column
    math. DuckDB twin: kinematics_sql (hash-exact — every emitted value is
    int64 or a pinned comparison).

    Reference provenance: no reference analog; extends the trajectory family
    (trip_segments/dwell_episodes, SURVEY.md section 2 additions) with the
    per-fix derivative layer those operators aggregate away."""
    pts = _with_legs(df, id_col, ts_col, lon_col, lat_col)
    dt = (F.col("_ts") - F.col("_pts")).alias("dt_us")
    leg_mm = F.when(
        F.col("_pts").isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.floor(
            haversine_m(
                F.col("_plon"), F.col("_plat"), F.col("_lon"), F.col("_lat")
            )
            * 1000.0
        ).cast("long")
    )
    staged = pts.select(
        "_id", "_ts", "_lon", "_lat",
        dt, leg_mm.alias("leg_mm"),
        _sector8(
            F.col("_lon") - F.col("_plon"), F.col("_lat") - F.col("_plat")
        ).alias("sector"),
    ).withColumn(
        "speed_mmps",
        F.when(
            F.col("dt_us").isNotNull() & (F.col("dt_us") > 0),
            floor_div(F.col("leg_mm") * F.lit(1_000_000), F.col("dt_us")),
        ),
    )
    w = Window.partitionBy("_id").orderBy("_ts", "_lon", "_lat")
    prev_speed = F.lag("speed_mmps").over(w)
    return staged.withColumn(
        "accel_mmps2",
        F.when(
            F.col("speed_mmps").isNotNull()
            & prev_speed.isNotNull()
            & (F.col("dt_us") > 0),
            floor_div(
                (F.col("speed_mmps") - prev_speed) * F.lit(1_000_000),
                F.col("dt_us"),
            ),
        ),
    ).select(
        F.col("_id").alias(id_col),
        F.col("_ts").alias(ts_col),
        "dt_us", "leg_mm", "speed_mmps", "accel_mmps2", "sector",
    )


def kinematics_sql(
    table: str,
    id_expr: str,
    ts_expr: str,
    lon_expr: str,
    lat_expr: str,
    out_id: str = "entity_id",
    out_ts: str = "ts_us",
) -> str:
    """DuckDB twin of kinematics: identical window order (ts, lon, lat),
    identical haversine op order, identical FLOOR-to-mm scaling, identical
    pmod floor divisions, identical _sector8 CASE order."""
    from .joins import haversine_m_sql

    hav = haversine_m_sql("_plon", "_plat", "_lon", "_lat")

    def fdiv(num: str, den: str) -> str:
        rem = f"((({num}) % ({den}) + ({den})) % ({den}))"
        return f"CAST((({num}) - {rem}) / ({den}) AS BIGINT)"

    sector = """
        CASE
          WHEN _dlon > 0 AND _dlat >= 0 AND _dlat < _dlon THEN 0
          WHEN _dlon > 0 AND _dlat > 0 AND _dlat >= _dlon THEN 1
          WHEN _dlon <= 0 AND _dlat > 0 AND -_dlon < _dlat THEN 2
          WHEN _dlon < 0 AND _dlat > 0 AND _dlat <= -_dlon THEN 3
          WHEN _dlon < 0 AND _dlat <= 0 AND -_dlat < -_dlon THEN 4
          WHEN _dlon < 0 AND _dlat < 0 AND -_dlat >= -_dlon THEN 5
          WHEN _dlon >= 0 AND _dlat < 0 AND _dlon < -_dlat THEN 6
          WHEN _dlon > 0 AND _dlat < 0 AND _dlon >= -_dlat THEN 7
        END
    """
    return f"""
        WITH pts AS MATERIALIZED (
          SELECT {id_expr} AS _id, CAST({ts_expr} AS BIGINT) AS _ts,
                 CAST({lon_expr} AS DOUBLE) AS _lon,
                 CAST({lat_expr} AS DOUBLE) AS _lat
          FROM {table}
        ), lagged AS (
          SELECT *,
                 LAG(_ts)  OVER w AS _pts,
                 LAG(_lon) OVER w AS _plon,
                 LAG(_lat) OVER w AS _plat
          FROM pts
          WINDOW w AS (PARTITION BY _id ORDER BY _ts, _lon, _lat)
        ), legs AS (
          SELECT _id, _ts, _lon, _lat,
                 _ts - _pts AS dt_us,
                 CASE WHEN _pts IS NULL THEN NULL
                      ELSE CAST(FLOOR(({hav}) * 1000.0) AS BIGINT)
                 END AS leg_mm,
                 _lon - _plon AS _dlon,
                 _lat - _plat AS _dlat
          FROM lagged
        ), sped AS (
          SELECT _id, _ts, _lon, _lat, dt_us, leg_mm,
                 CASE WHEN dt_us IS NOT NULL AND dt_us > 0
                      THEN {fdiv('leg_mm * 1000000', 'dt_us')}
                 END AS speed_mmps,
                 CASE WHEN _dlon IS NULL THEN NULL ELSE ({sector}) END
                   AS sector
          FROM legs
        )
        SELECT _id AS {out_id}, _ts AS {out_ts}, dt_us, leg_mm, speed_mmps,
               CASE WHEN speed_mmps IS NOT NULL
                         AND LAG(speed_mmps) OVER w IS NOT NULL
                         AND dt_us > 0
                    THEN {fdiv('(speed_mmps - (LAG(speed_mmps) OVER w)) * 1000000',
                               'dt_us')}
               END AS accel_mmps2,
               CAST(sector AS INT) AS sector
        FROM sped
        WINDOW w AS (PARTITION BY _id ORDER BY _ts, _lon, _lat)
    """


_COLOC_FWD = [
    (db, dcx, dcy)
    for db in (0, 1)
    for dcx in (-1, 0, 1)
    for dcy in (-1, 0, 1)
    if (db, dcx, dcy) > (0, 0, 0)
]


def colocation_pairs(
    fixes: DataFrame,
    radius: float,
    gap_us: int,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Co-location (rendezvous) detection: pairs of DISTINCT entities with
    fixes within `radius` (planar) and `gap_us` microseconds of each other
    — the spatiotemporal self-join behind contact tracing, convoy mining
    and meeting detection. Output one row per unordered entity pair:
    (entity_a < entity_b, n_meetings, first_us, last_us, min_d2) where
    n_meetings counts qualifying FIX pairs and min_d2 is the closest
    approach (squared — the exact cross-engine currency).

    Scale: space-time blocking on (time-bin = gap, cell = radius) makes
    every qualifying pair share adjacent blocks (|Δbin| <= 1, |Δcell| <= 1
    per axis). The FORWARD-OFFSET half-space trick enumerates each
    unordered block pair once — each fix probes its own block (with a
    total-order tie-break on (ts, x, y, id)) plus the 13 lexicographically
    forward neighbors, so every qualifying fix pair is generated EXACTLY
    once, no dedup shuffle needed. Cost: 14 probe rows per fix through one
    equi-join; the O(n^2)-in-a-crowd blowup is confined to single blocks
    (the honest density cost every co-location definition has).

    The reference has no spatiotemporal join; nearest analog is the as-of
    assignment (SURVEY.md J3), which this generalizes to two moving sets."""
    if radius <= 0:
        raise ValueError("radius must be > 0")
    if gap_us <= 0:
        raise ValueError("gap_us must be > 0")
    s = float(radius)
    f = fixes.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).select(
        "*",
        F.floor(F.col("ts") / F.lit(int(gap_us))).alias("tb"),
        F.floor(F.col("x") / F.lit(s)).alias("cx"),
        F.floor(F.col("y") / F.lit(s)).alias("cy"),
    ).persist()  # r6: four plan branches read f (probes, right, own a+b) —
    # without the cache the fix derivation (often hash/projection-heavy, as
    # in the registry query's md5 coords) recomputes per branch; the lazy
    # persist fills during the job's first branch
    right = f.select(
        F.col("id").alias("id_b"), F.col("ts").alias("ts_b"),
        F.col("x").alias("x_b"), F.col("y").alias("y_b"),
        "tb", "cx", "cy",
    )
    probes = f.select(
        F.col("id").alias("id_a"), F.col("ts").alias("ts_a"),
        F.col("x").alias("x_a"), F.col("y").alias("y_a"),
        "tb", "cx", "cy",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(db).alias("db"),
                        F.lit(dx).alias("dx"),
                        F.lit(dy).alias("dy"),
                    )
                    for db, dx, dy in _COLOC_FWD
                ]
            )
        ).alias("o"),
    ).select(
        "id_a", "ts_a", "x_a", "y_a",
        (F.col("tb") + F.col("o.db")).alias("tb"),
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    fwd = probes.join(right, ["tb", "cx", "cy"])
    own = (
        f.alias("a")
        .join(f.alias("b"), ["tb", "cx", "cy"])
        .filter(
            F.struct("a.ts", "a.x", "a.y", "a.id")
            < F.struct("b.ts", "b.x", "b.y", "b.id")
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("a.ts").alias("ts_a"),
            F.col("a.x").alias("x_a"), F.col("a.y").alias("y_a"),
            F.col("b.id").alias("id_b"), F.col("b.ts").alias("ts_b"),
            F.col("b.x").alias("x_b"), F.col("b.y").alias("y_b"),
        )
    )
    cand = fwd.select(
        "id_a", "ts_a", "x_a", "y_a", "id_b", "ts_b", "x_b", "y_b"
    ).unionByName(own)
    dxx = F.col("x_a") - F.col("x_b")
    dyy = F.col("y_a") - F.col("y_b")
    d2 = dxx * dxx + dyy * dyy
    hits = cand.filter(
        (F.col("id_a") != F.col("id_b"))
        & (F.abs(F.col("ts_a") - F.col("ts_b")) <= int(gap_us))
        & (d2 <= F.lit(s * s))
    ).select(
        F.least("id_a", "id_b").alias("entity_a"),
        F.greatest("id_a", "id_b").alias("entity_b"),
        F.least("ts_a", "ts_b").alias("_t0"),
        F.greatest("ts_a", "ts_b").alias("_t1"),
        d2.alias("_d2"),
    )
    return hits.groupBy("entity_a", "entity_b").agg(
        F.count("*").alias("n_meetings"),
        F.min("_t0").alias("first_us"),
        F.max("_t1").alias("last_us"),
        F.min("_d2").alias("min_d2"),
    )


def rect_zones_expr(
    rects: list[tuple[int, float, float, float, float]],
    x: "F.Column | str" = "x",
    y: "F.Column | str" = "y",
) -> "F.Column":
    """Column expr: the SORTED array of zone ids whose rect [x0,x1] x
    [y0,y1] contains the point (closed boundaries) — the zone-labeling step
    of geofencing, as a pure HOF over an inlined zone literal (zero joins,
    zero shuffles; the zone layer is a broadcast-bounded dim by the same
    contract as the PIP rect dims; polygon zones go through
    engine.joins.pip_join + collect_set instead). rects: (zone_id, x0, y0,
    x1, y1)."""
    xs = F.col(x) if isinstance(x, str) else x
    ys = F.col(y) if isinstance(y, str) else y
    if not rects:
        return F.array().cast("array<long>")
    lit = F.array(
        *[
            F.struct(
                F.lit(int(z)).alias("z"),
                F.lit(float(x0)).alias("x0"), F.lit(float(y0)).alias("y0"),
                F.lit(float(x1)).alias("x1"), F.lit(float(y1)).alias("y1"),
            )
            for z, x0, y0, x1, y1 in rects
        ]
    )
    return F.array_sort(
        F.transform(
            F.filter(
                lit,
                lambda r: (xs >= r["x0"]) & (xs <= r["x1"])
                & (ys >= r["y0"]) & (ys <= r["y1"]),
            ),
            lambda r: r["z"],
        )
    )


def geofence_transitions(
    labeled: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    zones_col: str = "zones",
) -> DataFrame:
    """Geofence enter/exit events from a zone-labeled fix stream: input one
    row per fix with `zones_col` = array<long> of zone ids the fix is inside
    (rect_zones_expr or a PIP join + collect_set builds it; null counts as
    empty). For each consecutive fix pair of an entity (ordered by ts), a
    zone in cur minus prev emits 'enter', one in prev minus cur emits
    'exit', both stamped at the LATER fix's timestamp; an entity's first
    fix enters all its zones. Output (entity_id, ts_us, zone, event),
    multi-zone overlap handled per zone independently.

    One shuffle (the entity window); the array set-difference is in-row HOF
    algebra. Exits are only emitted when a later fix proves departure — a
    track that goes dark stays 'inside' (the streaming twin GCs such state
    by event-time timeout without fabricating exits; see
    streaming_geofence)."""
    zs = F.array_sort(
        F.coalesce(F.col(zones_col), F.array().cast("array<long>"))
    )
    w = Window.partitionBy("_id").orderBy("_ts")
    d = labeled.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(ts_col).cast("long").alias("_ts"),
        zs.alias("_cur"),
    ).withColumn(
        "_prev",
        F.coalesce(F.lag("_cur").over(w), F.array().cast("array<long>")),
    )
    ev = d.select(
        "_id", "_ts",
        F.explode(
            F.concat(
                F.transform(
                    F.array_except("_cur", "_prev"),
                    lambda z: F.struct(z.alias("zone"), F.lit("enter").alias("event")),
                ),
                F.transform(
                    F.array_except("_prev", "_cur"),
                    lambda z: F.struct(z.alias("zone"), F.lit("exit").alias("event")),
                ),
            )
        ).alias("_e"),
    )
    return ev.select(
        F.col("_id").alias("entity_id"),
        F.col("_ts").alias("ts_us"),
        F.col("_e.zone").alias("zone"),
        F.col("_e.event").alias("event"),
    )


def geofence_transitions_sql(labeled_sql: str) -> str:
    """DuckDB twin of geofence_transitions: labeled_sql -> (entity_id,
    ts_us, zones LIST). Same lag + list-difference + unnest shape."""
    return f"""
        WITH lab AS ({labeled_sql}),
        seq AS (
          SELECT CAST(entity_id AS BIGINT) AS entity_id,
                 CAST(ts_us AS BIGINT) AS ts_us,
                 COALESCE(zones, []) AS cur,
                 COALESCE(LAG(COALESCE(zones, [])) OVER (
                   PARTITION BY entity_id ORDER BY ts_us), []) AS prev
          FROM lab
        ),
        ev AS (
          SELECT entity_id, ts_us,
                 UNNEST(list_filter(cur, z -> NOT list_contains(prev, z)))
                   AS zone,
                 'enter' AS event
          FROM seq
          UNION ALL
          SELECT entity_id, ts_us,
                 UNNEST(list_filter(prev, z -> NOT list_contains(cur, z)))
                   AS zone,
                 'exit' AS event
          FROM seq
        )
        SELECT entity_id, ts_us, CAST(zone AS BIGINT) AS zone, event FROM ev
    """


def od_matrix(
    fixes: DataFrame,
    cell_size: float,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    x_col: str = "x",
    y_col: str = "y",
    gap_minutes: float = 30.0,
    min_trips: int = 1,
) -> DataFrame:
    """Origin-destination flow matrix: trips (the exact trip_segments gap
    rule) reduced to their first and last fix, each snapped to a grid zone,
    aggregated to flows — the commute/flow-map primitive. Output
    (o_zone, d_zone, n_trips, n_entities, avg_duration_us-as-exact-sums:
    sum_duration_us) with zones as "cx:cy" strings of the cell_size grid.

    One entity-key window shuffle (trip split + first/last pick ride the
    same partitioning) + one (o,d) hash agg. Durations sum as exact int64
    (no float means — the oracle rule); callers divide. Deterministic:
    in-trip order is (ts, x, y)."""
    gap_us = int(gap_minutes * 60_000_000)
    pts = fixes.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    ow = Window.partitionBy("_id").orderBy("_ts", "_x", "_y")
    run = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts = pts.withColumn(
        "trip_idx",
        F.sum(
            (
                F.lag("_ts").over(ow).isNull()
                | ((F.col("_ts") - F.lag("_ts").over(ow)) > gap_us)
            ).cast("long")
        ).over(run),
    )
    zone = lambda xc, yc: F.concat_ws(  # noqa: E731
        ":",
        F.floor(xc / cell_size).cast("long"),
        F.floor(yc / cell_size).cast("long"),
    )
    trips = pts.groupBy("_id", "trip_idx").agg(
        F.min(F.struct("_ts", "_x", "_y")).alias("_o"),
        F.max(F.struct("_ts", "_x", "_y")).alias("_d"),
    )
    return (
        trips.select(
            "_id",
            zone(F.col("_o._x"), F.col("_o._y")).alias("o_zone"),
            zone(F.col("_d._x"), F.col("_d._y")).alias("d_zone"),
            (F.col("_d._ts") - F.col("_o._ts")).alias("_dur"),
        )
        .groupBy("o_zone", "d_zone")
        .agg(
            F.count("*").alias("n_trips"),
            F.count_distinct("_id").alias("n_entities"),
            F.sum("_dur").alias("sum_duration_us"),
        )
        .filter(F.col("n_trips") >= min_trips)
    )


def od_matrix_sql(
    fixes_sql: str, cell_size: float, gap_minutes: float = 30.0,
    min_trips: int = 1,
) -> str:
    """DuckDB twin of od_matrix (fixes_sql -> (entity_id, ts_us, x, y))."""
    gap_us = int(gap_minutes * 60_000_000)
    return f"""
        WITH pts AS (
          SELECT CAST(entity_id AS BIGINT) AS id, CAST(ts_us AS BIGINT) AS ts,
                 CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
          FROM ({fixes_sql})
        ), marked AS (
          SELECT *, CASE WHEN LAG(ts) OVER w IS NULL
                           OR ts - LAG(ts) OVER w > {gap_us}
                         THEN 1 ELSE 0 END AS brk
          FROM pts WINDOW w AS (PARTITION BY id ORDER BY ts, x, y)
        ), trips AS (
          SELECT *, SUM(brk) OVER (PARTITION BY id ORDER BY ts, x, y
                                   ROWS UNBOUNDED PRECEDING) AS trip_idx
          FROM marked
        ), ends AS (
          SELECT id, trip_idx,
                 MIN(struct_pack(ts := ts, x := x, y := y)) AS o,
                 MAX(struct_pack(ts := ts, x := x, y := y)) AS d
          FROM trips GROUP BY id, trip_idx
        )
        SELECT
          CAST(FLOOR((o).x / {cell_size}) AS BIGINT) || ':' ||
            CAST(FLOOR((o).y / {cell_size}) AS BIGINT) AS o_zone,
          CAST(FLOOR((d).x / {cell_size}) AS BIGINT) || ':' ||
            CAST(FLOOR((d).y / {cell_size}) AS BIGINT) AS d_zone,
          COUNT(*) AS n_trips,
          CAST(COUNT(DISTINCT id) AS BIGINT) AS n_entities,
          CAST(SUM((d).ts - (o).ts) AS BIGINT) AS sum_duration_us
        FROM ends
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_trips}
    """


def geofence_transitions_pip(
    fixes: DataFrame,
    polygons: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
    **pip_kwargs,
) -> DataFrame:
    """Geofence transitions against POLYGON zones: the rect path's
    composition with the real PIP machinery — fixes run through
    engine.joins.pip_join (cover broadcast equi-join + exact ray-cast
    refine; polygons = (poly_id, ring, bbox) as everywhere), per-fix zone
    sets assemble with one (entity, ts) collect_set aggregation (fixes in
    no polygon keep an empty set — they drive exits), and the transition
    derivation is geofence_transitions unchanged. Cost over the rect path:
    the PIP candidate join + one extra fix-keyed aggregation shuffle."""
    from .joins import pip_join

    base = fixes.select(
        F.col(id_col).cast("long").alias("_gid"),
        F.col(ts_col).cast("long").alias("_gts"),
        F.col(lon_col).cast("double").alias(lon_col),
        F.col(lat_col).cast("double").alias(lat_col),
    )
    hits = pip_join(base, polygons, lon_col=lon_col, lat_col=lat_col, **pip_kwargs)
    zs = hits.groupBy("_gid", "_gts").agg(
        F.array_sort(F.collect_set("poly_id")).alias("zones")
    )
    labeled = (
        base.select("_gid", "_gts").distinct().join(zs, ["_gid", "_gts"], "left")
    )
    return geofence_transitions(
        labeled, id_col="_gid", ts_col="_gts", zones_col="zones"
    )


def resample_fixes(
    df: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts_us",
    lon_col: str = "lon",
    lat_col: str = "lat",
    interval_us: int = 60_000_000,
    max_gap_us: int | None = None,
) -> DataFrame:
    """Fixed-interval trajectory resampling: one row per (entity, tick) for
    every epoch-aligned tick t = k * interval_us inside the entity's observed
    span, position LINEARLY interpolated between the two enclosing fixes —
    the standard normalization before similarity joins (trajsim), map
    matching, or sketching, which all assume comparable sampling rates.

    Output: (id_col, ts_us=tick, lon_e6, lat_e6, lon, lat). Coordinates are
    EXACT: inputs are FLOOR-scaled to int64 micro-degrees, interpolation is
    lon0_e6 + floor(dlon_e6 * (t - t0) / (t1 - t0)) with the product in
    decimal(38,0) and floor division via pmod (toward -inf, sign-safe), so
    the result is bit-reproducible across engines; the double lon/lat are
    derived FROM the integers (e6 / 1e6). The engine-wide float discipline.

    Tick ownership is exact-once: each tick belongs to the unique fix pair
    with t0 < t <= t1 (ties on ts break by (lon, lat) — _with_legs order);
    a tick coinciding with the entity's FIRST fix is emitted from that fix
    itself. Ticks inside a gap longer than max_gap_us (when set) are
    suppressed — resampling should not fabricate positions across a
    multi-day dropout. Duplicate-timestamp fixes yield no interpolation
    ticks (the (t0, t1] window is empty) and never divide by zero.

    Scale: pure window + sequence-explode Column algebra, one shuffle on the
    entity key; output size is span/interval per entity, independent of fix
    density. Requires 0 <= ts < 2^53 us (epoch micros through year ~2255):
    tick-index floor divisions ride exact double division of exact
    multiples."""
    iv = int(interval_us)
    if iv <= 0:
        raise ValueError(f"interval_us must be positive, got {interval_us}")
    pts = _with_legs(df, id_col, ts_col, lon_col, lat_col)

    first = F.col("_pts").isNull()
    # first fix: a tick only at its own ts when epoch-aligned
    k_lo = F.when(first, floor_div(F.col("_ts") + (iv - 1), iv)).otherwise(
        floor_div(F.col("_pts"), iv) + 1
    )
    k_hi = floor_div(F.col("_ts"), iv)
    gap_ok = (
        F.lit(True)
        if max_gap_us is None
        else (first | ((F.col("_ts") - F.col("_pts")) <= int(max_gap_us)))
    )
    ticks = F.when(
        gap_ok & (k_hi >= k_lo), F.sequence(k_lo, k_hi)
    ).otherwise(F.array().cast("array<long>"))

    def _e6(c):
        return F.floor(F.col(c) * 1e6).cast("long")

    exploded = pts.select(
        "_id", "_ts", "_pts",
        _e6("_lon").alias("_lon1"), _e6("_lat").alias("_lat1"),
        F.when(first, _e6("_lon")).otherwise(_e6("_plon")).alias("_lon0"),
        F.when(first, _e6("_lat")).otherwise(_e6("_plat")).alias("_lat0"),
        F.explode(ticks).alias("_k"),
    ).select(
        "*", (F.col("_k") * iv).alias("_t"),
        (F.col("_ts") - F.coalesce(F.col("_pts"), F.col("_ts"))).alias("_den"),
    )

    def _interp(c0, c1):
        dec = "decimal(38,0)"
        n = (F.col(c1) - F.col(c0)).cast(dec) * (
            F.col("_t") - F.col("_pts")
        ).cast(dec)
        d = F.col("_den").cast(dec)
        q = ((n - F.pmod(n, d)) / d).cast("long")
        return F.when(F.col("_den") == 0, F.col(c0)).otherwise(
            F.col(c0) + q
        )

    lon_e6 = _interp("_lon0", "_lon1")
    lat_e6 = _interp("_lat0", "_lat1")
    return exploded.select(
        F.col("_id").alias(id_col),
        F.col("_t").alias("ts_us"),
        lon_e6.alias("lon_e6"),
        lat_e6.alias("lat_e6"),
        (lon_e6 / 1e6).alias("lon"),
        (lat_e6 / 1e6).alias("lat"),
    )


def resample_fixes_sql(
    table: str,
    id_expr: str,
    ts_expr: str,
    lon_expr: str,
    lat_expr: str,
    interval_us: int = 60_000_000,
    max_gap_us: int | None = None,
    out_id: str = "entity_id",
) -> str:
    """DuckDB twin of resample_fixes: identical window order, identical
    FLOOR-e6 scaling, identical pmod floor division (HUGEINT product —
    exceeds the decimal(38,0) range needs, exact)."""
    iv = int(interval_us)
    gap_pred = (
        "TRUE"
        if max_gap_us is None
        else f"(_pts IS NULL OR (_ts - _pts) <= {int(max_gap_us)})"
    )

    def fdiv(x, d):
        return f"(({x}) - ((({x}) % {d} + {d}) % {d})) / {d}"

    def interp(c0, c1):
        n = f"(CAST({c1} - {c0} AS HUGEINT) * CAST(_t - _pts AS HUGEINT))"
        q = f"CAST((({n}) - ((({n}) % _den + _den) % _den)) / _den AS BIGINT)"
        return f"CASE WHEN _den = 0 THEN {c0} ELSE {c0} + {q} END"

    return f"""
        WITH pts AS MATERIALIZED (
          SELECT {id_expr} AS _id, CAST({ts_expr} AS BIGINT) AS _ts,
                 CAST({lon_expr} AS DOUBLE) AS _lon,
                 CAST({lat_expr} AS DOUBLE) AS _lat
          FROM {table}
        ), lagged AS (
          SELECT *,
                 LAG(_ts)  OVER w AS _pts,
                 LAG(_lon) OVER w AS _plon,
                 LAG(_lat) OVER w AS _plat
          FROM pts
          WINDOW w AS (PARTITION BY _id ORDER BY _ts, _lon, _lat)
        ), ranged AS (
          SELECT _id, _ts, _pts,
                 CAST(FLOOR(_lon * 1e6) AS BIGINT) AS _lon1,
                 CAST(FLOOR(_lat * 1e6) AS BIGINT) AS _lat1,
                 CASE WHEN _pts IS NULL THEN CAST(FLOOR(_lon * 1e6) AS BIGINT)
                      ELSE CAST(FLOOR(_plon * 1e6) AS BIGINT) END AS _lon0,
                 CASE WHEN _pts IS NULL THEN CAST(FLOOR(_lat * 1e6) AS BIGINT)
                      ELSE CAST(FLOOR(_plat * 1e6) AS BIGINT) END AS _lat0,
                 CASE WHEN _pts IS NULL
                      THEN {fdiv(f"_ts + {iv - 1}", iv)}
                      ELSE {fdiv("_pts", iv)} + 1 END AS _klo,
                 {fdiv("_ts", iv)} AS _khi,
                 {gap_pred} AS _gap_ok
          FROM lagged
        ), ticks AS (
          SELECT r.*, k.k AS _k, k.k * {iv} AS _t,
                 _ts - COALESCE(_pts, _ts) AS _den
          FROM ranged r, LATERAL (
            SELECT UNNEST(generate_series(CAST(_klo AS BIGINT),
                                          CAST(_khi AS BIGINT))) AS k
          ) k
          WHERE r._gap_ok AND _khi >= _klo
        )
        SELECT _id AS {out_id}, _t AS ts_us,
               {interp("_lon0", "_lon1")} AS lon_e6,
               {interp("_lat0", "_lat1")} AS lat_e6,
               ({interp("_lon0", "_lon1")}) / 1e6 AS lon,
               ({interp("_lat0", "_lat1")}) / 1e6 AS lat
        FROM ticks
    """
