"""Geospatial bucketing + radius join — the spatial co-location
primitive (store-to-customer assignment, sensor clustering, POI
dedup).  A naive radius join is a cross product; the classic scale
shape (the same one PostGIS/Sedona grid indexes implement) is:

1. snap every point to a square GRID CELL whose side is ≥ the search
   radius (``cell = floor(coord / cell_size)`` — pure arithmetic, no
   library);
2. explode ONE side into its 3×3 neighbor cells (a bounded ×9
   generator — any point within the radius of a point in cell C lies
   in C's 3×3 neighborhood when the cell side ≥ radius);
3. equi-join on the cell key (a plain hash shuffle — broadcast when
   one side is facility-sized) and apply the EXACT distance predicate
   to the candidates.

Every (left, right) pair is produced at most once: the un-exploded
side keeps its single home cell, and the exploded side contributes at
most one copy to that cell — no post-join dedup.

Determinism: distances are the PLANAR squared-degree metric
``(Δlat)² + (Δlon)²`` — add/multiply only, exactly rounded IEEE ops,
so the predicate is bit-identical cross-engine with NO rounding
contract at all (a haversine refinement is a one-line swap but would
drag sin/cos's per-libm last-ULP drift into the row-membership
boundary; for radius scales where the small-angle approximation is
inadequate, pre-scale the longitude by cos(lat₀) of the region —
still trig-free per row).  Cite: grid-file spatial hashing
(Nievergelt et al. 1984), the standard bucketed spatial join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_deg: float,
    left_coords: tuple[str, str] = ("lat", "lon"),
    right_coords: tuple[str, str] = ("lat", "lon"),
    cell_size_deg: float | None = None,
    dist_col: str = "dist2",
    lon_scale: float | None = None,
) -> DataFrame:
    """All (left, right) row pairs whose planar squared-degree distance
    is STRICTLY under ``radius_deg²``, via the 3×3 grid candidate join.

    ``cell_size_deg`` defaults to ``radius_deg`` (the smallest side
    that keeps the 3×3 neighborhood sufficient); raise it to trade
    fewer exploded copies against more candidates per cell.  Returns
    ``left.* , right.* , dist_col`` (callers project).  Column names
    must not collide across sides (select/alias first — the engine's
    join-hygiene convention everywhere else).

    ``lon_scale`` — the mid-latitude honesty knob the module docstring
    promises: pass ``cos(lat₀)`` of the region (ONE driver-side trig
    call) and the metric becomes the equirectangular
    ``(Δlat)² + (cos(lat₀)·Δlon)²``, so a degree of longitude stops
    overcounting distance away from the equator while every per-row op
    stays add/multiply (bit-identical cross-engine, no libm in the
    membership boundary).  Each longitude is scaled FIRST
    (``lon·scale``), then differenced — the op order the oracle twin
    replicates.  The grid keys use the scaled longitude, so cell
    coverage is exact in the scaled plane.
    """
    if radius_deg <= 0:
        raise ValueError("radius_deg must be positive")
    cell = float(cell_size_deg if cell_size_deg is not None else radius_deg)
    if cell < radius_deg:
        raise ValueError(
            "cell_size_deg must be >= radius_deg (3x3 coverage bound)"
        )
    if lon_scale is not None and not 0.0 < lon_scale <= 1.0:
        raise ValueError("lon_scale must be in (0, 1] (cos of a latitude)")
    llat, llon = left_coords
    rlat, rlon = right_coords

    def slon(c: str) -> F.Column:
        return (
            F.col(c) * F.lit(float(lon_scale))
            if lon_scale is not None
            else F.col(c)
        )

    # exploded side: each left point lands in its 9 neighbor cells
    lcy = F.floor(F.col(llat) / F.lit(cell))
    lcx = F.floor(slon(llon) / F.lit(cell))
    nb = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    ).alias("_dy")
    lx = (
        left.select("*", nb)
        .select(
            "*",
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias(
                "_dx"
            ),
        )
        .withColumn("_cy", lcy + F.col("_dy"))
        .withColumn("_cx", lcx + F.col("_dx"))
        .drop("_dy", "_dx")
    )
    rx = right.select(
        "*",
        F.floor(F.col(rlat) / F.lit(cell)).alias("_cy"),
        F.floor(slon(rlon) / F.lit(cell)).alias("_cx"),
    )
    dlat = F.col(llat) - F.col(rlat)
    dlon = slon(llon) - slon(rlon)
    d2 = dlat * dlat + dlon * dlon
    r2 = float(radius_deg) * float(radius_deg)
    return (
        lx.join(rx, ["_cy", "_cx"])
        .withColumn(dist_col, d2)
        .filter(F.col(dist_col) < F.lit(r2))
        .drop("_cy", "_cx")
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    radius_deg: float,
    k: int = 1,
    left_coords: tuple[str, str] = ("lat", "lon"),
    right_coords: tuple[str, str] = ("lat", "lon"),
    tiebreak: str | None = None,
    dist_col: str = "dist2",
    lon_scale: float | None = None,
    max_rings: int = 1,
) -> DataFrame:
    """k nearest ``right`` rows per ``left`` row WITHIN ``radius_deg``
    — grid-bounded kNN, the facility-assignment / nearest-POI shape.

    The radius bound is the semantics, not a shortcut: a distributed
    UNBOUNDED nearest-neighbor needs expanding-ring retries for
    isolated points (each ring a full candidate join), so the honest
    contract is "nearest within r, unmatched if none".  ``max_rings``
    makes the retry explicit AND bounded: ring ``i`` re-runs the grid
    join for the still-unmatched remainder at radius ``radius_deg·2^i``
    (strict ``<`` at every ring), up to ``max_rings`` rings total — a
    left row matched at ring ``i`` takes its k nearest within THAT
    radius and never reappears (anti-join between rings).  The
    remainder shrinks every ring and each retry is its own grid join
    (cells sized to that ring's radius), so no ring is ever quadratic;
    the documented contract gap — "the caller widens r for the
    unmatched remainder" — is now a parameter with a hard ceiling
    (same explicit-fence philosophy as theil_sen's ``max_points``).

    Per ring: one radius join (grid candidates) + one per-left-key
    ``row_number`` ordered by ``(dist2, tiebreak)`` — deterministic
    under ties when ``tiebreak`` (a unique right-side column) is
    given.  Left rows with no candidate within the LAST ring's radius
    are ABSENT from the output (inner semantics).  ``lon_scale``
    passes through to :func:`radius_join` (cos-latitude
    equirectangular metric).  Output adds ``nn_rank`` and ``ring``
    (0-based ring index that matched).
    """
    from btc_usdt_etl_pipeline_spark.operators.relational import (
        top_k_per_group,
    )

    if max_rings < 1:
        raise ValueError("max_rings must be >= 1")

    def ring(points: DataFrame, r: float, idx: int) -> DataFrame:
        cand = radius_join(
            points, right, r,
            left_coords=left_coords, right_coords=right_coords,
            dist_col=dist_col, lon_scale=lon_scale,
        )
        order = [F.col(dist_col)]
        if tiebreak:
            order.append(F.col(tiebreak))
        return (
            cand.transform(top_k_per_group([left_id], order, k, "_rnk"))
            .withColumnRenamed("_rnk", "nn_rank")
            .withColumn("ring", F.lit(idx))
        )

    # chain each ring's remainder off the PREVIOUS ring only (it already
    # excludes all earlier matches) — anti-joining the growing union
    # would re-evaluate every prior ring's candidate join per ring.
    # Each non-final ring is localCheckpoint'd: its output is referenced
    # twice (union output + remainder anti-join), and without the
    # checkpoint ring i's remainder plan embeds every earlier ring's
    # candidate join — work roughly doubles per ring.  The checkpoint
    # truncates lineage so every candidate join is evaluated exactly
    # once regardless of max_rings; the materialized set is small
    # (≤ k matches per still-unmatched left row, shrinking per ring).
    rings_out = []
    remaining = left
    for i in range(max_rings):
        cur = ring(remaining, float(radius_deg) * (2.0 ** i), i)
        if i < max_rings - 1:
            cur = cur.localCheckpoint()
            remaining = remaining.join(
                cur.select(left_id).distinct(), left_id, "left_anti"
            )
        rings_out.append(cur)
    out = rings_out[0]
    for cur in rings_out[1:]:
        out = out.unionByName(cur)
    return out
