"""Spatial operators — SURVEY.md §2.3 J7 (point-in-polygon join) + §4.2.

The reference tags each observation with its containing region via
``sp::over(points, polygons)`` in a sequential overwrite cascade with default
"WA" (turtle-tracks.Rmd:85-87,271-276; app.R:136-145).

Spark-first design:
- The polygon set is dimension-sized → shipped to executors in the UDF
  closure (a broadcast join in spirit; no shuffle of the point side).
- ONE vectorized Arrow-batched pandas UDF evaluates ALL regions per batch —
  one Python crossing per batch, not one per region, with a numpy
  ray-casting kernel and a bbox pre-mask so most points never reach the
  exact test (the reference's own sites table stores exactly these bbox
  cols, ningaloo-etl.Rmd:75-78).
- Cascade semantics: later regions overwrite earlier ones (R's sequential
  assignment), i.e. last match wins.

At 100 TB this is a map-only operation: no shuffle, no skew, scales linearly
with input splits.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf

from ningaloo_turtle_etl_spark.sources.geojson import Region


def _ray_cast(
    lon: np.ndarray, lat: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Even-odd rule point-in-polygon, vectorized over points.

    Border behavior: points exactly on an edge fall on the half-open side —
    consistent with sp::over's edge handling being unspecified; FIXTURES.md
    plants border points to pin this down in tests."""
    inside = np.zeros(lon.shape, dtype=bool)
    j = len(xs) - 1
    for i in range(len(xs)):
        yi, yj, xi, xj = ys[i], ys[j], xs[i], xs[j]
        crosses = (yi > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= crosses & (lon < x_at)
        j = i
    return inside


def region_tagger(
    regions: Sequence[Region], default: str = "WA"
) -> "callable":
    """Build a (lon, lat) → region-name pandas UDF over a fixed region set."""
    # Precompute numpy rings + bboxes once per executor (closure state).
    rings = [
        (
            r.name,
            np.asarray([p[0] for p in r.ring], dtype=np.float64),
            np.asarray([p[1] for p in r.ring], dtype=np.float64),
        )
        for r in regions
    ]

    @pandas_udf("string")
    def tag(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        out = np.full(len(lo), default, dtype=object)
        valid = ~(np.isnan(lo) | np.isnan(la))
        # Sequential overwrite (reference semantics): later regions win.
        for name, xs, ys in rings:
            bbox = (
                valid
                & (lo >= xs.min()) & (lo <= xs.max())
                & (la >= ys.min()) & (la <= ys.max())
            )
            if not bbox.any():
                continue
            hit = np.zeros(len(lo), dtype=bool)
            hit[bbox] = _ray_cast(lo[bbox], la[bbox], xs, ys)
            out[hit] = name
        out[~valid] = None
        return pd.Series(out)

    return tag


def tag_regions(
    df: DataFrame,
    regions: Sequence[Region],
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    tag_col: str = "location",
    default: str = "WA",
) -> DataFrame:
    """J7: the spatial join — add ``tag_col`` naming the containing region,
    default for no match, NULL for NULL coordinates."""
    tagger = region_tagger(regions, default)
    return df.withColumn(tag_col, tagger(F.col(lon_col), F.col(lat_col)))


def region_membership_expr(lon: Column, lat: Column, region: Region) -> Column:
    """Even-odd ray cast as a PURE Catalyst expression: fold over a literal
    edge array with ``F.aggregate``, XOR-ing crossing parity. Identical
    half-open edge behavior to :func:`_ray_cast` (pinned by the equivalence
    test in tests/test_spatial.py).

    ``nullif`` guards the horizontal-edge division (ANSI mode would raise
    DIVIDE_BY_ZERO if the crossing predicate ever evaluated it; a null
    comparison folds to no-crossing, same as numpy's ignored inf)."""
    xs = [float(p[0]) for p in region.ring]
    ys = [float(p[1]) for p in region.ring]
    edges, j = [], len(xs) - 1
    for i in range(len(xs)):
        edges.append((xs[i], ys[i], xs[j], ys[j]))
        j = i
    arr = F.array(
        *[
            F.struct(
                F.lit(xi).alias("xi"),
                F.lit(yi).alias("yi"),
                F.lit(xj).alias("xj"),
                F.lit(yj).alias("yj"),
            )
            for xi, yi, xj, yj in edges
        ]
    )

    def step(acc: Column, e: Column) -> Column:
        crosses = (e["yi"] > lat) != (e["yj"] > lat)
        x_at = (e["xj"] - e["xi"]) * (lat - e["yi"]) / F.nullif(
            e["yj"] - e["yi"], F.lit(0.0)
        ) + e["xi"]
        return F.when(crosses & (lon < x_at), ~acc).otherwise(acc)

    return F.aggregate(arr, F.lit(False), step)


def tag_regions_expr(
    df: DataFrame,
    regions: Sequence[Region],
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    tag_col: str = "location",
    default: str = "WA",
) -> DataFrame:
    """J7 as pure Catalyst: same cascade/default/NULL semantics as
    :func:`tag_regions`, zero Python — the whole tagger (bbox pre-mask +
    ray-cast fold + last-wins cascade) is one codegen'd expression fused
    with the scan. Preferred for dimension-sized region sets (the reference
    has a handful of sites): no Python worker pool, no Arrow hop, and the
    plan stays inside WholeStageCodegen at any corpus size.

    The pandas-UDF :func:`tag_regions` remains the right tool when the
    region set or vertex count is large (hundreds of polygons × many
    vertices would blow up generated code; numpy amortizes there)."""
    lon = F.col(lon_col).cast("double")
    lat = F.col(lat_col).cast("double")
    expr: Column = F.lit(default)
    # Forward fold, each region's when() wrapping the previous: the LAST
    # listed region's test sits outermost → last match wins (reference
    # cascade semantics).
    for r in regions:
        xs = [float(p[0]) for p in r.ring]
        ys = [float(p[1]) for p in r.ring]
        bbox = (
            (lon >= min(xs)) & (lon <= max(xs))
            & (lat >= min(ys)) & (lat <= max(ys))
        )
        expr = F.when(
            bbox & region_membership_expr(lon, lat, r), F.lit(r.name)
        ).otherwise(expr)
    expr = F.when(
        lon.isNull() | lat.isNull(), F.lit(None).cast("string")
    ).otherwise(expr)
    return df.withColumn(tag_col, expr)
