"""Gold-layer analytics (SURVEY.md A1, A2, W8, F6).

The reference computes these client-side over the retained GeoJSON
features (front_end/src/hooks/useDatastats.js, MapView.jsx). Here each
is a distributed DataFrame op:

- ``rolling_stats`` (A1): ONE hash aggregation, conditional counts via
  count(when(...)) -- map-side partial agg, a single reduce, no shuffle
  of raw rows beyond the partial buffers. At 100 TB this is the cheapest
  possible shape (bytes shuffled = #partitions x #agg buffers).
- ``grid_cluster`` (A2): groupBy on derived grid-cell keys -- the
  zoom-parameterized analog of Mapbox supercluster's screen-space
  clustering (radius 50px, maxZoom 10 -- MapView.jsx:177-208). One
  shuffle on (cell_lat, cell_lon); skew-safe under AQE.
- ``recent_points`` (W8): top-N by recency (MapView.jsx:83-89 keeps the
  last 2000 features). orderBy+limit compiles to TakeOrderedAndProject:
  per-partition top-N heaps + single-reduce merge -- no global sort.
- ``level_filter`` (F6): the UI level-bucket filter (MapView.jsx:51-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG

# UI bucket -> level5 values (front_end/src/components/MapView.jsx:51-68)
LEVEL_BUCKETS = {
    "high": ["very-high", "high"],
    "medium": ["moderate"],
    "low": ["low", "very-low"],
}


def rolling_stats(points: DataFrame) -> DataFrame:
    """A1 multi-metric stats over the current point set, one pass.

    Mirrors useDatastats.js:18-55: level-bucket counts on the 5-bucket
    client classification, sum/count/avg of numeric values, total and
    dangerous point counts, last timestamp by arrival order (event_id).
    """
    is_high = F.col("level5").isin(*LEVEL_BUCKETS["high"])
    is_med = F.col("level5").isin(*LEVEL_BUCKETS["medium"])
    is_low = F.col("level5").isin(*LEVEL_BUCKETS["low"])
    return points.agg(
        F.count(F.when(is_high, 1)).alias("high_count"),
        F.count(F.when(is_med, 1)).alias("medium_count"),
        F.count(F.when(is_low, 1)).alias("low_count"),
        F.coalesce(F.sum("value"), F.lit(0)).cast("long").alias("sum_value"),
        F.count("value").alias("value_count"),
        # avg = sum/count with 0 for empty (useDatastats.js:42 zero-guard)
        F.coalesce(
            F.sum("value") / F.count("value"), F.lit(0.0)
        ).alias("avg_value"),
        F.count(F.lit(1)).alias("total_points"),
        F.count(F.when(is_high, 1)).alias("dangerous_points"),
        F.max_by("timestamp", F.col("event_id")).alias("last_update"),
    )


def grid_cluster(points: DataFrame) -> DataFrame:
    """A2 spatial cluster aggregation on a lat/lon grid.

    Per-cluster max value + point count, plus the reference's step
    ladders: cluster color by max_cpm thresholds [50, 200, 1000] and
    radius bucket by point_count steps [100, 750]
    (MapView.jsx:192-208, mapStyles.js).
    """
    cell = F.lit(CONFIG.cluster_cell_deg)
    cell_lat = F.floor(F.col("lat") / cell).alias("cell_lat")
    cell_lon = F.floor(F.col("lon") / cell).alias("cell_lon")
    agg = points.groupBy(cell_lat, cell_lon).agg(
        F.max("value").alias("max_cpm"),
        F.count(F.lit(1)).alias("point_count"),
    )
    color = (
        F.when(F.col("max_cpm") < 50, "#00e400")
        .when(F.col("max_cpm") < 200, "#ffff00")
        .when(F.col("max_cpm") < 1000, "#ff7e00")
        .otherwise("#ff0000")
    )
    radius = (
        F.when(F.col("point_count") < 100, 20)
        .when(F.col("point_count") < 750, 30)
        .otherwise(40)
    )
    return agg.select(
        "cell_lat",
        "cell_lon",
        "max_cpm",
        "point_count",
        color.alias("cluster_color"),
        radius.alias("cluster_radius"),
    )


def recent_points(points: DataFrame, n: int = CONFIG.retention_points) -> DataFrame:
    """W8 retention window: last N points by recency (deterministic).

    Ties on the timestamp are broken by ``event_id`` so the result set
    is stable across engines/partitionings. Compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort).
    """
    return points.orderBy(F.col("timestamp").desc(), F.col("event_id").desc()).limit(n)


def geojson_features(points: DataFrame) -> DataFrame:
    """P13: record -> GeoJSON Feature<Point> string
    (MapView.jsx:73-81). Built with explicit concat (not to_json) so
    the byte layout is engine-independent and oracle-checkable."""
    feature = F.concat(
        F.lit('{"type":"Feature","geometry":{"type":"Point","coordinates":['),
        F.col("lon").cast("string"),
        F.lit(","),
        F.col("lat").cast("string"),
        F.lit(']},"properties":{"value":'),
        F.col("value").cast("string"),
        F.lit(',"level":"'),
        F.col("level5"),
        F.lit('","timestamp":"'),
        F.col("timestamp"),
        F.lit('"}}'),
    )
    return points.select("event_id", feature.alias("feature"))


def level_filter(points: DataFrame, bucket: str) -> DataFrame:
    """F6 interactive level filter; bucket in {high, medium, low, all}."""
    if bucket == "all":
        return points
    return points.filter(F.col("level5").isin(*LEVEL_BUCKETS[bucket]))
