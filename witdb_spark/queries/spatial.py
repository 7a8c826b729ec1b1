"""Spatial-join queries (reference SpatialJoinOperator.java:42,
ExtractSpatialJoins.java:151) over the banded grid join in
operators/spatial_join.py.

Determinism: points are integer-lattice coordinates derived from event_id;
polygon vertices sit on a 0.25 grid chosen (and build-time verified in
tests/test_geometry.py) so NO lattice point falls exactly on an edge —
strict interior tests therefore agree between the WKT kernel's ray casting
(Spark side) and the per-edge half-plane sign tests the generated DuckDB
oracle spells out with literal coordinates. All cross products are exact
in doubles (0.25-grid × integers)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from witdb_spark.catalog import Tables
from witdb_spark.frames import local_frame
from witdb_spark.queries.registry import register

# CCW triangles, 0.25-grid vertices, lattice-safe within [0,97)x[0,89)
TRIANGLES: list[list[tuple[float, float]]] = [
    [(10.25, 5.75), (40.75, 12.25), (22.25, 38.75)],
    [(50.25, 40.75), (90.75, 45.25), (70.25, 80.75)],
    [(5.75, 50.25), (35.25, 55.75), (12.75, 85.25)],
    [(60.25, 5.25), (92.75, 8.75), (78.25, 30.25)],
    [(30.75, 60.25), (55.25, 62.75), (42.75, 88.25)],
    [(15.25, 20.75), (75.75, 28.25), (45.25, 48.75)],
]

# x = event_id % 97, y = (event_id // 97) % 89 — integer-valued doubles
_PX = "CAST(event_id % 97 AS DOUBLE)"
_PY_SPARK = "CAST((event_id div 97) % 89 AS DOUBLE)"
_PY_DUCK = "CAST((event_id // 97) % 89 AS DOUBLE)"


def tri_wkt(tri: list[tuple[float, float]]) -> str:
    ring = ", ".join(f"{x!r} {y!r}" for x, y in [*tri, tri[0]])
    return f"POLYGON (({ring}))"


def _tri_predicate_sql(tri: list[tuple[float, float]]) -> str:
    """Strict-interior test for a CCW triangle: every edge cross product
    positive. Literal coordinates → identical IEEE arithmetic in DuckDB."""
    tests = []
    for (x1, y1), (x2, y2) in zip(tri, [*tri[1:], tri[0]]):
        tests.append(
            f"(({x2!r} - {x1!r}) * (y - {y1!r}) - ({y2!r} - {y1!r}) * (x - {x1!r}) > 0)"
        )
    return " AND ".join(tests)


def _contains_oracle() -> str:
    arms = "\n      UNION ALL ".join(
        f"SELECT {i} AS poly_id, event_id FROM pts WHERE {_tri_predicate_sql(t)}"
        for i, t in enumerate(TRIANGLES)
    )
    return f"""
    WITH pts AS (
      SELECT event_id, {_PX} AS x, {_PY_DUCK} AS y FROM events)
    SELECT poly_id, COUNT(*) AS n_pts,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM ({arms}) hits
    GROUP BY poly_id
    """


@register(
    "spatial_join_contains",
    _contains_oracle(),
    doc="ST_Contains join (reference SpatialJoinOperator.java:42): event-"
    "derived lattice points against 6 literal triangles via the grid-cell "
    "band join (operators/spatial_join.py) — envelope cells explode on the "
    "small side, points map to one cell, equi-join on cell id (no "
    "cartesian, plan-gated), exact point-in-polygon kernel only on "
    "candidates. Oracle replays the predicate as per-edge half-plane sign "
    "tests with literal coordinates.",
    tags=("spatial", "join"),
)
def spatial_join_contains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.operators.spatial_join import spatial_join_contains

    t = Tables(spark, sf_dir)
    pts = t.events.select(
        "event_id", F.expr(_PX).alias("x"), F.expr(_PY_SPARK).alias("y")
    )
    # a driver-local relation, not a parallelized python list: the
    # list form costs one task per core on every downstream action
    # (see witdb_spark/frames.py)
    polys = local_frame(
        spark,
        [(i, tri_wkt(tri)) for i, tri in enumerate(TRIANGLES)],
        "poly_id int, wkt string",
    )
    joined = spatial_join_contains(pts, polys, "x", "y", "wkt", cell_size=16.0)
    return joined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.sum("event_id").alias("sum_ids"),
    )


@register(
    "spatial_join_distance",
    f"""
    WITH pts AS (
      SELECT event_id, {_PX} AS x, {_PY_DUCK} AS y FROM events
      WHERE event_id < 2000)
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(CAST((a.x - b.x) * (a.x - b.x)
                       + (a.y - b.y) * (a.y - b.y) AS BIGINT)) AS BIGINT)
             AS sum_d2
    FROM pts a JOIN pts b
      ON a.event_id < b.event_id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) < 6.25e0
    """,
    doc="ST_Distance(a, b) < r self-join (reference SpatialJoinOperator"
    ".java distance flavor): cell size = r, probe side explodes to its 3x3 "
    "neighborhood, equi-join on cell, exact distance check pure JVM — no "
    "Python, no cartesian (plan-gated). Squared distances are exact "
    "integers on the lattice, so sums are engine-neutral. The oracle runs "
    "the quadratic join directly (fine at sf0.01; the banded plan is the "
    "point at scale).",
    tags=("spatial", "join"),
)
def spatial_join_distance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.operators.spatial_join import spatial_join_within_distance

    t = Tables(spark, sf_dir)
    pts = t.events.where(F.col("event_id") < 2000).select(
        "event_id", F.expr(_PX).alias("x"), F.expr(_PY_SPARK).alias("y")
    )
    a = pts.select(
        F.col("event_id").alias("a_id"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = pts.select(
        F.col("event_id").alias("b_id"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    pairs = spatial_join_within_distance(
        a, b, 2.5, ax="ax", ay="ay", bx="bx", by="by"
    ).where(F.col("a_id") < F.col("b_id"))
    d2 = (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(d2.cast("bigint")).alias("sum_d2"),
    )


@register(
    "geometry_union_agg_rollup",
    """
    WITH cells AS (
      SELECT DISTINCT event_type AS grp,
             event_id % 37 AS cx, (event_id // 37) % 19 AS cy
      FROM events WHERE event_id % 11 = 0)
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) AS DOUBLE) AS union_area
    FROM cells GROUP BY grp
    """,
    doc="geometry_union_agg (r5; reference plugin/trino-geospatial "
    "GeometryUnionAgg): per event type, union the distinct unit grid "
    "cells its events touch and report the dissolved area. Unit squares "
    "share edges EVERYWHERE — exactly the degenerate incidence the "
    "pairwise clipper refuses — so the snapped planar-arrangement union "
    "(functions/geometry.py union_many) must dissolve interior "
    "boundaries exactly; the oracle's closed form is that the union "
    "area of N distinct edge-sharing unit cells equals N. Two-stage "
    "salted fold (operators/spatial_join.py geometry_union_agg): "
    "partial unions per (key, salt), final merge of <=16 partials.",
    tags=("spatial", "aggregate", "geometry"),
)
def geometry_union_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.operators.spatial_join import geometry_union_agg

    t = Tables(spark, sf_dir)
    cells = (
        t.events.where(F.col("event_id") % 11 == 0)
        .select(
            F.col("event_type").alias("grp"),
            (F.col("event_id") % 37).alias("cx"),
            F.expr("(event_id div 37) % 19").alias("cy"),
        )
        .distinct()
    )
    sq = F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        F.col("cx"), F.col("cy"),
        F.col("cx") + 1, F.col("cy"),
        F.col("cx") + 1, F.col("cy") + 1,
        F.col("cx"), F.col("cy") + 1,
        F.col("cx"), F.col("cy"),
    )
    counts = cells.groupBy("grp").agg(F.count(F.lit(1)).alias("n_cells"))
    unions = geometry_union_agg(
        cells.withColumn("wkt", sq), ["grp"], "wkt"
    )
    from witdb_spark.functions.geometry import _GEO_SRC  # noqa: F401
    from witdb_spark.functions import register_all

    register_all(spark)
    return (
        unions.join(counts, "grp")
        .select(
            "grp", "n_cells",
            F.round(F.expr("st_area(geom)"), 6).alias("union_area"),
        )
    )


@register(
    "geometry_buffer_parity",
    """
    SELECT event_id,
           round(w * h + 2 * r * (w + h) + 8 * r * r * sin(pi() / 8), 5)
             AS rect_area,
           round(2 * r * len + 8 * r * r * sin(pi() / 8), 5) AS line_area,
           round(w * h + 2 * (r + 0.25) * (w + h)
                 + 8 * (r + 0.25) * (r + 0.25) * sin(pi() / 8), 5)
             AS grow_area
    FROM (
      SELECT event_id,
             CAST(1 + event_id % 5 AS INTEGER) AS w,
             CAST(1 + event_id % 3 AS INTEGER) AS h,
             CAST(0.25 + (event_id % 4) * 0.25 AS DOUBLE) AS r,
             CAST(2 + event_id % 7 AS INTEGER) AS len
      FROM events WHERE event_id % 997 = 0) AS p
    """,
    doc="ST_Buffer of lines and polygons (r7; r8 numeric oracle; "
    "reference plugin/trino-geospatial GeoFunctions.java stBuffer): "
    "per row, buffer an axis-aligned w x h rectangle and a length-L "
    "segment with radius r and return the rounded areas; the DuckDB "
    "oracle computes the Minkowski closed forms NUMERICALLY (rect: "
    "w*h + 2r(w+h) + one join 16-gon = 8 r^2 sin(pi/8); line: 2rL + "
    "the same 16-gon; grown rect at r+0.25 replaces r7's boolean "
    "monotonicity check) — Spark's arrangement area and the closed "
    "form agree to the snap-rounding bound ~3e-8, and every closed "
    "form in the parameter lattice is > 4e-7 from a round-5 boundary, "
    "so the rounded values hash-match exactly. The closed forms are "
    "exact because the capsule rectangles of a convex axis-aligned "
    "input overlap only in the join circles' quarters "
    "(functions/geometry.py buffer_geom).",
    tags=("spatial", "geometry", "buffer"),
)
def geometry_buffer_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.functions import register_all

    register_all(spark)
    t = Tables(spark, sf_dir)
    base = (
        t.events.where(F.col("event_id") % 997 == 0)
        .select(
            "event_id",
            (1 + F.col("event_id") % 5).cast("int").alias("w"),
            (1 + F.col("event_id") % 3).cast("int").alias("h"),
            (0.25 + (F.col("event_id") % 4) * 0.25).alias("r"),
            (2 + F.col("event_id") % 7).cast("int").alias("len"),
        )
        .withColumn(
            "rect",
            F.format_string(
                "POLYGON ((0 0, %d 0, %d %d, 0 %d, 0 0))",
                F.col("w"), F.col("w"), F.col("h"), F.col("h"),
            ),
        )
        .withColumn("line", F.format_string("LINESTRING (0 0, %d 0)", F.col("len")))
    )
    return base.select(
        "event_id",
        F.expr("round(st_area(st_buffer(rect, r)), 5)").alias("rect_area"),
        F.expr("round(st_area(st_buffer(line, r)), 5)").alias("line_area"),
        F.expr("round(st_area(st_buffer(rect, r + 0.25)), 5)").alias(
            "grow_area"
        ),
    )


@register(
    "geometry_collection_ops",
    """
    SELECT event_id,
           round(3 - s, 6) AS union_area,
           round(least(1.5, 2 - s) - 0.5, 6) AS isect_area,
           round((2 - s) + 0.5 * (3 - s) + 0.5 * sin(pi() / 8), 5)
             AS buffer_area,
           (s <= 0.6) AS hits_probe,
           (s < 0.7) AS contains_probe
    FROM (
      SELECT event_id, 0.25 * (1 + event_id % 3) AS s
      FROM events WHERE event_id % 499 = 0) AS p
    """,
    doc="GEOMETRYCOLLECTION as a boolean/predicate/buffer operand (r8; "
    "reference GeoFunctions.java flattens GC members for ST_Union): "
    "per row, a GC of two unit squares overlapping by width s "
    "dissolves to the rectangle [0, 2-s] x [0, 1]; the query unions "
    "it with a disjoint square (area 3-s), intersects it with "
    "[0.5, 1.5] x [0, 1] (area min(1.5, 2-s) - 0.5), buffers it at "
    "r = 0.25 (Minkowski closed form on the dissolved rectangle — "
    "buffer distributes over union), and probes st_intersects / "
    "st_contains against geometries whose answers FLIP with s. The "
    "DuckDB oracle computes every closed form numerically from s "
    "alone — Spark genuinely parses, dissolves (snapped arrangement), "
    "and measures the collections (functions/geometry.py "
    "_gc_flatten/_gc_as_polygonal).",
    tags=("spatial", "geometry", "collection"),
)
def geometry_collection_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from witdb_spark.functions import register_all

    register_all(spark)
    t = Tables(spark, sf_dir)
    base = t.events.where(F.col("event_id") % 499 == 0).select(
        "event_id",
        (0.25 * (1 + F.col("event_id") % 3)).alias("s"),
    )
    gc = F.format_string(
        "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)),"
        " POLYGON ((%.2f 0, %.2f 0, %.2f 1, %.2f 1, %.2f 0)))",
        1 - F.col("s"), 2 - F.col("s"), 2 - F.col("s"),
        1 - F.col("s"), 1 - F.col("s"),
    )
    far = "POLYGON ((2.5 0, 3.5 0, 3.5 1, 2.5 1, 2.5 0))"
    mid = "POLYGON ((0.5 0, 1.5 0, 1.5 1, 0.5 1, 0.5 0))"
    probe = "POLYGON ((1.4 0.25, 2.4 0.25, 2.4 0.75, 1.4 0.75, 1.4 0.25))"
    return base.withColumn("gc", gc).select(
        "event_id",
        F.expr(f"round(st_area(st_union(gc, '{far}')), 6)").alias(
            "union_area"
        ),
        F.expr(f"round(st_area(st_intersection(gc, '{mid}')), 6)").alias(
            "isect_area"
        ),
        F.expr("round(st_area(st_buffer(gc, 0.25)), 5)").alias("buffer_area"),
        F.expr(f"st_intersects(gc, '{probe}')").alias("hits_probe"),
        F.expr("st_contains(gc, 'POINT (1.3 0.5)')").alias("contains_probe"),
    )
