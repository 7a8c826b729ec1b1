"""Banded spatial join (reference operator/SpatialJoinOperator.java:42 and
sql/planner/optimizations/ExtractSpatialJoins.java:151).

The reference executes ST_Contains / ST_Distance joins by building an
R-tree over one side and probing it; its distributed flavor partitions both
sides by Hilbert-curve spatial partitions first. The Spark-native analog is
a GRID-CELL band join — the same shape as the LSH band join in
pipeline/dedup.py:

  1. quantize space into square cells of side `cell_size`;
  2. polygons (or radius-r probes) EXPLODE to every cell their envelope
     covers — bounded fan-out: O(envelope_area / cell²) rows each;
  3. points map to exactly ONE cell (two integer floors, pure JVM);
  4. equi-join on cell id — Catalyst plans a hash join (broadcast when the
     polygon side is small), never a cartesian product;
  5. the exact predicate runs ONLY on grid candidates (point-in-polygon via
     the WKT kernel, functions/geometry.py; point-distance stays pure JVM).

At 100 TB the only shuffle is the cell-keyed exchange (or none, when the
polygon side broadcasts); skewed cells split under AQE like any hot hash
key. Choosing cell_size ≈ median polygon extent (or = r for distance
joins) keeps candidate fan-out near-constant, mirroring the reference's
R-tree leaf sizing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, StructField, DoubleType

from witdb_spark.frames import local_frame

_SINGLE_RING = r"^POLYGON \(\([^()]*\)\)$"

#: unroll budget for the literal-predicate verify tier: beyond this the
#: generated boolean expression would blow past codegen method limits
#: and fall back to interpretation, losing the point of the tier.
_UNROLL_MAX_POLYS = 64
_UNROLL_MAX_EDGES = 256


def _unrolled_contains_pred(wkt: str, px: str, py: str) -> str:
    """Compile ST_Contains(single-ring polygon literal, point) to a pure
    boolean SQL expression over the point columns — even-odd ray cast
    with the WKT kernel's exact arithmetic (same terms as the HOF
    aggregate tier below, 1e-12 boundary epsilon, strict-inside rule),
    but with every polygon constant folded at plan time and the whole
    predicate inside whole-stage codegen. Horizontal edges drop from
    the parity terms statically. This is the Spark-first analog of the
    reference building its polygon side into an in-memory index
    (SpatialJoinOperator.java:42 + PagesRTreeIndex) and probing with
    compiled containment."""
    inner = wkt[len("POLYGON (("):-len("))")]
    pts = [
        tuple(float(t) for t in p.split()) for p in inner.split(",")
    ]
    par_terms: list[str] = []
    onb_terms: list[str] = []
    for (x1, y1), (x2, y2) in zip(pts[:-1], pts[1:]):
        X1, Y1, X2, Y2 = (f"{v!r}D" for v in (x1, y1, x2, y2))
        if y1 != y2:
            par_terms.append(
                f"(IF(({Y1} > {py}) != ({Y2} > {py}),"
                f" {px} < ({X2} - {X1}) * ({py} - {Y1})"
                f" / ({Y2} - {Y1}) + {X1}, false))"
            )
        onb_terms.append(
            f"(abs(({X2} - {X1}) * ({py} - {Y1})"
            f" - ({Y2} - {Y1}) * ({px} - {X1})) < 1e-12D"
            f" AND {px} >= {min(x1, x2) - 1e-12!r}D"
            f" AND {px} <= {max(x1, x2) + 1e-12!r}D"
            f" AND {py} >= {min(y1, y2) - 1e-12!r}D"
            f" AND {py} <= {max(y1, y2) + 1e-12!r}D)"
        )
    parity = " != ".join(par_terms) if par_terms else "false"
    onb = " OR ".join(onb_terms) if onb_terms else "false"
    return f"(({parity}) AND NOT ({onb}))"


def _poly_cells(
    polys: DataFrame, wkt_col: str, cell_size: float
) -> DataFrame:
    """Explode each polygon to the grid cells its envelope covers.
    Envelope extraction is one tiny pandas-UDF pass over the polygon side
    (the small side); the cell explosion itself is JVM sequence+explode."""
    from witdb_spark.functions.geometry import _GEO_SRC

    @F.pandas_udf(
        StructType(
            [
                StructField("xmin", DoubleType()),
                StructField("ymin", DoubleType()),
                StructField("xmax", DoubleType()),
                StructField("ymax", DoubleType()),
            ]
        )
    )
    def _env(wkts):
        import pandas as pd

        ns: dict = {}
        exec(_GEO_SRC, ns)
        bounds = ns["bounds"]
        rows = []
        for s in wkts:
            b = None if s is None else bounds(s)
            rows.append(
                {"xmin": None, "ymin": None, "xmax": None, "ymax": None}
                if b is None
                else {"xmin": b[0], "ymin": b[1], "xmax": b[2], "ymax": b[3]}
            )
        return pd.DataFrame(rows)

    cs = float(cell_size)
    with_env = polys.withColumn("_env", _env(F.col(wkt_col)))
    return (
        with_env.withColumn(
            "_cx",
            F.explode(
                F.sequence(
                    F.floor(F.col("_env.xmin") / cs).cast("long"),
                    F.floor(F.col("_env.xmax") / cs).cast("long"),
                )
            ),
        )
        .withColumn(
            "_cy",
            F.explode(
                F.sequence(
                    F.floor(F.col("_env.ymin") / cs).cast("long"),
                    F.floor(F.col("_env.ymax") / cs).cast("long"),
                )
            ),
        )
        .drop("_env")
    )


def spatial_join_contains(
    points: DataFrame,
    polys: DataFrame,
    x_col: str,
    y_col: str,
    wkt_col: str,
    cell_size: float,
) -> DataFrame:
    """points ⋈ polys ON ST_Contains(poly, point) — grid candidates, then
    the exact point-in-polygon verify on candidates only. Output: all
    point columns + all polygon columns (minus internals).

    Verify tiers:
      1. UNROLLED (r10): when the distinct single-ring polygons fit a
         driver-side probe budget (<=64 polygons, <=256 total edges —
         the polygon side is broadcast-small by contract), each
         polygon's ray cast compiles to a literal boolean expression
         dispatched by a CASE on the WKT — constants folded, zero
         higher-order functions, fully inside whole-stage codegen.
         This removed an 18s/sf0.1 interpreted-HOF hotspot.
      2. JVM HOF (r5): every polygon single-ring but too many to
         unroll — the even-odd ray cast runs as an aggregate() fold
         over the parsed edge array (no Python, but the fold is
         interpreted per candidate).
      3. numpy (r5): general geometry (holes, multipolygons) — the
         batch-vectorized pandas kernel.
    All tiers reproduce the WKT kernel's exact arithmetic (1e-12
    boundary epsilon, strict-inside rule) term by term."""
    from witdb_spark.functions.geometry import _GEO_SRC

    cs = float(cell_size)
    pts = points.withColumn(
        "_cx", F.floor(F.col(x_col) / cs).cast("long")
    ).withColumn("_cy", F.floor(F.col(y_col) / cs).cast("long"))

    px, py = f"CAST({x_col} AS DOUBLE)", f"CAST({y_col} AS DOUBLE)"
    sample = [
        r[0]
        for r in polys.select(wkt_col)
        .distinct()
        .limit(_UNROLL_MAX_POLYS + 1)
        .collect()
    ]
    sample_simple = all(
        w is not None and re.fullmatch(_SINGLE_RING, w) for w in sample
    )
    if (
        sample_simple
        and len(sample) <= _UNROLL_MAX_POLYS
        and sum(w.count(",") for w in sample) <= _UNROLL_MAX_EDGES
    ):
        # tier 1: literal-predicate verify. Envelope cells are known
        # driver-side per distinct WKT; the cell map joins back onto
        # the polygon side (per input row, preserving duplicates).
        import math

        cell_rows = []
        for w in sample:
            ring = [
                tuple(float(t) for t in p.split())
                for p in w[len("POLYGON (("):-len("))")].split(",")
            ]
            xs, ys = [p[0] for p in ring], [p[1] for p in ring]
            for cx in range(
                math.floor(min(xs) / cs), math.floor(max(xs) / cs) + 1
            ):
                for cy in range(
                    math.floor(min(ys) / cs), math.floor(max(ys) / cs) + 1
                ):
                    cell_rows.append((w, cx, cy))
        # the cell map is a driver-local relation (frames.local_frame),
        # NOT a parallelized python list: that schedules
        # defaultParallelism python-worker tasks (32 tasks for 60 rows —
        # measured ~50s of blocked executorRunTime at sf0.1 for ~1s of
        # real CPU), while a LocalRelation folds driver-side with zero
        # tasks. The inner join onto the polygon side broadcasts
        # explicitly — it sits inside the outer broadcast exchange, out
        # of AQE's reach, and would plan as a 64-partition
        # SortMergeJoin otherwise.
        cells_map = local_frame(
            polys.sparkSession, cell_rows, "_w string, _cx bigint, _cy bigint"
        )
        cells = F.broadcast(
            polys.coalesce(1).join(
                F.broadcast(cells_map), F.col(wkt_col) == F.col("_w")
            ).drop("_w")
        )
        cand = pts.join(cells, ["_cx", "_cy"]).drop("_cx", "_cy")
        esc = lambda s: s.replace("'", "''")  # noqa: E731
        branches = " ".join(
            f"WHEN '{esc(w)}' THEN {_unrolled_contains_pred(w, px, py)}"
            for w in sample
        )
        return cand.where(
            F.expr(f"CASE {wkt_col} {branches} ELSE NULL END")
        )

    all_simple = sample_simple and polys.where(
        ~F.col(wkt_col).rlike(_SINGLE_RING) | F.col(wkt_col).isNull()
    ).isEmpty()
    if all_simple:
        # JVM tier: the ring parses ONCE on the broadcast-small polygon
        # side (materialized into an edge-struct array BEFORE the join —
        # per-candidate parsing would re-run the string pipeline per
        # row), then the verify is one aggregate() fold computing
        # crossing parity + boundary flag. Expressions mirror
        # _point_in_ring term by term (same IEEE ops).
        ring = (
            f"transform(split(regexp_extract({wkt_col},"
            f" '^POLYGON \\\\(\\\\(([^()]*)\\\\)\\\\)$', 1), ','),"
            " s -> struct(cast(split(trim(s), ' +')[0] AS DOUBLE) AS x,"
            " cast(split(trim(s), ' +')[1] AS DOUBLE) AS y))"
        )
        edges = (
            f"zip_with(slice({ring}, 1, size({ring}) - 1),"
            f" slice({ring}, 2, size({ring}) - 1),"
            " (a, b) -> struct(a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2))"
        )
        polys_parsed = polys.withColumn("_edges", F.expr(edges))
        # envelope from the parsed edges (every vertex is some edge's
        # (x1,y1)) — the whole polygon side is now Python-free too
        env = lambda agg, fld: F.expr(  # noqa: E731
            f"aggregate(_edges, CAST(NULL AS DOUBLE),"
            f" (a, e) -> IF(a IS NULL, e.{fld}, {agg}(a, e.{fld})))"
        )
        boxed = (
            polys_parsed.withColumn("_xmin", env("least", "x1"))
            .withColumn("_xmax", env("greatest", "x1"))
            .withColumn("_ymin", env("least", "y1"))
            .withColumn("_ymax", env("greatest", "y1"))
        )
        cells_df = (
            boxed.withColumn(
                "_cx",
                F.explode(
                    F.sequence(
                        F.floor(F.col("_xmin") / cs).cast("long"),
                        F.floor(F.col("_xmax") / cs).cast("long"),
                    )
                ),
            )
            .withColumn(
                "_cy",
                F.explode(
                    F.sequence(
                        F.floor(F.col("_ymin") / cs).cast("long"),
                        F.floor(F.col("_ymax") / cs).cast("long"),
                    )
                ),
            )
            .drop("_xmin", "_xmax", "_ymin", "_ymax")
        )
        cells = F.broadcast(cells_df)
        cand = pts.join(cells, ["_cx", "_cy"]).drop("_cx", "_cy")
        px, py = f"CAST({x_col} AS DOUBLE)", f"CAST({y_col} AS DOUBLE)"
        verify = F.expr(
            "aggregate(_edges,"
            " struct(false AS par, false AS onb),"
            " (acc, e) -> struct("
            f"  acc.par != IF(e.y1 != e.y2 AND ((e.y1 > {py}) != (e.y2 > {py})),"
            f"    {px} < (e.x2 - e.x1) * ({py} - e.y1) / (e.y2 - e.y1) + e.x1,"
            "     false),"
            "  acc.onb OR ("
            f"    abs((e.x2 - e.x1) * ({py} - e.y1)"
            f"        - (e.y2 - e.y1) * ({px} - e.x1)) < 1e-12"
            f"    AND {px} >= least(e.x1, e.x2) - 1e-12"
            f"    AND {px} <= greatest(e.x1, e.x2) + 1e-12"
            f"    AND {py} >= least(e.y1, e.y2) - 1e-12"
            f"    AND {py} <= greatest(e.y1, e.y2) + 1e-12)),"
            " acc -> acc.par AND NOT acc.onb)"
        )
        return cand.where(verify).drop("_edges")

    # the polygon-cells side is the small side by contract (polygons ×
    # covered cells); broadcast it EXPLICITLY — at sf0.01 both sides fit
    # under the threshold and Spark may pick the points side, which at
    # 100 TB would try to broadcast the fact table
    cells = F.broadcast(_poly_cells(polys, wkt_col, cs))
    cand = pts.join(cells, ["_cx", "_cy"]).drop("_cx", "_cy")

    @F.pandas_udf("boolean")
    def _inside(wkts, xs, ys):
        """Batch-vectorized ST_Contains verify (r5): rows are bucketed by
        polygon WKT (the polygon side is small and repeats across the
        candidate batch), each polygon parses ONCE, and the even-odd ray
        cast runs as numpy edge loops over the whole bucket — identical
        arithmetic to the scalar kernel's _point_in_ring (same boundary
        epsilon, same strict-inside rule), minus the per-row parse and
        per-row Python loop."""
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(_GEO_SRC, ns)
        parse = ns["parse"]

        def ring_state(ring, px, py):
            # vectorized _point_in_ring: 0 outside / 1 inside / 2 boundary
            n = len(ring)
            inside = np.zeros(len(px), dtype=bool)
            onb = np.zeros(len(px), dtype=bool)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
                bb = (
                    (min(x1, x2) - 1e-12 <= px)
                    & (px <= max(x1, x2) + 1e-12)
                    & (min(y1, y2) - 1e-12 <= py)
                    & (py <= max(y1, y2) + 1e-12)
                )
                onb |= (np.abs(cross) < 1e-12) & bb
                m = (y1 > py) != (y2 > py)
                if y2 != y1:
                    xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                    inside ^= m & (px < xin)
            return np.where(onb, 2, np.where(inside, 1, 0))

        res = pd.Series([None] * len(wkts), dtype=object)
        px_all = pd.to_numeric(xs, errors="coerce").to_numpy(dtype=float)
        py_all = pd.to_numeric(ys, errors="coerce").to_numpy(dtype=float)
        valid = (
            wkts.notna().to_numpy()
            & ~np.isnan(px_all)
            & ~np.isnan(py_all)
        )
        buckets: dict = {}
        warr = wkts.to_numpy(dtype=object)
        for i in np.nonzero(valid)[0]:
            buckets.setdefault(warr[i], []).append(i)
        for w, idxs in buckets.items():
            k, d = parse(w)
            ii = np.asarray(idxs)
            if d is None or k not in ("POLYGON", "MULTIPOLYGON"):
                contains = ns["contains"]
                for i in idxs:
                    res.iloc[i] = bool(
                        contains(
                            w, f"POINT ({px_all[i]!r} {py_all[i]!r})"
                        )
                    )
                continue
            polys = [d] if k == "POLYGON" else d
            px, py = px_all[ii], py_all[ii]
            best = np.zeros(len(ii), dtype=np.int64)
            for rings in polys:
                st = ring_state(rings[0], px, py)
                for hole in rings[1:]:
                    hst = ring_state(hole, px, py)
                    st = np.where(
                        st == 1,
                        np.where(hst == 2, 2, np.where(hst == 1, 0, 1)),
                        st,
                    )
                best = np.maximum(best, st)
            res.iloc[ii] = (best == 1).astype(object)
        return res

    return cand.where(_inside(F.col(wkt_col), F.col(x_col), F.col(y_col)))


def spatial_join_within_distance(
    a: DataFrame,
    b: DataFrame,
    r: float,
    ax: str = "x",
    ay: str = "y",
    bx: str = "x",
    by: str = "y",
) -> DataFrame:
    """a ⋈ b ON ST_Distance(a, b) < r for point relations — cell size = r,
    the b side explodes to its 3×3 cell neighborhood, and the exact
    distance check is pure JVM arithmetic (no Python anywhere)."""
    cs = float(r)
    an = a.withColumn("_cx", F.floor(F.col(ax) / cs).cast("long")).withColumn(
        "_cy", F.floor(F.col(ay) / cs).cast("long")
    )
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    bn = (
        b.withColumn("_bcx", F.floor(F.col(bx) / cs).cast("long"))
        .withColumn("_bcy", F.floor(F.col(by) / cs).cast("long"))
        .withColumn("_dx", off)
        .withColumn("_dy", off)
        .withColumn("_cx", F.col("_bcx") + F.col("_dx"))
        .withColumn("_cy", F.col("_bcy") + F.col("_dy"))
        .drop("_bcx", "_bcy", "_dx", "_dy")
    )
    dist2 = (F.col(ax) - F.col(bx)) ** 2 + (F.col(ay) - F.col(by)) ** 2
    return (
        an.join(bn, ["_cx", "_cy"])
        .where(dist2 < F.lit(cs * cs))
        .drop("_cx", "_cy")
    )


def convex_hull_agg(
    df: DataFrame, keys: list[str], wkt_col: str, salt: int = 16
) -> DataFrame:
    """convex_hull_agg(geometry) GROUP BY keys (reference
    plugin/trino-geospatial aggregation ConvexHullAggregation): the
    convex hull of every geometry in the group, as WKT.

    Scale shape: hull-of-hulls is the hull, so the fold is two-stage —
    stage 1 reduces each (key, salt) subgroup to one partial hull
    (bounded output: a hull's vertex count <= its input's), stage 2
    merges <=`salt` partial hulls per key. Both stages are Arrow-batched
    applyInPandas over the kernel; the wide shuffle carries only partial
    hulls, mirroring the reference's partial/final accumulator split."""
    from pyspark.sql.types import StringType, StructField, StructType

    from witdb_spark.functions.geometry import _GEO_SRC

    keys = list(keys)
    schema = StructType(
        [df.schema[k] for k in keys] + [StructField("hull", StringType())]
    )

    def _fold(cols):
        def fold(pdf):
            import pandas as pd

            ns: dict = {}
            exec(_GEO_SRC, ns)
            pts = []
            for w in pdf[cols]:
                if w is None:
                    continue
                k, d = ns["parse"](w)
                if d is not None:
                    pts.extend(ns["_all_points"](k, d))
            row = {k: [pdf[k].iloc[0]] for k in keys}
            if not pts:
                row["hull"] = [None]
            elif len(set(pts)) == 1:
                row["hull"] = [ns["emit"]("POINT", pts[0])]
            else:
                hull = ns["_hull_pts"](pts)
                if len(hull) == 1:
                    row["hull"] = [ns["emit"]("POINT", hull[0])]
                elif len(hull) == 2:
                    row["hull"] = [ns["emit"]("LINESTRING", hull)]
                else:
                    row["hull"] = [ns["emit"]("POLYGON", [hull])]
            return pd.DataFrame(row)

        return fold

    part_schema = StructType(
        [df.schema[k] for k in keys]
        + [StructField("__salt", StringType()), StructField("hull", StringType())]
    )

    def partial(pdf):
        import pandas as pd

        out = _fold(wkt_col)(pdf)
        out["__salt"] = pdf["__salt"].iloc[0]
        return out[[*keys, "__salt", "hull"]]

    salted = df.select(
        *keys, wkt_col, (F.crc32(F.col(wkt_col)) % salt).cast("string").alias("__salt")
    )
    partials = salted.groupBy(*keys, "__salt").applyInPandas(
        partial, part_schema
    )
    return partials.groupBy(*keys).applyInPandas(_fold("hull"), schema)


def geometry_union_agg(
    df: DataFrame, keys: list[str], wkt_col: str, salt: int = 16
) -> DataFrame:
    """geometry_union_agg(geometry) GROUP BY keys (reference
    plugin/trino-geospatial aggregation GeometryUnionAgg): the union of
    every polygonal geometry in the group, as WKT.

    Scale shape: union is associative, so the fold is two-stage like
    convex_hull_agg — stage 1 reduces each (key, salt) subgroup to one
    partial union via the snapped planar-arrangement kernel
    (functions/geometry.py union_many), stage 2 unions <=`salt` partials
    per key. The wide shuffle carries only partial unions (dissolved
    boundaries — bounded by the union's own complexity, not the input
    count), mirroring the reference's partial/final accumulator split."""
    from pyspark.sql.types import StringType, StructField, StructType

    from witdb_spark.functions.geometry import _GEO_SRC

    keys = list(keys)
    schema = StructType(
        [df.schema[k] for k in keys] + [StructField("geom", StringType())]
    )

    def _fold(col):
        def fold(pdf):
            import pandas as pd

            ns: dict = {}
            exec(_GEO_SRC, ns)
            row = {k: [pdf[k].iloc[0]] for k in keys}
            row["geom"] = [ns["union_many"](list(pdf[col]))]
            return pd.DataFrame(row)

        return fold

    part_schema = StructType(
        [df.schema[k] for k in keys]
        + [StructField("__salt", StringType()), StructField("geom", StringType())]
    )

    def partial(pdf):
        out = _fold(wkt_col)(pdf)
        out["__salt"] = pdf["__salt"].iloc[0]
        return out[[*keys, "__salt", "geom"]]

    salted = df.select(
        *keys, wkt_col,
        (F.crc32(F.col(wkt_col)) % salt).cast("string").alias("__salt"),
    )
    partials = salted.groupBy(*keys, "__salt").applyInPandas(
        partial, part_schema
    )
    return partials.groupBy(*keys).applyInPandas(_fold("geom"), schema)
