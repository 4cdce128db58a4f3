"""Geo join/filter: point-in-polygon (`geography_intersects`).

Reference: query/geo_intersects.cu (ray-casting point-in-polygon on the
GPU); compile constraints at query/aql_compiler.go:199-257; shape model =
polygons with holes, GeoShape = array of rings of (lat, long) structs
(query/time_series_aggregate.h:398-402), here
``array<array<struct<lat: float, long: float>>>``. Even-odd (ray cast)
rule: a point in an odd number of rings is inside (holes subtract).

Spark design: shapes are a *small* dimension table (city boundaries etc.)
→ broadcast; the predicate is a deterministic expression over
(shape, lat, lng). The ray-cast itself runs as a JVM-side higher-order
aggregate over the ring arrays — no Python UDF, so the broadcast join +
predicate stays inside codegen. Every builder here maps Spark-SQL text
arguments to Spark-SQL text; lambda variables carry a ``geo_`` prefix so
they cannot shadow a column the arguments name.
"""

from __future__ import annotations

from aresdb_spark.aql import expr as _expr
from aresdb_spark.operators.util import let, lit


def point_in_ring(ring: str, lat: str, lng: str) -> str:
    """Ray-casting crossing test for one ring (array<struct<lat,long>>).

    Crossing count parity via fold over vertex pairs: for each edge
    (i, i+1), count if the horizontal ray from the point crosses it.
    Matches the reference's even-odd kernel (geo_intersects.cu)."""
    def vertex(k: int, field: str) -> str:   # element_at is 1-based
        return f"CAST(element_at({ring}, (geo_i + {k})).`{field}` AS DOUBLE)"

    ay, ax = vertex(1, "long"), vertex(1, "lat")
    by, bx = vertex(2, "long"), vertex(2, "lat")
    crosses = (f"((({ay} > {lng}) != ({by} > {lng})) AND ({lat} < "
               f"(((({bx} - {ax}) * ({lng} - {ay})) / ({by} - {ay})) + {ax})))")
    crossings = (f"aggregate(sequence(0, (size({ring}) - 2)), 0, "
                 f"(geo_acc, geo_i) -> (geo_acc + "
                 f"CASE WHEN {crosses} THEN 1 ELSE 0 END))")
    return f"(({crossings} % 2) = 1)"


def geography_intersects(shape: str, lat: str, lng: str) -> str:
    """Point-in-shape with holes: inside an odd number of rings ⇒ inside
    (even-odd rule, like the reference kernel).

    A let-bound bounding-box precheck (one cheap least/greatest fold over
    the vertices) short-circuits the ray cast: points outside the bbox —
    the overwhelming majority when a fact table joins against many
    shapes — never pay the division-heavy crossing test. Result is
    identical (every ring lies inside the bbox)."""
    lat_d, lng_d = f"CAST({lat} AS DOUBLE)", f"CAST({lng} AS DOUBLE)"
    inside_bbox = (f"(((({lat_d} >= geo_bb.mnla) AND ({lat_d} <= geo_bb.mxla))"
                   f" AND ({lng_d} >= geo_bb.mnlo)) AND ({lng_d} <= geo_bb.mxlo))")
    ring_hits = (f"aggregate({shape}, 0, (geo_hits, geo_ring) -> (geo_hits + "
                 f"CASE WHEN {point_in_ring('geo_ring', lat_d, lng_d)} "
                 f"THEN 1 ELSE 0 END))")
    p_lat, p_lng = "CAST(geo_p.lat AS DOUBLE)", "CAST(geo_p.`long` AS DOUBLE)"
    bbox = (f"aggregate(flatten({shape}), struct(999.0D AS mnla, "
            f"-999.0D AS mxla, 999.0D AS mnlo, -999.0D AS mxlo), "
            f"(geo_box, geo_p) -> struct("
            f"least(geo_box.mnla, {p_lat}) AS mnla, "
            f"greatest(geo_box.mxla, {p_lat}) AS mxla, "
            f"least(geo_box.mnlo, {p_lng}) AS mnlo, "
            f"greatest(geo_box.mxlo, {p_lng}) AS mxlo))")
    return let(bbox, f"geo_bb -> CASE WHEN {inside_bbox} "
                     f"THEN (({ring_hits} % 2) = 1) ELSE FALSE END")


# GeoShapeFromString's ring split, EXACTLY (no space before the comma), so
# ingest-side and query-side accept the same inputs — a lenient variant
# here would parse strings the wire codec's parser rejects
_RING_SPLIT = lit(r"\),\s*\(")
_PAIR_SPLIT = lit(r"\s*,\s*")
_COORD_SPLIT = lit(r"\s+")


def wkt_to_geo_shape(col: str) -> str:
    """WKT-ish polygon string → GeoShape (array of rings of
    struct<lat,long>), entirely with built-in string/array functions so
    the conversion stays inside codegen — no Python in the path.

    Accepts the format GeoShapeFromString accepts
    (reference memstore/common/data_type.go:482-512):
    ``POLYGON ((lng lat, lng lat), (...))`` case-insensitively, lng
    first per WKT, stored lat-first like GeoPointGo. This is the bridge
    from wire-ingested shape columns (which the metastore types as
    string) to ``geography_intersects``."""
    body = f"regexp_replace(lower({col}), {lit('^[polygon() ]*')}, '')"
    body = f"regexp_replace({body}, {lit('[polygon() ]*$')}, '')"
    parts = f"split(trim(geo_pair), {_COORD_SPLIT})"
    pair = (f"struct(CAST(element_at({parts}, 2) AS FLOAT) AS lat, "
            f"CAST(element_at({parts}, 1) AS FLOAT) AS `long`)")
    return (f"transform(split({body}, {_RING_SPLIT}), geo_ring -> "
            f"transform(split(geo_ring, {_PAIR_SPLIT}), geo_pair -> {pair}))")


def _geo_fn(args: list[str]) -> str:
    # AQL surface: geography_intersects(shape_col, point_col) where point
    # is struct<lat,long>, OR (shape, lat, lng)
    if len(args) == 2:
        return geography_intersects(args[0], f"{args[1]}.lat",
                                    f"{args[1]}.`long`")
    return geography_intersects(args[0], args[1], args[2])


_expr.register_function("geography_intersects", _geo_fn)
_expr.register_function("geo_shape", lambda args: wkt_to_geo_shape(args[0]))
