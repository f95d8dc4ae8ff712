"""Public operator façade mirroring the reference API surface
(geofileops ``geoops.py`` + ``fileops.py``), re-expressed as
``DataFrame -> DataFrame`` transforms.

A geofileops user maps each call 1:1: file paths become DataFrames
(``spark.read.parquet``/Iceberg), ``output_path`` becomes the returned
DataFrame (write it wherever), and per-row invariants (fid stability,
MULTI-forced geometry, empty-drop) follow the reference semantics
documented on each wrapped operator. Parameter names follow the
reference where they exist.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import st
from .operators.dissolve import dissolve, dissolve_within_distance  # noqa: F401
from .operators.join import (  # noqa: F401
    delete_duplicate_geometries,
    export_by_distance,
    export_by_location,
    join,
    join_by_location,
    join_nearest,
    join_points_in_polygons,
)
from .operators.overlay import (  # noqa: F401
    clip,
    difference,
    erase,
    identity,
    intersect,
    intersection,
    split,
    symmetric_difference,
    union,
)
from .operators.union_full import union_full_self  # noqa: F401
from .sqlops import select, select_two_layers  # noqa: F401

GEOM = "geom_wkb"


# ------------------------------------------------ single-layer transforms
def buffer(
    df: DataFrame,
    distance: float,
    quadrantsegments: int = 5,
    endcap_style: str = "round",
    join_style: str = "round",
    mitre_limit: float = 5.0,
    single_sided: bool = False,
    keep_empty_geoms: bool = False,
    where_post: str | None = None,
    geom_col: str = GEOM,
) -> DataFrame:
    """geofileops ``geoops.py:637-854``; negative distance keeps polygons
    only (ST_CollectionExtract(...,3) semantics)."""
    out = df.withColumn(
        geom_col,
        st.st_buffer(
            F.col(geom_col), distance, quadrantsegments, endcap_style,
            join_style, mitre_limit, single_sided,
        ),
    )
    return _tail(out, geom_col, keep_empty_geoms, where_post)


def convexhull(df: DataFrame, geom_col: str = GEOM, **kw) -> DataFrame:
    """geofileops ``geoops.py:908-982``."""
    return _tail(df.withColumn(geom_col, st.st_convexhull(F.col(geom_col))), geom_col, **kw)


def simplify(
    df: DataFrame,
    tolerance: float,
    algorithm: str = "rdp",
    geom_col: str = GEOM,
    **kw,
) -> DataFrame:
    """geofileops ``geoops.py:1787``; algorithms: rdp (default), vw."""
    return _tail(
        df.withColumn(geom_col, st.st_simplify(F.col(geom_col), tolerance, algorithm)),
        geom_col, **kw,
    )


def makevalid(df: DataFrame, geom_col: str = GEOM, **kw) -> DataFrame:
    """geofileops ``geoops.py:1420``: fix only invalid geometries."""
    return _tail(df.withColumn(geom_col, st.st_makevalid(F.col(geom_col))), geom_col, **kw)


def isvalid(
    df: DataFrame, geom_col: str = GEOM, validate_attribute_data: bool = False
) -> DataFrame:
    """geofileops ``geoops.py:1315``: report layer of invalid rows with
    reason + error location (ST_IsValidDetail shape).

    ``validate_attribute_data`` is the parquet twin of the reference's
    ``test_data_integrity`` full-table read (``_geoops_sql.py:252-326``
    second half, ``_sqlite_util.py:1291-1318``): every attribute column
    is forced through a complete scan+decode (xxhash64 per value defeats
    column-chunk statistics short-circuits), so corrupt pages or
    dictionaries surface as task failures here instead of mid-pipeline.
    """
    if validate_attribute_data:
        df.select(
            [F.count(F.xxhash64(F.col(c))).alias(c) for c in df.columns]
        ).collect()
    out = df.withColumn("_detail", st.st_isvaliddetail(F.col(geom_col)))
    out = (
        out.withColumn("isvalid", F.col("_detail.valid"))
        .withColumn("isvalidreason", F.col("_detail.reason"))
        .withColumn("isvalidlocation", F.col("_detail.location"))
        .drop("_detail")
    )
    return out.where(~F.col("isvalid"))


def apply_vectorized(df: DataFrame, func, geom_col: str = GEOM, **kw) -> DataFrame:
    """geofileops ``geoops.py:524-634``: user function over the decoded
    geometry array — THE extension point. ``func(Geometry) -> Geometry``
    runs inside one Arrow batch (no per-row Python API is offered, per
    the input_hint ban on row-at-a-time UDFs)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from .functions.st import _map_geom

    @pandas_udf(BinaryType())
    def _apply(wkb: pd.Series) -> pd.Series:
        return pd.Series(_map_geom(wkb, func))

    return _tail(df.withColumn(geom_col, _apply(F.col(geom_col))), geom_col, **kw)


def warp(df: DataFrame, matrix=None, gcps=None, algorithm: str = "polynomial",
         order: int | None = None, geom_col: str = GEOM, **kw) -> DataFrame:
    """geofileops ``geoops.py:1561`` -> ``_geoops_ogr.py:80-110``: either
    an explicit affine ``matrix`` (a, b, c, d, e, f) or ``gcps`` with
    ``algorithm`` polynomial (order 1-3) / tps."""
    if gcps is not None:
        return _tail(
            df.withColumn(
                geom_col, st.st_warp_gcps(F.col(geom_col), gcps, algorithm, order)
            ),
            geom_col, **kw,
        )
    return _tail(df.withColumn(geom_col, st.st_affine(F.col(geom_col), matrix)), geom_col, **kw)


def reduceprecision(df: DataFrame, gridsize: float, geom_col: str = GEOM, **kw) -> DataFrame:
    """gridsize snap (GFO_ReducePrecision twin)."""
    return _tail(
        df.withColumn(geom_col, st.st_reduceprecision(F.col(geom_col), gridsize)),
        geom_col, **kw,
    )


def collection_extract(df: DataFrame, primitivetype: int, geom_col: str = GEOM, **kw) -> DataFrame:
    """Keep only parts of the primitive type (1=point,2=line,3=poly)."""
    return _tail(
        df.withColumn(geom_col, st.st_collectionextract(F.col(geom_col), primitivetype)),
        geom_col, **kw,
    )


def explodecollections(df: DataFrame, geom_col: str = GEOM) -> DataFrame:
    """multi -> single parts, one output row per part."""
    return (
        df.where(F.col(geom_col).isNotNull())
        .withColumn("_parts", st.st_parts(F.col(geom_col)))
        .withColumn(geom_col, F.explode("_parts"))
        .drop("_parts")
    )


def remove_slivers(df: DataFrame, tolerance: float, geom_col: str = GEOM) -> DataFrame:
    """Drop sliver polygons (geofileops sliver filter,
    ``_geoops_sql.py:4059-4130``)."""
    return df.where(~F.coalesce(st.st_issliver(F.col(geom_col), tolerance), F.lit(False)))


def _literal_layer(spark, wkt: str, geom_col: str) -> DataFrame:
    """One-row ``(fid, geom_col)`` layer of a literal WKT, parsed on the
    driver into a LocalRelation: Catalyst sizes it, so ``pairing.choose``
    can broadcast it."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from .geometry import wkb as W
    from .session import local_frame

    schema = StructType(
        [StructField("fid", LongType()), StructField(geom_col, BinaryType())]
    )
    return local_frame(spark, [(1, W.dumps(W.from_wkt(wkt)))], schema)


def clip_by_geometry(df: DataFrame, clip_wkt: str, geom_col: str = GEOM, **kw) -> DataFrame:
    """Clip against one literal WKT geometry (geofileops ``geoops.py:857``)."""
    blade = _literal_layer(df.sparkSession, clip_wkt, geom_col)
    return clip(df, blade, geom_col=geom_col, **kw)


def export_by_bounds(df: DataFrame, bounds, geom_col: str = GEOM) -> DataFrame:
    """bbox prefilter + exact intersects (geofileops ``_geoops_ogr.py:17-78``)."""
    minx, miny, maxx, maxy = bounds
    wkt = (
        f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy}, "
        f"{minx} {maxy}, {minx} {miny}))"
    )
    blade = _literal_layer(df.sparkSession, wkt, geom_col)
    return export_by_location(df, blade, "intersects is True", geom_col=geom_col)


# --------------------------------------------------- table/layer utilities
def concat_layers(dfs: list[DataFrame]) -> DataFrame:
    """geofileops ``geoops.py:2029-2137``: union-by-name, NULL-fill for
    missing columns."""
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def copy_layer(df: DataFrame, dst_path: str, mode: str = "overwrite", fmt: str = "parquet") -> None:
    """geofileops ``fileops.py:3043`` — format conversion / append."""
    df.write.mode(mode).format(fmt).save(dst_path)


# named convenience twins of the reference's file API, all thin wrappers
# over copy_layer / concat_layers (the table semantics are identical):
def concat(dfs: list[DataFrame]) -> DataFrame:
    """geofileops ``geoops.py:2029`` name; alias of concat_layers."""
    return concat_layers(dfs)


def convert(df: DataFrame, dst_path: str, fmt: str = "parquet") -> None:
    """geofileops ``fileops.py:2999``: format conversion = overwrite copy."""
    copy_layer(df, dst_path, mode="overwrite", fmt=fmt)


def append_to(df: DataFrame, dst_path: str, fmt: str = "parquet") -> None:
    """geofileops ``fileops.py:2909``: append rows to an existing layer."""
    copy_layer(df, dst_path, mode="append", fmt=fmt)


def to_file(df: DataFrame, dst_path: str, append: bool = False, fmt: str = "parquet") -> None:
    """geofileops ``fileops.py:2230``: write a layer (optionally append)."""
    copy_layer(df, dst_path, mode="append" if append else "overwrite", fmt=fmt)


def execute_sql(spark, sql: str) -> DataFrame:
    """geofileops ``fileops.py`` execute_sql analogue: run an arbitrary
    statement with the ``st_*``/``gfo_*`` function surface registered
    (the reference loads spatialite into its connection; here the
    sqlops registry plays that role)."""
    from .functions.st import register_sql_functions

    register_sql_functions(spark)
    return spark.sql(sql)


def get_default_layer(spark, only_spatial_layers: bool = True) -> str | None:
    """geofileops ``fileops.py:562``: the single layer a path implies —
    first catalog layer by name (None when the catalog is empty)."""
    names = listlayers(spark, only_spatial_layers=only_spatial_layers)
    return names[0] if names else None


def get_only_layer(spark, only_spatial_layers: bool = True) -> str:
    """geofileops get_only_layer: the catalog's single layer; raises
    when there is none or more than one (reference semantics)."""
    names = listlayers(spark, only_spatial_layers=only_spatial_layers)
    if len(names) != 1:
        raise ValueError(f"expected exactly one layer, found {len(names)}: {names}")
    return names[0]


def get_layerinfo(df: DataFrame, geom_col: str = GEOM) -> dict:
    """geofileops ``fileops.py:322`` LayerInfo analogue: featurecount,
    total_bounds, geometry types, columns."""
    from .functions.st import st_geometrytype, st_maxx, st_maxy, st_minx, st_miny

    stats = df.agg(
        F.count("*").alias("n"),
        F.min(st_minx(F.col(geom_col))).alias("minx"),
        F.min(st_miny(F.col(geom_col))).alias("miny"),
        F.max(st_maxx(F.col(geom_col))).alias("maxx"),
        F.max(st_maxy(F.col(geom_col))).alias("maxy"),
    ).collect()[0]
    gtypes = [
        r[0]
        for r in df.select(st_geometrytype(F.col(geom_col)).alias("t")).distinct().collect()
        if r[0] is not None
    ]
    return {
        "featurecount": stats["n"],
        "total_bounds": (stats["minx"], stats["miny"], stats["maxx"], stats["maxy"]),
        "geometrytypes": sorted(gtypes),
        "columns": [c for c in df.columns if c != geom_col],
        "geometrycolumn": geom_col,
    }


def set_crs(df: DataFrame, crs: str, geom_col: str = GEOM) -> DataFrame:
    """Record the CRS on the geometry column's schema metadata (the
    engine itself is planar/CRS-agnostic, like the reference's SQL core —
    CRS is carried as layer metadata, geofileops ``fileops.py:2611``)."""
    meta = dict(df.schema[geom_col].metadata or {})
    meta["crs"] = crs
    return df.withMetadata(geom_col, meta)


def get_crs(df: DataFrame, geom_col: str = GEOM) -> str | None:
    """CRS recorded via :func:`set_crs` (None when absent) — the
    ``fileops.py:2611`` analogue. Survives select/filter/join lineage
    because Spark propagates column metadata."""
    try:
        return (df.schema[geom_col].metadata or {}).get("crs")
    except KeyError:
        return None


def rename_layer(spark, layer: str, new_layer: str) -> None:
    """Re-register a temp-view layer under a new name (the multi-layer
    file rename, ``fileops.py:847`` — our 'layers' are temp views over
    parquet)."""
    df = spark.table(layer)
    df.createOrReplaceTempView(new_layer)
    spark.catalog.dropTempView(layer)


def listlayers(spark, only_spatial_layers: bool = True) -> list[str]:
    """geofileops ``fileops.py:114``: enumerate the layers of the current
    catalog — our 'layers' are registered views/tables.  With
    ``only_spatial_layers`` keep only those exposing a binary geometry
    column (the WKB ``geom_wkb`` convention), mirroring the reference's
    spatial-vs-attribute table split."""
    names = [t.name for t in spark.catalog.listTables()]
    if not only_spatial_layers:
        return sorted(names)
    out = []
    for n in names:
        try:
            schema = spark.table(n).schema
        except Exception:
            continue
        if any(
            f.name == GEOM or f.dataType.simpleString() == "binary" for f in schema
        ):
            out.append(n)
    return sorted(out)


def add_column(df: DataFrame, name: str, expression: str) -> DataFrame:
    """geofileops ``fileops.py:1000`` (SQL expression)."""
    return df.withColumn(name, F.expr(expression))


def add_columns(df: DataFrame, new_columns: list[tuple]) -> DataFrame:
    """geofileops ``fileops.py:1169``: batch column add. Each tuple is
    ``(name, type)`` or ``(name, type, sql_expression)``; without an
    expression the column is NULL of the given type.  Like the reference,
    expressions may NOT reference sibling columns added in the same call
    (all are evaluated against the input schema) — enforced by building
    every value expression before any ``withColumns``."""
    vals = {}
    for spec in new_columns:
        if len(spec) == 2:
            name, dtype = spec
            expr = None
        else:
            name, dtype, expr = spec
        vals[name] = (
            F.lit(None).cast(str(dtype)) if expr is None
            else F.expr(expr).cast(str(dtype))
        )
    return df.withColumns(vals)


def drop_column(df: DataFrame, name: str) -> DataFrame:
    return df.drop(name)


def rename_column(df: DataFrame, old: str, new: str) -> DataFrame:
    return df.withColumnRenamed(old, new)


def update_column(df: DataFrame, name: str, expression: str, where: str | None = None) -> DataFrame:
    """geofileops ``fileops.py:1522``: UPDATE col = expr [WHERE ...]."""
    val = F.expr(expression)
    if where:
        val = F.when(F.expr(where), val).otherwise(F.col(name))
    return df.withColumn(name, val)


def read_file(
    spark,
    path: str,
    columns: list[str] | None = None,
    where: str | None = None,
    bbox=None,
    geom_col: str = GEOM,
) -> DataFrame:
    """geofileops ``fileops.py:1621-1743``: read with column/attribute/bbox
    pushdown (columns + where reach the parquet scan via Catalyst)."""
    df = spark.read.parquet(path)
    if where:
        df = df.where(F.expr(where))
    if bbox is not None:
        df = export_by_bounds(df, bbox, geom_col=geom_col)
    if columns is not None:
        keep = list(columns) + ([geom_col] if geom_col in df.columns else [])
        df = df.select(*keep)
    return df


def read_file_nogeom(
    spark,
    path: str,
    columns: list[str] | None = None,
    where: str | None = None,
    geom_col: str = GEOM,
) -> DataFrame:
    """geofileops ``fileops.py:1746`` (deprecated there in favour of
    ``read_file(ignore_geometry=True)``): attribute-only read — the
    geometry column never leaves the parquet scan (column pruning)."""
    df = spark.read.parquet(path)
    if where:
        df = df.where(F.expr(where))
    keep = columns if columns is not None else [c for c in df.columns if c != geom_col]
    return df.select(*[c for c in keep if c != geom_col])


def read_file_sql(
    spark,
    path: str,
    sql_stmt: str,
    layer: str | None = None,
    ignore_geometry: bool = False,
    geom_col: str = GEOM,
) -> DataFrame:
    """geofileops ``fileops.py:2192`` (deprecated convenience): read a
    file through a SQL statement.  The statement references the layer via
    the reference's ``{input_layer}``/``{geometrycolumn}`` placeholders
    (or the ``layer`` name verbatim); runs through :func:`sqlops.select`
    so the full placeholder set works."""
    df = spark.read.parquet(path)
    if layer is not None:
        import re as _re

        sql_stmt = _re.sub(
            r'"?\b%s\b"?' % _re.escape(layer), "{input_layer}", sql_stmt
        )
    out = select(df, sql_stmt, geom_col=geom_col)
    if ignore_geometry and geom_col in out.columns:
        out = out.drop(geom_col)
    return out


# ----------------------------------------------------------------- shared
def _tail(
    df: DataFrame,
    geom_col: str,
    keep_empty_geoms: bool = False,
    where_post: str | None = None,
) -> DataFrame:
    """Reference output conventions: drop NULL/EMPTY geometries unless
    keep_empty_geoms (``_geoops_sql.py:731-738``), then where_post."""
    if not keep_empty_geoms:
        df = df.where(F.col(geom_col).isNotNull() & ~st.st_isempty(F.col(geom_col)))
    if where_post:
        df = df.where(F.expr(where_post))
    return df


def create_spatial_index(df: DataFrame, res: int = 12, geom_col: str = GEOM) -> DataFrame:
    """The Spark-native 'spatial index' (geofileops ``fileops.py:621``):
    a cell-id column + repartition-and-sort clustering so a written table
    is physically co-located by cell (write-time z-order analogue).
    Downstream cell joins and bbox predicates prune on it."""
    from .operators.dissolve import _cell_of_bbox_center
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _cell(wkb: pd.Series) -> pd.Series:
        return _cell_of_bbox_center(wkb, res)

    out = df.withColumn("cell", _cell(F.col(geom_col)))
    return out.repartition("cell").sortWithinPartitions("cell")


def has_spatial_index(df: DataFrame) -> bool:
    return "cell" in df.columns


def remove_spatial_index(df: DataFrame) -> DataFrame:
    return df.drop("cell")


def get_layer_geometrytypes(df: DataFrame, geom_col: str = GEOM) -> list[str]:
    """geofileops ``fileops.py:287``."""
    return get_layerinfo(df, geom_col)["geometrytypes"]
