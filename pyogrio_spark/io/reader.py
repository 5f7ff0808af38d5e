"""Bulk scan API — the Spark re-expression of ``pyogrio.raw.read``.

Reference contract: /root/reference/pyogrio/raw.py:39-218 and the Cython
scan ``ogr_read`` (/root/reference/pyogrio/_io.pyx:1621-1875). Parameter
semantics preserved:

- ``columns``: exact-name projection, **source order preserved**,
  duplicates dropped (/root/reference/pyogrio/_io.pyx:1741-1763; order
  tested at /root/reference/pyogrio/tests/test_raw_io.py:167-173).
- ``where``: restricted SQL predicate; pyogrio pushes it into the OGR
  driver (/root/reference/pyogrio/_io.pyx:823-859); here Catalyst pushes
  it into the Parquet scan. OGRSQL's operator set is a strict subset of
  Spark SQL, so any valid reference ``where`` runs unchanged.
- ``bbox``: *intersects* semantics (/root/reference/pyogrio/_io.pyx:862-884,
  exactness note core.py:207-212) — coarse envelope-column predicate
  (prunable by Parquet min/max stats) + exact refine for non-point rows.
- ``mask``: arbitrary-geometry intersects (/root/reference/pyogrio/_io.pyx:887-908)
  — coarse covering-cell predicate + exact vectorized refine.
  ``bbox`` and ``mask`` are mutually exclusive (_io.pyx:1682-1683).
- ``fids``: point lookups, exclusive with every other filter
  (/root/reference/pyogrio/_io.pyx:1658-1670).
- ``skip_features``/``max_features``: row range over an explicit
  deterministic ordering — Spark has no source order, so the engine
  defines it as (cell_id, doc_id)/(fid) (SURVEY.md §7 hard part 2).
- ``sql`` then filters: pyogrio applies where/bbox *after* a ``sql``
  result (/root/reference/pyogrio/raw.py:128-135); we preserve that
  composition order (Catalyst may still fuse them — same results).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pyogrio_spark.errors import DataLayerError
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import PreparedPolygon, batch_intersects, batch_intersects_box
from pyogrio_spark.index.cover import cover_polygon
from pyogrio_spark.operators.rank import BUCKET, bucket_offsets, range_bucket, sort_exprs

DEFAULT_RES = 7

GEOMETRY_COL = "geometry_wkb"
BOUNDS_COLS = ("xmin", "ymin", "xmax", "ymax")


def _load(spark: SparkSession, source) -> DataFrame:
    if isinstance(source, DataFrame):
        return source
    return spark.read.parquet(str(source))


def _order_cols(df: DataFrame) -> list[str]:
    for cand in (["cell_id", "doc_id"], ["doc_id"], ["fid"]):
        if all(c in df.columns for c in cand):
            return cand
    return [df.columns[0]]


def read_table(
    spark: SparkSession,
    source,
    columns: list[str] | None = None,
    read_geometry: bool = True,
    where: str | None = None,
    bbox: tuple[float, float, float, float] | None = None,
    mask: bytes | None = None,
    fids: list | None = None,
    fid_column: str = "doc_id",
    skip_features: int = 0,
    max_features: int | None = None,
    sql: str | None = None,
    sql_dialect: str | None = None,
    layer_name: str | None = None,
    res: int = DEFAULT_RES,
    force_2d: bool = False,
    on_invalid: str = "raise",
) -> DataFrame:
    """Bulk columnar scan with pyogrio's filter semantics (see module doc).

    ``force_2d`` strips Z at read (reference _io.pyx:1012-1013) by
    re-encoding the geometry column (2-D point rows pass through
    untouched); ``on_invalid`` is the raise/warn/ignore/fix policy of
    /root/reference/pyogrio/geopandas.py:273-285 applied during that
    normalization."""
    if bbox is not None and mask is not None:
        # mirror /root/reference/pyogrio/_io.pyx:1682-1683
        raise ValueError("cannot set both 'bbox' and 'mask'")
    if fids is not None and (where or bbox is not None or mask is not None or skip_features or max_features):
        # mirror /root/reference/pyogrio/_io.pyx:1658-1670
        raise ValueError("'fids' may not be combined with other filters or ranges")

    df = _load(spark, source)

    sql_order = None
    if sql is not None:
        from pyogrio_spark.sql_dialect import apply_sql_dialect

        if layer_name is None:
            if isinstance(source, DataFrame):
                layer_name = "layer"
            else:
                stem = os.path.basename(str(source))
                layer_name = stem.split(".", 1)[0] or "layer"
        eff_fid = fid_column if fid_column in df.columns else "fid"
        df, sql_order = apply_sql_dialect(
            spark, df, sql, sql_dialect, layer_name=layer_name,
            geometry_col=GEOMETRY_COL, fid_column=eff_fid,
        )

    # file sources carry the reference's "fid" column; the default
    # fid_column targets the testdata tables' doc_id — fall back so
    # fids=/skip/max work unchanged through every dispatch route
    if fid_column not in df.columns and "fid" in df.columns:
        fid_column = "fid"

    if fids is not None:
        df = df.filter(F.col(fid_column).isin(list(fids)))

    if where:
        df = df.filter(F.expr(where))

    if bbox is not None:
        df = _apply_bbox(df, bbox)

    if mask is not None:
        df = _apply_mask(df, mask, res)

    if skip_features or max_features is not None:
        df = _apply_range(df, skip_features, max_features, order=sql_order)

    if force_2d and GEOMETRY_COL in df.columns:
        df = df.withColumn(GEOMETRY_COL, _normalize_2d_udf(on_invalid)(F.col(GEOMETRY_COL)))

    if columns is not None:
        # exact-name match, source order, dedup (reference _io.pyx:1741-1763)
        seen: set[str] = set()
        keep = [c for c in df.columns if c in set(columns) and not (c in seen or seen.add(c))]
        extra = ([GEOMETRY_COL] if read_geometry and GEOMETRY_COL in df.columns and GEOMETRY_COL not in keep else [])
        df = df.select(*keep, *extra)
    elif not read_geometry and GEOMETRY_COL in df.columns:
        df = df.drop(GEOMETRY_COL)

    return df


def _normalize_2d_udf(on_invalid: str):
    """Geometry-column normalizer for force_2d: 2-D points (21-byte WKB)
    pass through untouched; everything else re-encodes without Z, with
    curve linearization for free (parse linearizes). Invalid rows follow
    the on_invalid policy (fix closes unclosed rings)."""

    @pandas_udf("binary")
    def _norm(wkb: pd.Series) -> pd.Series:
        vals = wkb.to_numpy()
        out = []
        for b in vals:
            if b is None:
                out.append(None)
            elif len(b) == 21 and bytes(b[:5]) == W._POINT_LE_2D:
                out.append(bytes(b))
            else:
                g = W.from_wkb(bytes(b), force_2d=True, on_invalid=on_invalid)
                out.append(None if g is None else W.encode_geom(g))
        return pd.Series(out)

    return _norm


def _coarse_bbox_pred(xmin, ymin, xmax, ymax):
    return (
        (F.col("xmin") <= F.lit(xmax))
        & (F.col("xmax") >= F.lit(xmin))
        & (F.col("ymin") <= F.lit(ymax))
        & (F.col("ymax") >= F.lit(ymin))
    )


def _apply_bbox(df: DataFrame, bbox) -> DataFrame:
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    if all(c in df.columns for c in BOUNDS_COLS):
        df = df.filter(_coarse_bbox_pred(xmin, ymin, xmax, ymax))
    if GEOMETRY_COL not in df.columns:
        return df

    @pandas_udf("boolean")
    def _refine(wkb: pd.Series) -> pd.Series:
        vals = wkb.to_numpy()
        # point fast path: skip the parse loop for uniform 2-D point batches
        if all(isinstance(b, (bytes, bytearray)) and len(b) == 21 for b in vals):
            lon, lat = W.decode_points(vals, on_invalid="ignore")
            return pd.Series((lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax))
        # generic path: vectorized CLOSED-interval box intersects — point
        # rows get the identical closed test as the fast path (result no
        # longer depends on the Arrow batch's composition), non-points
        # are boundary-inclusive like GEOS intersects
        return pd.Series(batch_intersects_box(xmin, ymin, xmax, ymax, vals))

    return df.filter(_refine(F.col(GEOMETRY_COL)))


def _apply_mask(df: DataFrame, mask_wkb: bytes, res: int) -> DataFrame:
    prep_check = PreparedPolygon(mask_wkb)  # validates polygonal mask early
    mxmin, mymin, mxmax, mymax = prep_check.bbox
    if all(c in df.columns for c in BOUNDS_COLS):
        df = df.filter(_coarse_bbox_pred(mxmin, mymin, mxmax, mymax))
    if "cell_id" in df.columns:
        cells, full = cover_polygon(mask_wkb, res)
        df = df.filter(F.col("cell_id").isin([int(c) for c in cells]))

    @pandas_udf("boolean")
    def _refine(wkb: pd.Series) -> pd.Series:
        prep = PreparedPolygon(mask_wkb)
        vals = wkb.to_numpy()
        if all(isinstance(b, (bytes, bytearray)) and len(b) == 21 for b in vals):
            lon, lat = W.decode_points(vals, on_invalid="ignore")
            return pd.Series(prep.contains_points(lon, lat))
        # batch kernel: point rows go through the same contains_points
        # ray-cast as the uniform fast path; lines/polygons are refined
        # with whole-batch numpy ops, no per-row Python
        return pd.Series(batch_intersects(prep, vals))

    if GEOMETRY_COL in df.columns:
        df = df.filter(_refine(F.col(GEOMETRY_COL)))
    return df


def _apply_range(
    df: DataFrame,
    skip: int,
    maxf: int | None,
    order: list[tuple[str, bool]] | None = None,
) -> DataFrame:
    """``order`` overrides the deterministic-key ranking with an
    explicit [(column, ascending), ...] — used by the ``sql=`` path so
    skip/max ranges follow the statement's ORDER BY (reference
    semantics: ranges apply to the SQL result order)."""
    for c, _ in order or ():
        if c not in df.columns:
            raise DataLayerError(
                f"skip_features/max_features follow the sql ORDER BY, but ORDER BY "
                f"column {c!r} is not in the statement's result; select it"
            )
    order = order or _order_cols(df)
    if skip:
        # distributed global rank (operators/rank.py), never the one-task
        # global Window.orderBy(...) row_number
        df = range_bucket(df, order)
        rank = F.row_number().over(Window.partitionBy(BUCKET).orderBy(*sort_exprs(order)))
        df = (
            df.withColumn("_rn", rank + bucket_offsets(df, F.lit(1)))
            .filter(F.col("_rn") > skip)
            .drop("_rn", BUCKET)
        )
    if maxf is not None:
        # sort+limit compiles to TakeOrderedAndProject: per-partition top-M
        # then a single M-row merge — no full global sort
        df = df.sort(*sort_exprs(order)).limit(int(maxf))
    return df


# ------------------------------------------------------------- metadata ops

@dataclass
class LayerInfo:
    """Mirror of pyogrio.read_info output
    (/root/reference/pyogrio/_io.pyx:2308-2405, core.py:241-327)."""

    layer_name: str
    crs: str
    fields: list[str] = field(default_factory=list)
    dtypes: list[str] = field(default_factory=list)
    geometry_type: str | None = None
    geometry_name: str | None = None
    fid_column: str = ""
    features: int = -1
    total_bounds: tuple | None = None
    driver: str = "parquet"
    capabilities: dict = field(default_factory=dict)


def read_info(
    spark: SparkSession,
    source,
    layer_name: str = "layer",
    force_feature_count: bool = False,
    force_total_bounds: bool = False,
    crs: str = "EPSG:4326",
) -> LayerInfo:
    # committed tables carry CRS as a table property
    # (the reference stores CRS per layer, /root/reference/pyogrio/_io.pyx:426-478)
    df = None
    if isinstance(source, str):
        import os as _os

        from pyogrio_spark.io.writer import _read_manifest, read_committed

        if _os.path.exists(_os.path.join(source, "_manifest.json")):
            crs = _read_manifest(source)["properties"].get("crs", crs)
            df = read_committed(spark, source)
    if df is None:
        df = _load(spark, source)
    non_geom = [f for f in df.schema.fields if f.name != GEOMETRY_COL]
    geom_type = None
    if GEOMETRY_COL in df.columns:
        first = df.select(GEOMETRY_COL).filter(F.col(GEOMETRY_COL).isNotNull()).head(1)
        if first:
            geom_type = W.geom_type_name(bytes(first[0][0]))
    info = LayerInfo(
        layer_name=layer_name,
        crs=crs,
        fields=[f.name for f in non_geom],
        dtypes=[f.dataType.simpleString() for f in non_geom],
        geometry_type=geom_type,
        geometry_name=GEOMETRY_COL if GEOMETRY_COL in df.columns else None,
        fid_column="doc_id" if "doc_id" in df.columns else ("fid" if "fid" in df.columns else ""),
        capabilities={
            "fast_feature_count": True,  # parquet footer row counts
            "fast_total_bounds": all(c in df.columns for c in BOUNDS_COLS),
            "fast_spatial_filter": "cell_id" in df.columns,
            "fast_set_next_by_index": False,
        },
    )
    if force_feature_count:
        info.features = df.count()
    if force_total_bounds:
        info.total_bounds = total_bounds(df)
    return info


def total_bounds(df: DataFrame) -> tuple:
    """Extent aggregate (reference ``get_total_bounds``,
    /root/reference/pyogrio/_io.pyx:584-610); min/max over persisted
    envelope columns — satisfied from Parquet column stats when possible."""
    r = df.agg(
        F.min("xmin").alias("xmin"),
        F.min("ymin").alias("ymin"),
        F.max("xmax").alias("xmax"),
        F.max("ymax").alias("ymax"),
    ).head()
    return (r["xmin"], r["ymin"], r["xmax"], r["ymax"])


def read_bounds(
    spark: SparkSession,
    source,
    skip_features: int = 0,
    max_features: int | None = None,
    where: str | None = None,
    bbox=None,
    mask: bytes | None = None,
    fid_column: str = "doc_id",
) -> DataFrame:
    """(fid, xmin, ymin, xmax, ymax) scan without geometry/attributes —
    2-3x cheaper than a full read in the reference
    (/root/reference/pyogrio/core.py:172-238); here it additionally
    column-prunes the parquet scan to 5 columns."""
    df = read_table(
        spark, source, where=where, bbox=bbox, mask=mask,
        skip_features=skip_features, max_features=max_features,
        read_geometry=True,
    )
    if not all(c in df.columns for c in BOUNDS_COLS):
        from pyogrio_spark.functions.geo import bounds_columns

        df = bounds_columns(df)
    return df.select(fid_column, *BOUNDS_COLS)


def list_layers(spark: SparkSession, sources: dict) -> list[tuple[str, str | None]]:
    """(name, geometry_type) per layer (reference ``ogr_list_layers``,
    /root/reference/pyogrio/_io.pyx:2408-2440); sources: name -> path/DataFrame."""
    out = []
    for name, src in sources.items():
        info = read_info(spark, src, layer_name=name)
        out.append((name, info.geometry_type))
    return out
