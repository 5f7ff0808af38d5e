"""The workloads' operation sequences. Each operation calls only the
engine's public functions, is materialised by a checksum action that
consumes every output column, and carries an expected result computed
independently from the generated inputs (see expect.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

import expect as X
import gen as G

# ------------------------------------------------------------- checksums


def spark_checksum(df) -> dict:
    """One aggregation job over every output column; the same per-column
    sums as ``expect.checksum``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs, kinds = [F.count(F.lit(1)).alias("_rows")], []
    for i, f in enumerate(df.schema.fields):
        c, t = F.col(f"`{f.name}`"), f.dataType
        if isinstance(t, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            e, k = F.pmod(c.cast("long"), F.lit(X.MOD)), "i"
        elif isinstance(t, T.BooleanType):
            e, k = c.cast("long"), "i"
        elif isinstance(t, (T.DoubleType, T.FloatType, T.DecimalType)):
            e, k = c.cast("double"), "f"
        elif isinstance(t, T.StringType):
            e, k = F.crc32(c.cast("binary")), "s"
        elif isinstance(t, T.BinaryType):
            e, k = F.crc32(c), "b"
        else:
            raise TypeError(f"no checksum for column {f.name}: {t}")
        aggs.append(F.sum(e).alias(f"c{i}"))
        kinds.append((f.name, k))
    row = df.agg(*aggs).first()
    out: dict = {"_rows": int(row["_rows"])}
    for i, (name, k) in enumerate(kinds):
        v = row[f"c{i}"]
        out[name] = (k, (0.0 if k == "f" else 0) if v is None else (float(v) if k == "f" else int(v)))
    return out


@dataclass
class Op:
    """``plan`` makes the public call that returns the result object;
    ``run`` materialises it (the checksum action by default); ``check``
    compares against ``want`` and returns None or a reason."""

    name: str
    kind: str  # read | write | other
    plan: Callable[["Ctx"], Any]
    want: Any = None
    run: Callable[[Any], Any] = spark_checksum
    check: Callable[[Any, Any], str | None] | None = None
    ftol: float = 0.0
    tags: tuple = ()
    after: Callable[["Ctx", Any], None] | None = None

    def verdict(self, got) -> str | None:
        if self.check is not None:
            return self.check(got, self.want)
        return X.compare(got, self.want, self.ftol)


@dataclass
class Ctx:
    spark: Any
    work: str  # per-pass scratch directory, removed after the pass
    calls: list = field(default_factory=list)  # (name, start, end) of timed sub-calls
    state: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer counts the operations report

    def call(self, name: str, fn, *a, **kw):
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        self.calls.append((name, t0, time.perf_counter()))
        return out


def _user_bytes(pdf: pd.DataFrame) -> int:
    """Logical size of rows as a user holds them: 8 bytes per number,
    the length of each string or binary value."""
    n = 0
    for c in pdf.columns:
        if pdf[c].dtype == object:
            n += sum(len(v.encode() if isinstance(v, str) else v) for v in pdf[c])
        else:
            n += 8 * len(pdf)
    return n


def commit_ops(frame: Callable[["Ctx"], Any], want_pdf: pd.DataFrame, table: str) -> list[Op]:
    """Commit ``frame(ctx)`` with write_table as ``table``, then read the
    snapshot back with read_committed; the read must equal ``want_pdf``."""
    from pyogrio_spark import read_committed, write_table

    user = _user_bytes(want_pdf)

    def where(c):
        return os.path.join(c.work, table)

    def committed(snapshot, _want):
        return None if isinstance(snapshot, str) and snapshot else f"snapshot id {snapshot!r}"

    def table_layer(c, _snapshot):
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(where(c)) for f in fs if f.endswith(".parquet")]
        c.layer["io.writer.files_written"] = len(files)
        c.layer["io.writer.bytes_per_user_byte"] = sum(map(os.path.getsize, files)) / max(user, 1)

    return [
        Op("io.writer.write_table", "write", lambda c: (frame(c), where(c)),
           run=lambda t: write_table(t[0], t[1], mode="overwrite"), check=committed, after=table_layer),
        Op("io.writer.read_committed", "read", lambda c: read_committed(c.spark, where(c)), X.checksum(want_pdf)),
    ]


# ------------------------------------------------------------ scan_filter


def scan_ops(inp: G.Inputs) -> list[Op]:
    from pyogrio_spark import read_bounds, read_info, read_table

    d = inp.data
    path = d["path"]
    full = pd.DataFrame(
        {
            "doc_id": d["doc_id"], "cell_id": d["cell"],
            "xmin": d["lon"], "ymin": d["lat"], "xmax": d["lon"], "ymax": d["lat"],
            "kind": d["kind"].astype(object), "score": d["score"], "name": d["name"],
            "geometry_wkb": d["geoms"],
        }
    )
    lon, lat, kind, score = d["lon"], d["lat"], d["kind"], d["score"]
    every = list(full.columns)

    def want(mask, cols=every):
        return X.checksum(full.loc[mask, cols])

    def rt(**kw):
        return lambda c: read_table(c.spark, path, **kw)

    bbox = d["bbox_scan"]
    poly = d["mask_poly"]
    in_poly = X.points_in_rings(lon, lat, G.rings_of(poly))
    ordered = full.sort_values(["cell_id", "doc_id"], kind="stable")
    skip, maxf = d["skip"], d["maxf"]

    n = len(full)
    info_want = (n, (float(lon.min()), float(lat.min()), float(lon.max()), float(lat.max())))

    def info_run(info):
        return (int(info.features), tuple(float(v) for v in info.total_bounds))

    def info_check(got, w):
        return None if got == w else f"{got} != {w}"

    R = "io.reader.read_table"
    return [
        Op(R, "read", rt(where="kind = 'road' AND score >= 0.25", columns=["doc_id", "score", "kind"], read_geometry=False),
           want((kind == "road") & (score >= 0.25), ["doc_id", "score", "kind"])),
        Op(R, "read", rt(mask=G.wkb_of(poly)), want(in_poly), tags=("io.reader.mask",)),
        Op(R, "read", rt(skip_features=skip, max_features=maxf, columns=["doc_id", "cell_id", "score"], read_geometry=False),
           X.checksum(ordered.iloc[skip : skip + maxf][["doc_id", "cell_id", "score"]]), tags=("io.reader.skip_max",)),
        Op("io.reader.read_bounds", "read", lambda c: read_bounds(c.spark, path, bbox=bbox),
           want(X.in_bbox(lon, lat, bbox), ["doc_id", "xmin", "ymin", "xmax", "ymax"])),
        Op("io.reader.read_info", "read",
           lambda c: read_info(c.spark, path, force_feature_count=True, force_total_bounds=True),
           info_want, run=info_run, check=info_check),
    ]


# ------------------------------------------------------------ spatial_join


def join_ops(inp: G.Inputs) -> list[Op]:
    from pyogrio_spark import read_table
    from pyogrio_spark.operators.intersects_join import intersects_join
    from pyogrio_spark.operators.knn import LAST_RUN_TRACE, knn_join
    from pyogrio_spark.operators.spatial_join import (
        plan_salt_factors,
        point_in_polygon_join,
        zones_cell_cover,
        zones_cell_cover_distributed,
    )
    from pyogrio_spark.operators.zonal import tiles_with_centers, zonal_stats

    d = inp.data
    res = G.JOIN_RES
    lon, lat, cell = d["lon"], d["lat"], d["cell"]
    ids = np.arange(lon.size, dtype=np.int64)
    zones, parcels = d["zones"], d["parcels"]
    pip_want_df = X.pip_pairs(lon, lat, ids, zones, G.rings_of, G.bbox_of)
    pip_want = X.checksum(pip_want_df)
    parcel_want_df = X.pip_pairs(lon, lat, ids, parcels, G.rings_of, G.bbox_of)
    parcel_want = X.checksum(parcel_want_df)
    thr = d["salt_threshold"]
    cells, counts = np.unique(cell, return_counts=True)
    hot = counts > thr
    salt_want = sorted(zip(cells[hot].tolist(), np.minimum(np.ceil(counts[hot] / thr), 64).astype(int).tolist()))

    probes = d["probes"]
    knn_want = X.checksum(
        X.knn(probes["lon"].to_numpy(), probes["lat"].to_numpy(), probes["probe_id"].to_numpy(), lon, lat, ids, 10)
    )

    tiles = d["tiles"]
    cx = (tiles["tile_x"].to_numpy(dtype=np.float64) + 0.5) * G.TILE_DEG
    cy = (tiles["tile_y"].to_numpy(dtype=np.float64) + 0.5) * G.TILE_DEG
    val = tiles["value"].to_numpy()
    tid = np.arange(len(tiles), dtype=np.int64)
    zt = X.pip_pairs(cx, cy, tid, zones, G.rings_of, G.bbox_of)
    zt["value"] = val[zt["doc_id"].to_numpy()]
    g = zt.groupby("fid")["value"]
    zonal_want = X.checksum(
        pd.DataFrame(
            {"fid": g.count().index.to_numpy(dtype=np.int64), "tile_count": g.count().to_numpy(dtype=np.int64),
             "value_sum": g.sum().to_numpy(), "value_mean": g.mean().to_numpy(),
             "value_min": g.min().to_numpy(), "value_max": g.max().to_numpy()}
        )
    )

    roads = d["roads"]
    rb = np.array([G.bbox_of(r) for r in roads])
    pairs = []
    for fid, z in enumerate(zones):
        zx0, zy0, zx1, zy1 = G.bbox_of(z)
        rings = G.rings_of(z)
        near = np.flatnonzero((rb[:, 0] <= zx1) & (rb[:, 2] >= zx0) & (rb[:, 1] <= zy1) & (rb[:, 3] >= zy0))
        pairs += [(int(i), fid) for i in near if X.line_hits_polygon(np.asarray(roads[i][1]), rings)]
    inter_want = X.checksum(pd.DataFrame(pairs, columns=["doc_id", "fid"]))

    def pts(c):
        return read_table(c.spark, d["pts_path"])

    def cover(c):
        if "cover" not in c.state:
            c.state["cover"] = c.call("operators.spatial_join.zones_cell_cover", zones_cell_cover, c.spark, d["zones_pdf"], res=res)
        return c.state["cover"]

    def pip(c):
        return point_in_polygon_join(pts(c), cover(c), zone_key="fid", keep_doc_cols=["doc_id"])

    def salted(c):
        p = pts(c)
        pcover = c.call(
            "operators.spatial_join.zones_cell_cover_distributed",
            zones_cell_cover_distributed, read_table(c.spark, d["parcels_path"]), res=res,
        )
        plan = c.call("operators.spatial_join.plan_salt_factors", plan_salt_factors, p, thr)
        c.state["salt_plan"] = sorted(zip(plan["cell_id"].astype(np.int64).tolist(), plan["salt_k"].astype(int).tolist()))
        return point_in_polygon_join(p, pcover, zone_key="fid", broadcast_cover=False, salt_plan=plan, keep_doc_cols=["doc_id"])

    def salt_after(c, got):
        if c.state.get("salt_plan") != salt_want:
            raise RuntimeError("salt plan differs from the expected per-cell counts")

    def knn(c):
        return knn_join(c.spark.createDataFrame(probes), pts(c), k=10, res=res)

    def knn_after(c, got):
        c.layer["operators.knn.rounds"] = len(LAST_RUN_TRACE)
        c.layer["operators.knn.carried_rows"] = sum(r["carried_rows"] for r in LAST_RUN_TRACE)

    def zonal(c):
        t = tiles_with_centers(read_table(c.spark, d["tiles_path"]), G.TILE_DEG, res=res)
        return zonal_stats(t, cover(c), zone_key="fid")

    def inter(c):
        return intersects_join(read_table(c.spark, d["roads_path"]), cover(c), res=res, zone_key="fid", left_key="doc_id")

    hot = d["hot_bbox"]
    hot_want = X.checksum(
        pd.DataFrame({"doc_id": ids, "cell_id": cell, "xmin": lon, "ymin": lat})[X.in_bbox(lon, lat, hot)]
    )

    S = "operators.spatial_join.point_in_polygon_join"
    return [
        Op("io.reader.read_table", "read",
           lambda c: read_table(c.spark, d["pts_path"], bbox=hot, columns=["doc_id", "cell_id", "xmin", "ymin"]), hot_want),
        Op(S, "other", pip, pip_want),
        Op(S + ".salted", "other", salted, parcel_want, after=salt_after),
        Op("operators.knn.knn_join", "other", knn, knn_want, after=knn_after),
        Op("operators.zonal.zonal_stats", "other", zonal, zonal_want),
        Op("operators.intersects_join.intersects_join", "other", inter, inter_want),
    ] + commit_ops(pip, pip_want_df, "zone_points")


# --------------------------------------------------------------- format_io

FORMATS = {"geopackage": "gpkg", "flatgeobuf": "fgb", "shapefile": "shp", "geojson": "geojsons"}


def _geom_intersects_box(geom, box) -> bool:
    """Closed-box intersects: a vertex in the box, a box corner inside a
    polygon, or an edge crossing a box edge."""
    kind, c = geom
    if kind == "point":
        return bool(X.in_bbox(np.array([c[0]]), np.array([c[1]]), box)[0])
    x0, y0, x1, y1 = box
    gx0, gy0, gx1, gy1 = G.bbox_of(geom)
    if gx0 > x1 or gx1 < x0 or gy0 > y1 or gy1 < y0:
        return False
    paths = [np.asarray(c, dtype=np.float64)] if kind == "line" else G.rings_of(geom)
    pts = np.concatenate(paths)
    if X.in_bbox(pts[:, 0], pts[:, 1], box).any():
        return True
    ring = np.array(G.rect_ring(x0, y0, x1, y1), dtype=np.float64)
    if kind != "line" and X.points_in_rings(ring[:4, 0], ring[:4, 1], paths).any():
        return True
    return any(
        X._segs_cross(p[:-1, 0], p[:-1, 1], p[1:, 0], p[1:, 1], ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]).any()
        for p in paths
    )


def _geojson_coords(geom):
    kind, c = geom
    if kind == "point":
        return [c[0], c[1]]
    if kind == "line":
        return [list(p) for p in c]
    if kind == "polygon":
        return [[list(p) for p in r] for r in c]
    return [[[list(p) for p in r] for r in poly] for poly in c]


def _check_geojsonseq(path: str, pdf: pd.DataFrame, geoms: list) -> str | None:
    """Independent check of a GeoJSON text sequence with the json module."""
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs) if os.path.isdir(path) else [path]
    feats = []
    for fn in files:
        with open(fn) as f:
            feats += [json.loads(line.lstrip("\x1e")) for line in f if line.strip()]
    if len(feats) != len(pdf):
        return f"{len(feats)} features != {len(pdf)}"
    by_id = {int(ft["properties"]["id"]): ft for ft in feats}
    for i, row in enumerate(pdf.itertuples(index=False)):
        ft = by_id.get(int(row.id))
        if ft is None:
            return f"feature id {row.id} missing"
        p = ft["properties"]
        if (int(p["pop"]), float(p["val"]), p["name"]) != (int(row.pop), float(row.val), row.name):
            return f"properties of id {row.id} differ"
        if json.loads(json.dumps(_geojson_coords(geoms[int(row.id)]))) != ft["geometry"]["coordinates"]:
            return f"geometry of id {row.id} differs"
    return None


def _check_gpkg(path: str, pdf: pd.DataFrame) -> str | None:
    """Independent check of a GeoPackage with sqlite3: the feature table's
    rows and the WKB behind each GPKG geometry-blob header."""
    con = sqlite3.connect(path)
    try:
        (table,) = con.execute("SELECT table_name FROM gpkg_contents WHERE data_type = 'features'").fetchone()
        (gcol,) = con.execute("SELECT column_name FROM gpkg_geometry_columns WHERE table_name = ?", (table,)).fetchone()
        rows = con.execute(f'SELECT id, pop, val, name, "{gcol}" FROM "{table}"').fetchall()
    finally:
        con.close()
    got = []
    for i, pop, val, name, blob in rows:
        flags = blob[3]
        env = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[(flags >> 1) & 7]
        got.append((i, pop, val, name, bytes(blob[8 + env :])))
    want = X.checksum(pdf)
    return X.compare(X.checksum(pd.DataFrame(got, columns=["id", "pop", "val", "name", "geometry"])), want)


def format_ops(inp: G.Inputs) -> list[Op]:
    from pyogrio_spark import convert_dataset, open_table, read_dataframe, write_dataframe

    d = inp.data
    pdf, geoms, polygonal = d["pdf"], d["shapes"], d["polygonal"]
    box, where = d["bbox"], "pop < 500000"
    in_box = np.array([_geom_intersects_box(g, box) for g in geoms]) & (pdf["pop"].to_numpy() < 500_000)
    ops: list[Op] = []

    def path_of(c, ext):
        """One directory per format, so a format's size is its directory's."""
        os.makedirs(os.path.join(c.work, ext), exist_ok=True)
        return os.path.join(c.work, ext, f"layer.{ext}")

    for layer, ext in FORMATS.items():
        sub = pdf[polygonal].reset_index(drop=True) if ext == "shp" else pdf
        # fid: 1-based row ids for GeoPackage, 0-based elsewhere
        fid0 = 1 if ext == "gpkg" else 0
        dist = sub.rename(columns={"geometry": "geometry_wkb"}).assign(fid=np.arange(len(sub), dtype=np.int64) + fid0)
        if ext == "geojsons":
            dist = dist.drop(columns=["fid"])
        pfx = f"io.{layer}"

        def w_plan(c, ext=ext, sub=sub):
            write_dataframe(sub, path_of(c, ext))
            return path_of(c, ext)

        def w_check(p, _w, ext=ext, sub=sub):
            if not os.path.exists(p) or os.path.getsize(p) == 0:
                return f"{p} missing"
            if ext == "gpkg":
                return _check_gpkg(p, sub)
            if ext == "geojsons":
                return _check_geojsonseq(p, sub, geoms)
            return None

        def w_after(c, p, sub=sub, pfx=pfx):
            folder = os.path.dirname(p)
            size = sum(os.path.getsize(os.path.join(folder, f)) for f in os.listdir(folder))
            c.layer[f"{pfx}.bytes_per_feature"] = size / len(sub)

        def dist_plan(c, ext=ext):
            df = open_table(c.spark, path_of(c, ext), distributed=True)
            if ext == "geojsons":
                from pyspark.sql import functions as F

                pj = F.col("properties_json")
                df = df.select(
                    F.get_json_object(pj, "$.id").cast("long").alias("id"),
                    F.get_json_object(pj, "$.pop").cast("long").alias("pop"),
                    F.get_json_object(pj, "$.val").cast("double").alias("val"),
                    F.get_json_object(pj, "$.name").alias("name"),
                    "geometry_wkb",
                )
            return df

        ops += [
            Op(pfx + ".write", "write", w_plan, None, run=lambda p: p, check=w_check, after=w_after),
            Op(pfx + ".read", "read", lambda c, ext=ext: read_dataframe(path_of(c, ext), bbox=box, where=where, spark=c.spark),
               X.checksum(sub[in_box[sub["id"].to_numpy()]]), run=X.checksum),
            Op(pfx + ".read_dist", "read", dist_plan, X.checksum(dist)),
        ]

    def conv_plan(c):
        dst = os.path.join(c.work, "converted.geojsons")
        convert_dataset(c.spark, path_of(c, "gpkg"), dst, distributed=True)
        return dst

    fgb_dist = pdf.rename(columns={"geometry": "geometry_wkb"}).assign(fid=np.arange(len(pdf), dtype=np.int64))
    convert = Op("io.dispatch.convert_dataset", "write", conv_plan, None, run=lambda p: p,
                 check=lambda p, _w: _check_geojsonseq(p, pdf, geoms))
    return ops + [convert] + commit_ops(lambda c: open_table(c.spark, path_of(c, "fgb"), distributed=True), fgb_dist, "features")


# ------------------------------------------------------------ corpus_dedup


def corpus_ops(inp: G.Inputs) -> list[Op]:
    from pyogrio_spark import read_table
    from pyogrio_spark.functions.text import tfidf_top_terms
    from pyogrio_spark.operators.chunking import chunk_documents, pack_chunks_global
    from pyogrio_spark.operators.dedup import line_dedup_global, minhash_lsh_pairs
    from pyogrio_spark.operators.similarity import semantic_dedup
    from pyogrio_spark.operators.tokenizer import tokenize_greedy

    d = inp.data
    docs = d["docs"]
    ids, texts = docs["doc_id"].to_numpy(), docs["text"].tolist()
    cents, subwords = d["centroids"], d["subwords"]
    deduped = X.line_dedup(ids, texts)

    def rd(c):
        return read_table(c.spark, d["docs_path"])

    D = "operators.dedup"
    return [
        Op(D + ".minhash_lsh_pairs", "other", lambda c: minhash_lsh_pairs(rd(c)), X.checksum(X.minhash_pairs(ids, texts))),
        Op(D + ".line_dedup_global", "other", lambda c: line_dedup_global(rd(c), line_words=8),
           X.checksum(deduped)),
        Op("functions.text.tfidf_top_terms", "other", lambda c: tfidf_top_terms(rd(c), k=5),
           X.checksum(X.tfidf(ids, texts)), ftol=1e-6),
        Op("operators.similarity.semantic_dedup", "other",
           lambda c: semantic_dedup(read_table(c.spark, d["emb_path"]), cents, 0.95),
           X.checksum(X.semantic_dedup(np.arange(len(d["emb"]), dtype=np.int64), d["emb"], cents, 0.95))),
        Op("operators.chunking.pack_chunks_global", "other",
           lambda c: pack_chunks_global(chunk_documents(rd(c), chunk_tokens=32, overlap_tokens=0), budget_tokens=128, chunk_tokens=32),
           X.checksum(X.pack_global(ids, texts, 128, 32))),
        Op("operators.tokenizer.tokenize_greedy", "other", lambda c: tokenize_greedy(rd(c), subwords),
           X.checksum(X.tokenize_greedy(ids, texts, subwords))),
    ] + commit_ops(lambda c: line_dedup_global(rd(c), line_words=8), deduped, "deduped_corpus")


OPS = {
    "scan_format": lambda inp: scan_ops(inp) + format_ops(inp),
    "join_dedup": lambda inp: join_ops(inp) + corpus_ops(inp),
}


def pair_count(inp: G.Inputs) -> dict:
    """spatial_join layer counts computed by the benchmark from the cover
    (public ``cover_polygon``) and the generated points."""
    from pyogrio_spark.index.cover import cover_polygon

    d = inp.data
    cells, counts = np.unique(d["cell"], return_counts=True)
    per_cell = dict(zip(cells.tolist(), counts.tolist()))
    n_cover = n_full = cand = 0
    for g in d["zones"]:
        cc, full = cover_polygon(G.wkb_of(g), G.JOIN_RES)
        n_cover += cc.size
        n_full += int(full.sum())
        cand += sum(per_cell.get(int(x), 0) for x in cc)
    pairs = len(X.pip_pairs(d["lon"], d["lat"], np.arange(d["lon"].size), d["zones"], G.rings_of, G.bbox_of))
    return {
        "operators.spatial_join.cover_cells": n_cover,
        "operators.spatial_join.full_cover_frac": n_full / max(n_cover, 1),
        "operators.spatial_join.candidates": cand,
        "operators.spatial_join.pairs_out": pairs,
        "operators.spatial_join.useful_ratio": pairs / max(cand, 1),
    }


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

