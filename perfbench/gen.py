"""Seeded input generator for the benchmark (numpy, pyarrow and the
standard library only; no engine code).

Every workload's inputs are a pure function of ``seed``. Geometry is
encoded as little-endian ISO WKB here, and cell ids follow the grid
formula documented in the engine's index module (equal-angle quadtree:
``res << 58 | x << res | y``), re-implemented below so the program under
test receives a table it did not help build.
"""

from __future__ import annotations

import hashlib
import os
import string
import struct
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The region every spatial workload lives in (lon, lat degrees).
REGION = (-10.0, 35.0, 30.0, 60.0)
HOTSPOTS = 5


# ----------------------------------------------------------------- geometry


def cell_ids(lon, lat, res: int) -> np.ndarray:
    n = 1 << res
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 58) + (x << res) + y


def point_wkbs(lon, lat) -> list[bytes]:
    rec = np.zeros(len(lon), dtype=[("o", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["o"], rec["t"], rec["x"], rec["y"] = 1, 1, lon, lat
    raw = rec.tobytes()
    return [raw[i : i + 21] for i in range(0, len(raw), 21)]


def _pts(coords) -> bytes:
    return struct.pack("<I", len(coords)) + np.asarray(coords, dtype="<f8").tobytes()


def wkb_of(geom: tuple) -> bytes:
    """``geom`` is (kind, coords) with kind in point/line/polygon/multipolygon;
    polygons are lists of closed rings, multipolygons lists of polygons."""
    kind, c = geom
    if kind == "point":
        return struct.pack("<BIdd", 1, 1, *c)
    if kind == "line":
        return struct.pack("<BI", 1, 2) + _pts(c)
    if kind == "polygon":
        return struct.pack("<BII", 1, 3, len(c)) + b"".join(_pts(r) for r in c)
    if kind == "multipolygon":
        return struct.pack("<BII", 1, 6, len(c)) + b"".join(wkb_of(("polygon", p)) for p in c)
    raise ValueError(kind)


def rings_of(geom: tuple) -> list[np.ndarray]:
    kind, c = geom
    polys = [c] if kind == "polygon" else c
    return [np.asarray(r, dtype=np.float64) for p in polys for r in p]


def bbox_of(geom: tuple) -> tuple[float, float, float, float]:
    kind, c = geom
    if kind == "point":
        return (c[0], c[1], c[0], c[1])
    pts = np.asarray(c, dtype=np.float64) if kind == "line" else np.concatenate(rings_of(geom))
    return (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())


def _clockwise(ring: list) -> list:
    a = np.asarray(ring)
    area2 = np.sum(a[:-1, 0] * a[1:, 1] - a[1:, 0] * a[:-1, 1])
    return ring[::-1] if area2 > 0 else ring


def star_ring(rng, cx, cy, r, n_vertices) -> list:
    """A closed, clockwise, star-shaped (hence simple) ring around (cx, cy)."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    rad = r * rng.uniform(0.55, 1.0, n_vertices)
    pts = [(float(cx + rr * np.cos(a)), float(cy + rr * np.sin(a))) for a, rr in zip(ang, rad)]
    return _clockwise(pts + [pts[0]])


def rect_ring(x0, y0, x1, y1) -> list:
    return [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]


def _mixed_points(rng, n, hot_frac, sigma, region=REGION):
    """~(1 - hot_frac) uniform over ``region`` plus hot_frac in HOTSPOTS
    Gaussian clusters: the skew property of the spatial workloads."""
    x0, y0, x1, y1 = region
    n_hot = int(n * hot_frac)
    lon = rng.uniform(x0, x1, n)
    lat = rng.uniform(y0, y1, n)
    centers = np.column_stack([rng.uniform(x0 + 2, x1 - 2, HOTSPOTS), rng.uniform(y0 + 2, y1 - 2, HOTSPOTS)])
    which = rng.integers(0, HOTSPOTS, n_hot)
    lon[:n_hot] = np.clip(centers[which, 0] + rng.normal(0, sigma, n_hot), x0, x1)
    lat[:n_hot] = np.clip(centers[which, 1] + rng.normal(0, sigma, n_hot), y0, y1)
    perm = rng.permutation(n)
    return lon[perm], lat[perm], centers


def _write_parquet(table: pa.Table, path: str, n_files: int, row_groups_per_file: int) -> None:
    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        rg = max(1, -(-part.num_rows // row_groups_per_file))
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"), row_group_size=rg)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _hot_cell_share(cells: np.ndarray, top: int = HOTSPOTS) -> float:
    _, counts = np.unique(cells, return_counts=True)
    return float(np.sort(counts)[::-1][:top].sum() / cells.size)


@dataclass
class Inputs:
    workload: str
    seed: int
    root: str
    props: dict = field(default_factory=dict)
    data: dict = field(default_factory=dict)


# ------------------------------------------------------------ scan_filter

SCAN_ROWS = 100_000
SCAN_RES = 7
KINDS = np.array(["road", "river", "park", "shop", "school"])


def gen_scan(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    n = SCAN_ROWS
    lon, lat, _ = _mixed_points(rng, n, 0.3, 0.3)
    doc_id = rng.permutation(n).astype(np.int64)
    cell = cell_ids(lon, lat, SCAN_RES)
    order = np.lexsort((doc_id, cell))
    lon, lat, doc_id, cell = lon[order], lat[order], doc_id[order], cell[order]
    kind = KINDS[rng.choice(len(KINDS), n, p=[0.4, 0.2, 0.2, 0.1, 0.1])]
    score = rng.random(n)
    name = np.array([f"f{d:07d}" for d in doc_id], dtype=object)
    t = pa.table(
        {
            "doc_id": doc_id,
            "cell_id": cell,
            "xmin": lon, "ymin": lat, "xmax": lon, "ymax": lat,
            "kind": kind.astype(object),
            "score": score,
            "name": name,
            "geometry_wkb": pa.array(point_wkbs(lon, lat), type=pa.binary()),
        }
    )
    path = os.path.join(root, "features")
    n_files, rg_per_file = 8, 2
    _write_parquet(t, path, n_files, rg_per_file)
    inp = Inputs("scan_filter", seed, root)
    inp.data.update(
        path=path, doc_id=doc_id, cell=cell, lon=lon, lat=lat, kind=kind, score=score, name=name,
        geoms=t.column("geometry_wkb").to_pylist(),
    )
    # query shapes, all seeded: bboxes, masks and id lists
    def bbox(w, h):
        x, y = rng.uniform(REGION[0], REGION[2] - w), rng.uniform(REGION[1], REGION[3] - h)
        return (float(x), float(y), float(x + w), float(y + h))

    inp.data["bbox_scan"] = bbox(8, 5)
    inp.data["mask_poly"] = ("polygon", [star_ring(rng, 10.0 + rng.uniform(-5, 5), 47.0 + rng.uniform(-3, 3), 4.0, 14)])
    inp.data["mask_multi"] = (
        "multipolygon",
        [[star_ring(rng, 0.0 + rng.uniform(-3, 3), 42.0, 2.5, 10)], [star_ring(rng, 20.0 + rng.uniform(-3, 3), 54.0, 2.5, 10)]],
    )
    inp.data["skip"], inp.data["maxf"] = int(rng.integers(n // 4, n // 2)), 5_000
    inp.props = {
        "rows": n,
        "bytes": _dir_bytes(path),
        "files": n_files,
        "row_groups": n_files * rg_per_file,
        "hot_cell_share": round(_hot_cell_share(cell), 4),
    }
    return inp


# ------------------------------------------------------------ spatial_join

JOIN_RES = 10
JOIN_POINTS = 20_000
TILE_DEG = 0.1


def gen_join(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 2])
    n = JOIN_POINTS
    lon, lat, centers = _mixed_points(rng, n, 0.3, 0.08)
    doc_id = np.arange(n, dtype=np.int64)
    cell = cell_ids(lon, lat, JOIN_RES)
    pts = pa.table({"doc_id": doc_id, "cell_id": cell, "xmin": lon, "ymin": lat, "xmax": lon, "ymax": lat})
    pts_path = os.path.join(root, "points")
    _write_parquet(pts, pts_path, 4, 1)

    # admin-sized zones: rectangles, jittered polygons, multipolygons
    zones = []
    for i in range(40):
        cx, cy = rng.uniform(REGION[0] + 3, REGION[2] - 3), rng.uniform(REGION[1] + 3, REGION[3] - 3)
        r = rng.uniform(0.8, 2.5)
        if i % 3 == 0:
            g = ("polygon", [rect_ring(float(cx - r), float(cy - r * 0.7), float(cx + r), float(cy + r * 0.7))])
        elif i % 3 == 1:
            g = ("polygon", [star_ring(rng, cx, cy, r, int(rng.integers(8, 17)))])
        else:
            g = ("multipolygon", [[star_ring(rng, cx, cy, r * 0.6, 9)], [star_ring(rng, cx + 2 * r, cy, r * 0.5, 7)]])
        zones.append(g)
    zones_pdf = pd.DataFrame({"fid": np.arange(len(zones), dtype=np.int64), "geometry_wkb": [wkb_of(g) for g in zones]})

    # parcel layer: many small polygons, a share of them packed round the hotspots
    n_parcels = 400
    parcels = []
    for i in range(n_parcels):
        if i % 5 == 0:
            c = centers[rng.integers(0, HOTSPOTS)]
            cx, cy = c[0] + rng.normal(0, 0.15), c[1] + rng.normal(0, 0.15)
        else:
            cx, cy = rng.uniform(REGION[0] + 1, REGION[2] - 1), rng.uniform(REGION[1] + 1, REGION[3] - 1)
        parcels.append(("polygon", [star_ring(rng, cx, cy, rng.uniform(0.03, 0.12), int(rng.integers(4, 8)))]))
    pb = np.array([bbox_of(g) for g in parcels])
    parcels_t = pa.table(
        {
            "fid": np.arange(n_parcels, dtype=np.int64),
            "xmin": pb[:, 0], "ymin": pb[:, 1], "xmax": pb[:, 2], "ymax": pb[:, 3],
            "geometry_wkb": pa.array([wkb_of(g) for g in parcels], type=pa.binary()),
        }
    )
    parcels_path = os.path.join(root, "parcels")
    _write_parquet(parcels_t, parcels_path, 2, 1)

    # kNN probes: half uniform, half on the hotspots
    n_probe = 25
    plon = np.concatenate([rng.uniform(REGION[0], REGION[2], n_probe), centers[rng.integers(0, HOTSPOTS, n_probe), 0] + rng.normal(0, 0.1, n_probe)])
    plat = np.concatenate([rng.uniform(REGION[1], REGION[3], n_probe), centers[rng.integers(0, HOTSPOTS, n_probe), 1] + rng.normal(0, 0.1, n_probe)])
    probes = pd.DataFrame({"probe_id": np.arange(2 * n_probe, dtype=np.int64), "lon": plon, "lat": plat})

    # raster tile grid for zonal stats
    tx, ty = np.meshgrid(np.arange(-20, 130), np.arange(400, 520), indexing="ij")
    tiles = pd.DataFrame(
        {"tile_x": tx.ravel().astype(np.int64), "tile_y": ty.ravel().astype(np.int64), "value": np.round(rng.gamma(2.0, 10.0, tx.size), 3)}
    )
    tiles_path = os.path.join(root, "tiles")
    _write_parquet(pa.Table.from_pandas(tiles, preserve_index=False), tiles_path, 2, 1)

    # line layer for the intersects join
    n_roads = 600
    roads = []
    for _ in range(n_roads):
        x, y = rng.uniform(REGION[0], REGION[2]), rng.uniform(REGION[1], REGION[3])
        k = int(rng.integers(2, 5))
        steps = rng.normal(0, 0.3, (k - 1, 2))
        coords = np.vstack([[x, y], np.array([x, y]) + np.cumsum(steps, axis=0)])
        roads.append(("line", [tuple(map(float, p)) for p in coords]))
    rb = np.array([bbox_of(g) for g in roads])
    roads_t = pa.table(
        {
            "doc_id": np.arange(n_roads, dtype=np.int64),
            "xmin": rb[:, 0], "ymin": rb[:, 1], "xmax": rb[:, 2], "ymax": rb[:, 3],
            "geometry_wkb": pa.array([wkb_of(g) for g in roads], type=pa.binary()),
        }
    )
    roads_path = os.path.join(root, "roads")
    _write_parquet(roads_t, roads_path, 2, 1)

    inp = Inputs("spatial_join", seed, root)
    inp.data.update(
        pts_path=pts_path, parcels_path=parcels_path, tiles_path=tiles_path, roads_path=roads_path,
        lon=lon, lat=lat, cell=cell, zones=zones, zones_pdf=zones_pdf, parcels=parcels,
        probes=probes, tiles=tiles, roads=roads, salt_threshold=max(200, n // 200),
        hot_bbox=tuple(float(v) for v in (centers[0, 0] - 0.5, centers[0, 1] - 0.5, centers[0, 0] + 0.5, centers[0, 1] + 0.5)),
    )
    inp.props = {
        "rows": n,
        "bytes": sum(_dir_bytes(p) for p in (pts_path, parcels_path, tiles_path, roads_path)),
        "zones": len(zones), "parcels": n_parcels, "probes": len(probes), "tiles": len(tiles), "roads": n_roads,
        "hot_cell_share": round(_hot_cell_share(cell), 4),
    }
    return inp


# --------------------------------------------------------------- format_io

FORMAT_FEATURES = 600


def gen_format(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 3])
    n = FORMAT_FEATURES
    geoms = []
    for i in range(n):
        x, y = round(float(rng.uniform(REGION[0], REGION[2])), 6), round(float(rng.uniform(REGION[1], REGION[3])), 6)
        t = i % 4
        if t == 0:
            geoms.append(("point", (x, y)))
        elif t == 1:
            k = int(rng.integers(2, 6))
            geoms.append(("line", [(x + 0.05 * j, y + float(rng.normal(0, 0.02))) for j in range(k)]))
        elif t == 2:
            geoms.append(("polygon", [star_ring(rng, x, y, 0.1, int(rng.integers(4, 10)))]))
        else:
            geoms.append(("multipolygon", [[star_ring(rng, x, y, 0.08, 6)], [star_ring(rng, x + 0.3, y, 0.05, 5)]]))
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "pop": rng.integers(0, 1_000_000, n).astype(np.int64),
            "val": np.round(rng.uniform(0, 1000, n), 3),
            "name": ["".join(rng.choice(list(string.ascii_lowercase), int(rng.integers(3, 12)))) for _ in range(n)],
            "geometry": [wkb_of(g) for g in geoms],
        }
    )
    # shapefiles hold one geometry family: the polygonal subset goes there
    polygonal = np.array([g[0] in ("polygon", "multipolygon") for g in geoms])
    inp = Inputs("format_io", seed, root)
    inp.data.update(pdf=pdf, shapes=geoms, polygonal=polygonal, bbox=(0.0, 40.0, 15.0, 52.0))
    inp.props = {
        "rows": n,
        "bytes": int(pdf["geometry"].map(len).sum() + pdf["name"].map(len).sum() + 8 * 3 * n),
        "geometry_mix": "point/line/polygon/multipolygon 1:1:1:1",
        "shapefile_rows": int(polygonal.sum()),
    }
    return inp


# ------------------------------------------------------------ corpus_dedup

CORPUS_DOCS = 400
EMB_DIM = 32
BOILERPLATE_SHARE = 0.3
DUP_SHARE = 0.05


def _word(rng) -> str:
    return "".join(rng.choice(list(string.ascii_lowercase), int(rng.integers(3, 10))))


def gen_corpus(seed: int, root: str) -> Inputs:
    rng = np.random.default_rng([seed, 4])
    vocab = sorted({_word(rng) for _ in range(3_000)})
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    boiler = " ".join(_word(rng) for _ in range(8))
    n = CORPUS_DOCS
    texts: list[str] = []
    kinds: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            kinds.append("exact")
            continue
        if i > 10 and r < 2 * DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), 2):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            kinds.append("near")
            continue
        toks = [vocab[j] for j in rng.choice(len(vocab), int(rng.integers(40, 120)), p=zipf)]
        # interleaved media: image placeholders inside the text stream
        for j in np.flatnonzero(rng.random(len(toks)) < 0.03):
            toks[j] = f"<img:{int(rng.integers(0, 1 << 24)):06x}>"
        text = " ".join(toks)
        if rng.random() < BOILERPLATE_SHARE:
            text = boiler + " " + text
        texts.append(text)
        kinds.append("base")
    docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
    docs_path = os.path.join(root, "docs")
    _write_parquet(pa.Table.from_pandas(docs, preserve_index=False), docs_path, 4, 1)

    # embeddings: one per doc, near-duplicate vectors for the dup docs
    emb = rng.normal(0, 1, (n, EMB_DIM))
    for i in np.flatnonzero(np.array(kinds) != "base"):
        emb[i] = emb[int(rng.integers(0, i))] + rng.normal(0, 0.02, EMB_DIM)
    emb = emb.astype(np.float32)
    emb_t = pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": pa.array(list(emb), type=pa.list_(pa.float32()))})
    emb_path = os.path.join(root, "embeddings")
    _write_parquet(emb_t, emb_path, 2, 1)
    cents = rng.normal(0, 1, (8, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    # subword vocab: every character of the corpus (segmentation is then
    # total) plus frequent word prefixes and suffixes
    chars = sorted(set("".join(texts)) - {" "})
    pieces = set(chars)
    for w in vocab[:600]:
        pieces.update({w[:3], w[-3:], w[:5]})
    inp = Inputs("corpus_dedup", seed, root)
    inp.data.update(
        docs_path=docs_path, emb_path=emb_path, docs=docs, emb=emb, centroids=cents,
        subwords=sorted(pieces),
    )
    uniq = len(set(texts))
    inp.props = {
        "rows": n,
        "bytes": _dir_bytes(docs_path) + _dir_bytes(emb_path),
        "duplicate_rate": round(1 - uniq / n, 4),
        "near_duplicate_rate": round(kinds.count("near") / n, 4),
        "boilerplate_line_share": round(sum(boiler in t for t in texts) / n, 4),
        "vocab": len(vocab),
        "subwords": len(pieces),
        "corpus_md5": hashlib.md5("\n".join(texts).encode()).hexdigest()[:12],
    }
    return inp


def _merged(workload: str, *parts) -> Callable[[int, str], Inputs]:
    def gen(seed: int, root: str) -> Inputs:
        inp = Inputs(workload, seed, root)
        for p in parts:
            sub = p(seed, root)
            inp.props[sub.workload] = sub.props
            inp.data.update(sub.data)
        return inp

    return gen


# Two workloads, each the union of two input sets (see README.md).
GENERATORS = {
    "scan_format": _merged("scan_format", gen_scan, gen_format),
    "join_dedup": _merged("join_dedup", gen_join, gen_corpus),
}
