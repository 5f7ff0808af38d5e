"""Independent expected results, computed from the generated inputs with
numpy, hashlib and the standard library. Nothing here imports the
engine: the ray cast, the brute-force kNN and the text algorithms are
written from the operators' documented contracts.

Every expected result ends as a checksum (see ``checksum``): an
order-independent per-column sum that the timed Spark action computes
the same way, so a wrong row, a missing row or a wrong value shows as a
mismatch without collecting the output.
"""

from __future__ import annotations

import hashlib
import math
import zlib
from collections import Counter, defaultdict

import numpy as np
import pandas as pd

MOD = 1_000_003  # integer columns are summed modulo this prime (pmod in Spark)


# ----------------------------------------------------------------- checksum


def _kind(values) -> str:
    for v in values:
        if v is None:
            continue
        if isinstance(v, (bool, np.bool_)):
            return "i"
        if isinstance(v, (int, np.integer)):
            return "i"
        if isinstance(v, (float, np.floating)):
            return "f"
        if isinstance(v, str):
            return "s"
        if isinstance(v, (bytes, bytearray, memoryview)):
            return "b"
        raise TypeError(f"no checksum for {type(v)}")
    return "i"


def checksum(pdf: pd.DataFrame) -> dict:
    """{'_rows': n, col: (kind, value)} with kind i (sum of x mod MOD),
    f (float sum), s (sum of crc32 of UTF-8), b (sum of crc32)."""
    out: dict = {"_rows": int(len(pdf))}
    for c in pdf.columns:
        vals = pdf[c].tolist()
        k = _kind(vals)
        if k == "i":
            v = sum(int(x) % MOD for x in vals if x is not None)
        elif k == "f":
            v = float(math.fsum(float(x) for x in vals if x is not None and not math.isnan(x)))
        elif k == "s":
            v = sum(zlib.crc32(x.encode()) for x in vals if x is not None)
        else:
            v = sum(zlib.crc32(bytes(x)) for x in vals if x is not None)
        out[c] = (k, v)
    return out


def compare(got: dict, want: dict, ftol: float = 1e-9) -> str | None:
    """None when equal, else a one-line reason. Floats match within a
    relative 1e-9 (summation order differs) plus ``ftol`` per row for
    columns the engine rounds."""
    if got.get("_rows") != want.get("_rows"):
        return f"rows {got.get('_rows')} != {want.get('_rows')}"
    if set(got) != set(want):
        return f"columns {sorted(set(got) - {'_rows'})} != {sorted(set(want) - {'_rows'})}"
    for c, v in want.items():
        if c == "_rows":
            continue
        k, w = v
        g = got[c][1]
        if k == "f":
            if not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9 + ftol * want["_rows"]):
                return f"{c}: {g!r} != {w!r}"
        elif g != w:
            return f"{c}: {g!r} != {w!r}"
    return None


# --------------------------------------------------------------- geometry


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast over every ring (holes and multipolygon parts
    included); points exactly on an edge have probability zero here."""
    inside = np.zeros(px.shape[0], dtype=bool)
    for r in rings:
        x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            crosses = (b > py) != (d > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = a + (py - b) * (c - a) / (d - b)
            inside ^= crosses & (px < xint)
    return inside


def in_bbox(px, py, bbox) -> np.ndarray:
    x0, y0, x1, y1 = bbox
    return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)


def pip_pairs(px, py, ids, polys: list, rings_of, bbox_of) -> pd.DataFrame:
    """(doc_id, fid) for every point strictly inside each polygon."""
    order = np.argsort(px)
    sx = px[order]
    a_ids, a_fid = [], []
    for fid, g in enumerate(polys):
        x0, y0, x1, y1 = bbox_of(g)
        lo, hi = np.searchsorted(sx, x0), np.searchsorted(sx, x1, side="right")
        cand = order[lo:hi]
        cand = cand[(py[cand] >= y0) & (py[cand] <= y1)]
        hit = cand[points_in_rings(px[cand], py[cand], rings_of(g))]
        a_ids.append(ids[hit])
        a_fid.append(np.full(hit.size, fid, dtype=np.int64))
    return pd.DataFrame({"doc_id": np.concatenate(a_ids), "fid": np.concatenate(a_fid)})


def _segs_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper-or-touching intersection of segment arrays a (m,) x b (k,) -> (m, k)."""
    def orient(px, py, qx, qy, rx, ry):
        return np.sign((qx - px) * (ry - py) - (qy - py) * (rx - px))

    A = [v[:, None] for v in (ax0, ay0, ax1, ay1)]
    B = [v[None, :] for v in (bx0, by0, bx1, by1)]
    o1 = orient(A[0], A[1], A[2], A[3], B[0], B[1])
    o2 = orient(A[0], A[1], A[2], A[3], B[2], B[3])
    o3 = orient(B[0], B[1], B[2], B[3], A[0], A[1])
    o4 = orient(B[0], B[1], B[2], B[3], A[2], A[3])
    return (o1 * o2 <= 0) & (o3 * o4 <= 0)


def line_hits_polygon(coords: np.ndarray, rings: list[np.ndarray]) -> bool:
    if points_in_rings(coords[:, 0], coords[:, 1], rings).any():
        return True
    for r in rings:
        if _segs_cross(coords[:-1, 0], coords[:-1, 1], coords[1:, 0], coords[1:, 1], r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]).any():
            return True
    return False


def knn(plon, plat, pid, dlon, dlat, did, k) -> pd.DataFrame:
    """Brute force planar kNN with the (dist, doc_id) tie-break."""
    rows = []
    for i in range(plon.size):
        d = np.hypot(dlon - plon[i], dlat - plat[i])
        idx = np.lexsort((did, d))[:k]
        for rank, j in enumerate(idx, 1):
            rows.append((int(pid[i]), int(did[j]), float(d[j]), rank))
    return pd.DataFrame(rows, columns=["probe_id", "doc_id", "dist", "rank"])


# -------------------------------------------------------------------- text


def md5hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _pairs_from_buckets(buckets: dict, cap: int):
    for members in buckets.values():
        m = sorted(members)[:cap]
        for a in range(len(m)):
            for b in range(a + 1, len(m)):
                yield m[a], m[b]


def minhash_pairs(ids, texts, n_hashes=16, bands=4, k=3, threshold=0.5, cap=64) -> pd.DataFrame:
    rows = n_hashes // bands
    sigs = {}
    for i, t in zip(ids, texts):
        toks = t.lower().split(" ")
        sh = [" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)] if len(toks) >= k else [" ".join(toks)]
        ab = []
        for s in sh:
            h = md5hex(s)
            ab.append((int(h[0:15], 16), int(h[16:30], 16)))
        a = np.array([x for x, _ in ab], dtype=np.int64)
        b = np.array([y for _, y in ab], dtype=np.int64)
        sigs[int(i)] = [int((a + j * b).min()) for j in range(n_hashes)]
    buckets: dict = defaultdict(list)
    for i, sig in sigs.items():
        for band in range(bands):
            key = md5hex(",".join(str(v) for v in sig[band * rows : (band + 1) * rows]))
            buckets[(band, key)].append(i)
    out = []
    for a, b in set(_pairs_from_buckets(buckets, cap)):
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / float(n_hashes)
        if est >= threshold:
            out.append((a, b, est))
    return pd.DataFrame(out, columns=["doc_a", "doc_b", "est_jaccard"])


def line_dedup(ids, texts, line_words=8) -> pd.DataFrame:
    seen: set[str] = set()
    out = []
    for i, t in sorted(zip(ids, texts)):
        toks = t.split(" ")
        n_lines = max(1, math.ceil(len(toks) / line_words))
        n_chunks = max(1, math.ceil((len(toks) - line_words) / line_words) + 1)
        kept = []
        for c in range(n_chunks):
            line = " ".join(toks[c * line_words : (c + 1) * line_words])
            if line not in seen:
                seen.add(line)
                kept.append(line)
        out.append((int(i), " ".join(kept), n_lines, len(kept)))
    return pd.DataFrame(out, columns=["doc_id", "text", "n_lines", "n_kept"])


def tfidf(ids, texts, k=5) -> pd.DataFrame:
    tfs = {int(i): Counter(t.split(" ")) for i, t in zip(ids, texts)}
    df = Counter(tok for c in tfs.values() for tok in c)
    n = len(tfs)
    out = []
    for i, c in tfs.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], df[kv[0]], kv[0].encode()))[:k]
        for r, (tok, tf) in enumerate(ranked, 1):
            out.append((i, tok, tf, df[tok], round(tf * math.log((n + 1) / (df[tok] + 1)), 6), r))
    return pd.DataFrame(out, columns=["doc_id", "token", "tf", "df", "tfidf", "rnk"])


def semantic_dedup(ids, emb, centroids, threshold) -> pd.DataFrame:
    v = emb.astype(np.float64)
    bucket = np.argmax(v @ centroids.T, axis=1)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    keep = []
    for b in np.unique(bucket):
        idx = np.flatnonzero(bucket == b)
        idx = idx[np.argsort(ids[idx])]
        cos = unit[idx] @ unit[idx].T
        removed = (np.tril(cos >= threshold, k=-1)).any(axis=1)
        keep += [(int(ids[j]), int(b)) for j, r in zip(idx, removed) if not r]
    return pd.DataFrame(keep, columns=["vec_id", "ivf_bucket"])


def chunks(ids, texts, chunk_tokens) -> list[tuple]:
    out = []
    for i, t in zip(ids, texts):
        toks = t.split(" ")
        n_chunks = max(1, math.ceil((len(toks) - chunk_tokens) / chunk_tokens) + 1)
        for c in range(n_chunks):
            part = toks[c * chunk_tokens : (c + 1) * chunk_tokens]
            out.append((int(i), c, " ".join(part), min(chunk_tokens, len(toks) - c * chunk_tokens)))
    return out


def pack_global(ids, texts, budget_tokens, chunk_tokens) -> pd.DataFrame:
    m = budget_tokens // chunk_tokens
    rows = sorted(chunks(ids, texts, chunk_tokens))
    return pd.DataFrame(
        [(*r, g, g // m) for g, r in enumerate(rows)],
        columns=["doc_id", "chunk_id", "chunk_text", "n_tokens", "global_idx", "pack_id"],
    )


def tokenize_greedy(ids, texts, vocab) -> pd.DataFrame:
    vset = set(vocab)
    lens = sorted({len(t) for t in vset}, reverse=True)
    cache: dict[str, list] = {}
    out = []
    for i, t in zip(ids, texts):
        for wi, w in enumerate(t.split(" ")):
            if not w:
                continue
            seg = cache.get(w)
            if seg is None:
                seg, p = [], 0
                while p < len(w):
                    L = next((L for L in lens if L <= len(w) - p and w[p : p + L] in vset), 1)
                    seg.append((p + 1, w[p : p + L]))
                    p += L
                cache[w] = seg
            out += [(int(i), wi, pos, tok) for pos, tok in seg]
    return pd.DataFrame(out, columns=["doc_id", "word_idx", "tok_pos", "token"])
