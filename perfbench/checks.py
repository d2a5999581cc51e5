"""Output checks for the benchmark's jobs, computed independently of the
engine: a stdlib XXH64 (the hash Spark's ``xxhash64`` uses, seed 42),
the documented cell-id layout, and pixels re-derived from the fixture
row functions. Each check returns a list of failure strings; an empty
list means the output is correct."""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import defaultdict

import numpy as np

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed int64, equal to Spark's
    ``xxhash64(<string column>)`` on the column's UTF-8 bytes."""
    n, p = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while p + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[p:p + 8], "little"))
                p += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p:p + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def id_fold(ids) -> int:
    """``bit_xor(xxhash64(id))`` over string or bigint ids: the lineage
    checksum (Spark hashes a bigint as its 8 little-endian bytes)."""
    acc = 0
    for i in ids:
        acc ^= xxh64(i.encode() if isinstance(i, str)
                     else (i & _M64).to_bytes(8, "little"))
    return acc


# ---------------------------------------------------------------------------
# fixture geometry, re-derived
# ---------------------------------------------------------------------------

_MASK20 = (1 << 20) - 1


def expected_pixels(i: int) -> np.ndarray:
    """Decoded pixels of fixture row ``i``: PNG is lossless, PNGQ keeps
    the top 5 bits and reconstructs at the bucket centre."""
    from loc2vec_spark.fixtures import row_pixels
    px = row_pixels(i)
    return (px // 8) * 8 + 4 if i % 10 == 0 else px


def sharpness(px: np.ndarray) -> float:
    """Variance of the 4-neighbour Laplacian of the channel-mean luma."""
    g = px.astype(np.float64).mean(axis=2)
    lap = (4.0 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
           - g[1:-1, :-2] - g[1:-1, 2:])
    return float(lap.var())


def _row_index(image_id: str) -> int:
    return int(image_id.split("_", 1)[1])


def row_cell_ij(i: int, res: int) -> tuple[int, int]:
    """Grid (i, j) of fixture row ``i`` at ``res``: the caption's 6-digit
    lat/lon plus the phash jitter, on the equirectangular quadtree."""
    from loc2vec_spark.fixtures import phash_of, row_latlon
    lat, lon = (float(f"{v:.6f}") for v in row_latlon(i))
    ph = phash_of(i)
    lat += ((ph & _MASK20) / _MASK20 - 0.5) * 2e-4
    lon += (((ph >> 20) & _MASK20) / _MASK20 - 0.5) * 2e-4
    n = 1 << res
    ci = int(np.floor(((lon + 180.0) % 360.0) / 360.0 * n)) % n
    cj = min(max(int(np.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    return ci, cj


def cell_ij(cell: int) -> tuple[int, int]:
    """(i, j) of a cell id ``(res << 58) | (j << 29) | i``."""
    mask = (1 << 29) - 1
    return cell & mask, (cell >> 29) & mask


def ring_dist(a: tuple[int, int], b: tuple[int, int], res: int) -> int:
    """Chebyshev grid distance with longitude wrap-around."""
    n = 1 << res
    di = abs(a[0] - b[0])
    return max(min(di, n - di), abs(a[1] - b[1]))


# ---------------------------------------------------------------------------
# near-duplicate clusters, re-derived
# ---------------------------------------------------------------------------

# MinHash-LSH as loc2vec_spark.queries_text documents it: distinct word
# 3-gram shingles, 48-bit md5 shingle ids, 8 linear hashes mod 2^31 - 1,
# 4 bands of 2 rows; clusters are the connected components of the pairs
_M31 = (1 << 31) - 1
_MINHASH = [(2654435761 + 2 * t, 40503 + 3 * t) for t in range(8)]


def lsh_components(docs: dict[int, str]) -> dict[int, int]:
    """doc_id -> the minimum doc_id of its near-duplicate cluster."""
    parent = {d: d for d in docs}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict[tuple, int] = {}
    for d, text in docs.items():
        tok = text.split(" ")
        sids = {int(hashlib.md5(f"{a}_{b}_{c}".encode()).hexdigest()[:12], 16)
                for a, b, c in zip(tok, tok[1:], tok[2:])}
        if not sids:
            continue
        h = [min((s % _M31 * a + b) % _M31 for s in sids)
             for a, b in _MINHASH]
        for band in range(4):
            other = first.setdefault((band, h[2 * band], h[2 * band + 1]), d)
            ra, rb = root(d), root(other)
            parent[max(ra, rb)] = min(ra, rb)
    return {d: root(d) for d in docs}


# ---------------------------------------------------------------------------
# output readers
# ---------------------------------------------------------------------------

def read_table(path: str, columns=None):
    """A job's partitioned parquet output as one pyarrow table (the
    partition directories become columns)."""
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True,
                      ignore_prefixes=["_", "."]).to_table(columns=columns)


def read_manifests(path: str) -> list[dict]:
    rows = []
    for fn in sorted(glob.glob(os.path.join(path, "_lineage", "*.json"))):
        with open(fn) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def _manifest_failures(path: str, cell_col: str, id_col: str) -> list[str]:
    """Each committed partition's manifest row matches the ids stored in
    that partition: same row count, same ``bit_xor(xxhash64(id))``."""
    t = read_table(path, [cell_col, id_col]).to_pydict()
    parts: dict[int, list] = defaultdict(list)
    for c, i in zip(t[cell_col], t[id_col]):
        parts[int(c)].append(i)
    man = {int(r["partition"]): r for r in read_manifests(path)}
    bad = []
    if set(man) != set(parts):
        bad.append(f"{len(man)} manifest rows for {len(parts)} partitions")
    for c, ids in parts.items():
        r = man.get(c)
        if r and (r["rows"] != len(ids) or r["checksum"] != id_fold(ids)):
            bad.append(f"manifest of partition {c} does not match its data")
            break
    return bad


def output_bytes(path: str) -> int:
    """Bytes the job committed: data files plus lineage manifests."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith((".parquet", ".json")) and not fn.startswith("."):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def output_checksum(path: str, id_col: str) -> int:
    """Order-free fold of every committed id (replay vs job comparison)."""
    return id_fold(read_table(path, [id_col]).column(id_col).to_pylist())


# ---------------------------------------------------------------------------
# per-workload checks
# ---------------------------------------------------------------------------

def check_tiling(out: str, meta: dict, res: int = 13,
                 sample: int = 64) -> list[str]:
    bad = []
    q_path = os.path.join(out, "_quarantine")
    n_quarantined = (read_table(q_path).num_rows
                     if os.path.isdir(q_path) else 0)
    t = read_table(out, ["anchor_id", "positive_id", "negative_ids",
                         "cell"]).to_pydict()
    if len(t["anchor_id"]) != meta["rows"] - n_quarantined:
        bad.append(f"{len(t['anchor_id'])} rows committed, expected "
                   f"{meta['rows']} - {n_quarantined} quarantined")
    off = meta["offset"]
    want = id_fold(f"img_{i:08d}" for i in range(off, off + meta["rows"]))
    if id_fold(t["anchor_id"]) != want:
        bad.append("committed anchor ids differ from the input ids")
    bad += _manifest_failures(out, "cell_out", "anchor_id")
    cell = {a: cell_ij(c) for a, c in zip(t["anchor_id"], t["cell"])}
    rng = np.random.default_rng(off)
    for k in rng.choice(len(t["anchor_id"]), min(sample, len(cell)),
                        replace=False):
        a = cell[t["anchor_id"][k]]
        p = t["positive_id"][k]
        if p is not None and ring_dist(a, cell[p], res) > 1:
            bad.append(f"positive of {t['anchor_id'][k]} outside ring 1")
        for neg in t["negative_ids"][k] or []:
            if ring_dist(a, cell[neg], res) <= 1:
                bad.append(f"negative of {t['anchor_id'][k]} inside ring 1")
    return bad


def check_mining(out: str, meta: dict, k: int = 5,
                 res: int = 9) -> list[str]:
    bad = []
    emb = read_table(os.path.join(out, "embeddings"), ["image_id"])
    if emb.num_rows != meta["gate_pass"]:
        bad.append(f"{emb.num_rows} embeddings, {meta['gate_pass']} rows "
                   "pass the gate")
    bad += _manifest_failures(os.path.join(out, "embeddings"), "bucket",
                              "image_id")
    t = read_table(os.path.join(out, "mined"),
                   ["anchor_id", "neighbor_id"]).to_pydict()
    per_anchor: dict[str, int] = defaultdict(int)
    ij: dict[str, tuple[int, int]] = {}
    for a, nb in zip(t["anchor_id"], t["neighbor_id"]):
        per_anchor[a] += 1
        for x in (a, nb):
            if x not in ij:
                ij[x] = row_cell_ij(_row_index(x), res)
        if ring_dist(ij[a], ij[nb], res) > 1:
            bad.append(f"neighbour {nb} of {a} outside ring 1")
            break
    if not per_anchor:
        bad.append("no mined rows")
    if any(v > k for v in per_anchor.values()):
        bad.append(f"an anchor has more than {k} neighbours")
    bad += _manifest_failures(os.path.join(out, "mined"), "cell_r7",
                              "anchor_id")
    return bad


def check_corpus(crawl_out: str, corpus_out: str, meta: dict,
                 crawl_stats: dict) -> list[str]:
    bad = []
    exp = meta["expected"]
    named = {k: exp[k] for k in ("skipped_non_html", "url_duplicates",
                                 "dropped_short", "quarantined_archives")}
    named["records_walked"] = exp["records"]
    named["documents"] = exp["html_docs"]
    for key, want in named.items():
        if crawl_stats.get(key) != want:
            bad.append(f"crawl {key} = {crawl_stats.get(key)}, "
                       f"expected {want}")
    s = crawl_stats
    if s.get("records_walked") != (s.get("documents", 0)
                                   + s.get("skipped_non_html", 0)
                                   + s.get("url_duplicates", 0)
                                   + s.get("dropped_short", 0)):
        bad.append("crawl records do not equal documents plus named drops")
    docs = read_table(os.path.join(crawl_out, "documents"),
                      ["doc_id", "uri", "text"]).to_pydict()
    if any(d != xxh64(u.encode()) for d, u in zip(docs["doc_id"],
                                                   docs["uri"])):
        bad.append("a document's doc_id is not xxhash64(uri)")
    comp = lsh_components(dict(zip(docs["doc_id"], docs["text"])))
    family = {xxh64(u.encode()): f
              for f, uris in enumerate(meta["families"]) for u in uris}
    want = set(comp.values())
    out_ids = read_table(os.path.join(corpus_out, "corpus"),
                         ["doc_id"]).column("doc_id").to_pylist()
    if sorted(out_ids) != sorted(want):
        bad.append(f"{len(out_ids)} corpus docs; expected {len(want)}, the "
                   "minimum doc_id of each near-duplicate cluster")
    if any(family.get(d) != family.get(c) for d, c in comp.items()):
        bad.append("a near-duplicate cluster spans two page families")
    bad += _manifest_failures(os.path.join(corpus_out, "corpus"), "bucket",
                              "doc_id")
    return bad
