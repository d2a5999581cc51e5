"""Seeded, single-process input generators for the job-level benchmark.

Every input is a pure function of ``(workload, seed, size)`` and is cached
on disk under that key, so repeated runs with one seed reuse the files
and two runs with one seed see byte-identical inputs.

- Images: the rows of ``loc2vec_spark.fixtures``' row functions, taken
  from a seed-chosen index window. The window starts at a multiple of 15,
  which keeps the 80/20 urban/global split (``i % 5``) and the urban-disk
  assignment (``i % 3``) of the fixture geography.
- WARC: gzip-per-record archives written with the standard library
  (``gzip``), holding near-duplicate HTML page families plus records each
  job stage must drop under a named reason, and one truncated archive.

The seed changes which rows and words an input holds, never its size:
every seed gives a workload the same number of rows, families and copies.
"""

from __future__ import annotations

import gzip
import json
import math
import os
import random
import time

from checks import expected_pixels, sharpness

N_SHARDS = 4          # one parquet file per local core: scan parallelism
_WINDOWS = 1_000_003  # distinct seed windows before they repeat
COPIES = 10           # near-duplicate copies of each page family

#: the parts of each workload and their sizes (image rows or page families)
PARTS = {"images": {"tiling": 600, "mining": 400}, "corpus": {"corpus": 30}}


def image_offset(seed: int, n: int) -> int:
    """First fixture row index of the seed's window (a multiple of 15)."""
    return 15 * math.ceil(n / 15) * (seed % _WINDOWS)


def _write_images(path: str, ids: list[int], with_bytes: bool) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from loc2vec_spark.fixtures import phash_of, row_caption, row_latlon, \
        row_pixels
    from loc2vec_spark.png_codec import encode_png, encode_pngq

    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("caption", pa.string()), ("phash", pa.int64()),
    ])
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(ids) / N_SHARDS)
    for s in range(N_SHARDS):
        cols = {f.name: [] for f in schema}
        for i in ids[s * per:(s + 1) * per]:
            lat, lon = row_latlon(i)
            fmt = "pngq" if i % 10 == 0 else "png"
            data = None
            if with_bytes:
                px = row_pixels(i)
                data = encode_pngq(px) if fmt == "pngq" else encode_png(px)
            for k, v in (("image_id", f"img_{i:08d}"), ("bytes", data),
                         ("w", 64), ("h", 64), ("fmt", fmt),
                         ("caption", row_caption(i, lat, lon)),
                         ("phash", phash_of(i))):
                cols[k].append(v)
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"part-{s:05d}.parquet"))


def gen_images(root: str, seed: int, n: int, with_bytes: bool) -> dict:
    """Images table for ``tiling`` (metadata only) or ``mining`` (PNG and
    PNGQ bytes on every row). Returns the input's description, which for
    ``mining`` includes the sharpness threshold that splits the rows in
    half and the number of rows that pass it."""
    off = image_offset(seed, n)
    ids = list(range(off, off + n))
    path = os.path.join(root, "images.parquet")
    _write_images(path, ids, with_bytes)
    meta = {"images": path, "rows": n, "offset": off}
    if with_bytes:
        # threshold halfway between the two middle scores: no score sits
        # near it, so rounding in the program cannot move a row across
        s = sorted(sharpness(expected_pixels(i)) for i in ids)
        lo, hi = s[n // 2 - 1], s[n // 2]
        meta["min_sharpness"] = round((lo + hi) / 2, 3)
        meta["gate_pass"] = sum(v >= meta["min_sharpness"] for v in s)
    return meta


# ---------------------------------------------------------------------------
# WARC archives
# ---------------------------------------------------------------------------

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_STOP = ["the", "a", "of"]


def _word(rng: random.Random) -> str:
    # 3 syllables from 90 -> ~7e5 distinct words: unrelated families
    # share no word 3-gram, so MinHash-LSH cannot merge them
    return "".join(rng.choice(_CONS) + rng.choice(_VOWELS)
                   for _ in range(3))


def _family_text(rng: random.Random, n_words: int) -> list[str]:
    # every third token a stopword, so each 3-gram holds content words
    return [rng.choice(_STOP) if k % 3 == 0 else _word(rng)
            for k in range(n_words)]


def _html(title: str, text: str) -> bytes:
    return (f"<html><head><title>{title}</title>"
            "<script>var track = 1;</script></head><body>"
            "<nav>home about contact</nav>"
            f"<p>{text}</p></body></html>").encode()


def _record(i: int, uri: str, date: str, status: int, ctype: str,
            body: bytes) -> bytes:
    http = (f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body
    head = ("WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{i:032x}>\r\n"
            f"WARC-Date: {date}\r\nWARC-Target-URI: {uri}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(http)}\r\n\r\n").encode()
    return gzip.compress(head + http + b"\r\n\r\n", mtime=0)


def gen_warc(root: str, seed: int, n_families: int,
             n_archives: int = 8) -> dict:
    """Gzip WARC archives for ``corpus``.

    Per family: ``COPIES`` near-duplicate copies of one page (each copy
    edits one word of the family text). Besides them: one later re-crawl of
    every fifth family's first copy under a tracking parameter (a URL
    duplicate), one 404 and one JSON response per family (non-HTML
    skips), one page per five families whose body is all boilerplate
    (dropped as empty), and one archive truncated inside a gzip member
    (quarantined whole). Returns the input's description with the count
    each stage should see and the URIs of every family."""
    rng = random.Random(seed)
    recs: list[tuple[str, str, int, str, bytes]] = []
    families: list[list[str]] = []
    exp = {"html_docs": 0, "skipped_non_html": 0, "url_duplicates": 0,
           "dropped_short": 0}
    for f in range(n_families):
        base = _family_text(rng, 120)
        host = f"site{rng.randrange(50)}.example"
        uris = []
        for c in range(COPIES):
            words = list(base)
            words[1 + 3 * rng.randrange(len(base) // 3)] = _word(rng)
            uri = f"http://{host}/f{f}/copy-{c}.html"
            uris.append(uri)
            recs.append((uri, f"2024-01-{1 + c:02d}T00:00:00Z", 200,
                         "text/html; charset=utf-8",
                         _html(f"page {f}", " ".join(words))))
        families.append(uris)
        exp["html_docs"] += len(uris)
        recs.append((f"http://{host}/f{f}/missing.html",
                     "2024-02-01T00:00:00Z", 404, "text/html", b"gone"))
        recs.append((f"http://{host}/f{f}/data.json",
                     "2024-02-01T00:00:00Z", 200, "application/json",
                     b'{"k": 1}'))
        exp["skipped_non_html"] += 2
        if f % 5 == 0:
            recs.append((uris[0] + "?utm_source=feed",
                         "2024-03-01T00:00:00Z", 200, "text/html",
                         _html(f"page {f}", " ".join(base))))
            recs.append((f"http://{host}/f{f}/empty.html",
                         "2024-02-01T00:00:00Z", 200, "text/html",
                         b"<html><body><script>x()</script></body></html>"))
            exp["url_duplicates"] += 1
            exp["dropped_short"] += 1
    rng.shuffle(recs)

    os.makedirs(root, exist_ok=True)
    per = math.ceil(len(recs) / n_archives)
    archive_bytes = 0
    for a in range(n_archives):
        blob = b"".join(_record(a * per + k, *r)
                        for k, r in enumerate(recs[a * per:(a + 1) * per]))
        archive_bytes += len(blob)
        with open(os.path.join(root, f"crawl-{a:03d}.warc.gz"), "wb") as fh:
            fh.write(blob)
    lost = b"".join(_record(10**6 + k, f"http://lost.example/{k}",
                            "2024-01-01T00:00:00Z", 200, "text/html",
                            _html("lost", "lost page"))
                    for k in range(3))
    lost = lost[:len(lost) - 20]  # cut inside the last gzip member
    archive_bytes += len(lost)
    with open(os.path.join(root, "crawl-truncated.warc.gz"), "wb") as fh:
        fh.write(lost)
    exp.update(records=len(recs), archives=n_archives + 1,
               quarantined_archives=1)
    return {"warc": os.path.join(root, "*.warc.gz"), "rows": len(recs),
            "archive_bytes": archive_bytes, "expected": exp,
            "families": families}


def ensure_inputs(cache_root: str, workload: str,
                  seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) the inputs of one (workload, seed).

    The description holds each part's own description under ``parts``
    and the input rows of one run of the workload's jobs under ``rows``
    (image rows, or WARC records for ``corpus``). Returns the path of the
    description, the description, and the generation time in seconds
    (0.0 when the cache already held the inputs)."""
    sizes = PARTS[workload]
    key = "-".join(f"{p}{n}" for p, n in sizes.items())
    root = os.path.join(cache_root, f"{workload}-s{seed}-{key}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return meta_path, json.load(fh), 0.0
    t0 = time.perf_counter()
    tmp = root + f".tmp{os.getpid()}"
    parts = {}
    for part, size in sizes.items():
        if part == "corpus":
            m = gen_warc(os.path.join(tmp, part), seed, size)
            m["warc"] = os.path.join(root, part, "*.warc.gz")
        else:
            m = gen_images(os.path.join(tmp, part), seed, size,
                           with_bytes=part == "mining")
            m["images"] = os.path.join(root, part, "images.parquet")
        parts[part] = m
    meta = {"parts": parts, "rows": sum(m["rows"] for m in parts.values())}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, root)
    return meta_path, meta, time.perf_counter() - t0
