"""URL canonicalization + URL-level dedup for the crawl front door.

Between ``read_warc`` (archive walk) and the text dedup family sits
the cheapest dedup a crawl pipeline runs: the SAME page fetched under
trivially different URLs (scheme case, default ports, fragments,
tracking parameters, trailing slashes) must collapse BEFORE anything
pays to parse or shingle its body. This module provides:

- :func:`canonicalize` — the pure-Python kernel (stdlib
  urllib.parse), one URL -> canonical form;
- :func:`canonicalize_urls` — the Arrow-batched operator adding
  ``canon_url`` + ``host`` columns (malformed URLs canonicalize to
  NULL — quarantine-by-null, filterable, never a thrown row); only
  the URL column crosses into Python;
- :func:`dedup_urls` — keep-min-id verdicts per canonical URL, the
  same (key, keep, dup_of) verdict shape as the text dedup family,
  one hash-partitioned groupBy at any scale.

Canonical form (the common subset of the Safe Browsing / crawler
canonicalizations — deterministic, no network, no public-suffix
list): lowercase scheme + host, strip ``www.``, drop default ports
(80/http, 443/https), resolve ``.``/``..`` path segments, collapse
``//`` runs, drop the fragment, drop unambiguous tracking parameters
(utm_*, gclid, fbclid, msclkid), sort the surviving query
parameters for order-independence, strip a trailing slash on
non-root paths. Non-http(s) schemes pass through host/path cleanup
but keep their scheme; inputs without a parseable host -> NULL.
"""
from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urlsplit

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# unambiguous tracking params only: ?ref= is FUNCTIONAL on real sites
# (git forges, docs version pickers), and collapsing it would merge
# genuinely different pages — false-positive dedup is data loss,
# strictly worse than a missed dedup (review r5)
_TRACKING = ("gclid", "fbclid", "msclkid")


def _clean_path(path: str) -> str:
    segs: list[str] = []
    for seg in path.split("/"):
        if seg in ("", "."):
            continue
        if seg == "..":
            if segs:
                segs.pop()
            continue
        segs.append(seg)
    return "/" + "/".join(segs)


def _canonical_parts(url: str) -> tuple[str | None, str | None]:
    """(canonical URL, canonical host) — host is an intermediate of
    the canonicalization, exposed so the operator never parses a URL
    twice. (None, None) when unparseable/hostless."""
    if not url:
        return None, None
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None, None
    scheme = (parts.scheme or "http").lower()
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None, None
    # loop, not a single strip: 'www.www.example.com' must land on the
    # same key as 'example.com' or idempotence breaks and dedup keys
    # split (review r5)
    while host.startswith("www.") and len(host) > 4:
        host = host[4:]
    try:
        port = parts.port
    except ValueError:
        return None, None
    default = {"http": 80, "https": 443}.get(scheme)
    fmt = f"[{host}]" if ":" in host else host  # re-bracket IPv6 so
    netloc = fmt if port in (None, default) \
        else f"{fmt}:{port}"                    # the result re-parses
    path = _clean_path(parts.path)
    if len(path) > 1:
        path = path.rstrip("/")
    keep = sorted(
        (k, v) for k, v in parse_qsl(parts.query, keep_blank_values=True)
        if not k.lower().startswith("utm_") and k.lower() not in _TRACKING)
    query = f"?{urlencode(keep)}" if keep else ""
    return f"{scheme}://{netloc}{path}{query}", host


def canonicalize(url: str) -> str | None:
    """One URL -> canonical string, or None when unparseable/hostless.

    Deterministic and idempotent (property-tested):
    canonicalize(canonicalize(u)) == canonicalize(u)."""
    return _canonical_parts(url)[0]


CANON_FIELDS = [T.StructField("canon_url", T.StringType()),
                T.StructField("host", T.StringType())]


def canonicalize_urls(df: DataFrame, url_col: str = "uri") -> DataFrame:
    """Add ``canon_url`` + ``host`` columns (NULL on malformed input —
    the quarantine-by-null convention; filter ``canon_url IS NULL``
    for the dead-letter view). One struct pandas UDF over ``url_col``:
    only the URL crosses Arrow, every other column (bodies included)
    stays in the JVM. No shuffle — a pure per-row projection."""

    @F.pandas_udf(T.StructType(CANON_FIELDS))
    def _canon(urls: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_canonical_parts(u) if isinstance(u, str) else (None, None)
             for u in urls], columns=["canon_url", "host"])

    return (df.withColumn("_canon", _canon(F.col(url_col)))
              .select("*", "_canon.*").drop("_canon"))


def dedup_urls(df: DataFrame, id_col: str, url_col: str = "uri") -> DataFrame:
    """URL-level exact dedup: rows whose URLs canonicalize identically
    collapse to the minimum id (``keep`` verdict + ``dup_of`` pointer,
    the text-dedup verdict shape). NULL canon_urls (malformed) are
    each their own keeper — a parse failure must not glue unrelated
    rows together.

    Scale shape: ONE hash-shuffle on canon_url for the min-id
    aggregate + a broadcast-free equi-join back; candidate volume is
    the duplicate volume, never pairwise."""
    canon = canonicalize_urls(df, url_col).select(
        F.col(id_col).alias("_id"), "canon_url")
    keepers = (canon.filter("canon_url IS NOT NULL")
               .groupBy("canon_url")
               .agg(F.min("_id").alias("keep_id")))
    verdicts = (canon.join(keepers, "canon_url", "left")
                .select(F.col("_id").alias(id_col), "canon_url",
                        F.coalesce("keep_id", "_id").alias("keep_id"),
                        (F.coalesce("keep_id", "_id") == F.col("_id"))
                        .alias("keep")))
    return verdicts.withColumn(
        "dup_of", F.when(~F.col("keep"), F.col("keep_id"))).drop(
        "keep_id")  # NULL for keepers, typed like the id column
