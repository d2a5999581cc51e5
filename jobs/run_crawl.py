#!/usr/bin/env python
"""Crawl-archive ingestion job — the corpus pipeline's front door
(spark-submit).

    spark-submit --py-files loc2vec_spark.zip jobs/run_crawl.py \
        --warc '<glob of .warc / .warc.gz archives>' --out <dir> \
        [--min-chars 1] [--keep-session]

Turns raw WARC crawl archives into the ``documents``-table shape that
every downstream operator and ``jobs/run_corpus.py`` consume:

WARC archives (binaryFile glob, file-parallel)
  -> operators.warc.read_warc     container walk + dead-letter split
     (corrupt archives salvage their clean prefix and land one row in
     out/quarantine_archives — a bad shard of 10^5-10^6 archives must
     neither kill the job nor vanish silently)
  -> keep HTTP 200 text/html responses with a Target-URI (the funnel
     — records walked, skipped statuses/types, missing uris — is one
     DataFrame.observe on this walk)
  -> URL dedup: the earliest fetch per canonical URL (one window)
  -> operators.html.html_extract  boilerplate strip (Arrow-batched
     pandas UDF: script/style/nav/chrome subtrees dropped, first
     non-empty document title captured, entities decoded, whitespace
     collapsed — never raises on tag soup)
  -> documents rows: doc_id = xxhash64(uri) (deterministic, re-crawl
     stable), source = registered host, lang = NULL (language ID is an
     annotation operator, run_corpus's text_langid stage), n_chars
  -> lineage-manifested resumable write (out/documents), bucketed by
     doc_id hash exactly like run_corpus's output

The archives are walked twice: once for the quarantine write, once
for extraction. The quarantine keeps its own walk so the dead-letter
write survives an extraction failure; nothing raw is cached.

Reference anchor: the S1 directory-as-table scan
(``/root/reference/src/data_loading.py:142-149``) generalized to the
crawl-archive container per SURVEY.md §2.10. Every stage is an
oracle-checked operator face (warc_records, html_text_extract);
this job is their composition. Prints one JSON stats line, in which
records_walked = documents + skipped_non_html + missing_uri
+ url_duplicates + dropped_short.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, Window, functions as F  # noqa: E402

from loc2vec_spark import lineage  # noqa: E402
from loc2vec_spark.session import get_spark  # noqa: E402


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warc", required=True,
                    help="glob of .warc/.warc.gz archives")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-chars", type=int, default=1,
                    help="drop pages whose extracted text is shorter "
                         "(boilerplate-only pages extract to empty)")
    ap.add_argument("--keep-session", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="loc2vec_crawl")
    from loc2vec_spark.packaging import ensure_workers_can_import
    ensure_workers_can_import(spark)

    from loc2vec_spark.operators.html import html_extract_udf
    from loc2vec_spark.operators.url import canonicalize_urls
    from loc2vec_spark.operators.warc import read_warc

    stats = {}
    good, quarantine = read_warc(spark, args.warc)

    # walk 1 of 2, the dead-letter sink (S7-style): the archive-level
    # quarantine is tiny (one row per corrupt archive) and is written
    # by its own walk so it survives even if the extraction below fails
    qpath = os.path.join(args.out, "quarantine_archives")
    quarantine.write.mode("overwrite").parquet(qpath)
    stats["quarantined_archives"] = spark.read.parquet(qpath).count()

    # walk 2 of 2, extraction. The funnel is the job's operational
    # contract — every dropped row is counted under a named reason —
    # and is observed as a side effect of this walk, so counting costs
    # no walk of its own and pins no raw body. is_html is NULL-coalesced:
    # a non-response record (status NULL) with an html content type
    # must count as non-HTML, not vanish from both counts.
    is_html = F.coalesce(
        (F.col("status") == 200) & F.coalesce(
            F.lower(F.col("content_type")).startswith("text/html"),
            F.lit(False)),
        F.lit(False))
    no_uri = F.col("uri").isNull()
    funnel = Observation()
    good = good.observe(
        funnel, F.count(F.lit(1)).alias("records_walked"),
        F.count_if(~is_html).alias("skipped_non_html"),
        F.count_if(is_html & no_uri).alias("missing_uri"))

    # URL-level dedup BEFORE paying to parse: re-crawls and tracked
    # variants of the same page (scheme case, utm_* params, fragments,
    # trailing slashes) collapse on the canonical URL. Malformed URLs
    # canonicalize to NULL and key on their raw uri (a parse failure
    # must not glue unrelated pages together); records without a uri
    # have no key at all and are counted as missing_uri above. The
    # earliest fetch wins: dated before undated (an UNKNOWN date must
    # not beat a known one), then uri, then the body — so exact
    # (uri, warc_date) twins resolve the same way in every run. The
    # bodies shuffle once, the unavoidable cost of picking one per page.
    html = canonicalize_urls(good.filter(is_html & ~no_uri), "uri")
    wnd = Window.partitionBy(F.coalesce("canon_url", "uri")).orderBy(
        F.col("warc_date").asc_nulls_last(), "uri", F.xxhash64("body"),
        "body")
    pages = (html.withColumn("_rk", F.row_number().over(wnd))
                 .filter("_rk = 1")
                 .withColumn("ex", html_extract_udf()(
                     F.col("body").cast("string"))))
    docs = pages.select(
        # doc_id stays a pure function of the RAW uri (re-crawl
        # stable, resume-layout stable); canon_url rides along for
        # downstream URL analytics
        F.xxhash64("uri").alias("doc_id"),
        F.col("ex.text").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.coalesce(
            F.col("host"),
            F.regexp_extract("uri", r"^[a-z]+://([^/]+)", 1))
         .alias("source"),
        F.length("ex.text").cast("bigint").alias("n_chars"),
        F.col("ex.title").alias("title"),
        "uri", "canon_url", "warc_date").cache()
    html_unique = docs.count()
    stats.update(funnel.get)
    stats["url_duplicates"] = (stats["records_walked"]
                               - stats["skipped_non_html"]
                               - stats["missing_uri"] - html_unique)
    kept = docs.filter(F.col("n_chars") >= args.min_chars)
    stats["documents"] = kept.count()
    stats["dropped_short"] = html_unique - stats["documents"]

    # resumable bucketed write, same layout contract as run_corpus
    out_df = kept.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    index = lineage.write_resumable(out_df,
                                    os.path.join(args.out, "documents"),
                                    cell_col="bucket", id_col="doc_id")
    stats["written_docs"] = sum(r["rows"] for r in index.values())
    stats["partitions"] = len(index)
    docs.unpersist()

    print(json.dumps(stats))
    if not args.keep_session:
        spark.stop()
    return stats


if __name__ == "__main__":
    main()
