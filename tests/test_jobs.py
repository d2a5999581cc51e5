"""End-to-end spark-submit jobs driven in-process (E1/E2/E3 pipelines)."""

import os
import sys

import pytest


@pytest.fixture(scope="module")
def images_dir(tmp_path_factory):
    from loc2vec_spark.fixtures import write_fixtures
    d = tmp_path_factory.mktemp("job_imgs")
    write_fixtures(str(d), n_images=120, with_channels=False, n_shards=2)
    return os.path.join(str(d), "images.parquet")


TINY, CORRUPT = "img_tiny_90000000", "img_corrupt_90000001"


@pytest.fixture(scope="module")
def mining_images_dir(images_dir, tmp_path_factory):
    """The job fixture plus two edge rows for the mining job, both
    located on the first fixture tile: a 2x2 tile (decodes and embeds,
    but is too small for the quality signals) and a corrupt PNG."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from loc2vec_spark.png_codec import encode_png
    table = pq.read_table(images_dir)
    base = table.slice(0, 1).to_pandas()
    extra = pd.concat([base, base], ignore_index=True)
    extra["image_id"] = [TINY, CORRUPT]
    extra["bytes"] = [
        encode_png(np.array([[10, 200], [90, 30]], dtype=np.uint8)),
        encode_png(np.zeros((8, 8), dtype=np.uint8))[:40] + b"garbage"]
    d = tmp_path_factory.mktemp("job_imgs_edge")
    pq.write_table(table, str(d / "part-0.parquet"))
    pq.write_table(pa.Table.from_pandas(extra, schema=table.schema,
                                        preserve_index=False),
                   str(d / "part-1.parquet"))
    return str(d)


def _embedded_ids(spark, out):
    return {r.image_id for r in spark.read.parquet(
        os.path.join(out, "embeddings")).select("image_id").collect()}


def _run_job(module_path, argv, spark):
    """Execute a jobs/ script's main() in-process against the session."""
    import importlib.util
    spec = importlib.util.spec_from_file_location("jobmod", module_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main(argv)


def _assert_crawl_conserved(stats):
    """Every walked WARC record is a document or a named drop."""
    assert stats["records_walked"] == (
        stats["documents"] + stats["skipped_non_html"]
        + stats["url_duplicates"] + stats["dropped_short"]
        + stats["missing_uri"]), stats


def test_run_mining_end_to_end(spark, mining_images_dir, tmp_path):
    out = str(tmp_path / "mined_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", mining_images_dir, "--out", out, "--res", "9",
              "--k", "3", "--keep-session"], spark)

    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    assert emb.count() > 100  # corrupt rows quarantined, rest embedded
    assert "embedding" in emb.columns
    # gate off: the 2x2 tile embeds (only the quality signals refuse
    # it); the corrupt PNG never does
    ids = _embedded_ids(spark, out)
    assert TINY in ids and CORRUPT not in ids

    mined = spark.read.parquet(os.path.join(out, "mined"))
    assert {"anchor_id", "rank", "neighbor_id", "hard_id"} <= \
        set(mined.columns)
    n = mined.count()
    assert n > 0
    # ranks within k, one hard pick per anchor
    assert mined.filter("rank > 3").count() == 0
    per_anchor = mined.groupBy("anchor_id").agg(
        {"hard_id": "approx_count_distinct"}).collect()
    assert all(r[1] == 1 for r in per_anchor)

    # resume: second run commits nothing new
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", mining_images_dir, "--out", out, "--res", "9",
              "--k", "3", "--keep-session"], spark)
    assert spark.read.parquet(os.path.join(out, "mined")).count() == n


def test_run_mining_with_pca(spark, mining_images_dir, tmp_path):
    out = str(tmp_path / "mined_pca")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", mining_images_dir, "--out", out, "--res", "9",
              "--k", "2", "--pca-k", "4", "--keep-session"], spark)
    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    row = emb.select("embedding").first()
    assert len(row["embedding"]) == 4


def test_run_mining_quality_gate(spark, mining_images_dir, tmp_path):
    """--min-sharpness drops low-texture tiles before the kNN: exactly
    the tiles image_quality passes at the threshold embed. The 2x2
    tile is the edge: image_features accepts it, image_quality marks
    it ok=false, so the gate drops it."""
    out = str(tmp_path / "mined_gated")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from loc2vec_spark.operators import images as img_ops
    imgs = spark.read.parquet(mining_images_dir)
    quality = img_ops.image_quality(imgs).toPandas().set_index("image_id")
    assert not quality.ok[TINY] and not quality.ok[CORRUPT]
    featured = {r.image_id for r in
                img_ops.image_features(imgs).select("image_id").collect()}
    assert TINY in featured and CORRUPT not in featured
    qual = quality[quality.ok]
    thr = float(qual.sharpness.quantile(0.5))  # median gate: ~half pass
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", mining_images_dir, "--out", out, "--res", "9",
              "--k", "2", "--min-sharpness", str(thr), "--keep-session"],
             spark)
    ids = _embedded_ids(spark, out)
    assert ids == set(qual.index[qual.sharpness >= thr])
    assert 0 < len(ids) < len(qual)
    assert TINY not in ids and CORRUPT not in ids


def test_run_tiling_end_to_end(spark, images_dir, tmp_path):
    out = str(tmp_path / "tiles_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _run_job(os.path.join(repo, "jobs", "run_tiling.py"),
             ["--images", images_dir, "--out", out, "--keep-session"],
             spark)
    tiles = spark.read.parquet(out)
    n = tiles.count()
    assert n > 100
    assert {"anchor_id", "positive_id", "negative_ids"} <= set(tiles.columns)
    # lineage manifests exist and cover every partition
    from loc2vec_spark import lineage
    assert len(lineage.done_partitions(out)) > 0
    # resume: no duplicates after a re-run
    _run_job(os.path.join(repo, "jobs", "run_tiling.py"),
             ["--images", images_dir, "--out", out, "--keep-session"],
             spark)
    assert spark.read.parquet(out).count() == n


def test_run_corpus_end_to_end(spark, tmp_path):
    """documents -> quality/langid filter -> exact + transitive near-dup
    dedup -> lineage-manifested corpus; composition of the registered
    oracle-checked operators."""
    import json

    out = str(tmp_path / "corpus_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "corpusmod", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.01/documents.parquet",
                      "--out", out,
                      "--embeddings",
                      "/root/testdata/sf0.01/embeddings.parquet",
                      "--keep-session"])

    assert stats["input_docs"] == 500
    # each stage only shrinks the corpus
    assert stats["input_docs"] >= stats["after_quality_filter"] \
        >= stats["after_exact_dedup"] >= stats["final_docs"] > 0
    assert stats["embedding_near_dup_pairs"] > 0

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == stats["final_docs"]
    # canonical representatives are unique docs with cluster provenance
    assert corpus.select("doc_id").distinct().count() == stats["final_docs"]
    assert {"text", "lang_pred", "n_tokens", "component",
            "cluster_size"} <= set(corpus.columns)
    # exactly ONE representative per duplicate cluster survives — the
    # component column is written precisely so this is checkable
    assert corpus.select("component").distinct().count() \
        == stats["final_docs"]

    # resume: a re-run commits nothing new
    stats2 = mod.main(["--docs",
                       "/root/testdata/sf0.01/documents.parquet",
                       "--out", out, "--keep-session"])
    assert spark.read.parquet(os.path.join(out, "corpus")).count() \
        == stats["final_docs"]
    assert stats2["final_docs"] == 0  # all partitions already committed


def test_run_corpus_jsonl_with_pii_scrub(spark, tmp_path):
    """Crawl-dump entry: JSONL ingestion with dead-letter quarantine
    feeding the same pipeline, PII scrubbed in the written corpus."""
    import importlib.util
    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    # plant PII into a few docs; corrupt two lines
    dump = tmp_path / "dump.jsonl"
    with open(dump, "w") as f:
        for r in docs.itertuples():
            text = r.text + (" mail me at a.b@example.com"
                             if r.doc_id % 7 == 0 else "")
            import json as _json
            f.write(_json.dumps({
                "doc_id": int(r.doc_id), "text": text, "lang": r.lang,
                "source": r.source, "n_chars": int(r.n_chars)}) + "\n")
        f.write("NOT JSON {{{\n")
        f.write('{"text": "rowid missing"}\n')

    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod2", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", str(dump), "--out", out, "--fmt", "jsonl",
                      "--scrub-pii", "--keep-session"])
    assert stats["quarantined_rows"] == 2
    assert stats["input_docs"] == len(docs)
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.filter("text LIKE '%example.com%'").count() == 0
    assert corpus.filter("text LIKE '%<EMAIL>%'").count() > 0


def test_run_corpus_split_and_packing(spark, tmp_path):
    """Optional corpus stages: leak-free split column + training-sequence
    packing slots, composed from the oracle-checked operators."""
    import importlib.util

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod3", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.001/documents.parquet",
                      "--out", out, "--split", "--pack-budget", "256",
                      "--keep-session"])

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert {"split", "pack_shard", "pack_id", "pack_pos"} \
        <= set(corpus.columns)
    # split is a pure function of component -> no cluster straddles
    assert corpus.groupBy("component") \
        .agg(F.countDistinct("split").alias("k")) \
        .filter("k > 1").count() == 0
    assert set(r["split"] for r in
               corpus.select("split").distinct().collect()) \
        <= {"train", "val"}
    # every multi-doc pack respects the budget
    assert corpus.groupBy("pack_shard", "pack_id") \
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("c")) \
        .filter("s > 256 AND c > 1").count() == 0
    assert stats["final_docs"] == corpus.count()


def test_run_corpus_weighted_mixing(spark, tmp_path):
    """--mix-weights downsamples sources to w/W * n_min/n_s (mix_sources
    semantics) between dedup and the write."""
    import importlib.util

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod4", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.001/documents.parquet",
                      "--out", out, "--mix-weights", "src0=3,src1=1",
                      "--keep-session"])
    assert 0 < stats["after_mixing"] < stats["after_exact_dedup"]
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert stats["final_docs"] == corpus.count()
    # weighted sources keep more than weight-1 sources of equal size:
    # src0 (w=3, W=3 -> keep ~all of n_min) vs src1 (w=1 -> ~1/3)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = corpus.join(docs.select("doc_id", "source"), "doc_id") \
                 .groupBy("source").agg(F.count("*").alias("n")) \
                 .collect()
    per = {r["source"]: r["n"] for r in kept}
    if "src0" in per and "src1" in per:
        assert per["src0"] > per["src1"]


def test_run_mining_with_augmentation(spark, mining_images_dir, tmp_path):
    """--augment-copies multiplies the embedding pool: each source tile
    contributes itself plus N seeded flip/rotate variants that inherit
    its metadata (same cell), all flowing through featurize/kNN/write."""
    out = str(tmp_path / "mined_aug")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", mining_images_dir, "--out", out, "--res", "9",
              "--k", "2", "--augment-copies", "1", "--keep-session"],
             spark)
    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    ids = [r.image_id for r in emb.select("image_id").collect()]
    aug_ids = [i for i in ids if "#aug" in i]
    base_ids = [i for i in ids if "#aug" not in i]
    # every decodable source tile embeds once raw + once augmented
    assert len(aug_ids) == len(base_ids)
    assert {i.split("#")[0] for i in aug_ids} == set(base_ids)
    assert TINY in base_ids and not any(CORRUPT in i for i in ids)


def test_run_crawl_end_to_end(spark, tmp_path):
    """WARC archives -> container walk + dead-letter split -> HTML
    boilerplate strip -> documents-shape lineage write; composition of
    the warc_records + html_text_extract oracle-checked operators."""
    import json

    from loc2vec_spark.operators.warc import build_warc

    # three archives: two clean (one plain, one gzip-member), one
    # corrupt mid-stream (salvages its first record, quarantines)
    def recs(base, n=5):
        return [{
            "uri": f"http://site{base}.test/page/{i}",
            "date": "2026-02-01T00:00:00Z",
            "status": 404 if (base, i) == (0, 3) else 200,
            "content_type": ("application/json"
                             if (base, i) == (1, 4)
                             else "text/html; charset=utf-8"),
            "body": (f"<html><head><title>P{base}-{i}</title>"
                     f"<script>x</script></head><body><nav>m</nav>"
                     f"<p>content {base} {i}</p></body></html>"
                     ).encode(),
        } for i in range(n)]

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(build_warc(recs(0), gzip_members=False))
    (wdir / "b.warc.gz").write_bytes(build_warc(recs(1),
                                                gzip_members=True))
    clean = build_warc(recs(2, n=2), gzip_members=False)
    (wdir / "c.warc").write_bytes(clean[:len(clean) // 2 + 40])

    out = str(tmp_path / "crawl_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "crawlmod", os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])

    assert stats["quarantined_archives"] == 1     # c.warc, truncated
    # 10 clean records + c.warc's salvaged prefix (>= 1 record)
    assert stats["records_walked"] >= 11
    assert stats["skipped_non_html"] == 2         # the 404 + the json
    assert stats["documents"] == stats["records_walked"] - 2
    assert stats["written_docs"] == stats["documents"]
    _assert_crawl_conserved(stats)

    docs = spark.read.parquet(os.path.join(out, "documents"))
    assert docs.count() == stats["documents"]
    row = docs.filter("uri = 'http://site0.test/page/1'").collect()[0]
    assert row["title"] == "P0-1"
    assert row["text"] == "content 0 1"            # chrome stripped
    assert row["source"] == "site0.test"
    assert row["n_chars"] == len("content 0 1")
    assert row["lang"] is None
    # doc_id is re-crawl stable (pure function of the uri)
    from pyspark.sql import functions as F
    expect = spark.range(1).select(
        F.xxhash64(F.lit("http://site0.test/page/1"))).collect()[0][0]
    assert row["doc_id"] == expect

    # the output IS documents-shaped: run_corpus's first stages accept it
    docs.createOrReplaceTempView("documents")
    from loc2vec_spark.queries import QUERIES
    assert spark.sql(QUERIES["text_quality"].spark_sql).count() \
        == stats["documents"]

    # resume: a re-run commits nothing new
    stats2 = mod.main(["--warc", str(wdir / "*"), "--out", out,
                       "--keep-session"])
    assert stats2["written_docs"] == 0
    _assert_crawl_conserved(stats2)
    assert spark.read.parquet(os.path.join(out, "documents")).count() \
        == stats["documents"]


def test_run_crawl_funnel_counts_non_response_records(spark, tmp_path):
    """A WARC 'conversion' record with an html content type parses to
    status=NULL + content_type='text/html' — is_html is then SQL NULL,
    and the funnel must count it under skipped_non_html instead of
    collapsing the NULL and False groups into one bool key (which
    silently dropped whichever count iterated first)."""
    from loc2vec_spark.operators.warc import build_warc

    recs = [{
        "uri": f"http://conv.test/p/{i}", "date": "2026-02-01T00:00:00Z",
        "status": 200, "content_type": "text/html",
        "body": f"<html><body><p>doc {i}</p></body></html>".encode(),
    } for i in range(3)]
    archive = bytearray(build_warc(recs, gzip_members=False))
    # append a hand-built non-response record: WARC-Type conversion,
    # WARC-level Content-Type text/html (the Common Crawl WET shape)
    body = b"plain extracted text"
    head = ("WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Record-ID: <urn:uuid:deadbeef>\r\n"
            "WARC-Date: 2026-02-01T00:00:00Z\r\n"
            "WARC-Target-URI: http://conv.test/wet/0\r\n"
            "Content-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode()
    archive += head + body + b"\r\n\r\n"
    wdir = tmp_path / "warcs_conv"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(bytes(archive))

    import importlib.util
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod2", os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--warc", str(wdir / "*"), "--out",
                      str(tmp_path / "crawl_conv_out"), "--keep-session"])
    assert stats["records_walked"] == 4          # NULL group not dropped
    assert stats["skipped_non_html"] == 1        # the conversion record
    assert stats["documents"] == 3
    assert stats["dropped_short"] == 0
    _assert_crawl_conserved(stats)


def test_run_trajectory_end_to_end(spark, tmp_path):
    """The trajectory job composes the oracle-checked stay/OD/co-dwell/
    Hausdorff faces: outputs match the faces run directly, the trip-
    conservation invariant holds, and a re-run resumes (no duplicate
    stay rows)."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "tr_events")
    events.write.parquet(src)
    out = str(tmp_path / "tr_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _run_job(os.path.join(repo, "jobs", "run_trajectory.py"),
             ["--events", src, "--out", out, "--keep-session"], spark)

    from loc2vec_spark import lineage
    from loc2vec_spark.queries import QUERIES

    events.createOrReplaceTempView("events")
    n_stays = spark.sql(QUERIES["stay_points"].spark_sql).count()
    stays = spark.read.parquet(os.path.join(out, "stay_points"))
    assert stays.count() == n_stays > 0
    n_users = stays.select("user_id").distinct().count()

    from pyspark.sql import functions as F
    od = spark.read.parquet(os.path.join(out, "od_flows"))
    total_trips = od.agg(F.sum("n_trips")).first()[0]
    assert total_trips == n_stays - n_users   # trip conservation

    for sub, face in (("colocation_pairs", "colocation_pairs"),
                      ("similar_users", "hausdorff_pairs")):
        got = spark.read.parquet(os.path.join(out, sub)).count()
        exp = QUERIES[face].fn(spark, None).count()
        assert got == exp, sub

    # resume: every bucket committed -> re-run writes nothing new
    assert len(lineage.done_partitions(
        os.path.join(out, "stay_points"))) > 0
    _run_job(os.path.join(repo, "jobs", "run_trajectory.py"),
             ["--events", src, "--out", out, "--keep-session"], spark)
    assert spark.read.parquet(
        os.path.join(out, "stay_points")).count() == n_stays


def test_run_crawl_url_dedup(spark, tmp_path):
    """Tracked/re-crawled variants of one page collapse on the
    canonical URL before extraction; the earliest fetch wins; the
    funnel counts the drops."""
    import importlib.util
    import os as _os

    from loc2vec_spark.operators.warc import build_warc

    page = (b"<html><head><title>T</title></head>"
            b"<body><p>the content</p></body></html>")
    recs = [
        {"uri": "http://Site.test/a?utm_source=mail",
         "date": "2026-02-02T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://site.test/a",                 # earliest fetch
         "date": "2026-02-01T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://site.test/a/#frag",
         "date": "2026-02-03T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://other.test/b",
         "date": "2026-02-01T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "%%%not-a-url",                       # NULL canon:
         "date": "2026-02-01T00:00:00Z", "status": 200,  # own keeper
         "content_type": "text/html", "body": page},
    ]
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(build_warc(recs, gzip_members=False))

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod3", _os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])

    assert stats["records_walked"] == 5
    assert stats["url_duplicates"] == 2
    assert stats["documents"] == 3
    _assert_crawl_conserved(stats)
    docs = spark.read.parquet(_os.path.join(out, "documents"))
    uris = {r["uri"] for r in docs.collect()}
    # the earliest (warc_date, uri) fetch of the duplicated page won
    assert uris == {"http://site.test/a", "http://other.test/b",
                    "%%%not-a-url"}
    canon = {r["uri"]: r["canon_url"] for r in docs.collect()}
    assert canon["http://site.test/a"] == "http://site.test/a"
    assert canon["%%%not-a-url"] is None
    src = {r["uri"]: r["source"] for r in docs.collect()}
    assert src["http://site.test/a"] == "site.test"


def test_run_crawl_keeps_null_date_records(spark, tmp_path):
    """A response record missing its WARC-Date header must survive
    the URL dedup join (null-safe keys), not vanish silently while
    the funnel miscounts it as a duplicate."""
    import importlib.util
    import os as _os

    page = (b"<html><head><title>N</title></head>"
            b"<body><p>undated content</p></body></html>")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + b"Content-Length: " + str(len(page)).encode()
            + b"\r\n\r\n" + page)
    rec_nodate = (b"WARC/1.0\r\n"
                  b"WARC-Type: response\r\n"
                  b"WARC-Record-ID: <urn:uuid:1>\r\n"
                  b"WARC-Target-URI: http://nodate.test/a\r\n"
                  b"Content-Type: application/http; msgtype=response"
                  b"\r\nContent-Length: " + str(len(http)).encode()
                  + b"\r\n\r\n" + http + b"\r\n\r\n")
    rec_dated = (b"WARC/1.0\r\n"
                 b"WARC-Type: response\r\n"
                 b"WARC-Record-ID: <urn:uuid:2>\r\n"
                 b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
                 b"WARC-Target-URI: http://dated.test/b\r\n"
                 b"Content-Type: application/http; msgtype=response"
                 b"\r\nContent-Length: " + str(len(http)).encode()
                 + b"\r\n\r\n" + http + b"\r\n\r\n")
    # third pair: the SAME canonical URL fetched once dated, once
    # undated — a record with a KNOWN date must win the dedup even
    # though ascending sort would put NULL first (asc_nulls_last)
    rec_twin_undated = (b"WARC/1.0\r\n"
                        b"WARC-Type: response\r\n"
                        b"WARC-Record-ID: <urn:uuid:3>\r\n"
                        b"WARC-Target-URI: http://twin.test/c\r\n"
                        b"Content-Type: application/http; "
                        b"msgtype=response\r\n"
                        b"Content-Length: " + str(len(http)).encode()
                        + b"\r\n\r\n" + http + b"\r\n\r\n")
    rec_twin_dated = (b"WARC/1.0\r\n"
                      b"WARC-Type: response\r\n"
                      b"WARC-Record-ID: <urn:uuid:4>\r\n"
                      b"WARC-Date: 2026-02-05T00:00:00Z\r\n"
                      b"WARC-Target-URI: http://twin.test/c\r\n"
                      b"Content-Type: application/http; "
                      b"msgtype=response\r\n"
                      b"Content-Length: " + str(len(http)).encode()
                      + b"\r\n\r\n" + http + b"\r\n\r\n")
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(rec_nodate + rec_dated
                                  + rec_twin_undated + rec_twin_dated)

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod4", _os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])
    assert stats["records_walked"] == 4
    assert stats["url_duplicates"] == 1           # the twin pair
    assert stats["documents"] == 3
    _assert_crawl_conserved(stats)
    docs = spark.read.parquet(_os.path.join(out, "documents"))
    rows = {r["uri"]: r for r in docs.collect()}
    assert set(rows) == {"http://nodate.test/a", "http://dated.test/b",
                         "http://twin.test/c"}
    assert rows["http://nodate.test/a"]["warc_date"] is None
    assert rows["http://nodate.test/a"]["text"] == "undated content"
    # the dated twin won, not the undated one
    assert rows["http://twin.test/c"]["warc_date"] == \
        "2026-02-05T00:00:00Z"


def _crawl(warc_glob, out, spark):
    """jobs/run_crawl.py's main() in-process; returns its stats."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return _run_job(os.path.join(repo, "jobs", "run_crawl.py"),
                    ["--warc", warc_glob, "--out", out, "--keep-session"],
                    spark)


def _html(text):
    return f"<html><body><p>{text}</p></body></html>".encode()


def test_run_crawl_counts_missing_uri(spark, tmp_path):
    """HTML records without a WARC-Target-URI have no dedup key: they
    are counted under missing_uri and never glued into one document."""
    from loc2vec_spark.operators.warc import build_warc

    recs = [{"uri": u, "date": "2026-02-01T00:00:00Z", "status": 200,
             "content_type": "text/html", "body": _html(u)}
            for u in ("NOURI", "NOURI", "http://kept.test/a")]
    recs[1]["body"] = _html("another page")
    archive = build_warc(recs).replace(b"WARC-Target-URI: NOURI\r\n", b"")
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(archive)
    out = str(tmp_path / "out")
    stats = _crawl(str(wdir / "*"), out, spark)

    assert stats["records_walked"] == 3
    assert stats["missing_uri"] == 2
    assert stats["url_duplicates"] == 0
    assert stats["documents"] == 1
    _assert_crawl_conserved(stats)
    docs = spark.read.parquet(os.path.join(out, "documents")).collect()
    assert [(r["uri"], r["text"]) for r in docs] == [
        ("http://kept.test/a", "http://kept.test/a")]


def test_run_crawl_twin_pick_is_deterministic(spark, tmp_path):
    """Two fetches with the same uri AND date but different bodies:
    the same one wins whichever order the archive holds them in."""
    from loc2vec_spark.operators.warc import build_warc

    twins = [{"uri": "http://twin.test/p", "date": "2026-02-01T00:00:00Z",
              "status": 200, "content_type": "text/html",
              "body": _html(f"version {v}")} for v in ("one", "two")]
    texts = []
    for order in (twins, twins[::-1]):
        wdir = tmp_path / f"warcs{len(texts)}"
        wdir.mkdir()
        (wdir / "a.warc").write_bytes(build_warc(order))
        out = str(tmp_path / f"out{len(texts)}")
        stats = _crawl(str(wdir / "*"), out, spark)
        assert stats["documents"] == 1 and stats["url_duplicates"] == 1
        _assert_crawl_conserved(stats)
        docs = spark.read.parquet(os.path.join(out, "documents")).collect()
        texts += [r["text"] for r in docs]
    assert len(texts) == 2 and texts[0] == texts[1]
    assert texts[0] in ("version one", "version two")
