"""Traced, layer-by-layer replay of the benchmark's jobs.

The replay calls the same public layer functions as each job in
``jobs/``, in the same order and with the same arguments, and repeats
the job's glue between them. Each layer's output is materialized
(cached and counted) inside a span named after the layer's module, and
the job description is set to the span's name, so Spark's event log
attributes every task to the span that ran it. Output is written like
the job's, and the replay's committed ids must fold to the same
checksum as the untraced job's.

Caching each layer's output means a later layer reads it instead of
recomputing it, as the untraced job does (``write_partitioned`` alone
evaluates its input twice). The replay's wall time can therefore be
below the job's; ``trace.overhead_frac`` reports the difference.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

import eventlog

G = [("self_s", "s", "lower"), ("task_s", "s", "lower"),
     ("busy_frac", "frac", "higher"), ("shuffle_mb", "MB", "lower"),
     ("spill_mb", "MB", "lower")]
P = [("py_run_s", "s", "lower"), ("py_start_s", "s", "lower"),
     ("py_sent_mb", "MB", "lower")]
_TASK_MAX = [("max_task_frac", "frac", "lower")]

#: every per-layer metric: (layer, [(metric, unit, better)])
LAYERS = [
    ("session", [("start_s", "s", "lower"), ("pyfiles_s", "s", "lower"),
                 ("first_run_s", "s", "lower")]),
    ("geo", G + [("null_frac", "frac", "lower")]),
    ("triplets.positive", G + [
        ("pairs", "count", "lower"), ("pairs_per_anchor", "1/anchor", "lower"),
        ("found_frac", "frac", "higher"), ("cap_kept_frac", "frac", "higher")]
     + _TASK_MAX),
    ("triplets.negative", G + [("fill_frac", "frac", "higher")]),
    ("triplets.table", [("self_s", "s", "lower"), ("shuffle_mb", "MB", "lower")]),
    ("triplets.knn", G + [
        ("pairs", "count", "lower"), ("pairs_per_anchor", "1/anchor", "lower"),
        ("cap_kept_frac", "frac", "higher")] + _TASK_MAX),
    ("images.quality", G + P + [("decodes", "count", "lower"),
                                ("ok_frac", "frac", "higher")]),
    ("images.features", G + P + [("decodes", "count", "lower"),
                                 ("ok_frac", "frac", "higher")]),
    ("images", [("decodes_per_row", "1/row", "lower")]),
    ("lineage.write", G + _TASK_MAX + [
        ("commit_s", "s", "lower"), ("files", "count", "lower"),
        ("partitions", "count", "lower"), ("out_mb", "MB", "lower"),
        ("manifest_rows", "count", "lower")]),
    ("warc.read", G + P + [("records", "count", "higher"),
                           ("walks", "1", "lower"),
                           ("quarantine_frac", "frac", "lower")]),
    ("html.extract", G + P + [("rows", "count", "lower")]),
    ("queries_text.annotate", G),
    ("queries_text.lsh", G + [
        ("shingle_rows", "count", "lower"),
        ("candidate_pairs", "count", "lower"),
        ("true_pair_frac", "frac", "higher"),
        ("shuffle_bytes_per_doc", "B/doc", "lower")]),
    ("components", G + [("iterations", "count", "lower")]),
    ("jobs.run_tiling", [("self_s", "s", "lower")]),
    ("jobs.run_mining", [("self_s", "s", "lower")]),
    ("jobs.run_crawl", [("self_s", "s", "lower")]),
    ("jobs.run_corpus", [("self_s", "s", "lower")]),
    ("spark", [("gc_s", "s", "lower"), ("failed_tasks", "count", "lower"),
               ("fetch_wait_s", "s", "lower")]),
    ("host", [("loadavg_1m", "1", "lower")]),
    ("trace", [("overhead_frac", "frac", "lower"),
               ("uncovered_s", "s", "lower")]),
]


def catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    return [(f"{layer}.{m}", unit, better)
            for layer, ms in LAYERS for m, unit, better in ms]


def eventlog_conf(work: str) -> dict[str, str]:
    """Session conf that writes an uncompressed, unrolled event log."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    for fn in os.listdir(log_dir):
        os.remove(os.path.join(log_dir, fn))
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Spans kept in memory: name, start, end (epoch s) and the index of
    the enclosing span. Entering a span sets the job description."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]]["name"] if self._stack else None)

    @staticmethod
    def materialize(df):
        df = df.cache()
        df.count()
        return df


# ---------------------------------------------------------------------------
# replays: the jobs' default paths, layer by layer
# ---------------------------------------------------------------------------

def replay_tiling(spark, T: Tracer, meta: dict, out: str) -> dict:
    """jobs/run_tiling.py at its defaults."""
    from pyspark.sql import functions as F

    from loc2vec_spark import lineage
    from loc2vec_spark.operators import geo, triplets

    res, tres, n_neg, join_salt = 7, 13, 5, 8
    with T.span("jobs.run_tiling"):
        images = spark.read.parquet(meta["images"])
        with T.span("geo"):
            pts = geo.with_cells(geo.with_latlon(images),
                                 resolutions=(5, res, tres))
            base = pts.select("image_id", "lat", "lon",
                              F.col(f"cell_r{res}").alias("cell_out"),
                              F.col(f"cell_r{tres}").alias("cell")).persist()
            quarantine = base.filter(F.col("cell").isNull())
            n_bad = quarantine.count()
        if n_bad:
            quarantine.write.mode("overwrite").parquet(
                os.path.join(out, "_quarantine"))
            base = base.filter(F.col("cell").isNotNull())
        kw = dict(id_col="image_id", lat_col="lat", lon_col="lon",
                  cell_col="cell", res=tres)
        with T.span("triplets.table"):
            with T.span("triplets.positive"):
                pos = T.materialize(triplets.spatial_positive(
                    base, **kw, cap=256, seed=42, join_salt=join_salt))
            with T.span("triplets.negative"):
                neg = T.materialize(triplets.negative_sample_farcell_pooled(
                    base, id_col="image_id", cell_col="cell", res=tres,
                    n_neg=n_neg, seed=42))
            trip = T.materialize(triplets.triplet_table_spatial(
                base, **kw, n_neg=n_neg, join_salt=join_salt))
        out_df = trip.join(base.select("image_id", "cell_out")
                               .withColumnRenamed("image_id", "anchor_id"),
                           "anchor_id")
        with T.span("lineage.write"):
            lineage.write_resumable(out_df, out, cell_col="cell_out",
                                    id_col="anchor_id", salt_target=100_000)

    def facts():
        cells = [r["count"] for r in base.groupBy("cell").count().collect()]
        anchors = sum(cells)
        return {"_anchors.triplets.positive": anchors,
                "_geo.null": n_bad, "_geo.rows": meta["rows"],
                "triplets.positive.found_frac": pos.count() / anchors,
                "triplets.positive.cap_kept_frac":
                    sum(min(256, c) for c in cells) / anchors,
                "triplets.negative.fill_frac":
                    neg.count() / (anchors * n_neg)}
    return {"facts": facts, "outputs": [(out, "cell_out")]}


def replay_mining(spark, T: Tracer, meta: dict, out: str) -> dict:
    """jobs/run_mining.py with the quality gate on, other defaults."""
    from pyspark.sql import Window, functions as F

    from loc2vec_spark import lineage
    from loc2vec_spark.operators import geo, images as img_ops, triplets

    res, k, cap, seed, dim = 9, 5, 1024, 42, 16
    with T.span("jobs.run_mining"):
        images = spark.read.parquet(meta["images"])
        with T.span("images.quality"):
            qual = T.materialize(img_ops.image_quality(images))
        good = qual.filter((F.col("ok"))
                           & (F.col("sharpness") >= meta["min_sharpness"])) \
                   .select("image_id")
        images = images.join(good, "image_id", "left_semi")
        with T.span("images.features"):
            emb = T.materialize(img_ops.image_features(images))
        with T.span("lineage.write"):
            lineage.write_partitioned(
                emb.withColumn("bucket",
                               F.pmod(F.xxhash64("image_id"), F.lit(64))),
                os.path.join(out, "embeddings"),
                cell_col="bucket", id_col="image_id")
        with T.span("geo"):
            cells_all = T.materialize(
                geo.with_cells(geo.with_latlon(images),
                               resolutions=(res, 7))
                .select("image_id", F.col(f"cell_r{res}").alias("cell"),
                        "cell_r7"))
        pts = T.materialize(cells_all.select("image_id", "cell")
                            .filter(F.col("cell").isNotNull())
                            .join(emb, "image_id"))
        with T.span("triplets.knn"):
            topk = T.materialize(triplets.knn_topk(
                pts, id_col="image_id", emb_col="embedding",
                cell_col="cell", res=res, dim=dim, k=k, cap=cap))
        pick = (topk.withColumn(
            "pick_ord",
            F.expr(f"pmod(xxhash64(neighbor_id, {seed}), 1000000007)"))
            .withColumn("pr", F.row_number().over(
                Window.partitionBy("anchor_id").orderBy("pick_ord",
                                                        "neighbor_id")))
            .filter(F.col("pr") == 1)
            .select("anchor_id", F.col("neighbor_id").alias("hard_id")))
        mined = topk.join(pick, "anchor_id", "left")
        cells_out = cells_all.select(F.col("image_id").alias("anchor_id"),
                                     "cell_r7")
        out_df = mined.join(cells_out, "anchor_id") \
                      .filter(F.col("cell_r7").isNotNull())
        with T.span("lineage.write"):
            lineage.write_resumable(out_df, os.path.join(out, "mined"),
                                    cell_col="cell_r7", id_col="anchor_id")

    def facts():
        cells = [r["count"] for r in pts.groupBy("cell").count().collect()]
        anchors = sum(cells)
        return {"_anchors.triplets.knn": anchors,
                "_ok.images.quality": qual.filter("ok").count(),
                "_ok.images.features": emb.count(),
                "_geo.null": cells_all.filter(F.col("cell").isNull()).count(),
                "_geo.rows": cells_all.count(),
                "triplets.knn.cap_kept_frac":
                    sum(min(cap, c) for c in cells) / anchors}
    return {"facts": facts,
            "outputs": [(os.path.join(out, "embeddings"), "bucket"),
                        (os.path.join(out, "mined"), "cell_r7")]}


def replay_crawl(spark, T: Tracer, meta: dict, out: str) -> dict:
    """jobs/run_crawl.py at its defaults; returns the job's stats too."""
    from pyspark.sql import Window, functions as F

    from loc2vec_spark import lineage
    from loc2vec_spark.operators.html import html_extract_udf
    from loc2vec_spark.operators.url import canonicalize_urls
    from loc2vec_spark.operators.warc import read_warc

    stats = {}
    with T.span("jobs.run_crawl"):
        with T.span("warc.read"):
            good, quarantine = read_warc(spark, meta["warc"])
            good = T.materialize(good)
            quarantine = T.materialize(quarantine)
        qpath = os.path.join(out, "quarantine_archives")
        quarantine.write.mode("overwrite").parquet(qpath)
        stats["quarantined_archives"] = spark.read.parquet(qpath).count()
        is_html = F.coalesce(
            (F.col("status") == 200) & F.coalesce(
                F.lower(F.col("content_type")).startswith("text/html"),
                F.lit(False)),
            F.lit(False))
        funnel = {bool(r["is_html"]): r["n"] for r in
                  good.groupBy(is_html.alias("is_html"))
                      .agg(F.count("*").alias("n")).collect()}
        stats["records_walked"] = sum(funnel.values())
        stats["skipped_non_html"] = funnel.get(False, 0)
        html = good.filter(is_html)
        proj = canonicalize_urls(
            html.select("uri", "warc_date").distinct(), "uri")
        ukey = F.coalesce("canon_url", "uri")
        wnd = Window.partitionBy(ukey).orderBy(
            F.col("warc_date").asc_nulls_last(),
            F.col("uri").asc_nulls_last())
        winners = (proj.withColumn("_rk", F.row_number().over(wnd))
                       .filter("_rk = 1").drop("_rk")
                       .withColumnRenamed("uri", "_wuri")
                       .withColumnRenamed("warc_date", "_wdate"))
        pages = T.materialize(html.join(
            winners,
            html["uri"].eqNullSafe(F.col("_wuri"))
            & html["warc_date"].eqNullSafe(F.col("_wdate")))
            .drop("_wuri", "_wdate"))
        with T.span("html.extract"):
            pages = pages.withColumn(
                "ex", html_extract_udf()(F.col("body").cast("string")))
            docs = T.materialize(pages.select(
                F.xxhash64("uri").alias("doc_id"),
                F.col("ex.text").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.coalesce(
                    F.col("host"),
                    F.regexp_extract("uri", r"^[a-z]+://([^/]+)", 1))
                 .alias("source"),
                F.length("ex.text").cast("bigint").alias("n_chars"),
                F.col("ex.title").alias("title"),
                "uri", "canon_url", "warc_date")
                .dropDuplicates(["doc_id"]))
        html_unique = docs.count()
        stats["url_duplicates"] = (stats["records_walked"]
                                   - stats["skipped_non_html"] - html_unique)
        kept = docs.filter(F.col("n_chars") >= 1)
        stats["documents"] = kept.count()
        stats["dropped_short"] = html_unique - stats["documents"]
        out_df = kept.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
        with T.span("lineage.write"):
            lineage.write_resumable(out_df, os.path.join(out, "documents"),
                                    cell_col="bucket", id_col="doc_id")

    def facts():
        return {"warc.read.records": stats["records_walked"],
                "warc.read.quarantine_frac":
                    stats["quarantined_archives"]
                    / meta["expected"]["archives"]}
    return {"facts": facts, "stats": stats,
            "outputs": [(os.path.join(out, "documents"), "bucket")]}


def replay_corpus(spark, T: Tracer, meta: dict, docs_path: str,
                  out: str) -> dict:
    """jobs/run_corpus.py at its defaults."""
    from pyspark.sql import functions as F

    from loc2vec_spark import lineage
    from loc2vec_spark.operators.components import connected_components
    from loc2vec_spark.queries import QUERIES
    from loc2vec_spark.queries_text import lsh_pairs_df

    log: list = []
    with T.span("jobs.run_corpus"):
        docs = spark.read.parquet(docs_path)
        docs.createOrReplaceTempView("documents")
        n_docs = docs.count()
        with T.span("queries_text.annotate"):
            quality = spark.sql(QUERIES["text_quality"].spark_sql)
            langid = spark.sql(QUERIES["text_langid"].spark_sql) \
                          .select("doc_id", "lang_pred")
            annotated = T.materialize(
                docs.join(quality, "doc_id").join(langid, "doc_id"))
        keep = F.coalesce(F.col("stopword_ratio") >= 0.0, F.lit(False))
        kept = annotated.filter(keep).cache()
        kept.count()
        exact = kept.groupBy("text").agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_exact_copies"))
        survivors = kept.join(exact.select("doc_id", "n_exact_copies"),
                              "doc_id").cache()
        survivors.count()
        with T.span("queries_text.lsh"):
            pairs = T.materialize(lsh_pairs_df(spark))
        with T.span("components"):
            comp = T.materialize(connected_components(
                pairs.select("doc_a", "doc_b"),
                spark.table("documents").select("doc_id"), log=log))
        comp = comp.withColumnRenamed("node", "doc_id")
        labeled = survivors.join(comp, "doc_id")
        cluster_sizes = labeled.groupBy("component").agg(
            F.count("*").alias("cluster_size"),
            F.min("doc_id").alias("canonical_id"))
        final = labeled.join(cluster_sizes, "component") \
                       .filter(F.col("doc_id") == F.col("canonical_id")) \
                       .drop("canonical_id")
        cluster_sizes.filter("cluster_size > 1").count()
        cols = ["doc_id", "text", "lang", "lang_pred", "n_tokens",
                "stopword_ratio", "n_exact_copies", "component",
                "cluster_size"]
        out_df = final.select(
            *cols, F.pmod(F.xxhash64("doc_id"), F.lit(16)).alias("bucket"))
        with T.span("lineage.write"):
            lineage.write_resumable(out_df, os.path.join(out, "corpus"),
                                    cell_col="bucket", id_col="doc_id")

    def facts():
        from checks import xxh64
        family = {xxh64(u.encode()): f
                  for f, uris in enumerate(meta["families"]) for u in uris}
        got = pairs.select("doc_a", "doc_b").collect()
        true = sum(family.get(a) is not None and family.get(a) == family.get(b)
                   for a, b in got)
        return {"queries_text.lsh.shingle_rows":
                    spark.table("ds_cached").count(),
                "queries_text.lsh.candidate_pairs": len(got),
                "queries_text.lsh.true_pair_frac": true / max(1, len(got)),
                "_docs": n_docs,
                "components.iterations": len(log) - 1}
    return {"facts": facts,
            "outputs": [(os.path.join(out, "corpus"), "bucket")]}


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------

def _replay(spark, T: Tracer, wl, out: str) -> dict:
    """Replay each part of the workload into ``out/<part>``; returns the
    parts' facts (summed where two parts report the same one), stats and
    outputs."""
    facts, stats, outputs = [], {}, []
    for part in wl.parts:
        meta, o = wl.meta["parts"][part], os.path.join(out, part)
        if part == "tiling":
            reps = [replay_tiling(spark, T, meta, o)]
        elif part == "mining":
            reps = [replay_mining(spark, T, meta, o)]
        else:
            crawl = replay_crawl(spark, T, meta, os.path.join(o, "crawl"))
            stats["run_crawl"] = crawl["stats"]
            reps = [crawl, replay_corpus(
                spark, T, meta, os.path.join(o, "crawl", "documents"),
                os.path.join(o, "corpus"))]
        for r in reps:
            facts.append(r["facts"])
            outputs += r["outputs"]

    def merged() -> dict:
        total: dict = {}
        for f in facts:
            for k, v in f().items():
                total[k] = total.get(k, 0) + v
        return total
    return {"facts": merged, "stats": stats, "outputs": outputs}


def trace_mode(spark, wl, phases: dict) -> dict:
    """Untraced job twice (cold, then warm), then the traced replay.
    Returns the raw trace; :func:`metrics` turns it into numbers once
    the session has stopped and the event log is complete."""
    import checks
    from worker import fresh_output

    sc = spark.sparkContext
    failures: list[list[str]] = []  # per run: cold job, warm job, replay
    job_wall = []
    for tag in ("cold", "warm"):
        out = os.path.join(wl.work, f"out-{tag}")
        fresh_output(spark, out)
        t0 = time.perf_counter()
        stats = {}
        for job, argv in wl.argv(out).items():
            sc.setJobDescription(f"untraced.{tag}.{job}")
            stats.update(wl.run_one(job, argv))
        job_wall.append(time.perf_counter() - t0)
        sc.setJobDescription(None)
        failures.append([f"{tag} job: {f}" for f in wl.check(out, stats)])
    job_sums = [checks.output_checksum(p, c) for p, c in wl.final_outputs(out)]

    out = os.path.join(wl.work, "out-trace")
    fresh_output(spark, out)
    load_before = os.getloadavg()[0]
    T = Tracer(sc)
    t0 = time.perf_counter()
    rep = _replay(spark, T, wl, out)
    wall = time.perf_counter() - t0
    sc.setJobDescription("trace.bookkeeping")
    facts = rep["facts"]()
    sc.setJobDescription(None)
    bad = [f"replay: {f}" for f in wl.check(out, rep.get("stats", {}))]
    if [checks.output_checksum(p, c)
            for p, c in wl.final_outputs(out)] != job_sums:
        bad.append("replay: output checksum differs from the job's")
    failures.append(bad)
    written: Counter = Counter()
    for p, part_col in rep["outputs"]:
        written["files"] += sum(fn.endswith(".parquet")
                                for _r, _d, fns in os.walk(p) for fn in fns)
        written["partitions"] += len(set(
            checks.read_table(p, [part_col]).column(part_col).to_pylist()))
        written["out_bytes"] += checks.output_bytes(p)
        written["manifest_rows"] += len(checks.read_manifests(p))
    return {"spans": T.spans, "wall_s": wall, "job_wall_s": job_wall,
            "facts": facts, "written": dict(written),
            "loadavg_1m": load_before, "phases": phases,
            "failures": failures}


def metrics(raw: dict, log_dir: str, meta: dict,
            workload: str) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run; layers a workload does not
    run read 0."""
    folded = eventlog.fold(eventlog.read_events(log_dir))
    slots = raw["phases"]["cores"]
    spans = raw["spans"]
    self_s = eventlog.self_times(spans)
    written = raw["written"]
    val: dict[str, float] = defaultdict(float)

    for name, s in self_s.items():
        f = folded.get(name, {})
        val[f"{name}.self_s"] = s
        val[f"{name}.task_s"] = f.get("task_ms", 0) / 1e3
        val[f"{name}.busy_frac"] = (f.get("task_ms", 0) / 1e3
                                    / (s * slots) if s > 0 else 0.0)
        val[f"{name}.shuffle_mb"] = f.get("shuffle_write_bytes", 0) / 1e6
        val[f"{name}.spill_mb"] = f.get("spill_bytes", 0) / 1e6
        val[f"{name}.py_run_s"] = f.get("py_run_ms", 0) / 1e3
        val[f"{name}.py_start_s"] = f.get("py_start_ms", 0) / 1e3
        val[f"{name}.py_sent_mb"] = f.get("py_sent_bytes", 0) / 1e6
        val[f"{name}.max_task_frac"] = (f.get("max_task_ms", 0) / 1e3 / s
                                        if s > 0 else 0.0)
    for name, f in folded.items():  # per-span rows and pairs
        val[f"{name}.pairs"] = f["join_rows"]
        val[f"{name}.decodes"] = f["py_in_rows"]
        val[f"{name}.rows"] = f["py_in_rows"]

    facts = dict(raw["facts"])
    anchors = {k[len("_anchors."):]: facts.pop(k) for k in list(facts)
               if k.startswith("_anchors.")}
    docs = facts.pop("_docs", 0)
    geo_null, geo_rows = facts.pop("_geo.null", 0), facts.pop("_geo.rows", 0)
    oks = {k[len("_ok."):]: facts.pop(k) for k in list(facts)
           if k.startswith("_ok.")}
    val.update(facts)
    val["session.start_s"] = raw["phases"]["start_s"]
    val["session.pyfiles_s"] = raw["phases"]["pyfiles_s"]
    val["session.first_run_s"] = raw["job_wall_s"][0]
    val["geo.null_frac"] = geo_null / geo_rows if geo_rows else 0.0
    for layer, n in anchors.items():
        val[f"{layer}.pairs_per_anchor"] = (val[f"{layer}.pairs"] / n
                                            if n else 0.0)
    for layer, ok in oks.items():
        d = val[f"{layer}.decodes"]
        val[f"{layer}.ok_frac"] = ok / d if d else 0.0
    if docs:
        val["queries_text.lsh.shuffle_bytes_per_doc"] = folded.get(
            "queries_text.lsh", {}).get("shuffle_write_bytes", 0) / docs
    # job-level counts come from the warm untraced job: the replay's
    # caches hide the job's re-decodes and re-walks
    warm = {name.rsplit(".", 1)[1]: f for name, f in folded.items()
            if name.startswith("untraced.warm.")}
    if "run_mining" in warm:
        val["images.decodes_per_row"] = (warm["run_mining"]["py_in_rows"]
                                         / meta["parts"]["mining"]["rows"])
    if "run_crawl" in warm:
        val["warc.read.walks"] = (warm["run_crawl"]["file_scan_bytes"]
                                  / meta["parts"]["corpus"]["archive_bytes"])

    # lineage.write: driver time outside Spark jobs, and what it wrote
    lw = folded.get("lineage.write", {"jobs": []})
    val["lineage.write.commit_s"] = sum(
        (s["end"] - s["start"]) - eventlog.covered(
            lw["jobs"], s["start"] * 1e3, s["end"] * 1e3) / 1e3
        for s in spans if s["name"] == "lineage.write")
    val["lineage.write.files"] = written.get("files", 0)
    val["lineage.write.partitions"] = written.get("partitions", 0)
    val["lineage.write.out_mb"] = written.get("out_bytes", 0) / 1e6
    val["lineage.write.manifest_rows"] = written.get("manifest_rows", 0)

    traced = [f for name, f in folded.items() if name in self_s]
    val["spark.gc_s"] = sum(f["gc_ms"] for f in traced) / 1e3
    val["spark.failed_tasks"] = sum(f["failed_tasks"] for f in traced)
    val["spark.fetch_wait_s"] = sum(f["fetch_wait_ms"] for f in traced) / 1e3
    val["host.loadavg_1m"] = raw["loadavg_1m"]
    val["trace.overhead_frac"] = raw["wall_s"] / raw["job_wall_s"][-1] - 1
    val["trace.uncovered_s"] = raw["wall_s"] - sum(self_s.values())
    return {name: (float(val.get(name, 0.0)), unit)
            for name, unit, _b in catalogue()}
