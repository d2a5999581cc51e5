"""One Spark driver process of the benchmark (started by run.py).

    python3 perfbench/worker.py --mode {job,trace} --workload W \
        --meta <inputs meta.json> --work <scratch dir> [--seconds S]

Both modes build a session, register the inputs and report ready.
``job`` then runs the workload's shipped jobs in-process, first in the
fresh session and then in a closed warm loop until ``--seconds`` have
passed since the first run started, checking every output. ``trace``
runs the jobs untraced (cold, then warm) and then as a traced
layer-by-layer replay (see replay.py) with Spark's event log on. Results
go to stdout as ``PERFBENCH <json>`` lines; everything else goes to
stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

# local[k] with k = half the vCPUs (2 on a 4-vCPU host). The other half
# runs what a task slot does not count: the JVM's JIT compiler and GC
# threads (a session uses over two cores for its first minute even at
# local[1]), the Python workers of the UDF stages, this driver and
# run.py's memory poller. At local[2] the corpus jobs ran as fast as at
# local[3]; at local[4] warm iterations were slower and spread twice as
# wide as at local[3].
CORES = max(1, min(8, len(os.sched_getaffinity(0))) // 2)

#: the jobs each part of a workload runs, in order
JOBS = {"tiling": ["run_tiling"], "mining": ["run_mining"],
        "corpus": ["run_crawl", "run_corpus"]}


def emit(kind: str, **fields) -> None:
    print("PERFBENCH " + json.dumps({"kind": kind, **fields}), flush=True)


def load_job(name: str):
    """Import ``jobs/<name>.py`` as a module (as the job tests do)."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(REPO, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def start_session(workload: str, meta: dict, extra_conf=None):
    """The measured set-up: session, py-files zip, input registration.
    Returns the session and the time of each phase."""
    t0 = time.perf_counter()
    from loc2vec_spark.packaging import ensure_workers_can_import
    from loc2vec_spark.session import get_spark
    t1 = time.perf_counter()
    # the whole heap is committed and touched at JVM start: otherwise how
    # much of it a run touches is up to G1's sizing heuristics, and the
    # JVM's resident memory spread 0.16 over five seeds
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    extra_conf = {**(extra_conf or {}), "spark.driver.extraJavaOptions":
                  f"-Xms{heap} -XX:+AlwaysPreTouch"}
    spark = get_spark(master=f"local[{CORES}]",
                      app_name=f"perfbench_{workload}",
                      extra_conf=extra_conf)
    t2 = time.perf_counter()
    ensure_workers_can_import(spark)
    t3 = time.perf_counter()
    for part, m in meta["parts"].items():
        if part == "corpus":
            df = spark.read.format("binaryFile").load(m["warc"]) \
                      .select("path", "length")
        else:
            df = spark.read.parquet(m["images"])
        df.createOrReplaceTempView(f"bench_input_{part}")
    t4 = time.perf_counter()
    return spark, {"cores": CORES, "import_s": t1 - t0, "start_s": t2 - t1,
                   "pyfiles_s": t3 - t2, "register_s": t4 - t3}


def isolate(spark) -> None:
    """Leave nothing of an earlier iteration for the next to reuse:
    cached frames, checkpointed RDDs and the temp views the operators
    register. Fails if any storage is still held."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and not t.name.startswith("bench_input_"):
            spark.catalog.dropTempView(t.name)
    jsc = spark.sparkContext._jsc
    for rdd in jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    held = len(jsc.getPersistentRDDs()) + len(jsc.sc().getRDDStorageInfo())
    if held:
        raise RuntimeError(f"{held} RDDs still hold storage after isolation")


class Workload:
    """Runs one workload's jobs and checks their output. A workload is one
    or more parts (``tiling``, ``mining``, ``corpus``); each part has its
    own input and writes under its own directory of the output."""

    def __init__(self, name: str, meta: dict, work: str):
        self.name, self.meta, self.work = name, meta, work
        self.parts = list(meta["parts"])
        self.jobs = {j: load_job(j) for p in self.parts for j in JOBS[p]}

    def argv(self, out: str) -> dict[str, list[str]]:
        """Each job's arguments, in the order the jobs run."""
        argv = {}
        for part in self.parts:
            m, o = self.meta["parts"][part], os.path.join(out, part)
            if part == "tiling":
                argv["run_tiling"] = ["--images", m["images"], "--out", o]
            elif part == "mining":
                argv["run_mining"] = ["--images", m["images"], "--out", o,
                                      "--min-sharpness",
                                      str(m["min_sharpness"])]
            else:
                crawl = os.path.join(o, "crawl")
                argv["run_crawl"] = ["--warc", m["warc"], "--out", crawl]
                argv["run_corpus"] = [
                    "--docs", os.path.join(crawl, "documents"),
                    "--out", os.path.join(o, "corpus")]
        return argv

    def run_one(self, job: str, argv: list[str]) -> dict:
        """Run one job in-process; returns {job: the stats it returns}."""
        with contextlib.redirect_stdout(sys.stderr):
            return {job: self.jobs[job].main(argv + ["--keep-session"])}

    def run(self, out: str) -> dict:
        """Run the jobs into ``out``; returns each job's returned stats."""
        stats = {}
        for job, argv in self.argv(out).items():
            stats.update(self.run_one(job, argv))
        return stats

    def check(self, out: str, stats: dict) -> list[str]:
        import checks
        bad = []
        for part in self.parts:
            m, o = self.meta["parts"][part], os.path.join(out, part)
            if part == "tiling":
                bad += checks.check_tiling(o, m)
            elif part == "mining":
                bad += checks.check_mining(o, m)
            else:
                bad += checks.check_corpus(os.path.join(o, "crawl"),
                                           os.path.join(o, "corpus"), m,
                                           stats["run_crawl"])
        return bad

    def final_outputs(self, out: str) -> list[tuple[str, str]]:
        """(path, id column) of each output the replay must reproduce."""
        final = {"tiling": ("", "anchor_id"), "mining": ("mined", "anchor_id"),
                 "corpus": (os.path.join("corpus", "corpus"), "doc_id")}
        return [(os.path.normpath(os.path.join(out, p, final[p][0])),
                 final[p][1])
                for p in self.parts]


def fresh_output(spark, out: str) -> None:
    """Isolate the session and give the next run an empty output
    directory, with the file system's pending writes flushed first."""
    isolate(spark)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.sync()


def timed_iteration(spark, wl: Workload, out: str) -> dict:
    import checks
    fresh_output(spark, out)
    t0 = time.perf_counter()
    try:
        stats = wl.run(out)
    except Exception as e:  # a failed job is counted, not fatal
        traceback.print_exc()
        return {"wall_s": time.perf_counter() - t0, "ok": False,
                "failures": [f"job raised {type(e).__name__}: {e}"]}
    wall = time.perf_counter() - t0
    failures = wl.check(out, stats)
    return {"wall_s": wall, "ok": not failures, "failures": failures[:5],
            "out_bytes": checks.output_bytes(out)}


def job_mode(spark, wl: Workload, seconds: float) -> None:
    """The first run in the fresh session, then warm runs until
    ``seconds`` have passed since the first run started (at least one)."""
    out = os.path.join(wl.work, "out")
    t_end = time.perf_counter() + seconds
    emit("first", **timed_iteration(spark, wl, out))
    while True:
        emit("warm", **timed_iteration(spark, wl, out))
        if time.perf_counter() >= t_end:
            break


def stop_session(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, and it stops its Python workers first."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["job", "trace"],
                    required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--meta", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    args = ap.parse_args(argv)
    with open(args.meta) as fh:
        meta = json.load(fh)
    os.makedirs(args.work, exist_ok=True)

    import replay
    extra_conf = replay.eventlog_conf(args.work) \
        if args.mode == "trace" else None
    spark, phases = start_session(args.workload, meta, extra_conf)
    emit("ready", **phases)
    raw = None
    try:
        if args.mode == "job":
            job_mode(spark, Workload(args.workload, meta, args.work),
                     args.seconds)
        elif args.mode == "trace":
            raw = replay.trace_mode(
                spark, Workload(args.workload, meta, args.work), phases)
    finally:
        stop_session(spark)
    if raw is not None:  # the event log is complete once the session stops
        emit("trace", metrics=replay.metrics(
                 raw, extra_conf["spark.eventLog.dir"][len("file://"):],
                 meta, args.workload),
             spans=raw["spans"], failures=raw["failures"],
             wall_s=raw["wall_s"],
             job_wall_s=raw["job_wall_s"])


if __name__ == "__main__":
    main()
