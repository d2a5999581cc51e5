#!/usr/bin/env python3
"""Job-level benchmark of loc2vec_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {images,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
replay. The full record (host telemetry, every sample, every check
failure) is written to ``perfbench/_work/<workload>-s<seed>-t<trace>.json``.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

DRIVER_MEM = "2g"       # SPARK_GRAFT_DRIVER_MEM for every session
DEADLINE_S = 170        # a run is killed past this, from process start
_T0 = time.monotonic()


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> tuple[str, int]:
    """(``java`` or ``python``, resident memory) of a JVM or Python
    process, else ("", 0). A child the JVM spawns shares the JVM's memory
    until it execs: named after the forking thread it reads ("", 0); named
    ``java`` it reads as a JVM, and the caller skips it."""
    with open(f"/proc/{pid}/comm") as fh:
        comm = fh.read().strip()
    kind = "java" if comm == "java" else \
        "python" if comm.startswith("python") else ""
    if not kind:
        return "", 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return kind, int(line.split()[1])
    return kind, 0


class TreeMemory:
    """Peak resident memory of a driver's JVM and the JVM's Python
    workers: the largest sum of their resident sets over polls made
    every ``period_s`` until the driver exits. ``parts_kb`` is the
    JVM's and the Python workers' share at that peak."""

    def __init__(self, pid: int, period_s: float = 0.05):
        self.pid, self.period_s = pid, period_s
        self.peak_kb, self.parts_kb = 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.is_set():
            parts = {"java": 0, "python": 0}
            todo = [(self.pid, "")]  # (pid, kind of its parent)
            while todo:
                p, parent = todo.pop()
                try:
                    kind = ""
                    if p != self.pid:
                        kind, kb = _rss_kb(p)
                        if kind and not (kind == parent == "java"):
                            parts[kind] += kb
                    todo += [(c, kind) for c in _children(p)]
                except OSError:
                    continue
            if sum(parts.values()) > self.peak_kb:
                self.peak_kb, self.parts_kb = sum(parts.values()), parts
            self._stop.wait(self.period_s)

    def stop(self) -> dict:
        """The peak and its JVM and Python shares, in MB."""
        self._stop.set()
        self._thread.join()
        return {"peak_mb": self.peak_kb / 1024.0,
                **{f"{k}_mb": v / 1024.0 for k, v in self.parts_kb.items()}}


def run_worker(mode: str, workload: str, meta_path: str, work: str,
               seconds: float) -> tuple[list[dict], float, dict]:
    """Start one driver process and wait for it. Returns its result
    records, its set-up time (spawn to ready session) and its memory
    peak (see :meth:`TreeMemory.stop`)."""
    log_path = os.path.join(work, f"worker-{mode}.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's scratch space and the JVM's and Python's temp files stay in
    # the work dir; no JVM writes its perf-data file to /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               PYTHONUNBUFFERED="1", TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               JAVA_TOOL_OPTIONS=" ".join(
                   filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                                 java_opts])))
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
           "--workload", workload, "--meta", meta_path, "--work", work,
           "--seconds", str(seconds)]
    records, ready_at = [], None
    with open(log_path, "a") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, text=True, cwd=REPO)
        mem = TreeMemory(proc.pid)
        timer = threading.Timer(
            max(1.0, DEADLINE_S - (time.monotonic() - _T0)), proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                if not line.startswith("PERFBENCH "):
                    continue
                rec = json.loads(line[len("PERFBENCH "):])
                if rec["kind"] == "ready":
                    ready_at = time.perf_counter()
                records.append(rec)
        finally:
            proc.wait()
            timer.cancel()
            memory = mem.stop()
    if proc.returncode != 0 or ready_at is None:
        raise RuntimeError(f"{mode} driver exited with {proc.returncode}; "
                           f"see {log_path}")
    return records, ready_at - t0, memory


def host_state() -> dict:
    with open("/proc/stat") as fh:  # cpu user nice system idle ... steal
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": list(os.getloadavg()), "cpu_ticks": ticks,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


def steal_frac(before: dict, after: dict) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two host states: runs with more of it run slower."""
    d = [b - a for a, b in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return d[7] / sum(d) if sum(d) else 0.0


def versions() -> dict:
    from importlib.metadata import PackageNotFoundError, version
    try:
        spark = version("pyspark")
    except PackageNotFoundError:
        spark = "missing"
    return {"python": platform.python_version(), "pyspark": spark}


def end_to_end(workload: str, meta: dict, meta_path: str, work: str,
               seconds: float) -> tuple[dict, dict]:
    recs, session_s, memory = run_worker("job", workload, meta_path, work,
                                         seconds)
    first = next(r for r in recs if r["kind"] == "first")
    warm = [r for r in recs if r["kind"] == "warm"]
    iters = [first] + warm
    failed = sum(not r["ok"] for r in iters)
    walls = [r["wall_s"] for r in warm]
    ok_bytes = [r["out_bytes"] for r in iters if r.get("out_bytes")]
    # the rows of a fresh session's first two runs, one cold and one warm,
    # over their wall time; the warm run's time is the median of the warm
    # runs, so the figure does not depend on how many fit in --seconds
    pair_s = first["wall_s"] + statistics.median(walls)
    result = {
        "correct": failed == 0, "attempted": len(iters), "failed": failed,
        "metrics": {
            "setup_s": (session_s, "s"),
            "rows_per_s": (2 * meta["rows"] / pair_s, "rows/s"),
            "peak_rss_mb": (memory["peak_mb"], "MB"),
            "out_bytes_per_row": (statistics.median(ok_bytes) / meta["rows"]
                                  if ok_bytes else 0.0, "B/row"),
            "ok_frac": ((len(iters) - failed) / len(iters), "frac"),
        }}
    detail = {"first_run_s": first["wall_s"], "warm_wall_s": walls,
              "memory": memory, "first": first, "failures": [r["failures"] for r in iters
                                           if not r["ok"]],
              "phases": next(r for r in recs if r["kind"] == "ready")}
    return result, detail


def traced(workload: str, meta: dict, meta_path: str, work: str,
           seconds: float) -> tuple[dict, dict]:
    recs, _setup_s, _peak = run_worker("trace", workload, meta_path, work,
                                       seconds)
    tr = next(r for r in recs if r["kind"] == "trace")
    metrics = {k: (v, unit) for k, (v, unit) in tr["metrics"].items()}
    failed = sum(bool(f) for f in tr["failures"])
    result = {"correct": failed == 0, "attempted": len(tr["failures"]),
              "failed": failed, "metrics": metrics}
    return result, {"failures": [f for f in tr["failures"] if f],
                    "spans": tr["spans"], "wall_s": tr["wall_s"],
                    "job_wall_s": tr["job_wall_s"],
                    "phases": next(r for r in recs if r["kind"] == "ready")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["images", "corpus"],
                    required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("loc2vec_spark", "jobs")
               if not os.path.isdir(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to "
              f"{HERE}; run from a full checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import gen
    meta_path, meta, gen_s = gen.ensure_inputs(
        os.path.join(WORK, "inputs"), args.workload, args.seed)
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    os.makedirs(work, exist_ok=True)

    before = host_state()
    run = traced if args.trace else end_to_end
    result, detail = run(args.workload, meta, meta_path, work, args.seconds)
    after = host_state()

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": {"nproc": len(os.sched_getaffinity(0)),
                       "local_cores": detail["phases"]["cores"],
                       "driver_mem": DRIVER_MEM, **versions(),
                       "before": before, "after": after,
                       "steal_frac": steal_frac(before, after)},
              "input": {"rows": meta["rows"], "gen_s": gen_s},
              "result": result, **detail}
    with open(work + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    times = {k: detail[k] for k in ("first_run_s", "warm_wall_s", "memory")
             if k in detail}
    print(json.dumps({"host": record["host"], "input": record["input"],
                      **times, "checks": detail["failures"] or "all passed"}))
    metrics = {k: {"value": v, "unit": u}
               for k, (v, u) in result["metrics"].items()}
    print(json.dumps({**{k: result[k] for k in ("correct", "attempted",
                                               "failed")},
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
