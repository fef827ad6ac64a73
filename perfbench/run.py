"""Benchmark entry point: one workload run, one result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload live --seed 1 --seconds 8 --trace 0

Starts the load generator (``gen.py``) and the system under test
(``sut.py``, a fresh process with its own Spark session) for the named
workload, watches the resident memory of the SUT process tree, and
prints two lines on stdout:

1. a conditions line: host (nproc, loadavg at start and end, steal %
   across the run, a single-core md5 probe), fallbacks the run took,
   sample counts and plan hashes;
2. the result: ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``), each as ``{"value", "unit"}``.

A traced run also writes its span tree to
``.bench_out/spans-<workload>-<seed>.json``. Everything the run writes
stays under ``.bench_out/`` in the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

CPUS = 4

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def md5_probe_s() -> float:
    """Single-core host speed: md5 over 32 MiB, best of three."""
    buf, best = b"\0" * 65536, float("inf")
    for _ in range(3):
        t = time.perf_counter()
        h = hashlib.md5()
        for _ in range(512):
            h.update(buf)
        best = min(best, time.perf_counter() - t)
    return best


def cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def proc_stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    between the processes that map it, so a tree's sum counts it once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class TreeWatch:
    """Peak resident memory (summed PSS) of a process and all its
    descendants, polled every 500 ms. Remembers each process it saw with its start time, so
    stragglers can be ended without touching a reused pid."""

    def __init__(self, pid: int):
        self.root = pid
        self.seen: dict[int, str] = {}
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def tree(self) -> list[int]:
        """The root and its live descendants, from the kernel's per-task
        child lists."""
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            try:
                for task in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{task}/children") as f:
                        todo += [int(c) for c in f.read().split()]
            except OSError:
                continue
        return out

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            rss, parts = 0, {}
            for pid in self.tree():
                try:
                    self.seen.setdefault(pid, proc_stat(pid)[19])
                    v = pss_bytes(pid)
                    with open(f"/proc/{pid}/comm") as f:
                        c = f.read().strip()
                except (OSError, IndexError, ValueError):
                    continue
                rss += v
                parts[c] = parts.get(c, 0) + v
            if rss > self.peak:
                self.peak, self.peak_parts = rss, parts

    def close(self) -> None:
        self._stop.set()
        self._t.join()


def end_processes(seen: dict[int, str]) -> None:
    """TERM, then KILL, every process seen that still runs; wait until all
    are gone."""

    def running() -> list[int]:
        alive = []
        for pid, start in seen.items():
            try:
                st = proc_stat(pid)
            except (OSError, IndexError):
                continue
            if st[19] == start and st[0] != "Z":
                alive.append(pid)
        return alive

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in running():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while running() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not running():
            return


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    names = [w["name"] for w in SPEC["workloads"]]
    if a.workload not in names:
        print(f"unknown workload {a.workload!r}; one of {names}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "kafka_firehose_nozzle_spark")):
        print("kafka_firehose_nozzle_spark package not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(out_dir, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env = dict(
        os.environ,
        # Spark pickles the Python DataSource by reference, so workers
        # need the checkout on their path
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=work,
        # keep the JVM's temp files, and its /tmp perf-data file, out of
        # the machine's shared /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    env.pop("SPARK_MASTER", None)

    host = dict(nproc=os.cpu_count(), loadavg_start=list(os.getloadavg()),
                md5_probe_s=md5_probe_s())
    steal0, total0 = cpu_ticks()

    live = a.workload == "live"

    gen = None
    gen_report = os.path.join(work, "gen.json")
    procs = []
    try:
        port = 0
        if live or a.trace:
            gen = subprocess.Popen(
                [sys.executable, "-m", "perfbench.gen", "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--report", gen_report],
                cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                text=True,
            )
            procs.append(gen)
            port = int(gen.stdout.readline().split()[1])
        sut_out, sut_log = os.path.join(work, "sut.json"), os.path.join(work, "sut.log")
        launched = time.time()
        with open(sut_log, "w") as log:
            sut = subprocess.Popen(
                [sys.executable, "-m", "perfbench.sut", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--launched", repr(launched),
                 "--work", work, "--out", sut_out, "--port", str(port),
                 "--gen-report", gen_report],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
        procs.append(sut)
        watch = TreeWatch(sut.pid)
        try:
            code = sut.wait(timeout=170)
        except subprocess.TimeoutExpired:
            code = None
        watch.close()
        end_processes(watch.seen)
        if gen is not None:
            gen.stdin.close()
            gen.wait(timeout=20)
        if code != 0:
            with open(sut_log) as f:
                tail = f.read()[-3000:]
            print(f"system under test failed (exit {code}):\n{tail}", file=sys.stderr)
            return 1
        with open(sut_out) as f:
            res = json.load(f)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()

    steal1, total1 = cpu_ticks()
    host.update(
        loadavg_end=list(os.getloadavg()),
        steal_pct=100.0 * (steal1 - steal0) / max(1, total1 - total0),
    )
    fallbacks = []
    gen_info = {}
    if gen is not None:
        with open(gen_report) as f:
            gen_info = json.load(f)
        if live and gen_info["lag_p99_ms"] > 100.0:
            fallbacks.append("generator ran late: open-loop schedule not kept")
    if res["fields"].get("latency_batches", 1) > 90:
        fallbacks.append("progress history near Spark's 100-batch retention")

    e2e = dict(res["e2e"], peak_rss_mb=watch.peak / 2**20)
    if a.trace:
        metrics = dict(res["layers"])
        metrics["gen.lag_p99_ms"] = gen_info.get("lag_p99_ms", 0.0)
        metrics["gen.frames_sent"] = gen_info.get("sent", 0)
        metrics["trace.spans"] = len(res["spans"])
        spans_path = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(dict(workload=a.workload, seed=a.seed, e2e_traced=e2e,
                           spans=res["spans"]), f)
        wanted = [m["name"] for m in SPEC["per_layer"]]
    else:
        metrics = e2e
        wanted = [m["name"] for m in SPEC["end_to_end"]]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(dict(
        workload=a.workload, seed=a.seed, trace=a.trace, host=host,
        fallbacks=fallbacks, fields=res["fields"],
        peak_rss_parts_mb={k: v / 2**20 for k, v in watch.peak_parts.items()},
        checks=res["checks"],
        e2e_this_run=e2e,
    ), default=str))
    print(json.dumps(dict(
        correct=res["failed"] == 0 and res["attempted"] > 0,
        attempted=res["attempted"],
        failed=res["failed"],
        metrics={m: {"value": metrics[m], "unit": UNITS[m]} for m in wanted},
    )))
    return 0


if __name__ == "__main__":
    sys.exit(main())
