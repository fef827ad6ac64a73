"""The system-under-test side of the benchmark: one workload in one process
with its own Spark session (``local[4]``).

``run.py`` starts this as a fresh process per run, next to the load
generator (``gen.py``). It drives the product only through its public
functions, times those calls from outside, reads Spark's own
``StreamingQueryProgress``, checks the outputs, and writes one JSON
document to ``--out``:

- ``e2e``: the end-to-end metrics except ``peak_rss_mb`` (run.py
  measures the process tree);
- ``layers``: the per-layer metrics (traced runs only);
- ``attempted`` / ``failed`` / ``checks``: the output checks;
- ``fields``: sample counts, plan hashes and other context;
- ``spans``: the span tree (traced runs only).
"""

from __future__ import annotations

import argparse
import array
import ast
import contextlib
import hashlib
import json
import os
import re
import statistics
import threading
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
from kafka_firehose_nozzle_spark.functions.sonde_json import sonde_json
from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
from kafka_firehose_nozzle_spark.session import get_spark
from kafka_firehose_nozzle_spark.sources import rfc6455
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import (
    decode_envelope,
    encode_envelope,
)
from kafka_firehose_nozzle_spark.sources.firehose import (
    DEFAULT_MAX_BATCH_ROWS,
    FirehoseStreamReader,
)
from kafka_firehose_nozzle_spark.streaming.job import (
    file_replay_stream,
    firehose_stream,
    start_pipeline,
)

from perfbench import frames, tables

REPLAY_ROWS = 150_000  # replay backlog, rows per pass
REPLAY_FILES = 16  # parquet files the backlog is written as
# untimed replay passes while the JIT warms up: at least this many, and
# for at least this long; then timed passes, at least TIMED_PASSES
WARMUP_PASSES, WARMUP_S = 3, 6.0
TIMED_PASSES = 4
REGISTRY_EVENTS = 100_000  # rows of the generated events table, as sf0.1
# the bench.BENCH_QUERIES that read only the events table
REGISTRY_QUERIES = (
    "route_topics",
    "stats_counters",
    "roundtrip_route_topics",
    "events_per_minute",
    "sessionize_events",
    "error_prior_views",
)
MAX_WAIT_S = 100  # a measured stream that has not drained by then fails


# -- small helpers -----------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile of ``values`` (q in [0, 1])."""
    return wpct([(v, 1) for v in values], q)


def wpct(pairs, q: float) -> float:
    """Nearest-rank percentile of (value, weight) pairs, each weight a
    sample count."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    need, seen = q * total, 0
    for v, w in pairs:
        seen += w
        if seen >= need:
            return v
    return pairs[-1][0]


def epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Spans kept in memory and written out when the run ends. Disabled
    (records nothing) in untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, start, end, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            dict(id=len(self.spans), name=name, start=start, end=end,
                 parent=parent, **attrs)
        )
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name, parent=None, **attrs):
        t = time.time()
        sid = self.add(name, t, t, parent, **attrs)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid]["end"] = time.time()

    def dump(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the part of it that the
        span's children cover."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            s["self_s"] = (s["end"] - s["start"]) - covered
        return self.spans


# -- streams -----------------------------------------------------------------


def offset(raw):
    """A source offset as progress reports it: JSON for file sources, the
    Python repr of the offset dict for Python data sources, and null or
    ``'None'`` before the first batch."""
    if raw is None or raw == "None":
        return None
    try:
        return json.loads(raw)
    except ValueError:
        return ast.literal_eval(raw)


def batches(query) -> list[dict]:
    """Data-carrying micro-batches from the query's own progress."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        d = dict(p.durationMs)
        src = p.sources[0]
        start = epoch(p.timestamp)
        out.append(
            dict(
                id=p.batchId,
                run=str(p.runId),
                start=start,
                end=start + d["triggerExecution"] / 1000.0,
                rows=p.numInputRows,
                d=d,
                so=offset(src.startOffset),
                eo=offset(src.endOffset),
            )
        )
    return out


class StatsWatch:
    """Polls the pipeline's ``Stats`` and records when ``consume`` moves,
    to time how long a committed batch takes to show in the stats. Runs
    in traced runs only."""

    def __init__(self, stats):
        self.stats = stats
        self.seen: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        last = -1
        while not self._stop.wait(0.002):
            v = self.stats.get("consume")
            if v != last:
                self.seen.append((time.time(), v))
                last = v

    def close(self, bs: list[dict]) -> list[float]:
        """Stop polling; the lag in ms from each batch's commit until the
        stats counted it."""
        self._stop.set()
        self._t.join()
        out, cum = [], 0
        for b in sorted(bs, key=lambda b: b["id"]):
            cum += b["rows"]
            hit = next((t for t, v in self.seen if v >= cum), None)
            if hit is not None:
                out.append(1000.0 * (hit - b["end"]))
        return out


def settle(stats, consume: int, timeout: float = 10.0) -> dict:
    """Wait until the asynchronous listener has folded ``consume`` rows
    and published what it forwarded; returns the stats snapshot."""
    deadline = time.monotonic() + timeout
    while True:
        snap = stats.snapshot()
        done = snap["consume"] >= consume and snap["publish"] >= snap["forwarded"]
        if done or time.monotonic() > deadline:
            return snap
        time.sleep(0.02)


def fingerprint(df) -> dict:
    """Per-topic row count and order-independent hash of ``value``."""
    rows = (
        df.groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("value").cast("decimal(38,0)")).alias("h"),
        )
        .collect()
    )
    return {r["topic"]: (r["n"], str(r["h"])) for r in rows}


def bad_rows(got, want) -> int:
    """Rows missing from, or extra in, ``got`` against ``want``, compared
    as multisets of (topic, value)."""
    g = got.groupBy("topic", "value").agg(F.count(F.lit(1)).alias("g"))
    w = want.groupBy("topic", "value").agg(F.count(F.lit(1)).alias("w"))
    j = g.join(w, ["topic", "value"], "full_outer")
    diff = F.abs(F.coalesce("g", F.lit(0)) - F.coalesce("w", F.lit(0)))
    return int(j.agg(F.sum(diff)).collect()[0][0] or 0)


def check_output(spark, table: str, want_df, want_fp, offered, snap) -> dict:
    """Compare the sink's rows with the batch reference and the stats
    counters with what was offered."""
    got = spark.table(table)
    expected = sum(n for n, _ in want_fp.values())
    wrong = 0 if fingerprint(got) == want_fp else bad_rows(got, want_df)
    stats_off = (
        abs(snap["consume"] - offered)
        + abs(snap["forwarded"] - expected)
        + abs(snap["publish"] - snap["forwarded"])
        + abs(snap["consume_fail"])
    )
    return dict(offered=offered, expected=expected, wrong_rows=wrong,
                stats_off=stats_off, stats=snap)


def stream_layers(bs: list[dict], lags: list[float], cap: int | None) -> dict:
    d = [b["d"] for b in bs]
    # idle time between consecutive batches of the same query
    order = sorted(bs, key=lambda b: (b["run"], b["id"]))
    gaps = [n["start"] - b["end"] for b, n in zip(order, order[1:])
            if n["run"] == b["run"]]

    def ms(key):
        return [x.get(key, 0) for x in d]

    return {
        "source.read_ms_p50": pct(ms("latestOffset"), 0.5),
        "source.read_ms_p99": pct(ms("latestOffset"), 0.99),
        "source.rows_per_batch_p50": pct([b["rows"] for b in bs], 0.5),
        "source.full_batch_frac": (
            sum(b["rows"] >= cap for b in bs) / len(bs) if cap else 0.0
        ),
        "batch.trigger_ms_p50": pct(ms("triggerExecution"), 0.5),
        "batch.trigger_ms_p99": pct(ms("triggerExecution"), 0.99),
        "batch.planning_ms_p50": pct(ms("queryPlanning"), 0.5),
        "batch.add_batch_ms_p50": pct(ms("addBatch"), 0.5),
        "batch.add_batch_ms_p99": pct(ms("addBatch"), 0.99),
        "batch.commit_ms_p50": pct(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d], 0.5
        ),
        "batch.gap_ms_p50": 1000.0 * pct(gaps, 0.5) if gaps else 0.0,
        "batch.count": len(bs),
        "stats.lag_ms_p50": pct(lags, 0.5) if lags else 0.0,
    }


# the order MicroBatchExecution runs a trigger's phases in
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
           "addBatch", "commitOffsets")


def trace_batches(tr: Tracer, bs: list[dict], parent) -> None:
    for b in bs:
        sid = tr.add("micro-batch", b["start"], b["end"], parent,
                     batch=b["id"], rows=b["rows"])
        t = b["start"]
        for ph in _PHASES:
            dur = b["d"].get(ph, 0) / 1000.0
            tr.add(ph, t, t + dur, sid)
            t += dur


class Run:
    """One workload run: the session, the tracer and the work directory."""

    def __init__(self, args):
        self.a = args
        self.tr = Tracer(bool(args.trace))
        self.work = args.work
        self.fields: dict = {}
        self.layers: dict = {}
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._n = 0
        self.run_span = self.tr.add("run", args.launched, args.launched)
        with self.tr.span("session", self.run_span):
            self.spark = get_spark(
                "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
            self.spark.range(1).count()
        self.session_start_s = time.time() - args.launched

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def port_config(self, sub: str):
        return frames.config(f"ws://127.0.0.1:{self.a.port}", sub)

    def pipeline(self, df, cfg, name: str):
        return start_pipeline(
            self.spark, df, cfg, self.path("ckpt"), sink="memory",
            memory_sink_name=name,
        )

    def first_batch(self, make_df, cfg, parent) -> float:
        """Start a pipeline, time its start call to its first committed
        batch, and stop it."""
        name = f"setup{self._n}"
        with self.tr.span("setup", parent) as sid:
            t = time.time()
            h = self.pipeline(make_df(), cfg, name)
            try:
                first = first_committed(h.query)
            finally:
                self.stop(h)
            self.spark.catalog.dropTempView(name)
        trace_batches(self.tr, [first], sid)
        return first["end"] - t

    def stop(self, handle, unblock: bool = False) -> None:
        """Stop a pipeline and remove its listener. After its last frame a
        live reader sits in a blocking read, so with ``unblock`` the
        generator is told to end its open sessions while the stop waits."""
        t = threading.Thread(target=handle.stop)
        t.start()
        if unblock:
            generator_session(self.a.port, "stop")
        t.join()

    def tally(self, check: dict) -> None:
        self.checks.append(check)
        self.attempted += check["offered"]
        self.failed += check["wrong_rows"] + check["stats_off"]


def first_committed(query) -> dict:
    """Wait for the query's first committed micro-batch."""
    deadline = time.monotonic() + MAX_WAIT_S
    while time.monotonic() < deadline:
        if query.lastProgress is not None:
            bs = batches(query)
            if bs:
                return min(bs, key=lambda b: b["id"])
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        time.sleep(0.01)
    raise TimeoutError(f"no batch committed in {MAX_WAIT_S} s")


def committed_offset(query) -> int:
    """End offset of the query's last batch (0 before the first)."""
    p = query.lastProgress
    end = offset(p.sources[0].endOffset) if p is not None else None
    return end["n"] if end else 0


def wait_committed(query, n: int) -> None:
    """Wait until the query has committed offset ``n``; gives up after
    MAX_WAIT_S, which the output check then reports as missing rows."""
    deadline = time.monotonic() + MAX_WAIT_S
    while (committed_offset(query) < n and time.monotonic() < deadline
           and query.exception() is None):
        time.sleep(0.1)


def generator_session(port: int, sub: str) -> None:
    """Open and close a control session (``go`` or ``stop``)."""
    rfc6455.connect(f"ws://127.0.0.1:{port}/firehose/{sub}", timeout=5).close()


# -- workloads ---------------------------------------------------------------


def write_envelopes(path: str, envs: list[dict]) -> None:
    """Envelope dicts as one typed parquet file, written with Arrow: no
    Spark job and no product decode path."""
    os.makedirs(path)
    table = pa.Table.from_pylist(envs, schema=to_arrow_schema(schemas.ENVELOPE_SCHEMA))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def reference(r: Run, envs: list[dict]):
    """The envelopes as a static DataFrame."""
    path = r.path("reference")
    write_envelopes(path, envs)
    return r.spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(path)


def setup_query(r: Run, parent=None) -> float:
    """The workload's pipeline over a small input, from the start call to
    its first committed batch. Live reads the generator's burst from its
    ``setup`` session; replay reads the burst's envelopes from a parquet
    file written with Arrow, so no Spark job runs before the query. As
    the session's first query this is a cold start; later, a warm one."""
    spark = r.spark
    if r.a.workload == "live":
        cfg = r.port_config("setup")
        return r.first_batch(lambda: firehose_stream(spark, cfg), cfg, parent)
    path = r.path("small")
    write_envelopes(path, frames.envelopes(r.a.seed + 1, frames.BURST_FRAMES))
    return r.first_batch(lambda: file_replay_stream(spark, path), frames.config(), parent)


def live(r: Run, wid) -> dict:
    """One query over the generator's ``measured`` websocket session; it is
    the Spark session's first query. Its first batch holds the burst and
    ends the cold start. Then the generator is told to go with each part
    once everything before it is committed: the warm-up frames (not
    measured), the paced frames (latency at a rate the nozzle sustains)
    and the flood frames (drain rate, from an idle reader). The output is
    checked after the query has stopped."""
    a, spark, tr = r.a, r.spark, r.tr
    n = frames.session_frames(a.seconds)
    nw, np_, nf = n["warmup"], n["paced"], n["flood"]
    burst = frames.envelopes(a.seed + 1, frames.BURST_FRAMES)
    envs = frames.envelopes(a.seed, nw + np_ + nf)
    # frame i after the burst is offset nb + i; the paced part starts at
    # offset p0, the flood at f0
    nb = len(burst)
    p0, f0 = nb + nw, nb + nw + np_
    total = f0 + nf
    cfg = r.port_config("measured")
    with tr.span("measured", wid) as sid:
        t = time.time()
        h = r.pipeline(firehose_stream(spark, cfg), cfg, "measured")
        watch = StatsWatch(h.stats) if tr.enabled else None
        first = first_committed(h.query)
        for upto in (p0, f0, total):
            generator_session(a.port, "go")
            wait_committed(h.query, upto)
        bs = batches(h.query)
        snap = settle(h.stats, total)
        r.stop(h, unblock=True)
    trace_batches(tr, bs, sid)
    with tr.span("check", wid):
        want = route_envelopes_config(reference(r, burst + envs), cfg)
        r.tally(check_output(spark, "measured", want, fingerprint(want), total, snap))
    lags = watch.close(bs) if watch else []
    due = load_due(f"{a.gen_report}.due", nw + np_ + nf)
    paced = [b for b in bs if b["so"] and p0 <= b["so"]["n"] and b["eo"]["n"] <= f0]
    flood = [b for b in bs if b["so"] and b["so"]["n"] >= f0]
    lat = [
        1000.0 * (b["end"] - due[i - nb])
        for b in paced
        for i in range(b["so"]["n"], b["eo"]["n"])
    ]
    r.fields.update(
        latency_frames=len(lat),
        latency_batches=len(paced),
        flood_batches=len(flood),
        # rows, latestOffset, addBatch and triggerExecution (ms) per batch
        flood_batch_ms=[[b["rows"], b["d"].get("latestOffset"), b["d"].get("addBatch"),
                         b["d"].get("triggerExecution")] for b in flood],
    )
    if tr.enabled:
        # fill policy and fixed per-batch costs from the paced part,
        # drain-side costs from the flood
        r.layers.update(stream_layers(paced, lags, DEFAULT_MAX_BATCH_ROWS))
        drain = stream_layers(flood, [], DEFAULT_MAX_BATCH_ROWS)
        for k in ("source.read_ms_p50", "source.read_ms_p99",
                  "batch.trigger_ms_p50", "batch.trigger_ms_p99",
                  "batch.add_batch_ms_p50", "batch.add_batch_ms_p99"):
            r.layers[k] = drain[k]
        r.layers["batch.count"] = len(paced) + len(flood)
        r.layers["route.forwarded_frac"] = snap["forwarded"] / max(1, snap["consume"])
        probes(r, wid, envs, static=reference(r, envs))
    return dict(
        first_batch_s=first["end"] - t,
        events_per_s=nf / (max(b["end"] for b in flood) - due[f0 - nb]),
        latency_p50_ms=pct(lat, 0.5),
        latency_p99_ms=pct(lat, 0.99),
    )


def load_due(path: str, count: int) -> list[float]:
    """Due times the generator wrote for a session (float64 each); the
    file lands right after the last frame is sent, so wait briefly."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        if os.path.exists(path) and os.path.getsize(path) >= 8 * count:
            break
        time.sleep(0.05)
    due = array.array("d")
    with open(path, "rb") as f:
        due.frombytes(f.read())
    return due.tolist()


def replay_pass(r: Run, backlog: str, cfg, ref, parent) -> dict:
    """One fresh query over the whole backlog, drained and checked."""
    spark, name, rows = r.spark, f"replay{r._n}", REPLAY_ROWS
    with r.tr.span("pass", parent) as sid:
        h = r.pipeline(file_replay_stream(spark, backlog), cfg, name)
        watch = StatsWatch(h.stats) if r.tr.enabled else None
        h.query.processAllAvailable()
        bs = batches(h.query)
        snap = settle(h.stats, rows)
        r.stop(h)
    trace_batches(r.tr, bs, sid)
    r.tally(check_output(spark, name, *ref, rows, snap))
    spark.catalog.dropTempView(name)
    # the whole backlog is there when the first batch starts reading it;
    # the query's start before that is not counted: stream.warm_start_s
    # times a warm query start
    start, end = min(b["start"] for b in bs), max(b["end"] for b in bs)
    return dict(
        bs=bs, snap=snap, lags=watch.close(bs) if watch else [],
        rate=sum(b["rows"] for b in bs) / (end - start),
        lat=[(1000.0 * (b["end"] - start), b["rows"]) for b in bs],
    )


def replay_passes(r: Run, backlog, cfg, ref, parent, n: int, seconds: float) -> list:
    """Passes until at least ``n`` are done and ``seconds`` have passed."""
    out, t = [], time.monotonic()
    while len(out) < n or time.monotonic() - t < seconds:
        out.append(replay_pass(r, backlog, cfg, ref, parent))
    return out


def replay(r: Run, wid) -> dict:
    """Replay a typed-envelope parquet backlog through the pipeline: untimed
    warm-up passes while the JIT compiles the hot path, then timed passes
    (fresh query, fresh checkpoint each) until ``--seconds`` is spent, at
    least TIMED_PASSES. Every pass is checked. The session's first query is
    the set-up query over a small file: the cold start."""
    a, spark, tr = r.a, r.spark, r.tr
    cold = setup_query(r, wid)
    cfg = frames.config()
    backlog = r.path("backlog")
    with tr.span("write-backlog", wid):
        # many more files than cores, so one slow core delays a pass by
        # one small task, not by a quarter of the backlog
        synthetic_envelope_df(spark, REPLAY_ROWS, seed=a.seed).repartition(
            REPLAY_FILES).write.parquet(backlog)
    with tr.span("reference", wid):
        static = spark.read.schema(schemas.ENVELOPE_SCHEMA).parquet(backlog)
        want = route_envelopes_config(static, cfg)
        ref = (want, fingerprint(want))
    with tr.span("warm-up", wid) as sid:
        warm = replay_passes(r, backlog, cfg, ref, sid, WARMUP_PASSES, WARMUP_S)
    timed = replay_passes(r, backlog, cfg, ref, wid, TIMED_PASSES, a.seconds)
    bs = [b for p in timed for b in p["bs"]]
    r.fields.update(
        replay_rows=REPLAY_ROWS, replay_passes=len(timed), latency_batches=len(bs),
        pass_rates=[round(p["rate"]) for p in warm + timed],
    )
    if tr.enabled:
        r.layers.update(stream_layers(bs, [x for p in timed for x in p["lags"]], None))
        snap = timed[-1]["snap"]
        r.layers["route.forwarded_frac"] = snap["forwarded"] / max(1, snap["consume"])
        probes(r, wid, frames.envelopes(a.seed, frames.PROBE_FRAMES), static=static)
    lat = [x for p in timed for x in p["lat"]]
    return dict(
        first_batch_s=cold,
        events_per_s=statistics.median(p["rate"] for p in timed),
        latency_p50_ms=wpct(lat, 0.5),
        latency_p99_ms=wpct(lat, 0.99),
    )


def plan_shape(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return dict(
        n_exchange=len(re.findall(r"Exchange", plan)),
        n_python=len(re.findall(r"(ArrowEvalPython|BatchEvalPython|"
                                r"MapInPandas|MapInArrow|FlatMapGroupsIn"
                                r"|PythonUDF|PythonMapInArrow)", plan)),
        plan_hash=hashlib.sha256(
            re.sub(r"#\d+L?", "", plan).encode()
        ).hexdigest()[:16],
    )


def registry_pass(r: Run, qs, sf_dir, parent, first: bool) -> dict:
    out = {"build": 0.0, "plan": 0.0, "exec": 0.0, "queries": {}}
    with r.tr.span("pass", parent, first=first) as pid:
        for name in REGISTRY_QUERIES:
            with r.tr.span("query", pid, query=name) as qid:
                t0 = time.perf_counter()
                with r.tr.span("build", qid):
                    df = qs[name](r.spark, sf_dir)
                t1 = time.perf_counter()
                with r.tr.span("plan", qid):
                    shape = plan_shape(df)
                t2 = time.perf_counter()
                with r.tr.span("exec", qid):
                    df.count()
                t3 = time.perf_counter()
            out["build"] += t1 - t0
            out["plan"] += t2 - t1
            out["exec"] += t3 - t2
            out["queries"][name] = dict(build=t1 - t0, plan=t2 - t1,
                                        exec=t3 - t2, wall=t3 - t0, **shape)
    out["wall"] = out["build"] + out["plan"] + out["exec"]
    return out


def oracle_check(r: Run, qs, oracles, sf_dir) -> None:
    """Each registry result against its DuckDB oracle, outside timing."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
            elif df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
            elif df[c].dtype.kind == "M":
                df[c] = df[c].astype("datetime64[ns]")
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    con = duckdb.connect()
    for t in tables.SCHEMAS.keys() | {"events"}:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name in REGISTRY_QUERIES:
        got = canon(qs[name](r.spark, sf_dir).toPandas())
        want = canon(con.execute(oracles[name]).df())
        try:
            pd.testing.assert_frame_equal(got, want, check_exact=True)
        except AssertionError as e:
            bad.append(f"{name}: {str(e)[:200]}")
    con.close()
    r.checks.append(dict(offered=len(REGISTRY_QUERIES), wrong=bad))
    r.attempted += len(REGISTRY_QUERIES)
    r.failed += len(bad)


def registry_probe(r: Run, parent) -> None:
    """The events-reading bench queries over a seeded events table: a
    first pass right after ``__spark_entry__`` is imported, then a warm
    pass, each query split into build / plan / exec; then every result
    is checked against its DuckDB oracle."""
    sf_dir = r.path("registry")
    tables.write_events_dir(sf_dir, r.a.seed, REGISTRY_EVENTS)
    with r.tr.span("import", parent):
        t = time.perf_counter()
        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        import_s = time.perf_counter() - t
    first = registry_pass(r, qs, sf_dir, parent, True)
    warm = registry_pass(r, qs, sf_dir, parent, False)
    with r.tr.span("check", parent):
        oracle_check(r, qs, oracles, sf_dir)
    r.fields["plan_hash"] = {k: v["plan_hash"] for k, v in first["queries"].items()}
    layers = {
        "registry.import_s": import_s,
        "registry.first_pass_s": import_s + first["wall"],
        "registry.warm_pass_s": warm["wall"],
        "registry.n_exchange": sum(q["n_exchange"] for q in first["queries"].values()),
        "registry.n_python": sum(q["n_python"] for q in first["queries"].values()),
    }
    for stage in ("build", "plan", "exec"):
        layers[f"registry.first_{stage}_s"] = first[stage]
        layers[f"registry.warm_{stage}_s"] = warm[stage]
    for name, q in first["queries"].items():
        layers[f"build_s.{name}"] = q["build"]
        layers[f"exec_s.{name}"] = warm["queries"][name]["exec"]
    r.layers.update(layers)


# -- layer probes (traced runs) ----------------------------------------------


def probes(r: Run, parent, envs, static) -> None:
    """Time single layers through their public calls, after the measured
    work. Each probe gets its own span."""
    tr = r.tr
    pid = tr.add("probes", time.time(), 0, parent)

    with tr.span("probe.warm-start", pid):
        r.layers["stream.warm_start_s"] = setup_query(r, pid)

    with tr.span("probe.decode", pid):
        wire = [encode_envelope(e) for e in envs[: frames.PROBE_FRAMES]]
        n = size = 0
        t = time.perf_counter()
        while time.perf_counter() - t < 1.0:
            for b in wire:
                decode_envelope(b)
            n += len(wire)
            size += sum(map(len, wire))
        el = time.perf_counter() - t
        r.layers["decode.frames_per_s"] = n / el
        r.layers["decode.bytes_per_s"] = size / el

    with tr.span("probe.direct-read", pid):
        cfg = r.port_config("probe-0")
        reader = FirehoseStreamReader(
            {
                "dopplerAddress": cfg.cf.doppler_address,
                "subscriptionID": cfg.subscription_id,
                "uaaAddress": cfg.cf.uaa_address,
                "username": cfg.cf.username,
                "password": cfg.cf.password,
                "token": cfg.cf.token,
                "insecureSSLSkipVerify": "false",
            }
        )
        want_n, off = frames.PROBE_FRAMES, {"n": 0}
        t = time.perf_counter()
        while off["n"] < want_n:
            it, off = reader.read(off)
            list(it)
        r.layers["source.direct_read_frames_per_s"] = off["n"] / (time.perf_counter() - t)
        r.layers["source.retries"] = reader.retry_count - reader._retries_left
        r.layers["source.dropped_replay_rows"] = reader.dropped_replay_rows
        r.layers["source.slow_consumer_closes"] = reader.slow_consumer_close_alerts

    with tr.span("probe.route-encode", pid):
        static = static.cache()
        rows = static.count()
        cfg = frames.config()
        for key, df in (
            ("route.rows_per_s", route_envelopes_config(static, cfg)),
            ("encode.rows_per_s", static.select(sonde_json(static).alias("value"))),
        ):
            times = []
            for _ in range(3):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t)
            r.layers[key] = rows / statistics.median(times)
        static.unpersist()

    with tr.span("probe.registry", pid) as sid:
        registry_probe(r, sid)
    tr.spans[pid]["end"] = time.time()


WORKLOADS = {
    "live": live,
    "replay_backlog": replay,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--port", type=int, default=0)
    ap.add_argument("--gen-report", default="")
    a = ap.parse_args()

    r = Run(a)
    try:
        wid = r.tr.add("workload", time.time(), 0, r.run_span, workload=a.workload)
        res = WORKLOADS[a.workload](r, wid)
        if r.tr.enabled:
            r.tr.spans[wid]["end"] = time.time()
    finally:
        r.spark.stop()
    # the run's first query, from its start call to its first commit
    cold = res.pop("first_batch_s")
    if r.tr.enabled:
        r.layers["session.start_s"] = r.session_start_s
        r.layers["stream.first_batch_s"] = cold
        r.tr.spans[r.run_span]["end"] = time.time()
    with open(a.out, "w") as f:
        json.dump(
            dict(
                e2e=dict(setup_s=r.session_start_s + cold, **res),
                layers=r.layers,
                attempted=r.attempted,
                failed=r.failed,
                checks=r.checks,
                fields=dict(r.fields, session_start_s=r.session_start_s,
                            first_batch_s=cold),
                spans=r.tr.dump(),
            ),
            f,
            default=str,
        )


if __name__ == "__main__":
    main()
