#!/usr/bin/env python3
"""Benchmark of the WebSocket → Kafka-shaped connector and the streaming gates.

    python3 perfbench/run.py --workload ws_steady --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine from source on first use
(perfbench/build.py), runs one workload, checks every output, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer profile.
``--overhead`` runs the workload untraced and traced on the same seed and
prints what tracing costs on each end-to-end metric. Workloads and metrics
are described in perfbench/README.md.
"""
import argparse
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import metrics as M  # noqa: E402
import wsgen  # noqa: E402

WORK = os.path.join(build.OUT, "work")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160

WS_KEY = "perfbench"
WS_TOPIC = "orderbook"
WS_PARTITIONS = 8
# latency_tail_ms on ws_*: p90, whose frames beyond come from many batches;
# a p99 falls inside the one or two slowest batches of a 10 s window
TAIL_P = 90

GATE_REPS = 2
# The streaming gates timed per pass (README.md: why these eight).
GATES = ["q100_sql_session_stream", "q111_sql_tumbling_stream", "q126_stream_dedup",
         "q130_running_balance", "q133_recent_values_tws", "q228_order_book_rebuild",
         "q345_stream_ohlcv", "q62_stream_stream_join"]

# ws_burst drains its backlog this many times per run, each time in a fresh
# JVM and generator, and reports the median of each metric: one cold drain
# follows the host's speed of that moment
BURST_FORKS = 3

# ws_steady runs on request but is not in BENCHMARK.json: its latency
# follows the host's contention too closely to carry a bound (README.md)
WORKLOADS = ["ws_steady", "ws_burst", "stream_gates"]

# (name, unit) of the end-to-end metrics, printed with --trace 0
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms"),
              ("throughput_per_s", "1/s")]

# (name, unit) of the per-layer metrics, printed with --trace 1; layers a
# workload does not touch report 0
PER_LAYER = [
    ("websocket.latest_offset_ms", "ms"), ("websocket.backlog_frames_max", "count"),
    ("websocket.rows_per_batch_p50", "count"), ("websocket.task_deser_ms", "ms"),
    ("microbatch.batches", "count"), ("microbatch.query_planning_ms", "ms"),
    ("microbatch.wal_commit_ms", "ms"), ("microbatch.commit_offsets_ms", "ms"),
    ("microbatch.trigger_ms_p50", "ms"), ("microbatch.trigger_ms_max", "ms"),
    ("kafkashape.add_batch_ms", "ms"), ("kafkashape.records_written", "count"),
    ("kafkashape.bytes_written", "B"), ("kafkashape.files_written", "count"),
    ("gen.lag_ms_max", "ms"), ("gen.send_fps", "1/s"), ("gen.connects", "count"),
    ("ws.latency_samples", "count"), ("ws.latency_p99_ms", "ms"), ("ws.lost_frac", "ratio"),
    ("streaming.batches", "count"), ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_commit_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_memory_mb", "MB"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"), ("queries.failed_frac", "ratio"),
    ("session.plan_s", "s"), ("session.joins_smj", "count"), ("session.joins_shj", "count"),
    ("session.joins_bhj", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_fetch_wait_ms", "ms"), ("exec.spill_mb", "MB"), ("exec.task_skew", "ratio"),
    ("exec.gc_ms", "ms"), ("exec.peak_rss_mb", "MB"),
    ("tables.input_mb", "MB"), ("host.steal_frac", "ratio"),
] + [(f"q.{g}_s", "s") for g in GATES] + [(f"traced.{n}", u) for n, u in END_TO_END]

MB = 1024.0 * 1024.0


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read_events(out_dir):
    path = os.path.join(out_dir, "events.jsonl")
    if not os.path.exists(path):
        raise BenchError(f"the JVM left no record at {path}")
    ev = {"progress": [], "task": [], "job": [], "stage": [], "span": [], "plan": [],
          "gc": [], "query": [], "mark": {}}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            k = e.pop("kind")
            if k == "mark":
                ev["mark"][e["name"]] = e["value"]
            elif k == "progress":
                ev["progress"].append(e["p"])
            else:
                ev[k].append(e)
    return ev


def jvm(classpath, work, args, log_path):
    cmd = (["java"] + build.java_opts() +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.PerfBench"] + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = open(log_path, "w")
    return subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work), logf


def stop(proc, timeout=10):
    if proc is None or proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def wait_jvm(proc, deadline, log_path):
    try:
        rc = proc.wait(max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        raise BenchError(f"JVM did not finish in time; log: {log_path}")
    if rc != 0:
        tail = open(log_path).read()[-3000:]
        raise BenchError(f"JVM exited with {rc}; log tail:\n{tail}")


def exec_window(ev, keep_job):
    """Task-level exec metrics over the jobs keep_job() accepts."""
    jobs = [j for j in ev["job"] if keep_job(j)]
    stage_ids = {int(s) for j in jobs for s in (j["stages"].split(",") if j["stages"] else [])}
    done = {s["stage"] for s in ev["stage"]}
    tasks = [t for t in ev["task"] if t["stage"] in stage_ids]
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skew = 1.0
    for runs in by_stage.values():
        if len(runs) >= 2:
            med = M.median(runs)
            skew = max(skew, max(runs) / max(med, 1.0))
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stage_ids & done),
        "exec.tasks": len(tasks),
        "exec.shuffle_write_mb": sum(t["sw_b"] for t in tasks) / MB,
        "exec.shuffle_read_mb": sum(t["sr_b"] for t in tasks) / MB,
        "exec.shuffle_fetch_wait_ms": sum(t["fetch_ms"] for t in tasks),
        "exec.spill_mb": sum(t["spill_b"] for t in tasks) / MB,
        "exec.task_skew": skew,
        "tables.input_mb": sum(t["in_b"] for t in tasks) / MB,
    }, tasks


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def gc_ms(ev, t0_ms, t1_ms):
    """JVM-wide GC time between two wall-clock instants, from the sampler."""
    pts = sorted((g["t"], g["gc_ms"]) for g in ev["gc"])
    inside = [v for t, v in pts if t0_ms <= t <= t1_ms]
    before = [v for t, v in pts if t < t0_ms]
    if not inside:
        return 0.0
    return float(inside[-1] - (before[-1] if before else inside[0]))


# ---------------------------------------------------------------- ws_* ----

def check_sink(sink_dir, report, batches):
    """Every sent frame must be in the sink exactly once, byte-identical to
    the frame rebuilt from the seed, with the configured key and topic, a
    partition in [0, n), a valid stamp and the epoch of the batch that
    committed it. Returns (sequence numbers and stamps of the frames that
    pass, failing sequence numbers, count of sink rows of no sent frame)."""
    total = report["total"]
    seed = report["seed"]
    # a backlog's frames carry its start time, scheduled frames their schedule
    n = report["backlog_n"]
    stamp_sql = (f"CASE WHEN s.seq < {n} THEN {report['backlog_us']} ELSE "
                 f"({report['sched0_ns']} + CAST(floor((s.seq - {n}) * {report['period_ns']!r})"
                 f" AS HUGEINT)) // 1000 END")
    con = duckdb.connect()
    con.execute("CREATE TABLE pool (idx BIGINT, body VARCHAR)")
    con.executemany("INSERT INTO pool VALUES (?, ?)",
                    [(i, b.decode()) for i, b in enumerate(wsgen.body_pool(seed))])
    if not glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True):
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.arange(total), 0
    rows = con.execute(f"""
        WITH s AS (
          SELECT *, TRY_CAST(regexp_extract(value, '^[{{]"seq":([0-9]+),', 1) AS BIGINT) AS seq,
                 TRY_CAST(regexp_extract(value, '^[{{]"seq":[0-9]+,"t":([0-9]+),', 1) AS BIGINT) AS t
          FROM read_parquet('{sink_dir}/*/*/*.parquet', hive_partitioning = true))
        SELECT s.seq, s.t, s.epoch,
               coalesce(s.seq < ? AND s.key = ? AND s.topic = ? AND s.partition >= 0
                 AND s.partition < ?
                 AND s.value = '{{"seq":' || s.seq || ',"t":' || s.t || ',' || p.body
                 AND s.t = {stamp_sql}, false) AS ok
        FROM s
        LEFT JOIN pool p ON p.idx = (s.seq * {wsgen.POOL_MULT} + {seed}) % {wsgen.POOL}
        """, [total, WS_KEY, WS_TOPIC, WS_PARTITIONS]).fetchnumpy()
    seq = np.nan_to_num(rows["seq"].astype(np.float64), nan=-1).astype(np.int64)
    ok = rows["ok"].astype(bool) & (batches.batch_of(seq) == rows["epoch"].astype(np.int64))
    passed, failed, stray = M.exactly_once(seq, ok, total)
    stamp = np.zeros(total, np.int64)
    stamp[seq[ok]] = rows["t"][ok].astype(np.int64)
    return passed, stamp[passed], failed, stray


def run_ws(workload, seed, seconds, trace, classpath, work, t_setup_ms):
    steady = workload == "ws_steady"
    report_path = os.path.join(work, "gen.json")
    gen_cmd = [sys.executable, os.path.join(HERE, "wsgen.py"), "--seed", str(seed),
               "--mode", "steady" if steady else "burst", "--measure-s", str(seconds),
               "--report", report_path]
    _, total = wsgen.frame_counts("steady" if steady else "burst", seconds)
    gen = proc = logf = None
    out = os.path.join(work, "out")
    log_path = os.path.join(work, "jvm.log")
    try:
        gen = subprocess.Popen(gen_cmd, stdout=subprocess.PIPE, text=True)
        line = gen.stdout.readline()
        if not line.startswith("PORT "):
            raise BenchError("generator did not start")
        port = int(line.split()[1])
        proc, logf = jvm(classpath, work, {
            "mode": "ws", "out": out, "work": work, "trace": trace,
            "url": f"ws://127.0.0.1:{port}/", "key": WS_KEY, "topic": WS_TOPIC,
            "partitions": WS_PARTITIONS, "sink": os.path.join(work, "sink"),
            "checkpoint": os.path.join(work, "checkpoint"), "expect": total,
            "timeout_s": JVM_TIMEOUT_S - 40}, log_path)
        wait_jvm(proc, time.time() + JVM_TIMEOUT_S, log_path)
        deadline = time.time() + 10
        while not os.path.exists(report_path) and time.time() < deadline:
            time.sleep(0.05)
        if not os.path.exists(report_path):
            raise BenchError("generator wrote no report")
        report = json.load(open(report_path))
    finally:
        stop(gen)
        stop(proc)
        if logf:
            logf.close()
    ev = read_events(out)
    if "ws_error" in ev["mark"]:
        log(f"stream failed: {ev['mark']['ws_error']}")
    batches = M.Batches(ev["progress"])
    passed, stamps, failed, stray = check_sink(os.path.join(work, "sink"), report, batches)
    if len(failed):
        log(f"{len(failed)} of {total} frames missing, duplicated, altered or misplaced; "
            f"seq {failed[:50].tolist()}{' ...' if len(failed) > 50 else ''}")
    if stray:
        log(f"{stray} sink rows carry no sent frame")
    if report["connects"] != 1:
        log(f"the connector connected {report['connects']} times")
    # measured frames: latency percentiles, and frames/s from the first
    # measured frame's creation to the last one's commit. Only frames that
    # passed the check count; a run that lost frames is incorrect, and its
    # figures rest on what was delivered.
    first = report["first_measured"]
    start_ms = report["measure_start_us"] / 1000.0
    sel = passed >= first
    lat = M.frame_latencies_ms(batches, passed[sel], stamps[sel])
    last_ms = float(np.max(batches.commit_ms(passed[sel]))) if sel.any() else start_ms
    e2e = {
        "setup_s": (start_ms - t_setup_ms) / 1000.0,
        "latency_p50_ms": pct(lat, 50),
        "latency_tail_ms": pct(lat, TAIL_P),
        "throughput_per_s": int(sel.sum()) / max(1e-3, (last_ms - start_ms) / 1000.0),
    }
    bad = len(failed) + stray
    result = {"correct": bad == 0 and report["connects"] == 1 and "ws_error" not in ev["mark"],
              "attempted": total, "failed": bad, "e2e": e2e}
    if trace == "1":
        result["layers"] = ws_layers(ev, report, batches, lat, work)
        result["layers"]["ws.lost_frac"] = bad / total
    return result


def pct(lat, p):
    """Percentile p of the ascending latencies lat under the percentile rule.
    When too few frames were delivered for the rule (the run has already
    failed its check), the largest latency seen, or 0 if none."""
    try:
        return M.percentile(lat, p)
    except ValueError:
        return float(lat[-1]) if len(lat) else 0.0


def ws_layers(ev, report, batches, lat, work):
    """Layer metrics over the batches that committed measured frames."""
    first = report["first_measured"]
    window = [p for p in ev["progress"]
              if p["sources"][0].get("endOffset") is not None
              and int(p["sources"][0]["endOffset"]) > first]
    layers = {
        "gen.lag_ms_max": report["lag_ms_max"],
        "gen.send_fps": report["send_fps"],
        "gen.connects": report["connects"],
        "ws.latency_samples": len(lat),
        "ws.latency_p99_ms": pct(lat, 99),
        "exec.peak_rss_mb": int(ev["mark"]["peak_rss_kb"]) / 1024.0,
    }
    if not window:  # no measured frame committed: the run failed its check
        return layers
    dur = lambda k: [p["durationMs"].get(k, 0) for p in window]
    trig = sorted(dur("triggerExecution"))
    start_ms = min(M.parse_ts_ms(p["timestamp"]) for p in window)
    end_ms = float(batches.end_ms.max())
    ex, tasks = exec_window(ev, lambda j: j["t"] >= start_ms)
    epochs = {p["batchId"] for p in window}
    files = [f for f in glob.glob(os.path.join(work, "sink", "*", "epoch=*", "*.parquet"))
             if int(f.split("epoch=")[1].split(os.sep)[0]) in epochs]
    layers.update({
        "websocket.latest_offset_ms": M.median(dur("latestOffset")),
        "websocket.backlog_frames_max": max(
            int(p["sources"][0]["latestOffset"]) - int(p["sources"][0]["endOffset"])
            for p in window),
        "websocket.rows_per_batch_p50": M.median([p["numInputRows"] for p in window]),
        "websocket.task_deser_ms": sum(t["deser_ms"] for t in tasks),
        "microbatch.batches": len(window),
        "microbatch.query_planning_ms": M.median(dur("queryPlanning")),
        "microbatch.wal_commit_ms": M.median(dur("walCommit")),
        "microbatch.commit_offsets_ms": M.median(dur("commitOffsets")),
        "microbatch.trigger_ms_p50": M.median(trig),
        "microbatch.trigger_ms_max": trig[-1],
        "kafkashape.add_batch_ms": M.median(dur("addBatch")),
        "kafkashape.records_written": sum(t["out_rec"] for t in tasks),
        "kafkashape.bytes_written": sum(t["out_b"] for t in tasks),
        "kafkashape.files_written": len(files),
        "exec.gc_ms": gc_ms(ev, start_ms, end_ms),
    })
    layers.update(ex)
    return layers


# ---------------------------------------------------------- stream_gates ----

def run_gates(seed, seconds, trace, classpath, work, t_setup_ms):
    data = os.path.join(work, "data")
    fixture.write_tables(data, seed)
    order = list(GATES)
    random.Random(seed).shuffle(order)
    out = os.path.join(work, "out")
    results = os.path.join(work, "results")
    log_path = os.path.join(work, "jvm.log")
    proc = logf = None
    try:
        proc, logf = jvm(classpath, work, {
            "mode": "gates", "out": out, "work": work, "trace": trace, "data": data,
            "queries": ",".join(order), "reps": GATE_REPS, "seconds": seconds,
            "results": results}, log_path)
        wait_jvm(proc, time.time() + JVM_TIMEOUT_S, log_path)
    finally:
        stop(proc)
        if logf:
            logf.close()
    ev = read_events(out)
    runs = {}
    errors = {}
    for q in ev["query"]:
        if q["error"] is not None:
            errors.setdefault(q["name"], q["error"])
        else:
            runs.setdefault(q["name"], []).append(q["s"])
    verdict = fixture.check_results(data, results, [g for g in order if g not in errors])
    failed = sorted(set(errors) | {n for n, v in verdict.items() if v is not None})
    for n in failed:
        log(f"{n}: {errors.get(n) or verdict.get(n)}")
    # per gate: the minimum over its reps (noise on a warm run is additive);
    # a gate that crashed is left out of the times and counted in failed
    per_query = {n: min(v) for n, v in runs.items() if n not in errors}
    ms = sorted(v * 1000.0 for v in per_query.values()) or [0.0]
    total_s = sum(per_query.values())
    e2e = {
        "setup_s": (int(ev["mark"]["timed_start"]) - t_setup_ms) / 1000.0,
        "latency_p50_ms": M.median(ms),
        "latency_tail_ms": ms[-1],
        "throughput_per_s": len(per_query) / total_s if total_s else 0.0,
    }
    result = {"correct": not failed, "attempted": len(order), "failed": len(failed),
              "e2e": e2e, "batch_total_s": total_s}
    log(f"stream_gates: {len(order)} gates, batch_total_s={total_s:.3f}, "
        f"runs per gate={max([len(v) for v in runs.values()] or [0])}; seconds per gate: "
        + ", ".join(f"{n} {v:.3f}" for n, v in sorted(per_query.items())))
    if trace == "1":
        result["layers"] = gates_layers(ev, per_query, failed, len(order))
    return result


def gates_layers(ev, per_query, failed, n):
    t0 = int(ev["mark"]["timed_start"])
    t1 = int(ev["mark"]["timed_end"])
    # sums below are per execution of every gate (one rep of one pass)
    passes = max(1, len([q for q in ev["query"] if q["name"] == GATES[0]]))
    spans = [s for s in ev["span"] if s["id"].startswith("q:")]
    phase = lambda p: sum(s["dur_ms"] for s in spans if s["phase"] == p) / 1000.0 / passes
    timed = lambda j: j["span"] is not None and j["span"].startswith("q:")
    ex, _ = exec_window(ev, timed)
    ex = {k: (v / passes if k != "exec.task_skew" else v) for k, v in ex.items()}
    prog = [p for p in ev["progress"] if M.parse_ts_ms(p["timestamp"]) >= t0]
    dsum = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / passes
    ops = [o for p in prog for o in p.get("stateOperators", [])]
    rows_by_query = {}
    for p in prog:
        rows = sum(o["numRowsTotal"] for o in p.get("stateOperators", []))
        rows_by_query[p["runId"]] = max(rows_by_query.get(p["runId"], 0), rows)
    writes = [p for p in ev["plan"] if t0 <= p["t"] and "OverwriteByExpression" in p["root"]]
    layers = {
        "streaming.batches": len(prog) / passes,
        "streaming.query_planning_ms": dsum("queryPlanning"),
        "streaming.add_batch_ms": dsum("addBatch"),
        "streaming.wal_commit_ms": dsum("walCommit"),
        "streaming.state_commit_ms": sum(o["commitTimeMs"] for o in ops) / passes,
        "streaming.state_rows": sum(rows_by_query.values()) / passes,
        "streaming.state_memory_mb": max([sum(o["memoryUsedBytes"]
                                              for o in p.get("stateOperators", []))
                                          for p in prog] or [0]) / MB,
        "queries.build_s": phase("build"),
        "queries.build_jobs": sum(1 for j in ev["job"] if timed(j)
                                  and j["span"].endswith("|build")) / passes,
        "queries.failed_frac": len(failed) / n,
        "session.plan_s": phase("plan"),
        "session.joins_smj": sum(p["smj"] for p in writes) / passes,
        "session.joins_shj": sum(p["shj"] for p in writes) / passes,
        "session.joins_bhj": sum(p["bhj"] for p in writes) / passes,
        "exec.gc_ms": gc_ms(ev, t0, t1) / passes,
        "exec.peak_rss_mb": int(ev["mark"]["peak_rss_kb"]) / 1024.0,
    }
    layers.update(ex)
    for g in GATES:
        layers[f"q.{g}_s"] = per_query.get(g, 0.0)
    return layers


# ------------------------------------------------------------------ main ----

def run_once(workload, seed, seconds, trace):
    classpath = build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}")
    steal0, total0 = cpu_ticks()
    if workload == "stream_gates":
        os.makedirs(work)
        res = run_gates(seed, seconds, trace, classpath, work, time.time() * 1000.0)
    else:
        forks = []
        for i in range(BURST_FORKS if workload == "ws_burst" else 1):
            fork_work = os.path.join(work, f"fork{i}")
            os.makedirs(fork_work)
            forks.append(run_ws(workload, seed, seconds, trace, classpath, fork_work,
                                time.time() * 1000.0))
        res = median_of_forks(forks)
    steal1, total1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run:
    # a validity check, like gen.*, not a property of the system under test
    steal = (steal1 - steal0) / max(1, total1 - total0)
    if steal > 0.05:
        log(f"CPU steal was {steal:.1%} of this run: the host was contended")
    units = dict(END_TO_END + PER_LAYER)
    if trace == "1":
        values = {n: 0.0 for n, _ in PER_LAYER}
        values.update(res["layers"])
        values.update({f"traced.{k}": v for k, v in res["e2e"].items()})
        values["host.steal_frac"] = steal
        names = [n for n, _ in PER_LAYER]
    else:
        values = res["e2e"]
        names = [n for n, _ in END_TO_END]
    mets = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": mets}


def median_of_forks(forks):
    """One result from the forks of a run: correct only if every fork was,
    frames attempted and failed summed, each metric the median over forks."""
    med = lambda key: {k: M.median([f[key][k] for f in forks]) for k in forks[0][key]}
    res = {"correct": all(f["correct"] for f in forks),
           "attempted": sum(f["attempted"] for f in forks),
           "failed": sum(f["failed"] for f in forks), "e2e": med("e2e")}
    if "layers" in forks[0]:
        res["layers"] = med("layers")
    return res


def overhead(workload, seed, seconds):
    """Untraced then traced run of one seed; prints traced − untraced."""
    plain = run_once(workload, seed, seconds, "0")["metrics"]
    traced = run_once(workload, seed, seconds, "1")["metrics"]
    rows = {}
    for n, _ in END_TO_END:
        a, b = plain[n]["value"], traced[f"traced.{n}"]["value"]
        rows[n] = {"untraced": a, "traced": b, "overhead": b - a,
                   "overhead_frac": (b - a) / a if a else None}
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    try:
        if args.overhead:
            print(json.dumps(overhead(args.workload, args.seed, args.seconds)))
        else:
            print(json.dumps(run_once(args.workload, args.seed, args.seconds, args.trace)))
    except (BenchError, RuntimeError, OSError, ValueError) as e:
        log(f"failed: {e}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
