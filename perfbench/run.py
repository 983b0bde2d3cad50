#!/usr/bin/env python3
"""Benchmark of the warehouse engine, end to end and per layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_reads --seed 1 --seconds 5 --trace 0

The command launches one fresh child process (the Python main process
of a Spark application and its JVM, sized to the machine's cores),
which generates the workload's inputs from ``--seed``, sets up several
times, runs the timed loop (whole rounds, at least ``--seconds`` of
operation time; the first round runs cold and collects the outputs to
check), checks every output outside the timed region and, with
``--trace 1``, runs one more round with spans and a Spark event log to
derive per-layer metrics. The last line of
standard output is the JSON result; the line before it is a report
with the inputs, the load average and the workload's own metrics.
Exit code 0 means every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

from metrics import END_TO_END, PER_LAYER, WORKLOAD_NAMES, unit_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5  # set-up repetitions per run; setup_s is their median
TIMEOUT_S = 170  # a run must end within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--result", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


# --- launcher ---------------------------------------------------------------


def _group_pids(pgid: int) -> list[str]:
    from tracing import group_processes

    return [pid for _, pid in group_processes(pgid)]


def _reap(pgid: int) -> None:
    """Stop every process of the child's group (the Python main process,
    the JVM, the Python workers) and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def launch(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "evolution_data_warehouse_spark", "__init__.py")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_DRIVER_MEM=env.get("SPARK_DRIVER_MEM", "2g"),
    )
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--child", "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s, stopped", file=sys.stderr)
        rc = None
    finally:
        _reap(proc.pid)
        if proc.poll() is None:
            proc.wait()
    out = None
    if rc == 0 and os.path.exists(result):
        with open(result) as fh:
            out = json.load(fh)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):  # the traced round's spans outlive the work directory
        os.replace(spans, f"{work}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print(f"perfbench: the run failed (exit code {rc})", file=sys.stderr)
        return 1
    print(json.dumps({"report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


# --- child --------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the whole machine, from
    /proc/stat; busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[0] + fields[1] + fields[2] + fields[5] + fields[6], fields[7], sum(fields[:8])


def host_probe_ms() -> float:
    """CPU time of a fixed pure-Python loop. It does not depend on the
    engine, so it tells how fast this host runs the same instructions
    right now: other guests sharing the cores and caches slow it."""
    t0 = time.process_time()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return 1e3 * (time.process_time() - t0)


def timed_loop(w, seconds: float, start: int):
    """Run whole rounds of operations until their summed time reaches
    ``seconds``. Returns [(kind, seconds, ok)] and the next sequence
    index."""
    recs, elapsed, i = [], 0.0, start
    while not recs or elapsed < seconds or len(recs) % w.round_len:
        t0 = time.perf_counter()
        try:
            kind, ok = w.op(i), True
        except Exception:  # noqa: BLE001 - a failed operation is counted, the run goes on
            traceback.print_exc()
            kind, ok = w.sequence(i)["kind"], False
        dt = time.perf_counter() - t0
        elapsed += dt
        recs.append((kind, dt, ok))
        i += 1
    return recs, i


def tally(recs, wrong) -> tuple[int, int]:
    """(attempted, failed) over every operation run; a wrong result
    found by the checks counts as one more failure."""
    return len(recs), sum(not ok for _, _, ok in recs) + len(wrong)


def loop_metrics(w, recs) -> dict:
    from tracing import median, percentile, tail_percentile

    total = sum(dt for _, dt, _ in recs)
    reads = [dt for kind, dt, ok in recs if ok and w.in_latency(kind)]
    items = sum(w.items(kind) for kind, _, ok in recs if ok)
    out = {"items": items, "items_per_s": items / total, "op_p50_ms": 1e3 * median(reads),
           "ops": len(recs), "op_seconds": total}
    p = tail_percentile(len(reads))
    out["tail_pct"] = p or 0.0
    out["tail_ms"] = 1e3 * percentile(reads, p) if p else 0.0
    out["reads"] = len(reads)
    ups = [dt for kind, dt, ok in recs if ok and kind == "upsert"]
    out["upsert_p50_ms"] = 1e3 * median(ups)
    return out


def child(args) -> int:
    import workloads
    from evolution_data_warehouse_spark.session import get_spark
    from tracing import Tracer, group_cpu_s, group_peak_rss_mb, group_totals, median, read_event_logs, self_times

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    load_start = os.getloadavg()[0]
    probe_start = host_probe_ms()
    work = os.path.dirname(args.result)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    w = workloads.WORKLOADS[args.workload](args.seed)

    setups, spark, stats = [], None, {}
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()  # tearing down the previous set-up is not set-up time
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        stats = w.setup(spark, os.path.join(work, f"input{k}"))
        t2 = time.perf_counter()
        w.touch()
        t3 = time.perf_counter()
        setups.append({"total_s": t3 - t0, "session_s": t1 - t0, "generate_s": t2 - t1, "touch_s": t3 - t2})
        if k:
            shutil.rmtree(os.path.join(work, f"input{k - 1}"), ignore_errors=True)
        print(f"perfbench: setup {k}: {setups[-1]}", file=sys.stderr, flush=True)

    busy0, steal0, total0 = cpu_ticks()
    cpu0 = group_cpu_s()
    untimed, nxt = timed_loop(w, args.seconds, 0)
    cpu_s = group_cpu_s() - cpu0
    busy1, steal1, total1 = cpu_ticks()
    peak_rss = group_peak_rss_mb()
    m = loop_metrics(w, untimed)
    m["cpu_ms_per_item"] = 1e3 * cpu_s / m["items"]
    rounds = [sum(dt for _, dt, _ in untimed[k:k + w.round_len]) for k in range(0, len(untimed), w.round_len)]
    ran = list(untimed)

    layer = {}
    if args.trace:
        spark.stop()
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = get_spark(app_name=f"perfbench-{args.workload}-traced", extra_conf={
            **conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        w.attach(spark)
        tracer = Tracer(spark.sparkContext)
        w.tracer = tracer
        w.trace_patch(tracer)
        t0 = time.perf_counter()
        try:
            traced, _ = timed_loop(w, args.seconds, nxt)
        finally:
            tracer.unwrap()
            w.tracer = Tracer(enabled=False)
        wall = time.perf_counter() - t0
        tracer.dump(os.path.join(work, "spans.jsonl"))
        ran += traced

    t0 = time.perf_counter()
    bad = w.check()
    check_s = time.perf_counter() - t0
    for b in bad:
        print(f"perfbench: wrong result: {b}", file=sys.stderr)
    attempted, failed = tally(ran, bad)
    spark.stop()

    if args.trace:
        groups = group_totals(read_event_logs(log_dir))
        spans = tracer.spans
        layer = w.layer_metrics(spans, groups, cpus)
        own_time = self_times(spans)
        parents = {s.parent for s in spans}
        # time inside layer spans: each operation's span minus its self
        # time; an operation with no child span is itself one layer call
        covered = sum(r.dur - own_time[r.id] if r.id in parents else r.dur
                      for r in spans if r.parent is None)
        wl = args.workload
        layer[f"{wl}.span_coverage"] = covered / wall
        layer[f"{wl}.trace_overhead_frac"] = tracer.overhead_s / wall
        layer[f"{wl}.gc_s"] = sum(g["gc_ms"] for g in groups.values()) / 1e3
        layer["session.start_s"] = median([s["session_s"] for s in setups])
        layer["session.generate_s"] = median([s["generate_s"] for s in setups])
        layer["session.warmup_s"] = median([s["touch_s"] for s in setups])

    # the workload's own end-to-end figures, under their own names
    own = {"error_rate": failed / attempted, "peak_rss_mb": peak_rss,
           "setup_s": median([s["total_s"] for s in setups])}
    if args.workload == "warehouse_reads":
        own.update({"read_p50_ms": m["op_p50_ms"], "read_tail_ms": m["tail_ms"], "read_tail_pct": m["tail_pct"],
                    "read_samples": m["reads"], "reads_per_s": m["items_per_s"],
                    "upsert_p50_ms": m["upsert_p50_ms"]})
    else:
        own["etl_rows_per_s"] = m["items_per_s"]
    for k, v in own.items():
        layer[f"{args.workload}.{k}"] = v

    e2e = {"setup_s": own["setup_s"], "cpu_ms_per_item": m["cpu_ms_per_item"]}
    if args.trace:
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": unit_of(n)} for n in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    load_end = os.getloadavg()[0]
    probe_end = host_probe_ms()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus_effective": cpus, "load_1m_start": load_start, "load_1m_end": load_end,
        "load_flag": max(load_start, load_end) > cpus,
        # CPU time the hypervisor gave to other guests while the timed loop ran
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "timed_cpu_s": {"group": cpu_s, "machine_busy": (busy1 - busy0) / os.sysconf("SC_CLK_TCK"),
                        "machine_steal": (steal1 - steal0) / os.sysconf("SC_CLK_TCK")},
        "host_probe_ms": [probe_start, probe_end],
        "inputs": stats, "setups": setups,
        "ops": m["ops"], "op_seconds": m["op_seconds"],
        "metrics": {k: {"value": v, "unit": unit_of(f"{args.workload}.{k}")} for k, v in own.items()},
        "round_s": rounds, "check_s": check_s, "wrong_results": bad[:20],
        "op_ms": {k: [round(1e3 * dt, 1) for kind, dt, _ in untimed if kind == k]
                  for k in dict.fromkeys(kind for kind, _, _ in untimed)},
    }
    with open(args.result, "w") as fh:
        json.dump({"report": report, "result": {
            "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}}, fh)
    return 0


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    return child(args) if args.child else launch(args)


if __name__ == "__main__":
    sys.exit(main())
