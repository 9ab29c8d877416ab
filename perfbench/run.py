"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 40 --trace 0

Run from the repository root.  Each run:

1. stamps the machine (``nproc``, load average, a one-core calibration
   loop);
2. generates the workload's inputs from ``--seed`` five times, each into
   a fresh directory, and reports the median CPU time as ``setup_s``;
3. builds, once per checkout and in a process of its own, the state a
   workload keeps across runs (``etl_sync``: the initial warehouse);
4. starts one Spark session on ``local[nproc]`` with driver memory sized
   to the box, prepares the workload's untimed state, and runs the
   workload's fixed number of rounds as a closed loop (one client, each
   operation starts after the previous one ends), one Spark job group
   per operation;
5. checks every operation's output outside the timed spans;
6. prints one JSON object as the last line of standard output:
   ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
   metrics with ``--trace 0``, the per-layer metrics named in
   ``BENCHMARK.json`` with ``--trace 1``.

The work of a run is fixed by the workload (``Workload.ROUNDS``), never
by the clock, so both sides of a comparison run the same operations.
``--seconds`` is accepted as part of the calling convention and does
not change the work.

Everything it writes lives under ``.perfbench_run/`` in the working
directory and is removed at exit, apart from the span dump of a traced
run (``.perfbench_run/traces/``) and the kept state
(``.perfbench_build/``).  The Spark JVM is stopped and waited
for before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
PKG = "pipeline311_spark"
WORKLOADS = ("etl_sync", "analytics_mix", "curation_corpus")
SETUP_REPEATS = 5


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def machine_stamp() -> dict:
    """nproc, load average and a one-core calibration loop, so a noisy
    run can be told apart from a slow build."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return {
        "nproc": _nproc(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calib_loop_s": round(time.perf_counter() - t0, 4),
    }


def _driver_memory() -> str:
    """A quarter of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    gib = max(1, min(4, total_kb // (4 * 1024 * 1024)))
    return f"{gib}g"


def start_spark(run_dir: str):
    from pyspark.sql import SparkSession

    n = _nproc()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class JobStats:
    """Per-operation Spark counters: jobs / stages / tasks from the public
    StatusTracker (one job group per operation), bytes from the status
    store's stage data."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def collect(self, group: str) -> dict[str, float]:
        return self.job_counters(self.tracker.getJobIdsForGroup(group))

    def job_counters(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "input_records",
             "output_bytes", "shuffle_write_bytes"), 0
        )
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                data = self.store.stageData(sid, False, None, False, self.quantiles)
                if data.isEmpty():
                    continue
                sd = data.head()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def busy_cpu_s() -> float:
    """CPU seconds this machine has spent running anything (user, nice,
    system, irq, softirq).  Idle, I/O wait and time the hypervisor stole
    for other guests do not count, so on a shared host this reads the
    same work the same way however busy the neighbours are."""
    v = cpu_ticks()
    return sum(v[i] for i in (0, 1, 2, 5, 6)) / _TICK


def _status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def jvm_peak_rss_mb(spark) -> float:
    return _status_mb(spark._jvm.java.lang.ProcessHandle.current().pid(), "VmHWM")


class RssSampler:
    """Peak resident set of this (driver) process while the operations
    run, sampled every 20 ms; input generation and the workload's
    untimed preparation happen before it starts."""

    def __init__(self):
        self.peak_mb = _status_mb("self", "VmRSS")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.wait(0.02):
            self.peak_mb = max(self.peak_mb, _status_mb("self", "VmRSS"))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return max(self.peak_mb, _status_mb("self", "VmRSS"))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten operations beyond it:
    the 11th-largest value, at percentile 100 * (1 - 10 / n).  With ten
    or fewer operations no percentile qualifies and the maximum is
    reported at percentile 100."""
    desc = sorted(values, reverse=True)
    if len(desc) <= 10:
        return desc[0], 100.0
    return desc[10], 100.0 * (1 - 10 / len(desc))


def setup(workload, seed: int, run_dir: str) -> tuple[str, float, list[float]]:
    """Generate the inputs SETUP_REPEATS times into fresh directories;
    keep the last one, report the median CPU time of a generation (the
    generators run in this process only)."""
    times, keep = [], None
    for i in range(SETUP_REPEATS):
        d = os.path.join(run_dir, f"inputs{i}")
        t0 = time.process_time()
        workload.generate(seed, d)
        times.append(time.process_time() - t0)
        if keep is not None:
            shutil.rmtree(keep, ignore_errors=True)
        keep = d
    return keep, statistics.median(times), times


def measure(spark, workload, stats: JobStats, tracer=None, label="m"):
    """Closed loop over the workload's rounds.  Returns the operation
    records and the rounds' (wall, busy CPU) seconds, summed over the
    operation spans so bookkeeping and output checks never count."""
    sc = spark.sparkContext
    ops, rounds = [], []
    while True:
        round_ops = workload.next_round()
        if round_ops is None:
            break
        round_s = round_cpu = 0.0
        for op in round_ops:
            group = f"{label}{len(ops)}"
            workload.before(op)
            sc.setJobGroup(group, op.name)
            mark = tracer.mark() if tracer else 0
            c0, t0 = busy_cpu_s(), time.perf_counter()
            try:
                out = op.run()
                err = None
            except Exception as e:  # noqa: BLE001 — a failed op is data
                out, err = None, f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"
            dt, cpu = time.perf_counter() - t0, busy_cpu_s() - c0
            round_s += dt
            round_cpu += cpu
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec = {"name": op.name, "kind": op.kind, "s": dt, "cpu_s": cpu, "error": err,
                   "rows": op.rows, "in_bytes": op.in_bytes, "mark": mark,
                   "spark": stats.collect(group)}
            if err is None:
                bad = workload.check(op, out)
                if bad:
                    rec["error"] = f"wrong output: {bad}"
            rec.update(workload.op_extra(op))
            ops.append(rec)
            if rec["error"]:
                print(f"perfbench: op {op.name} failed: {rec['error']}", file=sys.stderr)
        rounds.append((round_s, round_cpu))
    return ops, rounds


def end_to_end(ops, rounds, setup_s, spark, driver_peak_mb) -> tuple[dict, dict]:
    """The bounded metrics count busy CPU seconds; the wall-clock ones go
    to the detail line, because time stolen by the hypervisor moves them
    by up to twice between runs on a shared host.  So does the JVM's peak
    resident set, which follows the collector's heap sizing (1.1 to 1.9 GB
    for the same work) more than the work."""
    times = [o["s"] for o in ops]
    cpus = [o["cpu_s"] for o in ops]
    tail_v, tail_pct = tail(times)
    cpu_tail_v, _ = tail(cpus)
    rows = sum(o["rows"] for o in ops)
    in_bytes = sum(o["in_bytes"] for o in ops)
    # files the operations left on disk plus payload handed to the sink
    written = sum(o.get("written_bytes", 0) + o.get("sent_bytes", 0) for o in ops)
    metrics = {
        "setup_s": (setup_s, "s"),
        "round_cpu_s": (statistics.median(c for _, c in rounds), "s"),
        "op_cpu_p50_s": (statistics.median(cpus), "s"),
        "op_cpu_tail_s": (cpu_tail_v, "s"),
        "rows_per_cpu_s": (rows / sum(cpus), "rows/s"),
        "bytes_written_per_input_byte": (written / max(in_bytes, 1), "ratio"),
        "driver_peak_rss_mb": (driver_peak_mb, "MB"),
    }
    side = {
        "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        "wall_s": statistics.median(w for w, _ in rounds),
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail_v,
        "rows_per_s": rows / sum(times),
        "op_tail_percentile": tail_pct,
        "op_tail_ops_beyond": min(10, len(times) - 1),
        "ops": len(ops),
        "rounds": len(rounds),
        "op_s_by_name": {
            n: round(statistics.median(o["s"] for o in ops if o["name"] == n), 4)
            for n in sorted({o["name"] for o in ops})
        },
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, side


def per_layer_names() -> set[str]:
    """The per-layer metrics BENCHMARK.json declares (a traced run
    prints exactly these; the trace JSON keeps everything)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None,
                    help="accepted for the calling convention; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        _fail(f"run from the repository root: no {PKG}/ package in {ROOT}")
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench_run", run_id)
    os.makedirs(run_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # Spark's Python workers must import the package and the benchmark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    spark = None
    try:
        phases = {}
        t_phase = time.perf_counter()

        def phase(name):
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = round(now - t_phase, 3)
            t_phase = now

        stamp = machine_stamp()
        from perfbench import workloads

        wl = workloads.make(args.workload, args.seed, run_dir)
        inputs, setup_s, setup_all = setup(wl, args.seed, run_dir)
        phase("setup")
        wl.build(inputs)
        phase("build")
        spark = start_spark(run_dir)
        stats = JobStats(spark)
        phase("spark_start")
        wl.prepare(spark, inputs)
        phase("prepare")
        result = run_measured(spark, wl, args, stats, run_id, setup_s)
        phase("measure_and_check")
        result_side = result.pop("_side")
        result_side.update(machine=stamp, setup_all_s=setup_all, run_id=run_id, phase_s=phases)
        print(json.dumps({"perfbench": result_side}))
        print(json.dumps(result))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def run_measured(spark, wl, args, stats, run_id, setup_s) -> dict:
    if not args.trace:
        rss, ticks = RssSampler(), cpu_ticks()
        ops, rounds = measure(spark, wl, stats)
        metrics, side = end_to_end(ops, rounds, setup_s, spark, rss.stop())
        d = [b - a for a, b in zip(ticks, cpu_ticks())]
        side["steal_share"] = d[7] / max(sum(d), 1)
        failed = sum(1 for o in ops if o["error"])
        side["failed_ops_frac"] = failed / max(len(ops), 1)
        return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                "metrics": metrics, "_side": side}

    from perfbench import layers, spans

    tracer = spans.Tracer(run_id)
    n_wrapped = spans.install(tracer)
    # a warm-up pass, then the same rounds traced and again untraced
    # (wrappers installed but passing through): the difference is the
    # tracing cost.  The session still speeds up a little after the
    # warm-up, so tracing first errs towards a larger overhead.
    warm_ops, _ = measure(spark, wl, stats, label="w")
    wl.restart()
    sampler = layers.ActionSampler(spark, tracer, stats)
    tracer.on_action_end = sampler.sample
    since = tracer.mark()
    tracer.enabled = True
    ops, rounds = measure(spark, wl, stats, tracer=tracer, label="t")
    tracer.enabled = False
    wl.restart()
    base_ops, base_rounds = measure(spark, wl, stats, label="u")
    failed = sum(1 for o in warm_ops + ops + base_ops if o["error"])
    metrics = layers.per_layer(tracer, since, ops, sampler, wl.layer_extras(ops))
    base = statistics.median(w for w, _ in base_rounds)
    overhead = statistics.median(w for w, _ in rounds) - base
    metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    metrics["trace.overhead_share"] = {"value": overhead / base, "unit": "ratio"}
    trace_dir = os.path.join(ROOT, ".perfbench_run", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{args.workload}.json")
    tracer.dump(trace_path, {"metrics": metrics,
                             "ops": [{k: v for k, v in o.items() if k != "mark"} for o in ops]})
    metrics = {k: v for k, v in metrics.items() if k in per_layer_names()}
    side = {"wrapped_callables": n_wrapped, "traced_ops": len(ops),
            "untraced_ops": len(base_ops), "trace_json": trace_path,
            "self_time": tracer.layer_times(since)}
    return {"correct": failed == 0, "attempted": len(warm_ops) + len(ops) + len(base_ops),
            "failed": failed,
            "metrics": metrics, "_side": side}


if __name__ == "__main__":
    main()
