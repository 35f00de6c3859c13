#!/usr/bin/env python3
"""Benchmark of the noaa_etl_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One client drives the engine through
``session.get_spark()`` on ``local[<cpus>]`` in a closed loop: each
operation starts after the previous one returned its collected result.
A pass runs every operation of the workload once, in an order the seed
permutes. Set-up (imports, session start, two warm-up passes, lazy
staging) is measured apart; then a fixed number of passes per workload,
about ``--seconds`` of them and at least three, is measured. Timings are
CPU seconds of this process and its children (``CpuMeter``), because
wall time on a shared host does not repeat; wall times go in the
contract line. The
outputs of every measured pass are checked outside the timed region:
a pipeline's right after its pass (the next pass overwrites it), the
queries' after the last pass, so no check's Spark jobs run between
measured passes.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a separate traced process with
``--trace 1``. The line before it states the run's contract. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import workloads

T_PROCESS = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("noaa_etl", "stream_twins")
# The JVM keeps getting faster through the second pass of a fresh
# process; both warm-up passes belong to set-up.
WARMUP_PASSES = 2
# A run measures about --seconds of passes, and at least three: a median
# of three outvotes one pass slowed by the machine. The count is fixed
# per workload, so every run of it warms the JVM alike.
MIN_PASSES = 3

# (name, unit, better); names and units match BENCHMARK.json.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_cpu_s", "s", "lower"),
    ("op_cpu_tail_s", "s", "lower"),
    ("ok_rate", "ratio", "higher"),
    ("out_bytes_per_in_byte", "ratio", "lower"),
)

PER_LAYER = (
    ("memory.peak_rss_mb", "MB", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("io.load_calls", "count", "lower"),
    ("io.load_s", "s", "lower"),
    ("io.load_jobs", "count", "lower"),
    ("queries.build_s", "s", "lower"),
    ("queries.build_jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.busy_ratio", "ratio", "higher"),
    ("exec.input_bytes", "B", "lower"),
    ("exec.output_bytes", "B", "lower"),
    ("exec.shuffle_read_bytes", "B", "lower"),
    ("exec.shuffle_write_bytes", "B", "lower"),
    ("exec.spill_bytes", "B", "lower"),
    ("functions.python_run_ms", "ms", "lower"),
    ("functions.python_boot_ms", "ms", "lower"),
    ("functions.python_bytes_sent", "B", "lower"),
    ("functions.python_bytes_received", "B", "lower"),
    ("functions.python_rows", "count", "lower"),
    ("collect.result_rows", "count", "lower"),
    ("collect.idle_ms", "ms", "lower"),
    ("pipelines.run_s", "s", "lower"),
    ("pipelines.input_read_ratio", "ratio", "lower"),
    ("pipelines.output_files", "count", "lower"),
    ("streaming.triggers", "count", "lower"),
    ("streaming.trigger_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.commit_ms", "ms", "lower"),
    ("streaming.offset_ms", "ms", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.staging_s", "s", "lower"),
    ("streaming.drain_overhead_ms", "ms", "lower"),
    ("scratch.bytes_added", "B", "lower"),
    ("trace.untraced_pass_s", "s", "lower"),
    ("trace.traced_pass_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
    ("trace.min_attributed_share", "ratio", "higher"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_mb(pids) -> float:
    """Summed VmHWM of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def cpu_seconds() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    # user nice system idle iowait irq softirq steal
    return sum(ticks[i] for i in (0, 1, 2, 5, 6)) / hz, ticks[7] / hz


def _proc_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of a /proc stat file."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:  # the process or thread ended
        return None
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 2:].split()


# Fields after the command name in /proc/<pid>/stat.
PPID, UTIME, STIME, CSTIME, STARTTIME = 1, 11, 12, 14, 19


class CpuMeter:
    """CPU seconds (user plus system) used by this process and every
    process under it: the driver JVM, the Python workers and the children
    they have reaped. Time the host steals is not in it, nor is the JVM's
    JIT compilation, which a fresh JVM keeps doing for many passes at a
    rate that varies from run to run."""

    def __init__(self) -> None:
        self.hz = os.sysconf("SC_CLK_TCK")
        self.jvm = None
        # Last CPU ticks seen per compiler thread, kept after it ends.
        self.jit: dict[tuple[int, int], int] = {}

    def read(self) -> float:
        parent_of, ticks = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                stat = _proc_stat(f"/proc/{entry}/stat")
                if stat is not None:
                    parent_of[int(entry)] = int(stat[1][PPID])
                    ticks[int(entry)] = sum(int(x) for x in stat[1][UTIME:CSTIME + 1])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent_of.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo.extend(children.get(pid, ()))
        if self.jvm is None:
            self.jvm = jvm_pid()
        if self.jvm is not None:
            task_dir = f"/proc/{self.jvm}/task"
            for tid in os.listdir(task_dir):
                stat = _proc_stat(f"{task_dir}/{tid}/stat")
                if stat is not None and "CompilerThre" in stat[0]:
                    self.jit[int(tid), int(stat[1][STARTTIME])] = int(stat[1][UTIME]) + int(stat[1][STIME])
        return (total - sum(self.jit.values())) / self.hz


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:
                pass
    return total


class Runner:
    """Runs passes of one workload and keeps their samples."""

    def __init__(self, spark, inputs, seed: int, cpu, tracer=None):
        self.spark = spark
        self.inputs = inputs
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.cpu = cpu
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.pass_busy_steal: list[tuple[float, float]] = []
        self.ratios: list[float] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.output_files: list[int] = []
        self._unchecked: list[list[tuple]] = []
        self.op_latencies: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}
        self._op_seq = 0

    def run_pass(self, pass_index: int, measured: bool) -> float:
        """One interleaved pass; returns its wall time. Pipeline outputs
        of a measured pass are checked after it ends, the others in
        ``check_outputs``."""
        order = list(self.inputs.ops)
        self.rng.shuffle(order)
        results = []
        machine0 = cpu_seconds()
        pass_cpu0 = self.cpu.read()
        t_pass = time.perf_counter()
        for op in order:
            c0 = self.cpu.read()
            t0 = time.perf_counter()
            try:
                if self.tracer is not None:
                    self._op_seq += 1
                    with self.tracer.operation(f"{pass_index}.{self._op_seq}", op.name, pass_index):
                        result = op.run(self.spark)
                else:
                    result = op.run(self.spark)
                error = None
            except Exception as exc:  # a failed operation is counted, not fatal
                result, error = None, f"{type(exc).__name__}: {str(exc)[:300]}"
            latency = time.perf_counter() - t0
            results.append((op, latency, self.cpu.read() - c0, result, error))
        wall = time.perf_counter() - t_pass
        pass_cpu = self.cpu.read() - pass_cpu0
        machine1 = cpu_seconds()
        if not measured:
            return wall
        checked = []
        for op, latency, op_cpu, result, error in results:
            self.attempted += 1
            self.op_latencies.setdefault(op.name, []).append(latency)
            self.op_cpu.setdefault(op.name, []).append(op_cpu)
            outcome = None
            if error is not None:
                outcome = workloads.Outcome(error, 0)
            elif op.check_at_once:
                outcome = op.check(result)
            checked.append((op, result, outcome))
        self._unchecked.append(checked)
        self.passes.append(wall)
        self.pass_cpu.append(pass_cpu)
        self.pass_busy_steal.append((machine1[0] - machine0[0], machine1[1] - machine0[1]))
        return wall

    def check_outputs(self) -> None:
        """Check what the measured passes returned; count each failure."""
        for checked in self._unchecked:
            out_bytes = files = 0
            for op, result, outcome in checked:
                if outcome is None:
                    outcome = op.check(result)
                out_bytes, files = out_bytes + outcome.out_bytes, files + outcome.files
                if outcome.error is not None:
                    self.failures.append(f"{op.name}: {outcome.error}")
            self.ratios.append(out_bytes / self.inputs.in_bytes)
            self.output_files.append(files)
        self._unchecked = []


def traced_schedule(n_passes: int) -> tuple[int, list[int]]:
    """Passes of a traced run and which of them are traced. Pass 1 is
    thrown away; after it come pairs of one untraced and one traced
    pass, in alternating order, so each traced pass is set against the
    untraced pass beside it."""
    pairs = max(1, n_passes // 2)
    traced = [2 + 2 * k + (k % 2 == 0) for k in range(pairs)]
    return 1 + 2 * pairs, traced


def end_to_end(runner: Runner, setup_cpu_s: float) -> dict[str, float]:
    # Each operation's median CPU time over the run's passes.
    per_op = [statistics.median(v) for v in runner.op_cpu.values()]
    return {
        "setup_s": setup_cpu_s,
        "pass_cpu_s": statistics.median(runner.pass_cpu),
        "op_cpu_tail_s": max(per_op),
        "ok_rate": 1 - len(runner.failures) / runner.attempted,
        "out_bytes_per_in_byte": statistics.median(runner.ratios),
    }


def isolate_scratch(work: str) -> None:
    """Keep temporary files, Spark's local dirs and the JVM's temp dir
    inside the benchmark's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    # PySpark renders timestamps in the process's zone; the oracle
    # comparison expects the session's UTC.
    os.environ["TZ"] = "UTC"
    time.tzset()


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run(args, work: str, cpus: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    raw = workloads.prepare(args.workload, args.seed, work)
    prepare_s = time.perf_counter() - t0
    cpu = CpuMeter()
    cpu_prepared = cpu.read()

    sys.path.insert(0, ROOT)
    tracer = listener = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
    from noaa_etl_spark.queries import ORACLES, QUERIES
    from noaa_etl_spark.session import get_spark

    queries = dict(QUERIES)
    if tracer is not None:
        tracer.wrap_queries(queries)
    t_import = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", ui=bool(args.trace))
    start_s = time.perf_counter() - t_import
    spark.sparkContext.setLogLevel("ERROR")
    inputs, close = workloads.build(args.workload, work, raw, queries, ORACLES)
    if tracer is not None:
        scratch_before = tree_bytes(os.path.join(ROOT, ".tmp"))
        listener = tracing.ProgressListener()
        # Warm-up is traced too, so streaming.staging_s sees the staging.
        tracer.enabled = True
    runner = Runner(spark, inputs, args.seed, cpu, tracer)
    try:
        warmup_s = sum(runner.run_pass(-i, measured=False) for i in range(WARMUP_PASSES))
        setup_wall_s = time.perf_counter() - T_PROCESS - prepare_s
        setup_cpu_s = cpu.read() - cpu_prepared
        n_passes = max(MIN_PASSES, int(args.seconds // workloads.NOMINAL_PASS_S[args.workload]))
        traced_passes, paired = [], {False: [], True: []}
        if tracer is not None:
            n_passes, traced_passes = traced_schedule(n_passes)
        for pass_index in range(1, n_passes + 1):
            if tracer is not None:
                tracer.enabled = pass_index in traced_passes
                if tracer.enabled:
                    listener.attach(spark)
            wall = runner.run_pass(pass_index, measured=True)
            if tracer is not None:
                if tracer.enabled:
                    listener.detach(spark)
                if pass_index > 1:
                    paired[tracer.enabled].append(wall)
        if tracer is not None:
            tracer.enabled = False
        t_check = time.perf_counter()
        runner.check_outputs()
        check_s = time.perf_counter() - t_check
        rss = peak_rss_mb([os.getpid()] + [p for p in [jvm_pid()] if p])
        contract = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "sf_dir": inputs.sf_dir,
            "spark_version": spark.version,
            "passes": len(runner.passes),  # = samples per operation
            "prepare_s": round(prepare_s, 4),
            "session_start_s": round(start_s, 4),
            "warmup_s": round(warmup_s, 4),
            "setup_wall_s": round(setup_wall_s, 4),
            "setup_cpu_s": round(setup_cpu_s, 3),
            "in_bytes": inputs.in_bytes,
            "peak_rss_mb": rss,
            "pass_walls_s": [round(w, 4) for w in runner.passes],
            "pass_cpu_s": [round(c, 3) for c in runner.pass_cpu],
            "pass_busy_steal_cpu_s": [(round(b, 2), round(st, 2)) for b, st in runner.pass_busy_steal],
            "op_latencies_s": {k: [round(x, 4) for x in v] for k, v in runner.op_latencies.items()},
            "op_cpu_s": {k: [round(x, 3) for x in v] for k, v in runner.op_cpu.items()},
            "query_check_s": round(check_s, 4),
            "error_rate": len(runner.failures) / runner.attempted,
            "failures": runner.failures,
        }
        if tracer is None:
            metrics = end_to_end(runner, setup_cpu_s)
        else:
            rest = tracing.SparkRest(spark)
            rest.settle()
            layers, per_op = tracing.collect_layers(
                tracer.spans, rest.snapshot(), listener.progress, cpus, traced_passes,
                raw_bytes=inputs.in_bytes if args.workload == "noaa_etl" else 0, jvm_calls=tracer.jvm_calls,
            )
            layers.update({
                "memory.peak_rss_mb": rss,
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "pipelines.output_files": statistics.median(runner.output_files)
                if args.workload == "noaa_etl" else 0,
                "scratch.bytes_added": tree_bytes(os.path.join(ROOT, ".tmp")) - scratch_before,
                "trace.untraced_pass_s": statistics.median(paired[False]),
                "trace.traced_pass_s": statistics.median(paired[True]),
                "trace.overhead_ratio": statistics.median(paired[True]) / statistics.median(paired[False]),
            })
            metrics = {name: layers.get(name, 0.0) for name, _, _ in PER_LAYER}
            contract["traced_passes"] = traced_passes
            contract["attribution"] = per_op
            contract["attribution_ok"] = layers["trace.min_attributed_share"] >= tracing.MIN_ATTRIBUTED_SHARE
            os.makedirs(os.path.join(BENCH_DIR, ".traces"), exist_ok=True)
            spans_path = os.path.join(BENCH_DIR, ".traces", f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans_path)
            contract["spans"] = os.path.relpath(spans_path, ROOT)
    finally:
        close()
        stop(spark)
    contract["load_avg_1m_end"] = os.getloadavg()[0]
    return contract, {
        "correct": not runner.failures and contract.get("attribution_ok", True),
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    load_start = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate_scratch(work)
        contract, result = run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    contract["load_avg_1m_start"] = load_start
    units = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps({"contract": contract}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
