#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public API.

    python3 perfbench/run.py --workload olap_app --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One client, concurrency 1: each op starts
when the previous one has finished and been checked. A run sets up the
session, builds the workload's one-time state, runs one cold pass over
every op kind, warms up until the JIT and codegen counters level off, and
then measures for ``--seconds`` seconds of op time. Output checks run
between ops, outside every timed region; a mismatch counts the op as
failed and is reported on stderr.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1`` they
are the per-layer ones, measured by a traced pass that wraps calls into
the engine from outside. The line before it is the run's full record,
noise witnesses included. See perfbench/README.md.
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The project's TPC-H-style test tables (TESTDATA.md) at sf0.01, the scale
# every registry row is oracle-checked at. Read only.
DATA_DIR = "/root/testdata/sf0.01"
WORKLOADS = ("olap_app", "cdc_ingest")  # the names OlapApp and CdcIngest carry
MAX_CPUS = 2
MAX_DRIVER_MEM_MB = 3072
WARMUP_MIN_S = 8.0  # op time before which warm-up does not end
WARMUP_CAP_S = 12.0  # op time after which warm-up ends even if not levelled
LEVEL_TOLERANCE = 0.25  # per-block JIT ms and codegen compiles within ±25%

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_ops_per_s": "1/s",
    "warm_p50_ms": "ms",
    "warm_cpu_ms_per_op": "ms",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "functions.translate_ms": "ms",
    "plans.builder_ms": "ms",
    "spark_plan.analyze_ms": "ms",
    "spark_plan.optimize_ms": "ms",
    "spark_plan.planning_ms": "ms",
    "spark_plan.codegen_compiles": "count",
    "spark_plan.codegen_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.input_bytes": "B",
    "exec.output_bytes": "B",
    "operators.python_cpu_ms": "ms",
    "artifacts.quality_build_s": "s",
    "replication.snapshot_s": "s",
    "replication.apply_ms": "ms",
    "replication.buckets_touched": "count",
    "replication.bytes_written": "B",
    "replication.read_ms": "ms",
    "replication.rollup_read_ms": "ms",
    "replication.files_on_disk": "count",
    "jvm.gc_ms": "ms",
    "jvm.jit_ms": "ms",
    "host.steal_s": "s",
    "trace.overhead_pct": "%",
}
# span name -> per-layer metric that sums the span's self time
SPAN_METRICS = {
    "functions.translate": "functions.translate_ms",
    "plans.builder": "plans.builder_ms",
    "replication.apply": "replication.apply_ms",
    "replication.read": "replication.read_ms",
    "replication.rollup_read": "replication.rollup_read_ms",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def hygiene(work: str) -> dict:
    """Run hygiene through the env vars the engine already reads: Spark
    on at most MAX_CPUS cores (never more than the host has), a driver
    heap well below physical RAM, private local/temp/artifact dirs, the
    package importable by forked Python workers, and a working directory
    of the run's own, so nothing lands in the checkout's root."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(MAX_DRIVER_MEM_MB, phys_mb // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "CHB_AT_REST_ROOT": os.path.join(work, "at-rest"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # read by spark-submit when it launches the driver JVM; keeps the
        # JVM's temp files and perf-data file out of the shared /tmp
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    for d in ("spark-local", "tmp", "at-rest"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(env)
    os.chdir(work)
    return env


def set_up(data_dir: str, start: float):
    """get_spark + Engine; returns (engine, s since ``start``, session s,
    catalog s)."""
    from clickhouse_build_spark.engine import Engine
    from clickhouse_build_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    engine = Engine(data_dir, spark=spark)
    t2 = time.perf_counter()
    return engine, t2 - start, t1 - t0, t2 - t1


def shut_down(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


class Runner:
    """Times ops, checks them outside the timed region, counts failures."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0

    def run(self, op) -> tuple[float, float, bool]:
        """Returns (latency s, driver CPU s, passed). The driver CPU is
        that of the calling thread, which makes every call into the
        engine; the JIT sampler's thread is not in it. A failed op still
        reports the time it took, so loops that run until enough op time
        has passed end even when every op fails."""
        self.attempted += 1
        c0 = time.thread_time()
        t0 = time.perf_counter()
        try:
            result = self.wl.execute(op)
            err = None
        except Exception:
            err = f"op {op!r:.200}:\n{traceback.format_exc()}"
        lat = time.perf_counter() - t0
        cpu = time.thread_time() - c0
        if err is None:
            try:
                err = self.wl.check(op, result)
            except Exception:
                err = traceback.format_exc()
        if err:
            self.failed += 1
            log(f"FAILED: {err}")
        return lat, cpu, not err


def levelled(prev: tuple, last: tuple) -> bool:
    """Two consecutive warm-up blocks agree on JIT ms and codegen
    compiles within LEVEL_TOLERANCE (two compiles of slack for counts
    near zero)."""
    (pj, pc), (lj, lc) = prev[:2], last[:2]
    jit_ok = abs(lj - pj) <= LEVEL_TOLERANCE * max(pj, 1.0)
    comp_ok = abs(lc - pc) <= max(LEVEL_TOLERANCE * pc, 2)
    return jit_ok and comp_ok


def warm_up(runner, ops, jvm, block: int) -> dict:
    """Run blocks of ops until per-block JIT ms and codegen compiles level
    off, or until WARMUP_CAP_S of op time has passed. The JIT rarely
    levels off within a run, and a short block levels by chance now and
    then, so warm-up lasts at least WARMUP_MIN_S: every window starts
    from a JVM about as far along as the others."""
    blocks = []
    total = 0.0
    n = 0
    while True:
        j0, (c0, _) = jvm.jit_ms(), jvm.codegen()
        t = 0.0
        for _ in range(block):
            t += runner.run(next(ops))[0]
            n += 1
        blocks.append((round(jvm.jit_ms() - j0, 1), jvm.codegen()[0] - c0, round(t, 3)))
        total += t
        if len(blocks) >= 2 and total >= WARMUP_MIN_S and levelled(blocks[-2], blocks[-1]):
            ok = True
            break
        if total >= WARMUP_CAP_S:
            ok = False
            break
    return {"ops": n, "seconds": round(total, 3), "levelled": ok, "blocks": blocks}


def window(runner, wl, jvm, seconds: float) -> dict:
    """The measured window: whole cycles of ops until their summed latency
    reaches ``seconds`` and at least the workload's ``min_window_ops``
    ran, so every window holds each op kind equally often. Failed ops
    count like passed ones (the run then reports correct=false). CPU is
    that of the JVM and all its child processes over the window, from
    /proc, plus the driver's own CPU inside timed ops; the JVM's JIT
    compiler threads are counted apart (``jit_cpu_s``)."""
    from perfbench.probe import calibration_ms, steal_s

    calib = [calibration_ms()]
    cpu0, jitc0 = jvm.cpu_s(), jvm.jit_cpu_s()
    jit0, gc0, st0 = jvm.jit_ms(), jvm.gc_ms(), steal_s()
    lat, kinds, drv = [], [], 0.0
    ops = wl.ops("window")
    while sum(lat) < seconds or len(lat) < wl.min_window_ops or len(lat) % wl.cycle:
        op = next(ops)
        r = runner.run(op)
        lat.append(r[0])
        kinds.append(getattr(op, "kind", wl.name))
        drv += r[1]
    jvm_s, forked_s, python_s = (b - a for a, b in zip(cpu0, jvm.cpu_s()))
    jit_cpu_s = jvm.jit_cpu_s() - jitc0
    calib.append(calibration_ms())
    return {
        "ops": len(lat),
        "latencies": lat,
        "kind_p50_ms": {
            k: round(statistics.median(x for x, y in zip(lat, kinds) if y == k) * 1e3, 1)
            for k in sorted(set(kinds))
        },
        "jvm_cpu_s": jvm_s,
        "jit_cpu_s": jit_cpu_s,
        "forked_cpu_s": forked_s,
        "python_cpu_s": python_s,
        "driver_cpu_s": drv,
        "host.steal_s": steal_s() - st0,
        "jvm.jit_ms": jvm.jit_ms() - jit0,
        "jvm.gc_ms": jvm.gc_ms() - gc0,
        "host.calibration_ms": calib,
    }


def trace_window(runner, wl, tracer, jvm):
    """Per-layer numbers: a fixed op list run once untraced and once
    traced. For olap_app it is one seeded cycle (so the traced pass sees
    the codegen cache the identical untraced pass left), for cdc_ingest
    the next few batches each way. Returns the per-layer sums over the
    traced ops plus the tracing overhead."""
    from perfbench.probe import job_group_totals, plan_phases_ms, steal_s, wait_for_listeners

    plain = wl.trace_ops()
    traced = wl.trace_ops()
    lat_plain = [r[0] for r in map(runner.run, plain)]
    spark = wl.engine.spark
    tracer.spark = spark
    tracer.enabled = True
    sums = Counter()
    lat_traced = []
    py0 = jvm.cpu_s()[2]
    jit0, gc0, st0 = jvm.jit_ms(), jvm.gc_ms(), steal_s()
    cg0, cgms0 = jvm.codegen()
    for op in traced:
        first = len(tracer.spans)
        with tracer.span("op"):
            lat_traced.append(runner.run(op)[0])
        wait_for_listeners(spark)
        spans = tracer.spans[first:]
        child_ms = Counter()
        for sp in spans:
            if sp.parent is not None:
                child_ms[sp.parent] += sp.ms
        for sp in spans:
            totals = job_group_totals(spark, str(sp.id))
            sums.update(totals)
            if sp.name in SPAN_METRICS:
                sums[SPAN_METRICS[sp.name]] += sp.ms - child_ms[sp.id]
            if sp.name == "replication.apply":
                sums["replication.bytes_written"] += totals["exec.output_bytes"]
        if getattr(wl, "last_df", None) is not None:
            sums.update(plan_phases_ms(wl.last_df))
        sums["replication.buckets_touched"] += getattr(wl, "last_buckets_touched", 0)
    tracer.enabled = False
    py1 = jvm.cpu_s()[2]
    cg1, cgms1 = jvm.codegen()
    sums["spark_plan.codegen_compiles"] = cg1 - cg0
    sums["spark_plan.codegen_ms"] = cgms1 - cgms0
    sums["operators.python_cpu_ms"] = (py1 - py0) * 1e3
    sums["jvm.jit_ms"] = jvm.jit_ms() - jit0
    sums["jvm.gc_ms"] = jvm.gc_ms() - gc0
    sums["host.steal_s"] = steal_s() - st0
    sums["trace.overhead_pct"] = 100.0 * (
        statistics.median(lat_traced) / statistics.median(lat_plain) - 1.0
    )
    return sums, {
        "ops": len(traced),
        "untraced_p50_ms": statistics.median(lat_plain) * 1e3,
        "traced_p50_ms": statistics.median(lat_traced) * 1e3,
    }


def finish(runner, wl) -> dict:
    """The workload's end-of-run check; a mismatch counts as a failure."""
    extra = wl.finish()
    if extra["error"]:
        runner.failed += 1
        log(f"FAILED end-of-run check: {extra['error']}")
    return extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "clickhouse_build_spark")):
        log(f"the engine package is not in {ROOT}; run from a checkout of the repository")
        return 2
    if not os.path.isdir(DATA_DIR):
        log(f"test data not found: {DATA_DIR}")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    env = hygiene(work)
    try:
        record, metrics, runner = run(args, work, out_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    record.update(workload=args.workload, seed=args.seed, hygiene=env)
    print(json.dumps({"record": record}, default=float))
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run(args, work: str, out_dir: str):
    from perfbench.probe import Jvm
    from perfbench.trace import Tracer
    from perfbench.workloads import CdcIngest, OlapApp

    # set-up is timed from process start: imports, JVM launch, session, catalog
    engine, setup_s, session_s, catalog_s = set_up(DATA_DIR, _T0)
    spark = engine.spark
    jvm = None
    tracer = Tracer(enabled=False)
    try:
        jvm = Jvm(spark)
        if args.trace:
            from clickhouse_build_spark.functions import chmeta, chsql

            for mod, fn in ((chsql, "translate_ch_sql"), (chsql, "translate_pg_sql"),
                            (chmeta, "try_ch_meta")):
                tracer.wrap(mod, fn, "functions.translate")
        wl_cls = {c.name: c for c in (OlapApp, CdcIngest)}[args.workload]
        wl = wl_cls(engine, args.seed, tracer, DATA_DIR)
        runner = Runner(wl)
        build_s = runner.run(wl.build_op())[0]
        cold = [r[0] for r in map(runner.run, wl.cold_ops())]
        warm = warm_up(runner, wl.ops("warmup"), jvm, wl.block)
        record = {
            "setup_s": setup_s,
            "session_s": session_s,
            "catalog_s": catalog_s,
            "build_s": build_s,
            "cold_pass_s": sum(cold),
            "warmup": warm,
        }
        if args.trace:
            sums, overhead = trace_window(runner, wl, tracer, jvm)
            extra = finish(runner, wl)
            sums["session.start_s"] = session_s
            sums["catalog.register_s"] = catalog_s
            sums[wl.build_metric] = build_s
            if args.workload == "cdc_ingest":
                sums["replication.files_on_disk"] = extra["replication.files_on_disk"]
            metrics = {
                k: {"value": float(sums.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()
            }
            record["trace"] = overhead
            tracer.unwrap_all()
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json"))
        else:
            n_read = len(getattr(wl, "read_ms", ()))
            w = window(runner, wl, jvm, args.seconds)
            extra = finish(runner, wl)
            lat = w.pop("latencies")
            # JIT compile CPU is a cost of warming up, not of an op: it
            # falls to nothing in a long-lived process, but in a run of
            # about a minute it is a third to a half of the JVM's CPU and
            # swings with how far compilation has got. It stays in the
            # record (jit_cpu_s, jvm.jit_ms) and out of the cost per op.
            cpu_s = (
                w["jvm_cpu_s"] - w["jit_cpu_s"]
                + w["forked_cpu_s"] + w["python_cpu_s"] + w["driver_cpu_s"]
            )
            values = {
                "setup_s": setup_s,
                "cold_pass_s": sum(cold),
                "warm_ops_per_s": len(lat) / sum(lat),
                "warm_p50_ms": statistics.median(lat) * 1e3,
                "warm_cpu_ms_per_op": cpu_s * 1e3 / len(lat),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
            record["window"] = w
            record["latencies_ms"] = [round(x * 1e3, 1) for x in lat]
            record["warm_p90_ms"] = statistics.quantiles(lat, n=10, method="inclusive")[-1] * 1e3
            if args.workload == "cdc_ingest":
                record["read_p50_ms"] = statistics.median(extra["read_ms"][n_read:])
                record["bytes_per_live_row"] = extra["bytes_per_live_row"]
    finally:
        if jvm is not None:
            jvm.close()
        shut_down(spark)
    return record, metrics, runner


if __name__ == "__main__":
    sys.exit(main())
