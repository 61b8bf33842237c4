"""Benchmark runner for macrobase_spark.

    python3 perfbench/run.py --workload {build,serve,update,explain} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. Set-up starts a local Spark
session pinned to the host (local[slots] with slots = half the CPUs,
shuffle partitions = slots, driver memory sized to RAM), generates the
workload's inputs from the seed, builds what the workload needs and runs
untimed warm-up ops at full size. Timing then runs whole op cycles until
S seconds have passed. Every op's answer is checked outside the timed
interval.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the full
layer report and spans go to .perfbench_out/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
# no bytecode cache in the checkout: every run compiles the same sources, so
# the first run of a checkout does the same set-up work as the rest
sys.dont_write_bytecode = True
os.environ["PYTHONDONTWRITEBYTECODE"] = "1"

import host  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class Bench:
    """Run-wide state: the Spark session, the work directory, the seed."""

    def __init__(self, spark, work: str, seed: int, slots: int):
        self.spark, self.work, self.seed, self.slots = spark, work, seed, slots

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def settings(work: str) -> dict:
    """Steadiness settings, recorded in every run's output."""
    cpus = len(os.sched_getaffinity(0))
    # half the CPUs run Spark tasks; the rest keep the driver Python, the
    # JVM's own threads (scheduler, GC, JIT) and the host's other work off
    # the task slots. With more slots, builds ran slower and spread about
    # four times wider on a shared 4-vCPU host (README, "Steadiness").
    slots = max(1, cpus // 2)
    ram_gb = host.mem_total_bytes() / 2**30
    # a quarter of RAM, at most 4 GiB: the inputs are a few MB, and the
    # machine's memory is shared with other processes
    driver_mem_mb = int(max(1.0, min(4.0, ram_gb / 4)) * 1024)
    tmp = os.path.join(work, "tmp")
    # JIT in C1 only: with C2 on, CPU per build kept falling for ten ops
    # after warm-up (12.7 -> 7.4 s) while C2 compiled in the background, so
    # a run's medians depended on how many ops it got through; with C1 the
    # ops are steady after the warm-up, and builds take the same wall time
    jit = "-XX:TieredStopAtLevel=1"
    return {
        "cpus": cpus,
        "master": f"local[{slots}]",
        "shuffle_partitions": slots,
        "driver_memory": f"{driver_mem_mb}m",
        "ram_gb": round(ram_gb, 1),
        "placement": ("inputs, indexes, spark.local.dir and java.io.tmpdir "
                      "under the checkout's .perfbench_work/; nothing is "
                      "flushed or synced, every run starts from an empty "
                      "directory"),
        "worker_pythonpath": ROOT,
        "conf": {
            "spark.driver.memory": f"{driver_mem_mb}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} {jit}",
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
        },
        "tmp": tmp,
    }


def start_spark(cfg: dict):
    os.makedirs(cfg["tmp"], exist_ok=True)
    os.environ["TMPDIR"] = cfg["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the run's own settings win over the caller's environment
    for var in ("PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    from macrobase_spark.session import get_spark

    return get_spark("perfbench", master=cfg["master"],
                     shuffle_partitions=cfg["shuffle_partitions"],
                     extra_conf=cfg["conf"])


def stop_spark(spark) -> list[int]:
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    kids = host.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    return host.reap(kids)


def time_op(w, cls: str, i: int, tr) -> dict:
    """One op: process-tree CPU and wall clock around the call only."""
    cpu0 = host.tree_cpu_ms()
    t0 = time.perf_counter()
    try:
        out, err = w.run(cls, i, tr), None
    except Exception as e:  # an op that raises counts as failed
        out, err = None, f"{type(e).__name__}: {e}"
        traceback.print_exc(file=sys.stderr)
    wall = (time.perf_counter() - t0) * 1000.0
    cpu = host.tree_cpu_ms() - cpu0
    if err is None:
        try:
            err = w.check(cls, i, out)
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
    return {"i": i, "cls": cls, "wall_ms": wall, "cpu_ms": cpu,
            "items": w.items(cls, out) if err is None else 0,
            "error": err, "out": out}


def run(args) -> dict:
    from tracer import Tracer
    from workloads import WORKLOADS

    work = os.path.join(WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cfg = settings(work)
    host_rec = {"cpu_start": host.cpu_counters(),
                "loadavg_1m_start": host.loadavg_1m()}
    spark = start_spark(cfg)
    slots = cfg["shuffle_partitions"]
    phases = {"session_s": host.process_age_s()}
    try:
        w = WORKLOADS[args.workload](Bench(spark, work, args.seed, slots),
                                     n_convs=args.convs)
        tr = Tracer(spark, enabled=False)
        w.setup()
        phases["inputs_s"] = host.process_age_s() - sum(phases.values())
        cycle = w.cycle()
        i = 0
        warm_errors = []
        for _ in range(w.warmup):
            rec = time_op(w, cycle[i % len(cycle)], i, tr)
            if rec["error"]:
                warm_errors.append(rec["error"])
            i += 1
        setup_s = host.process_age_s()
        phases["warmup_s"] = setup_s - sum(phases.values())
        host_rec["setup_phases"] = phases

        # timed phase: whole cycles until `seconds` have passed; the traced
        # run alternates traced and untraced cycles and runs at least two
        ops: list[dict] = []
        cpu_t0 = host.cpu_counters()
        t_start = time.perf_counter()
        cap = w.capacity()
        n_cycle = 0
        while True:
            traced = tr.enabled = bool(args.trace) and n_cycle % 2 == 0
            for cls in cycle:
                if cap is not None and i >= cap:
                    break
                if traced:
                    with tr.span(f"op.{w.name}", cls=cls) as op_span:
                        rec = time_op(w, cls, i, tr)
                    tr.account(op_span)
                    rec.update(traced=True, span=op_span["id"],
                               spark=tr.op_totals(op_span))
                else:
                    rec = time_op(w, cls, i, tr)
                ops.append(rec)
                i += 1
            n_cycle += 1
            elapsed = time.perf_counter() - t_start
            if cap is not None and i >= cap:
                break
            if elapsed >= args.seconds and (not args.trace or n_cycle >= 2):
                break
        cpu_t1 = host.cpu_counters()
        tr.enabled = bool(args.trace)
        try:
            w.final_check(ops)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            for op in ops:
                op["error"] = op["error"] or f"final check raised {e!r}"

        index_ratio = w.index_bytes_per_input_byte(ops)
        host_rec.update(
            steal_share_timed=host.steal_share(cpu_t0, cpu_t1),
            steal_share_run=host.steal_share(host_rec.pop("cpu_start"),
                                             cpu_t1),
            loadavg_1m_end=host.loadavg_1m())
        untraced = [op for op in ops if not op.get("traced")]
        layers = {}
        if args.trace:
            layers = trace_report(w, tr, ops, untraced, host_rec, spark)
        result = summarize(args, w, cfg, ops, untraced, setup_s, host_rec,
                           warm_errors, layers, index_ratio)
        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            name = f"trace-{args.workload}-seed{args.seed}.json"
            with open(os.path.join(OUT_DIR, name), "w") as f:
                json.dump({"layers": layers, "spans": tr.dump(),
                           "ops": [{k: v for k, v in op.items() if k != "out"}
                                   for op in ops]}, f, indent=1)
        return result
    finally:
        killed = stop_spark(spark)
        if killed:
            print(f"killed lingering processes: {killed}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass


def trace_report(w, tr, ops, untraced, host_rec, spark) -> dict:
    from tracer import jvm_heap_used_mb

    traced = [op for op in ops if op.get("traced")]
    w.layer_probes(tr, ops)
    n = len(traced)

    def per_op(key):
        return sum(op["spark"][key] for op in traced) / n

    layers = {
        "session.jobs_per_op": per_op("jobs"),
        "session.stages_per_op": per_op("stages"),
        "session.tasks_per_op": per_op("tasks"),
        "session.executor_run_ms_per_op": per_op("executor_run_ms"),
        "session.executor_cpu_ms_per_op": per_op("executor_cpu_ms"),
        "session.shuffle_write_bytes_per_op": per_op("shuffle_write_bytes"),
        "session.shuffle_read_bytes_per_op": per_op("shuffle_read_bytes"),
        "session.input_bytes_per_op": per_op("input_bytes"),
        "session.jvm_heap_used_mb": jvm_heap_used_mb(spark),
        "host.steal_share": host_rec["steal_share_timed"],
        "host.loadavg_1m": host_rec["loadavg_1m_end"],
        "trace.op_p50_ms": statistics.median(op["wall_ms"] for op in traced),
        "trace.untraced_op_p50_ms": statistics.median(
            op["wall_ms"] for op in untraced),
    }
    layers["trace.overhead_ms"] = (layers["trace.op_p50_ms"]
                                   - layers["trace.untraced_op_p50_ms"])
    for name, vals in sorted(tr.self_ms().items()):
        layers[f"self_ms.{name}"] = statistics.median(vals)
    layers.update(w.layers)
    return layers


# metric name -> unit; the end-to-end set and the per-layer set that every
# workload reports (BENCHMARK.json lists the same names)
E2E_UNITS = {"setup_s": "s", "op_cpu_ms": "ms",
             "index_bytes_per_input_byte": "ratio"}
LAYER_UNITS = {
    "session.jobs_per_op": "count", "session.stages_per_op": "count",
    "session.tasks_per_op": "count", "session.executor_run_ms_per_op": "ms",
    "session.executor_cpu_ms_per_op": "ms",
    "session.shuffle_write_bytes_per_op": "bytes",
    "session.shuffle_read_bytes_per_op": "bytes",
    "session.input_bytes_per_op": "bytes", "session.jvm_heap_used_mb": "MB",
    "host.steal_share": "ratio", "host.loadavg_1m": "load",
    "trace.op_p50_ms": "ms", "trace.untraced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
}


def summarize(args, w, cfg, ops, untraced, setup_s, host_rec, warm_errors,
              layers, index_ratio) -> dict:
    failed = [op for op in ops if op["error"]]
    for op in failed[:5]:
        print(f"op {op['i']} ({op['cls']}) failed: {op['error']}",
              file=sys.stderr)
    for e in warm_errors:
        print(f"warm-up op failed: {e}", file=sys.stderr)
    walls = [op["wall_ms"] for op in untraced]
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_cpu_ms": statistics.median(op["cpu_ms"] for op in untraced),
            "index_bytes_per_input_byte": index_ratio,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in metrics.items() if v is not None}
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "settings": {k: v for k, v in cfg.items() if k != "tmp"},
        "host": host_rec, "n_ops": len(ops), "n_untimed_warmup": w.warmup,
        # wall-clock figures: reported, not gated, because CPU steal on a
        # shared host moves them by more than any bound (README)
        "wall": {
            "op_p50_ms": statistics.median(walls),
            "op_p90_ms": _p90_if_enough(walls),
            "items_per_s": sum(op["items"] for op in untraced)
            / (sum(walls) / 1000.0),
        },
        "op_wall_ms": [round(op["wall_ms"], 1) for op in ops],
        "op_cpu_ms": [round(op["cpu_ms"]) for op in ops],
        "error_rate": len(failed) / len(ops),
    }
    print("record " + json.dumps(record))
    if args.trace:
        print("layers " + json.dumps(layers))
    return {"correct": not failed and not warm_errors,
            "attempted": len(ops), "failed": len(failed), "metrics": metrics}


def _p90_if_enough(walls):
    """p90 only where at least ten samples lie beyond it."""
    return sorted(walls)[int(0.9 * len(walls))] if len(walls) >= 100 else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve", "update", "explain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--convs", type=int, default=None,
                    help="corpus size in conversations (default: the "
                         "workload's own; the self-test uses a tiny one)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    if not os.path.isfile(os.path.join(ROOT, "macrobase_spark",
                                       "__init__.py")):
        print(f"macrobase_spark not found under {ROOT}: run from the root "
              "of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
