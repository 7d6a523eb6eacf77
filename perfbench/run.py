#!/usr/bin/env python3
"""Benchmark entry point.

Run from the repository root:

  python3 perfbench/run.py --workload replication --seed 1 --seconds 13 --trace 0

It generates the workload's inputs from the seed, starts one
SparkSession through ``osm2pgsql_spark.session.get_spark``, sets the
workload up, repeats its timed operation for ``--seconds`` seconds (at
least once), checks the outputs, stops Spark and prints one JSON
result as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics (one extra op
runs with layer tracing; spans go to ``.perfbench/spans/``).

Exit codes: 0 when every check passed, 1 when a check or an op failed
(the result line is still printed), 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

REQUIRED = (
    "__spark_entry__.py",
    "osm2pgsql_spark/session.py",
    "tools/import_tool.py",
    "tools/check_correctness.py",
    "examples/generic_import.py",
)

# stop repeating the op once the run has used this much wall time, so
# a run stays well inside its time limit on a slow host
RUN_BUDGET_S = 120.0
# the same for the untraced op that follows the traced one
TRACE_BUDGET_S = 150.0

END_TO_END = {
    "op_s": "s",
    "op_cpu_s": "s",
    "setup_s": "s",
}

# per-layer metric -> (unit, span name or counter key)
_SPAN_METRICS = {
    "sources.opl_parse_s": "sources.opl_parse",
    "middle.write_s": "middle.write",
    "plans.style_s": "plans.style",
    "sinks.write_s": "sinks.write",
    "create.other_s": "create.other",
    "sources.osc_parse_s": "sources.osc_parse",
    "append.apply_s": "append.apply",
    "append.affected_s": "append.affected",
    "append.style_s": "append.style",
    "expire.tiles_s": "expire.tiles",
    "middle.merge_s": "middle.merge",
    "append.sinks_write_s": "append.sinks_write",
    "append.other_s": "append.other",
}
_COUNTER_METRICS = {
    "sources.objects_in": ("count", "objects_in"),
    "plans.rows_out": ("count", "plans.style.rows"),
    "sinks.bytes_written": ("bytes", "sinks.write.bytes"),
    "append.touched_nodes": ("count", "touched_nodes"),
    "append.touched_ways": ("count", "touched_ways"),
    "append.touched_rels": ("count", "touched_rels"),
    "append.rows_out": ("count", "append.style.rows"),
    "append.sinks_bytes_written": ("bytes", "append.sinks_write.bytes"),
    "middle.buckets_rewritten": ("count", "buckets_rewritten"),
    "expire.tiles": ("count", "expire_tiles"),
}


def per_layer_units() -> dict[str, str]:
    from probes import SPARK_KEYS
    from workloads import OPERATOR_QUERIES

    units = {k: "s" for k in _SPAN_METRICS}
    units.update({k: u for k, (u, _) in _COUNTER_METRICS.items()})
    units["append.refresh_useful_ratio"] = "ratio"
    units.update({f"query.{q}_s": "s" for q in OPERATOR_QUERIES})
    for k in SPARK_KEYS:
        units[k] = ("bytes" if k.endswith("_bytes") else "s" if k.endswith("_s")
                    else "ratio" if k.endswith("skew") else "count")
    units.update({"proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
                  "proc.pyworker_cpu_s": "s", "proc.steal_s": "s",
                  "proc.host_calib_s": "s",
                  "proc.peak_rss_mb": "MB", "proc.jvm_peak_rss_mb": "MB",
                  "proc.pyworker_peak_rss_mb": "MB",
                  "trace.op_s": "s", "trace.untraced_op_s": "s",
                  "trace.overhead_s": "s"})
    return units


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _load_import_tool():
    spec = importlib.util.spec_from_file_location(
        "import_tool", os.path.join(ROOT, "tools", "import_tool.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from probes import process_tree

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        sig = signal.SIGTERM
        while True:
            rest = [p for p in process_tree() if p != os.getpid()]
            if not rest:
                break
            if time.monotonic() > deadline:
                sig = signal.SIGKILL
            for pid in rest:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import probes
    import spans
    from workloads import OPERATOR_QUERIES, WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.chdir(work)

    t_start = time.perf_counter()
    # before the JVM starts: the import tool puts the repository on the
    # PYTHONPATH that Spark's Python workers inherit
    import_tool = _load_import_tool()
    from osm2pgsql_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    run_id = f"{args.workload}-seed{args.seed}"
    ctx = SimpleNamespace(
        spark=spark, import_tool=import_tool, work=work, seed=args.seed,
        tracer=spans.Tracer(run_id) if args.trace else None)
    wl = WORKLOADS[args.workload]()
    attempted = failed = 0
    correct = True
    walls: list[float] = []
    cpus: list[float] = []
    first_delta: dict = {}
    traced_wall = untraced_wall = setup_s = calib_s = None
    rss: dict = {}
    extra: dict = {}
    try:
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_start
        calib_s = probes.host_calibration_s()
        measured = 0.0
        while True:
            wl.prepare(ctx)
            p0 = probes.ProcSnapshot.take()
            s0 = probes.SparkSnapshot.take(spark) if args.trace and not walls else None
            attempted += 1
            t0 = time.perf_counter()
            try:
                wl.op(ctx)
            except Exception:  # noqa: BLE001
                failed += 1
                traceback.print_exc()
                break
            wall = time.perf_counter() - t0
            delta = probes.proc_delta(p0, probes.ProcSnapshot.take())
            if s0 is not None:
                first_delta = {**probes.spark_delta(spark, s0), **delta}
            walls.append(wall)
            if delta["cpu_s"] is not None:
                cpus.append(delta["cpu_s"])
            wl.after_op(ctx)
            measured += wall
            elapsed = time.perf_counter() - t_start
            if measured >= args.seconds or elapsed + wall > RUN_BUDGET_S:
                break
        rss = probes.peak_rss_by_role() or {}
        print("perfbench: op wall s " + " ".join(f"{w:.3f}" for w in walls)
              + f"; host calibration {calib_s:.4f} s", file=sys.stderr)
        if args.trace and not failed:
            # a traced and an untraced op at about the same warmth, both
            # after the timed ones; the difference of their wall times is
            # the tracing overhead
            try:
                for traced in (True, False):
                    # on a slow host, skip the untraced op (the overhead
                    # then reads null) to stay inside the run limit
                    elapsed = time.perf_counter() - t_start
                    if not traced and elapsed + wall > TRACE_BUDGET_S:
                        break
                    wl.prepare(ctx)
                    attempted += 1
                    t0 = time.perf_counter()
                    (wl.traced_op if traced else wl.op)(ctx)
                    wall = time.perf_counter() - t0
                    if traced:
                        traced_wall = wall
                        extra = wl.after_traced(ctx)
                    else:
                        untraced_wall = wall
                        wl.after_op(ctx)
            except Exception:  # noqa: BLE001
                failed += 1
                traceback.print_exc()
        if not failed:
            for note in wl.check(ctx):
                print(f"perfbench: check ok: {note}", file=sys.stderr)
    except CheckFailed as e:
        correct = False
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    except Exception:  # noqa: BLE001
        correct = False
        failed += 1
        attempted = max(attempted, 1)
        traceback.print_exc()
    finally:
        _stop_spark(spark)
    correct = correct and failed == 0 and bool(walls)

    if args.trace:
        st = spans.self_times(ctx.tracer.spans)
        counters = ctx.tracer.counters
        values = {k: st.get(name, 0.0) for k, name in _SPAN_METRICS.items()}
        values.update({k: counters.get(key, 0) for k, (_u, key) in _COUNTER_METRICS.items()})
        values["append.refresh_useful_ratio"] = extra.get("append.refresh_useful_ratio", 0.0)
        values.update({f"query.{q}_s": st.get(f"query.{q}", 0.0) for q in OPERATOR_QUERIES})
        values.update({k: v for k, v in first_delta.items() if k != "cpu_s"})
        values["proc.host_calib_s"] = calib_s
        values["proc.peak_rss_mb"] = sum(rss.values()) if rss else None
        values["proc.jvm_peak_rss_mb"] = rss.get("jvm")
        values["proc.pyworker_peak_rss_mb"] = rss.get("pyworker")
        values["trace.op_s"] = traced_wall
        values["trace.untraced_op_s"] = untraced_wall
        values["trace.overhead_s"] = (
            traced_wall - untraced_wall if traced_wall and untraced_wall else None)
        units = per_layer_units()
        metrics = {k: {"value": values.get(k), "unit": u} for k, u in units.items()}
        path = os.path.join(ROOT, ".perfbench", "spans", f"{run_id}.jsonl")
        ctx.tracer.write(path)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        values = {
            "op_s": statistics.median(walls) if walls else None,
            "op_cpu_s": statistics.median(cpus) if cpus else None,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
