"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--scale <x>]

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached per seed under ``.bench_cache/``), the package is driven at
``local[cores]`` from this one process, and the operation of the chosen
workload repeats for ``--seconds``. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The lines before it list every metric, including
the workload-specific figures, as ``metric <name> <value> <unit>``.

With ``--trace 1`` operations alternate between untraced and traced, spans
are written to ``.bench_cache/traces/``, and the Spark-free kernel leg
replays the encode task body on the workload's files.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 170
# the session's default (24g) is sized for large hosts; a fixed small heap
# keeps runs comparable and the process tree small
DRIVER_MEMORY = "2g"

# driver-side functions wrapped in spans during traced operations
TRACED = {
    "session": ["get_spark"],
    "plans.fsutil": ["listdir", "read_json", "read_parquet", "parquet_file",
                     "rmtree_any", "makedirs_any", "write_json_atomic",
                     "has_parquet_files", "isdir"],
    "plans.pipeline": ["encode_path", "read_decoded", "read_chunks",
                       "prune_chunks", "decode_chunks", "meta_files"],
    "plans.verify": ["verify_files"],
    "plans.columnar": ["relayout_columnar", "read_columns"],
    "plans.manifest": ["completed_waves", "committed_input_files",
                       "commit_wave", "read_manifest"],
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def _median_or_zero(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def _growth(walls: list[float]) -> float:
    """Median wall of the last quarter of operations over the first."""
    q = max(1, len(walls) // 4)
    return statistics.median(walls[-q:]) / statistics.median(walls[:q])


def _stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM it launched: the JVM exits
    once its standard input closes, which otherwise happens only when this
    process has already exited."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)


def _workload_figures(workload: str, ops: list[dict], e2e: dict) -> dict:
    """The figures each workload is judged by, under their own names:
    {name: (value, unit)}."""
    walls = [o["wall_s"] for o in ops]
    if workload == "encode_tokens":
        return {"encode_tokens_per_s": (_median_or_zero(
                    [o["values"] / o["wall_s"] for o in ops]), "1/s"),
                "bytes_per_token": (e2e["bytes_per_value"], "B")}
    if workload == "read_tokens":
        return {"verify_tokens_per_s": (_median_or_zero(
                    [o["values"] / o["verify_s"] for o in ops]), "1/s"),
                "scan_pruned_s": (_median_or_zero(
                    [o["scan_pruned_s"] for o in ops]), "s"),
                "read_columns_s": (_median_or_zero(
                    [o["read_columns_s"] for o in ops]), "s"),
                "bytes_per_token": (e2e["bytes_per_value"], "B")}
    return {"append_s_p50": (_median_or_zero(walls), "s"),
            "append_growth": (_growth(walls) if walls else 0.0, "ratio"),
            "mixed_bytes_ratio": (e2e["parquet_ratio"], "ratio")}


def run(args: argparse.Namespace) -> int:
    # everything the run writes stays under the checkout
    cache = os.path.join(ROOT, ".bench_cache")
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "XDG_CACHE_HOME": os.path.join(cache, "xdg"),
                       "SPARK_DRIVER_MEMORY": DRIVER_MEMORY})
    os.makedirs(os.environ["XDG_CACHE_HOME"], exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        import embulk_input_parquet_hadoop_spark as pkg
    except ImportError as exc:
        print(f"error: the package is not in this checkout: {exc}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) \
            != ROOT:
        print(f"error: imported the package from {pkg.__file__}, not from "
              f"this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from embulk_input_parquet_hadoop_spark.session import get_spark
    from perfbench import hoststats, inputs
    from perfbench.kernel import KernelLeg
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(cache, "work", run_id)
    tracer = Tracer(run_id)
    if trace:
        for mod, names in TRACED.items():
            tracer.patch(importlib.import_module(
                f"embulk_input_parquet_hadoop_spark.{mod}"),
                mod.split(".")[-1], names)

    t_inputs = time.perf_counter()
    input_cache = os.path.join(cache, "inputs")
    man = inputs.prepare(args.workload, args.seed, args.scale, cores,
                         input_cache)
    inputs_s = time.perf_counter() - t_inputs
    os.makedirs(work)
    spark = None
    try:
        with hoststats.RssSampler() as rss:
            # the host's speed drifts at minute scale; the headline rate is
            # divided by a Spark-free control read before the session,
            # around the window and after the session stops
            control = [hoststats.numpy_control_rate(cores)]
            tracer.set_enabled(trace)
            t_setup = time.perf_counter()
            with tracer.span("setup"):
                spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                                  extra_conf={
                                      "spark.ui.showConsoleProgress": "false",
                                      "spark.local.dir": tmp,
                                      "spark.driver.extraJavaOptions":
                                          f"-Djava.io.tmpdir={tmp} "
                                          "-XX:-UsePerfData"})
                get_spark_s = time.perf_counter() - t_setup
                wl = WORKLOADS[args.workload](spark, man, work, cores,
                                              tracer)
                wl.setup()
            setup_s = time.perf_counter() - t_setup
            control.append(hoststats.numpy_control_rate(cores))

            ops: list[dict] = []
            failed_ops = 0
            loop_ns = time.perf_counter_ns()
            jiffies = hoststats.cpu_jiffies()
            t_loop = time.perf_counter()
            while True:
                traced = trace and len(ops) % 2 == 1
                tracer.set_enabled(traced)
                try:
                    res = wl.op()
                except Exception:  # noqa: BLE001 - counted, then reported
                    traceback.print_exc()
                    failed_ops += 1
                    break
                tracer.set_enabled(trace)
                if res is None:
                    break
                res["traced"] = traced
                ops.append(res)
                if trace:
                    wl.trace_probe()
                # stop before an operation of the median length would
                # overrun the window; a traced run needs one of each kind
                left = args.seconds - (time.perf_counter() - t_loop)
                if left < statistics.median(o["wall_s"] for o in ops) \
                        and (not trace or len(ops) >= 2):
                    break
            loop_s = time.perf_counter() - t_loop
            steal = hoststats.steal_frac(jiffies, hoststats.cpu_jiffies())
            control.append(hoststats.numpy_control_rate(cores))
            t_final = time.perf_counter()
            wl.final_checks()

            layer = {}
            if trace:
                kernel = KernelLeg(wl.batch_rows, work)
                for f in wl.kernel_files() + man["kernel_sample"]:
                    kernel.replay(f)
                wl.check("kernel decode bit-identical",
                         not kernel.mismatches, str(kernel.mismatches[:3]))
                extras = wl.trace_extras(
                    lambda name: inputs.prepare(name, args.seed, args.scale,
                                                cores, input_cache))
                layer.update(kernel.metrics())
                layer.update(wl.layer_metrics(loop_ns, kernel.file_body_s))
                layer.update(extras)
            byte_per_value, parquet_ratio = wl.byte_metrics()
            final_s = time.perf_counter() - t_final
            rss.sample(os.getpid())
    finally:
        if spark is not None:
            _stop_spark(spark)
        if trace:
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            tracer.write(os.path.join(cache, "traces", f"{run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)
    control.append(hoststats.numpy_control_rate(cores))
    host_rate = statistics.mean(control)

    plain = [o for o in ops if not o["traced"]]
    print("op walls: " + " ".join(f"{o['wall_s']:.3f}" for o in ops),
          file=sys.stderr)
    walls = [o["wall_s"] for o in plain]
    rates = [o["values"] / o["wall_s"] for o in plain]
    failed_checks = [c for c in wl.checks if not c[1]]
    for name, _ok, detail in failed_checks:
        print(f"check failed: {name}: {detail}", file=sys.stderr)
    attempted = len(ops) + failed_ops + len(wl.checks)
    failed = failed_ops + len(failed_checks)
    e2e = {
        "values_per_control_sort": _median_or_zero(rates) / host_rate,
        "bytes_per_value": byte_per_value,
        "parquet_ratio": parquet_ratio,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    }
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss.peak_mb, "MB"),
             "op_s_p50": (_median_or_zero(walls), "s"),
             "ops_timed": (len(plain), "count"),
             "ops_failed_frac": (failed / attempted, "ratio"),
             "values_per_s": (_median_or_zero(rates), "1/s"),
             "host.numpy_control_per_s": (host_rate, "1/s"),
             "host.steal_frac": (steal, "ratio"),
             "session.get_spark_s": (get_spark_s, "s"),
             "inputs_s": (inputs_s, "s"), "loop_s": (loop_s, "s"),
             "after_loop_s": (final_s, "s"),
             "run_s": (time.perf_counter() - args.t_start, "s")}
    named.update(_workload_figures(args.workload, plain, e2e))
    if trace:
        traced_walls = [o["wall_s"] for o in ops if o["traced"]]
        layer["trace.overhead_s"] = (_median_or_zero(traced_walls)
                                     - _median_or_zero(walls))
        layer["session.get_spark_s"] = get_spark_s
        layer["host.numpy_control_per_s"] = host_rate
        declared = spec["per_layer"]
    else:
        declared = spec["end_to_end"]
        layer = e2e
    units = {m["name"]: m["unit"] for m in declared}
    missing = sorted(set(units) - set(layer))
    if missing:
        raise KeyError(f"metrics declared in BENCHMARK.json but not "
                       f"computed: {missing}")
    for name, (value, unit) in named.items():
        if name not in units:
            print(f"metric {name} {value!r} {unit}")
    for name, unit in units.items():
        print(f"metric {name} {layer[name]!r} {unit}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": layer[n], "unit": u}
                          for n, u in units.items()}}
    print(json.dumps(result), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    args.t_start = time.perf_counter()

    def on_alarm(_sig, _frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    def on_term(_sig, _frame):
        raise SystemExit(143)  # unwinds through the clean-up
    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(RUN_LIMIT_S)
    try:
        return run(args)
    finally:
        signal.alarm(0)


if __name__ == "__main__":
    sys.exit(main())
