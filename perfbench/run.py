"""s2spark benchmark: one workload per process on local[4].

    python3 perfbench/run.py --workload pip_tile_checkpoint --seed 1 \\
        --seconds 20 --trace 0

Protocol (closed loop: one thread issues the next trial only
after the previous one returned):

1. set-up: Spark session, workload inputs, and one full-size warm trial
   (Python worker start, first covering build, JIT).  ``setup_s`` runs
   from process start to the end of the warm trial.
2. a fixed number of measured trials, ``max(1, seconds // nominal trial
   time)``, with no adaptive top-up.  Every trial's output, the warm
   trial's too, is compared with the expected result from ``oracle.py``.
3. ``--trace 1`` measures ``max(2, trials // 2)`` untraced trials, each
   followed by a traced one (spans per layer prefix, plan metrics from a
   QueryExecutionListener), and prints the per-layer metrics instead of
   the end-to-end ones.

The last stdout line is the result JSON.  The full record of the run
(every trial, quartiles, set-up phases, spans, box readings) goes to
``perfbench/results/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CPUS = 4
JVM_HEAP = "2g"
# stop measuring once a run has taken this long, so it always ends
# well within three minutes
RUN_DEADLINE_S = 140.0

END_TO_END = {  # name -> unit
    "input_rows_per_s": "1/s",
    "cpu_s_per_mrow": "s",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}

# Every workload prints every per-layer metric; a layer a workload does
# not run reads 0.
SPAN_METRICS = (
    "sources.synth_documents_s", "sources.read_parquet_s",
    "sources.cached_points_s", "sources.extract_geo_points_s",
    "operators.spatial_join.call_s", "operators.spatial_join.candidates_s",
    "operators.spatial_join.refine_s", "operators.coverings.cover_regions_s",
    "plans.checkpoints.write_stage_checkpoint_s",
)
# traced-trial result key -> per-layer metric
COUNT_METRICS = {
    "candidate_rows": "operators.spatial_join.candidate_rows",
    "match_rows": "operators.spatial_join.match_rows",
    "covering_cells": "operators.coverings.cells",
    "covering_levels": "operators.coverings.levels",
}
RUN_METRICS = (
    "operators.spatial_join.keep_ratio",
    "kernels.predicates.exact_fallback_rate",
    "process.cpu_s", "process.cores_used",
    "trace.untraced_trial_s", "trace.traced_trial_s", "trace.overhead_s",
    "box.nproc", "box.loadavg_1m", "box.steal_pct", "box.calib_ms",
)


def per_layer_names() -> list[str]:
    from perfbench.trace import PLAN_METRICS

    return [*SPAN_METRICS, *COUNT_METRICS.values(), *PLAN_METRICS, *RUN_METRICS]


def unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return {"box.steal_pct": "%", "box.loadavg_1m": "load",
            "process.cores_used": "cores",
            "operators.spatial_join.keep_ratio": "ratio",
            "kernels.predicates.exact_fallback_rate": "ratio"}.get(name, "count")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write under workdir,
    and silence console progress bars."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    # a fully committed, pre-touched heap keeps the JVM's resident set
    # independent of when the collector chose to grow the heap
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions={java_opts}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def _quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else None
        return {"n": len(values), "p25": v, "median": v, "p75": v}
    q = statistics.quantiles(values, n=4)
    return {"n": len(values), "p25": q[0], "median": statistics.median(values),
            "p75": q[2]}


def _traced_layers(wl, tracer, trial: int, result: dict) -> dict[str, float]:
    """Per-layer numbers of one traced trial: self times (each prefix
    span minus the one before it; the eager call and standalone spans
    as they are), counts, and plan metrics of the queries an untraced
    trial runs (eager call + last prefix)."""
    from perfbench.trace import plan_metrics
    from perfbench.workloads import CALL_SPAN

    out, prev = {}, 0.0
    for name in wl.chain:
        d = tracer.duration(name, trial)
        out[f"{name}_s"] = d - prev
        prev = d
    for name in (CALL_SPAN, *wl.standalone):
        out[f"{name}_s"] = tracer.duration(name, trial)
    out["trace.traced_trial_s"] = (tracer.duration(CALL_SPAN, trial)
                                   + tracer.duration(wl.chain[-1], trial))
    out.update(plan_metrics(tracer.get(CALL_SPAN, trial)["executions"]
                            + tracer.get(wl.chain[-1], trial)["executions"]))
    if "sources.synth_documents" in wl.standalone:
        synth = plan_metrics(
            tracer.get("sources.synth_documents", trial)["executions"])
        out.update({k: v for k, v in synth.items() if k.startswith("arrow.synth.")})
    out.update({COUNT_METRICS[k]: v for k, v in result.items()
                if k in COUNT_METRICS})
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    gateway JVM exits when its stdin closes, and takes the pyspark
    daemon and Python workers with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args: argparse.Namespace) -> dict:
    try:
        sys.path.insert(0, REPO_ROOT)
        import s2_geometry_rust_spark as pkg
        if not os.path.abspath(pkg.__file__).startswith(REPO_ROOT + os.sep):
            raise ImportError(f"found outside the checkout: {pkg.__file__}")
    except ImportError as exc:
        print(f"perfbench: the s2_geometry_rust_spark package is not "
              f"importable from {REPO_ROOT}: {exc}", file=sys.stderr)
        raise SystemExit(2)

    from perfbench import box, oracle
    from perfbench.trace import PlanRecorder, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        raise SystemExit(2)
    workdir = os.path.join(BENCH_DIR, ".work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(workdir)
    from s2_geometry_rust_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, workdir)
    n_trials = max(1, int(args.seconds // wl.trial_seconds))
    if args.trace:
        n_trials = max(2, n_trials // 2)
    record: dict = {"workload": wl.name, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "sizes": wl.sizes(), "cpus": CPUS, "trials": n_trials}
    results: list[dict] = []
    errors: list[str] = []

    def attempt(fn, *a):
        try:
            res = fn(*a)
        except Exception:  # a failed trial is counted, not fatal
            errors.append(traceback.format_exc())
            res = {"error": True}
        results.append(res)
        return res

    spark = get_spark(f"perfbench-{wl.name}", cpus=CPUS)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        recorder = PlanRecorder(spark) if args.trace else None
        tracer = Tracer(recorder)
        phases = {"session": time.perf_counter() - PROCESS_START}
        wl.setup(spark)
        phases["inputs"] = time.perf_counter() - PROCESS_START
        attempt(wl.trial, -1)
        setup_s = phases["warm_trial"] = time.perf_counter() - PROCESS_START

        stat0, load0 = box.cpu_times(), box.loadavg_1m()
        times, cpus, layers = [], [], []
        for i in range(n_trials):
            if time.perf_counter() - PROCESS_START > RUN_DEADLINE_S:
                record["cut_at_deadline"] = i
                break
            c0, t0 = box.tree_cpu_s(), time.perf_counter()
            attempt(wl.trial, i)
            times.append(time.perf_counter() - t0)
            cpus.append(box.tree_cpu_s() - c0)
            if recorder is not None:
                res = attempt(wl.traced_trial, i, tracer)
                if not res.get("error"):
                    layers.append(_traced_layers(wl, tracer, i, res))
        rss = box.tree_peak_rss()
        stat1, load1 = box.cpu_times(), box.loadavg_1m()
        if recorder is not None:
            from s2_geometry_rust_spark.operators.spatial_join import (
                last_fallback_rate,
            )

            record["exact_fallback_rate"] = last_fallback_rate() or 0.0
            record["listener_errors"] = recorder.errors
        observed = []
        for res in results:
            try:
                observed.append(res if res.get("error") else wl.observe(res))
            except Exception:
                errors.append(traceback.format_exc())
                observed.append({"error": True})
    finally:
        _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    expected = oracle.ExpectedStore(os.path.join(BENCH_DIR, ".cache")).get(
        wl.name, args.seed, wl.size_key(), wl.expected)
    failed = sum(1 for o in observed if not oracle.matches(o, expected))
    box_rec = {"nproc": box.nproc(), "loadavg_1m_start": load0,
               "loadavg_1m_end": load1,
               "steal_pct": box.steal_pct(stat0, stat1),
               "calib_ms": box.calibration_ms(),
               "peak_rss_mb_by_process": rss}

    rows_per_s = [wl.rows / t for t in times]
    cpu_per_mrow = [c / wl.rows * 1e6 for c in cpus]
    e2e = {
        "input_rows_per_s": statistics.median(rows_per_s),
        "cpu_s_per_mrow": statistics.median(cpu_per_mrow),
        "peak_rss_mb": sum(mb for _, mb in rss),
        "setup_s": setup_s,
    }
    record.update({
        "end_to_end": e2e, "setup_phases_s": phases,
        "expected": expected, "observed": observed,
        "trial_s": times, "trial_cpu_s": cpus,
        "quartiles": {"trial_s": _quartiles(times),
                      "input_rows_per_s": _quartiles(rows_per_s),
                      "cpu_s_per_mrow": _quartiles(cpu_per_mrow)},
        "box": box_rec, "errors": errors,
    })

    if args.trace:
        per_layer = {k: statistics.median(lay.get(k, 0.0) for lay in layers)
                     if layers else 0.0 for k in per_layer_names()}
        untraced = statistics.median(times)
        cand = per_layer["operators.spatial_join.candidate_rows"]
        per_layer.update({
            "operators.spatial_join.keep_ratio": (
                per_layer["operators.spatial_join.match_rows"] / cand
                if cand else 0.0),
            "kernels.predicates.exact_fallback_rate": record["exact_fallback_rate"],
            "process.cpu_s": statistics.median(cpus),
            "process.cores_used": statistics.median(
                c / t for c, t in zip(cpus, times)),
            "trace.untraced_trial_s": untraced,
            "trace.overhead_s": per_layer["trace.traced_trial_s"] - untraced,
            "box.nproc": box_rec["nproc"],
            "box.loadavg_1m": load1,
            "box.steal_pct": box_rec["steal_pct"],
            "box.calib_ms": box_rec["calib_ms"],
        })
        record.update({
            "per_layer": per_layer, "layers_per_trial": layers,
            "spans": [{k: v for k, v in s.items() if k != "executions"}
                      for s in tracer.spans],
        })
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    out_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace"
                           f"{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for err in errors:
        print(err, file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(observed),
            "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    result = run(_parse(sys.argv[1:] if argv is None else argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
