"""The repository's benchmark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch_replay --seed 1 --seconds 6 --trace 0

Workloads: ``fraud_live`` and ``batch_replay`` (the gated ones), and
``fraud_backfill`` and ``curate_stream``, the two halves of
``batch_replay`` (see ``perfbench/README.md``). One run:

1. starts a Spark session through the package's ``get_spark``;
2. sets the workload up (inputs, models, stores) and warms it; ``setup_s``
   is the wall time of the session start, the set-up and the warm-up;
3. measures for ``--seconds``;
4. checks the outputs outside the timed region;
5. stops Spark and waits for every process it started.

It prints a human-readable report and, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
the run also records spans and a Spark event log and the metrics are the
per-layer ones. Scratch data, the report, spans and the event log go to
``.perfbench/<workload>-s<seed>-t<trace>/`` under the repository root.

Exit status: 0 when every check passed, 1 when an output was wrong or the
run failed, 2 when the package cannot be imported.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse
import importlib
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "amazon_sagemaker_feature_store_streaming_aggregation_spark"
WORKLOADS = {
    "fraud_live": ("perfbench.wl_live", "FraudLive"),
    "fraud_backfill": ("perfbench.wl_backfill", "FraudBackfill"),
    "curate_stream": ("perfbench.wl_curate", "CurateStream"),
    "batch_replay": ("perfbench.wl_batch", "BatchReplay"),
}

#: the gated end-to-end metrics, reported by every workload under one
#: name (BENCHMARK.json ``end_to_end``)
END_TO_END = {
    "cpu_s_per_op": "s",
    "setup_s": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(out: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and let Python workers import the package from any
    working directory."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # the package defaults to a 24 GB heap; the benchmark's inputs fit 2 GB
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2

    from amazon_sagemaker_feature_store_streaming_aggregation_spark import get_spark

    from perfbench import evlog, procs
    from perfbench.layers import PER_LAYER
    from perfbench.common import Ctx, log
    from perfbench.spans import Tracer
    from perfbench.stats import Outcomes, median

    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(ROOT, ".perfbench", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    _environment(out)
    conf = {"spark.ui.showConsoleProgress": "false"}
    evdir = os.path.join(out, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    phases = {"imports_s": time.perf_counter() - _T0}
    rss = procs.RssSampler().start()
    outcomes = Outcomes()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace), spark)
    tracer.register_thread()
    ctx = Ctx(spark, tracer, args.seed, args.seconds, os.path.join(out, "data"), outcomes)
    os.makedirs(ctx.work)
    wl = workload_cls(ctx)
    error = None
    try:
        s = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - s
        s = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - s
        log(f"setup: session {session_s:.2f}s, prepare {prep_s:.2f}s, warm-up {warm_s:.2f}s")
        cpu = procs.CpuSampler().start()
        s = time.perf_counter()
        result = wl.run()
        phases["run_s"] = time.perf_counter() - s
        cpu.stop()
        if not wl.op_windows:
            raise RuntimeError("no operation completed inside the timed region")
        first, last = cpu.samples[0][0], cpu.samples[-1][0]
        per_op = [cpu.between(a, b) for a, b in wl.op_windows]
        jit_per_op = [cpu.between(a, b, cpu.jit) for a, b in wl.op_windows]
        cpu_s = cpu.between(first, last) + cpu.between(first, last, cpu.jit)
        wl.close()
        s = time.perf_counter()
        wl.check()
        phases["check_s"] = time.perf_counter() - s
    except Exception:
        error = traceback.format_exc()
    finally:
        try:
            wl.close()
        finally:
            s = time.perf_counter()
            procs.stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - s
            peak = rss.stop()
    if error is not None:
        print(error, file=sys.stderr)
        print(f"perfbench: {args.workload} failed", file=sys.stderr)
        return 1

    result["setup_s"] = (session_s + prep_s + warm_s, "s")
    result["cpu_s_per_op"] = (median(per_op), "s")
    for part, windows in getattr(wl, "part_windows", {}).items():
        result[f"{part}_cpu_s"] = (median([cpu.between(a, b) for a, b in windows]), "s")
    result["jit_s_per_op"] = (median(jit_per_op), "s")
    if "items" in result:
        result["cpu_ms_per_item"] = (1000.0 * cpu_s / result.pop("items")[0], "ms")
    result["peak_rss_mb"] = (peak / 2**20, "MB")
    result["host_steal_share"] = (cpu.steal_share(first, last), "ratio")
    result["failed_ratio"] = (outcomes.failed_ratio, "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "setup": {"session_s": session_s, "prepare_s": prep_s, "warmup_s": warm_s},
        "phases": phases,
        "attempted": outcomes.attempted, "failed": outcomes.failed,
        "failures": outcomes.reasons,
        "samples": {**getattr(wl, "samples", {}), "cpu_s_per_op": per_op,
                    "jit_s_per_op": jit_per_op,
                    "steal_share_per_op": [cpu.steal_share(a, b) for a, b in wl.op_windows]},
        "end_to_end": {k: {"value": v[0], "unit": v[1], **({"tail": v[2]} if len(v) > 2 else {})}
                       for k, v in result.items()},
    }

    print(f"== {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("  phases: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items())
          + f", total_s {time.perf_counter() - _T0:.1f}")
    for k, v in result.items():
        extra = ""
        if len(v) > 2:
            extra = (f"  (p{v[2]['pct']:.0f} of n={v[2]['n']})" if v[2]
                     else "  (fewer than 11 samples: no tail)")
        print(f"  {k:32s} {_fmt(v[0]):>12s} {v[1]}{extra}")
    for r in outcomes.reasons:
        print(f"  FAILED: {r}")

    if args.trace:
        tracer.dump(os.path.join(out, "spans.jsonl"))
        jobs, progress = evlog.read_log(evlog.find_log(evdir))
        attributed = evlog.attribute(
            jobs, tracer.spans, run_ids={p["runId"] for p in progress},
            bench_threads=tracer.bench_threads,
        )
        per_layer = wl.layers(tracer.spans, attributed, progress)
        report["per_layer"] = {k: {"value": v[0], "unit": v[1]} for k, v in per_layer.items()}
        untraced = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t0",
                                "report.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {
                k: result[k][0] - base[k]["value"]
                for k in ("latency_p50_s", "cpu_s_per_op") if k in base
            }
        print("  per-layer:")
        for k, v in per_layer.items():
            print(f"  {k:48s} {_fmt(v[0]):>14s} {v[1]}")
        if "tracing_overhead" in report:
            for k, v in report["tracing_overhead"].items():
                print(f"  tracing overhead on {k}: {_fmt(v)} (traced minus untraced)")
        metrics = {
            k: {"value": per_layer[k][0] if k in per_layer else 0, "unit": u}
            for k, u in PER_LAYER.items()
        }
    else:
        metrics = {k: {"value": result[k][0], "unit": u} for k, u in END_TO_END.items()}

    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(ctx.work, ignore_errors=True)
    print(json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": metrics,
    }))
    return 0 if outcomes.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
