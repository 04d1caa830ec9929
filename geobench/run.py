"""geobench — the engine's benchmark. Run from the repository root:

    python3 geobench/run.py                      # every workload, untraced
    python3 geobench/run.py --workload query_mix --seed 1 --trace 1

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. With one workload, the last line of
standard output is one JSON object {correct, attempted, failed,
metrics}; the line before it holds the workload's detail (the
per-workload figures, tail percentile, host probes). Without
``--workload`` every workload runs in its own process and each metric is
printed as ``workload metric value unit``. See geobench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run length, as fixed in BENCHMARK.json's run_seconds
RUN_SECONDS = 20
# the set-up is repeated and its median reported; the first repetition
# pays the JVM's class loading and code generation, the median skips it
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "jvm_op_p50_ms": "ms",
    "python_op_p50_ms": "ms",
}

PER_LAYER = {
    "plans.build_ms": "ms",
    "plans.gwql_compile_ms": "ms",
    "sources.icetable.snapshot_check_ms": "ms",
    "sources.icetable.read_plan_ms": "ms",
    "sources.icetable.files_read_frac": "ratio",
    "sources.icetable.commit_ms": "ms",
    "sources.icetable.metadata_bytes_per_commit": "bytes",
    "sources.icetable.data_bytes_per_user_byte": "ratio",
    "index.decompose_ms": "ms",
    "index.ranges_per_query": "count",
    "index.polyfill_python_ms": "ms",
    "geom.refine_python_ms": "ms",
    "spark.scan.time_ms": "ms",
    "spark.scan.rows_per_result": "ratio",
    "spark.python.init_ms": "ms",
    "spark.python.bytes": "bytes",
    "spark.shuffle.write_bytes": "bytes",
    "spark.shuffle.write_ms": "ms",
    "spark.shuffle.fetch_wait_ms": "ms",
    "spark.broadcast.bytes": "bytes",
    "spark.broadcast.collect_ms": "ms",
    "spark.broadcast.bytes_per_row": "bytes",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "layer.bench.self_ms": "ms",
    "layer.plans.self_ms": "ms",
    "layer.sources.icetable.self_ms": "ms",
    "layer.index.self_ms": "ms",
    "layer.operators.self_ms": "ms",
    "layer.geom.self_ms": "ms",
    "layer.spark.self_ms": "ms",
    "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}


def overhead(ops) -> float | None:
    """Median over op kinds of (traced p50 / untraced p50) - 1."""
    ratios = []
    for kind in {o.kind for o in ops}:
        on = [o.ms for o in ops if o.kind == kind and o.traced]
        off = [o.ms for o in ops if o.kind == kind and not o.traced]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return statistics.median(ratios) - 1 if ratios else None


def run_all(args) -> int:
    """Every workload in its own process; prints each metric by name."""
    from geobench.workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", name,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr)
            print(f"geobench: workload {name} exited with {p.returncode}", file=sys.stderr)
            return p.returncode
        out = json.loads(p.stdout.strip().splitlines()[-1])
        merged["correct"] &= out["correct"]
        merged["attempted"] += out["attempted"]
        merged["failed"] += out["failed"]
        for k, m in out["metrics"].items():
            print(f"{name:12s} {k:45s} {m['value']!s:>22s} {m['unit']}")
            merged["metrics"][f"{name}.{k}"] = m
        print(f"{name:12s} {'verified ops':45s} {out['attempted'] - out['failed']:>22d}"
              f" of {out['attempted']}")
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default=None, help="one workload; default: all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    try:
        import geowave_spark  # noqa: F401
    except ImportError as e:
        print(f"geobench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload is None:
        return run_all(args)
    from geobench.runner import (GuardError, Runner, cpu_ticks, host_probe, median,
                                 peak_rss_mb, reset_dir, spark_session, stop_session)
    from geobench.trace import Tracer, plan_metrics
    from geobench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".geobench")
    work = reset_dir(os.path.join(base, "work"))
    # the engine's stored-path caches stay inside the checkout too
    os.environ["GEOWAVE_SPARK_CACHE"] = os.path.join(work, "cache")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    host_before = host_probe()
    ticks_before = cpu_ticks()

    t0 = time.perf_counter()
    spark = spark_session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            tracer = Tracer()
            tracer.install()
        wl = WORKLOADS[args.workload]()
        setup_times = []
        for rep in range(SETUP_REPS):
            d = reset_dir(os.path.join(work, f"setup{rep}"))
            t0 = time.perf_counter()
            if tracer is not None and rep == SETUP_REPS - 1:
                with tracer.setup():
                    wl.setup(spark, d, args.seed)
            else:
                wl.setup(spark, d, args.seed)
            setup_times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(work, f"setup{rep - 1}"), ignore_errors=True)

        runner = Runner(spark, tracer)
        t0 = time.perf_counter()
        wl.warmup(runner, bool(args.trace))
        warmup_s = time.perf_counter() - t0
        deadline = time.perf_counter() + args.seconds
        steps = 0
        # a short run still gives every metric a sample
        while time.perf_counter() < deadline or steps < wl.MIN_STEPS:
            steps += 1
            try:
                wl.step(runner)
            except GuardError:
                raise
            except Exception:
                runner.failed_ops += 1
                traceback.print_exc()
        rss = peak_rss_mb()

        bad = [o for o in runner.ops if not o.ok]
        for o in bad[:5]:
            exp = o.expect() if callable(o.expect) else o.expect
            print(f"geobench: {o.kind} mismatch: got {(o.rows, o.fp)} expected {exp}",
                  file=sys.stderr)
        attempted = len(runner.ops) + runner.failed_ops
        failed = len(bad) + runner.failed_ops
        e2e, detail = wl.summary(runner)
        e2e["setup_s"] = session_s + median(setup_times)
        steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
        detail.update(workload=args.workload, seed=args.seed, trace=args.trace,
                      seconds=args.seconds, failed_frac=failed / max(attempted, 1),
                      peak_rss_mb=rss, session_s=session_s, setup_reps_s=setup_times,
                      warmup_s=warmup_s,
                      host_before=host_before, host_after=host_probe(),
                      host_steal_frac=steal / max(total, 1))
        if args.trace:
            layer = tracer.span_metrics(sum(1 for o in runner.ops if o.traced))
            layer.update(plan_metrics(runner.ops))
            layer.update(getattr(wl, "layer", {}))
            meta, data = zip(*wl.commits)
            layer["sources.icetable.metadata_bytes_per_commit"] = statistics.mean(meta)
            layer["sources.icetable.data_bytes_per_user_byte"] = statistics.mean(data)
            layer["trace.overhead_frac"] = overhead(runner.ops)
            layer["peak_rss_mb"] = rss
            detail["traced_end_to_end"] = e2e
            detail["layer_other"] = {k: v for k, v in layer.items() if k not in PER_LAYER}
            # a metric the run could not measure is null, never a made-up 0
            metrics = {k: {"value": None if layer.get(k) is None else float(layer[k]), "unit": u}
                       for k, u in PER_LAYER.items()}
            tracer.dump(os.path.join(results, f"spans_{args.workload}_s{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(results, f"{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, **out}, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
