"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 6 --trace 0

Run from the repository root. The run derives its input tables from
the seed (``inputs.py``), starts the engine's session on
``local[<cores>]``, runs a cold pass and then warm passes of the
workload (``workloads.py``) for ``--seconds``, checks every output and
prints one JSON object as its last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics named in ``BENCHMARK.json``;
with ``--trace 1`` they are its per-layer metrics, from warm passes
with the span recorder on (``layertrace.py``). Lines before the JSON
give every figure with its sample count. The exit code is 0 only when
every output was correct.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "2g"


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def spark_env(work: Path, cores: int, traced: bool) -> None:
    """Session settings through the engine's own environment knobs,
    with every temporary file inside the run's work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_UI": "1" if traced else "0",
        "TMPDIR": str(tmp),
    })
    for key in ("SPARK_GRAFT_RELIABLE_CHECKPOINT", "MASTER"):
        os.environ.pop(key, None)
    conf = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # no hsperfdata file under the system temp directory
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def settle(spark) -> None:
    """Between passes, outside any timed interval: collect the previous
    pass's garbage on both sides so Spark's ContextCleaner drops its
    checkpoints, shuffles and broadcasts now rather than during the
    next pass."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.5)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def end_to_end(setup_s: float, passes: list, warm: list):
    """(end-to-end metrics, warm latencies of each operation)."""
    walls = [p.wall for p in warm]
    per_op: dict[str, list[float]] = {}
    for p in warm:
        for name, lat in p.latencies.items():
            per_op.setdefault(name, []).append(lat)
    wall = statistics.median(walls)
    return {
        "setup_s": setup_s,
        "first_pass_s": passes[0].wall,
        "wall_s": wall,
        "rows_per_s": warm[0].rows / wall,
        "query_geomean_s": geomean([statistics.median(v) for v in per_op.values()]),
    }, per_op


def per_layer(spark, rec, traced_passes: list[int], untraced: list, traced: list,
              setup: dict[str, float], sampler, cores: int) -> dict[str, float]:
    """Median over traced warm passes of each pass's per-layer totals."""
    import layertrace

    rest = layertrace.SparkRest(spark)
    jobs, stages, sql = rest.settled()
    rows = []
    worst_unattributed = 0.0
    for pass_no in traced_passes:
        total: dict[str, float] = {}
        for op in rec.ops:
            if op.pass_no != pass_no:
                continue
            m = layertrace.op_metrics(rec, op, jobs, stages, sql)
            worst_unattributed = max(worst_unattributed, m["unattributed_s"] / m["wall_s"])
            for k, v in m.items():
                total[k] = total.get(k, 0.0) + v
        wall = total["wall_s"]
        total["spark.busy_ratio"] = total.get("spark.exec.run_s", 0.0) / (cores * wall)
        loads = total.get("catalog.load_calls", 0.0)
        total["catalog.cache_hit_ratio"] = total.get("catalog.hits", 0.0) / loads if loads else 0.0
        in_bytes = total.get("state.input_bytes", 0.0)
        total["state.bytes_written_per_input_byte"] = (
            total.get("state.bytes_written", 0.0) / in_bytes if in_bytes else 0.0)
        batch = [p["durationMs"]["triggerExecution"] / 1000
                 for op in rec.ops if op.pass_no == pass_no for p in op.progress]
        total["streaming.batch_p50_s"] = statistics.median(batch) if batch else 0.0
        total["streaming.batch_p90_s"] = layertrace.percentile(batch, 0.9) if batch else 0.0
        rows.append(total)
    out = layertrace.median_by_key(rows)
    out.update(setup)
    out["trace.overhead_frac"] = (statistics.median(p.wall for p in traced)
                                  / statistics.median(p.wall for p in untraced) - 1)
    out["trace.unattributed_frac"] = worst_unattributed
    out["jvm.peak_rss_mb"] = sampler.peak_rss_bytes() / 2**20
    out["jvm.heap_after_gc_peak_mb"] = sampler.heap_after_gc_peak / 2**20
    out["python.workers_peak"] = sampler.workers_peak
    return out


def main() -> int:
    args = parse_args()
    if not (ROOT / "myhadoop_spark").is_dir():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(1, str(HERE))
    import inputs
    import workloads

    traced = bool(args.trace)
    cores = len(os.sched_getaffinity(0))
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        spark_env(work, cores, traced)
        sf_dir = work / "tables"
        table_rows = inputs.write_tables(args.seed, sf_dir)

        # set-up: engine import, session, and a fixed wc warm-up query
        t0 = time.perf_counter()
        from myhadoop_spark import registry
        from myhadoop_spark.session import get_spark

        import layertrace
        rec = layertrace.Recorder()
        rec.enabled = traced
        if traced:
            print(f"tracing {rec.install()} engine bindings")
        t1 = time.perf_counter()
        spark = get_spark("perfbench")
        t2 = time.perf_counter()
        registry.get("wc").fn(spark, str(sf_dir)).collect()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        setup = {"session.get_spark_s": t2 - t1, "session.warmup_s": t3 - t2}

        workload = workloads.WORKLOADS[args.workload]()
        ctx = workloads.Context(spark=spark, workload=args.workload, sf_dir=sf_dir,
                                rows=table_rows, work=work,
                                cache=work_root / "expected" / f"{args.workload}-{args.seed}.pkl",
                                rec=rec)
        workload.prepare(ctx)
        sampler = layertrace.ProcessSampler(spark) if traced else None

        # pass 0 is the cold pass; warm passes run until --seconds have
        # passed and at least two have run (with passes longer than
        # --seconds / 2 that is a fixed count: warm passes are still
        # getting faster, so the median of a varying count would drift
        # with it). Traced mode records every
        # other warm pass, starting with the first, so the untraced
        # ones give the tracing overhead.
        passes, traced_passes = [], []
        t_warm = None
        while True:
            n = len(passes)
            rec.enabled = traced and n % 2 == 1
            rec.pass_no = n
            if rec.enabled:
                traced_passes.append(n)
            passes.append(workload.run_pass(ctx, n))
            settle(spark)
            if sampler is not None:
                sampler.sample()
            if t_warm is None:
                t_warm = time.perf_counter()
            elif len(passes) >= 3 and time.perf_counter() - t_warm >= args.seconds:
                break
        warm = passes[1:]
        attempted = sum(p.attempted for p in passes)
        failed = sum(p.failed for p in passes)

        e2e, samples = end_to_end(setup_s, passes, warm)
        print(f"{args.workload} seed={args.seed} local[{cores}] driver={DRIVER_MEMORY} "
              f"warm_passes={len(warm)} attempted={attempted} failed={failed}")
        for k, v in e2e.items():
            n = 1 if k in ("setup_s", "first_pass_s") else len(warm)
            print(f"  {k:18s} {v:12.4f}  (n={n})")
        print("  pass walls: " + " ".join(f"{p.wall:.3f}" for p in passes))
        for name, lats in samples.items():
            print(f"  {name:18s} {statistics.median(lats):12.4f}  (n={len(lats)}, "
                  f"cold {passes[0].latencies.get(name, float('nan')):.4f})")
        if traced:
            rec.enabled = False
            metrics = per_layer(spark, rec, traced_passes,
                                [passes[i] for i in range(1, len(passes)) if i not in traced_passes],
                                [passes[i] for i in traced_passes],
                                setup, sampler, cores)
            print(f"  traced warm passes: {len(traced_passes)}")
            trace_dir = work_root / "traces"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{args.workload}-{args.seed}.json").write_text(json.dumps(
                {"metrics": metrics,
                 "spans": [vars(s) for s in rec.spans],
                 "ops": [{"id": o.id, "name": o.name, "pass": o.pass_no, "root": o.root}
                         for o in rec.ops]}))
            for k in sorted(metrics):
                print(f"  {k:40s} {metrics[k]:14.4f}")
            wanted = spec["per_layer"]
        else:
            metrics = e2e
            wanted = spec["end_to_end"]
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in wanted},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
