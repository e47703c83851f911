"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_light --seed 1 \
        --seconds 10 --trace 0

With ``--trace 0`` it prints the end-to-end metrics of one workload; with
``--trace 1`` it runs the traced variant and prints the per-layer
metrics, writing the spans and the reconciled ledger under
``perfbench/.work/traces/``.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def _program_present() -> bool:
    return (ROOT / "ocr_documents_spark" / "pipeline.py").is_file()


def _pin_environment() -> None:
    """Workers and the JVM inherit this process's environment: strip the
    knobs that would change the plan and point workers at this checkout."""
    for key in list(os.environ):
        if key.startswith("SPARK_GRAFT_") or key == "SPARK_LOCAL_DIRS":
            del os.environ[key]
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def workers() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def end_to_end(wl, ctx, seconds: float) -> dict:
    from perfbench import engine, oracle, procs

    t0 = time.perf_counter()
    ctx.spark = engine.start(ctx.P, ctx.run_dir)
    start_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    warm_walls = wl.warm(ctx)
    warm_s = time.perf_counter() - t1

    engine.group(ctx.spark, "timed")
    stat0, cpu0 = procs.cpu_stat(), procs.cpu_seconds()
    laps = []
    with procs.RssSampler() as rss:
        rss.lap()

        def one():
            wl.run_pass(ctx)
            laps.append(rss.lap())
        walls = engine.window(one, seconds, wl.min_passes)
    cpu_s = procs.cpu_seconds() - cpu0
    steal = procs.steal_frac(stat0, procs.cpu_stat())
    jvm = [engine.jvm_pid(ctx.spark)]
    jvm_rss_mb, jvm_hwm_mb = procs.rss_mb(jvm), procs.rss_mb(jvm, "VmHWM")
    wl.collect(ctx)
    engine.stop(ctx.spark)
    ctx.spark = None

    expected = oracle.control(ctx.tasks, ctx.P)
    check = wl.check(ctx, expected)
    docs = ctx.layout["docs"]
    return {
        "check": check,
        "metrics": {
            "docs_per_s": (engine.median([docs / w for w in walls]), "docs/s"),
            "setup_s": (start_s + warm_s, "s"),
            "cpu_s_per_kdoc": (cpu_s / (docs * len(walls) / 1000.0), "s"),
            "peak_rss_mb": (engine.median(laps), "MB"),
            "doc_ok_frac": (1.0 - check["failed"] / docs, "fraction"),
        },
        "witness": {"passes": walls, "warm_passes": warm_walls,
                    "session_start_s": start_s, "steal_frac": steal,
                    "warmup_s": warm_s, "pass_peak_rss_mb": laps,
                    "jvm_rss_mb": jvm_rss_mb, "jvm_hwm_mb": jvm_hwm_mb,
                    "control_docs_per_s": expected["docs_per_s"]},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="corpus size override (smoke tests)")
    args = p.parse_args(argv)

    if not _program_present():
        print(f"perfbench: no ocr_documents_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    _pin_environment()
    sys.path.insert(0, str(ROOT))
    from perfbench import corpus, engine, procs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    ctx = types.SimpleNamespace(spark=None, P=workers(), root=ROOT,
                                work=WORK, seed=args.seed)
    wl.prepare(ctx, args.docs or wl.size, bool(args.trace))
    ctx.tasks = corpus.row_groups(ctx.layout)
    ctx.run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    ctx.run_dir.mkdir(parents=True)
    witness = {"workload": args.workload, "seed": args.seed,
               "nproc": os.cpu_count(), "P": ctx.P,
               "loadavg_1m_before": procs.loadavg_1m(),
               "corpus": {k: v for k, v in ctx.layout.items()
                          if k not in ("files", "path")}}
    try:
        if args.trace:
            from perfbench import traced
            out = traced.run(wl, ctx, args.seconds, args.seed)
        else:
            out = end_to_end(wl, ctx, args.seconds)
    finally:
        if ctx.spark is not None:
            engine.stop(ctx.spark)
        killed = procs.reap_descendants()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    witness.update(out["witness"], loadavg_1m_after=procs.loadavg_1m(),
                   killed_leftover_pids=killed, check=out["check"])
    print(json.dumps({"witness": witness}, default=str))
    if "ledger" in out:
        print(json.dumps({"ledger": out["ledger"],
                          "trace_file": out["trace_file"]}))

    check = out["check"]
    failed = check["failed"] + check.get("tables_failed", 0)
    attempted = check["docs"] + len(check.get("tables", {}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(v), "unit": unit}
                    for name, (v, unit) in out["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
