"""The traced run: per-layer metrics and a ledger reconciled with the
end-to-end wall of the same workload.

Spark's event log is on for this session only.  Each measured pass runs
twice in alternation, untraced and traced, under its own job group, so
the event log's stages map to passes and ``trace.overhead_frac`` compares
the two in one window.  After the session stops, the per-document layers
are timed in this process, the captured batch function is run on the
corpus's RecordBatches, and the oracle pool gives the control ceiling.

Ledger of the median traced pass (wall W): the parts are the workload's
own (``trace_layers`` in workloads.py); the residual is W minus their sum
and is stated with them.
"""

from __future__ import annotations

import os
import statistics

from . import engine, eventlog, layers, oracle, procs
from .trace import Tracer

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "ingest.validate_s": "s",
    "pipeline.stage_s": "s", "pipeline.scan_s": "s",
    "pipeline.arrow_passthrough_s": "s",
    "pipeline.adapter_us_per_doc": "us",
    "core.total_us_per_doc": "us", "core.gate_us_per_doc": "us",
    "core.media_decode_us_per_span": "us",
    "core.media_decodes_per_doc": "count",
    "core.html_strip_us_per_doc": "us", "core.classify_us_per_doc": "us",
    "core.extract_us_per_doc": "us", "core.residual_us_per_doc": "us",
    "control.docs_per_s": "docs/s", "pipeline.ceiling_frac": "fraction",
    "spark.tasks": "count", "spark.task_p50_s": "s",
    "spark.task_max_s": "s", "spark.straggler_ratio": "ratio",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "skew.stage_s": "s", "skew.docs_per_s": "docs/s",
    "skew.tasks": "count", "skew.task_p50_s": "s", "skew.task_max_s": "s",
    "skew.straggler_ratio": "ratio", "skew.media_decodes_per_doc": "count",
    "heavy.pass_s": "s", "heavy.docs_per_s": "docs/s",
    "heavy.span_rows": "count", "heavy.tasks": "count",
    "heavy.straggler_ratio": "ratio", "heavy.shuffle_write_mb": "MB",
    "heavy.shuffle_read_mb": "MB", "heavy.spill_mb": "MB",
    "lake.pending_buckets_s": "s", "lake.write_rejects_s": "s",
    "lake.write_results_s": "s", "lake.write_fields_long_s": "s",
    "lake.append_metrics_s": "s", "lake.append_checkpoints_s": "s",
    "lake.files_written": "count", "lake.bytes_written": "bytes",
    "lake.files_per_kdoc": "files/kdoc", "lake.commit_frac": "fraction",
    "trace.overhead_frac": "fraction",
    "ledger.wall_s": "s", "ledger.residual_s": "s",
    "ledger.residual_frac": "fraction",
    "oracle.doc_fail_frac": "fraction",
    "run.nproc": "count", "run.P": "count", "run.loadavg_1m": "load",
    "run.steal_frac": "fraction",
}


def _pick_median(walls: list[float]) -> int:
    return walls.index(statistics.median_low(walls))


def run(wl, ctx, seconds: float, seed: int) -> dict:
    tracer = Tracer(f"{wl.name}-s{seed}-{os.getpid()}")
    event_dir = ctx.run_dir / "events"
    with tracer.span("session.start") as s_start:
        ctx.spark = engine.start(ctx.P, ctx.run_dir, event_dir)
    with tracer.span("session.warmup") as s_warm:
        wl.warm(ctx)
    fl = layers.floors(ctx.spark, ctx.layout)
    batch_fn, n_batch_fns, batch_rows = layers.capture_batch_fn(
        ctx.spark, ctx.layout)

    untraced, passes = [], []
    stat0 = procs.cpu_stat()
    for i in range(wl.trace_pairs):
        engine.group(ctx.spark, f"untraced-{i}")
        untraced.append(engine.timed(lambda: wl.run_pass(ctx)))
        engine.group(ctx.spark, f"traced-{i}")
        with tracer.span("pass", index=i) as sp:
            wl.traced_pass(ctx, tracer)
        passes.append(sp)
    steal = procs.steal_frac(stat0, procs.cpu_stat())
    walls = [p["end"] - p["start"] for p in passes]
    pick = _pick_median(walls)
    root = passes[pick]["id"]
    W = walls[pick]

    probes = wl.trace_probes(ctx, untraced)
    wl.collect(ctx)
    engine.stop(ctx.spark)
    ctx.spark = None

    groups = eventlog.by_group(event_dir)
    per_pass = [eventlog.summarize(groups.get(f"traced-{i}", {}))
                for i in range(wl.trace_pairs)]
    spark_m = {k: engine.median([p[k] for p in per_pass])
               for k in per_pass[0]}
    core = layers.core(ctx.layout)
    adapter_total_s = (layers.adapter_s(batch_fn, ctx.layout, batch_rows)
                       if batch_fn is not None else 0.0)
    expected = oracle.control(ctx.tasks, ctx.P)
    check = wl.check(ctx, expected)

    docs = ctx.layout["docs"]
    us = 1e6 / docs
    core_us = {
        "gate": core["gate_s"] * us,
        "media_decode": core["media_decode_s"] * us,
        "html_strip": core["html_strip_s"] * us,
        "classify": core["classify_s"] * us,
        "extract": core["extract_s"] * us,
    }
    total_us = core["total_s"] * us
    core_us["residual"] = total_us - sum(core_us.values())
    adapter_us = adapter_total_s * us - total_us if batch_fn else 0.0

    own, parts = wl.trace_layers(
        ctx, tracer, root, probes, groups,
        {"docs": docs, "wall_s": W, "floors": fl, "core_us": core_us,
         "adapter_us": adapter_us})
    residual = W - sum(parts.values())
    ledger = {"workload": wl.name, "wall_s": W, "P": ctx.P, "docs": docs,
              "parts_s": parts, "residual_s": residual,
              "residual_frac": residual / W,
              "batch_functions_seen": n_batch_fns}

    dps_untraced = engine.median([docs / w for w in untraced])
    dps_traced = engine.median([docs / w for w in walls])
    # a metric off this workload's path reads 0
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    m.update({
        "session.start_s": s_start["end"] - s_start["start"],
        "session.warmup_s": s_warm["end"] - s_warm["start"],
        "pipeline.scan_s": fl["scan_s"],
        "pipeline.arrow_passthrough_s": fl["arrow_s"],
        "pipeline.adapter_us_per_doc": adapter_us,
        "core.total_us_per_doc": total_us,
        "core.gate_us_per_doc": core_us["gate"],
        "core.media_decode_us_per_span": (
            core["media_decode_s"] / core["media_spans"] * 1e6
            if core["media_spans"] else 0.0),
        "core.media_decodes_per_doc": core["media_decodes"] / docs,
        "core.html_strip_us_per_doc": core_us["html_strip"],
        "core.classify_us_per_doc": core_us["classify"],
        "core.extract_us_per_doc": core_us["extract"],
        "core.residual_us_per_doc": core_us["residual"],
        "control.docs_per_s": expected["docs_per_s"],
        **{f"spark.{k}": v for k, v in spark_m.items()},
        **own,
        "trace.overhead_frac": 1.0 - dps_traced / dps_untraced,
        "ledger.wall_s": W,
        "ledger.residual_s": residual,
        "ledger.residual_frac": residual / W,
        "oracle.doc_fail_frac": check["failed"] / docs,
        "run.nproc": os.cpu_count(),
        "run.P": ctx.P,
        "run.loadavg_1m": procs.loadavg_1m(),
        "run.steal_frac": steal,
    })
    m["pipeline.ceiling_frac"] = ((docs / m["pipeline.stage_s"])
                                  / expected["docs_per_s"])
    assert set(m) == set(PER_LAYER_UNITS), set(m) ^ set(PER_LAYER_UNITS)

    out_path = ctx.work / "traces" / f"{wl.name}-s{seed}.json"
    tracer.write(out_path, ledger=ledger, per_layer=m, core=core,
                 floors=fl, untraced_walls=untraced, traced_walls=walls,
                 probes=probes,
                 stages={g: {str(s): eventlog.summarize({s: t})
                             for s, t in st.items()}
                         for g, st in groups.items()})
    return {"check": check, "ledger": ledger, "trace_file": str(out_path),
            "metrics": {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()},
            "witness": {"control_docs_per_s": expected["docs_per_s"],
                        "untraced_walls": untraced, "traced_walls": walls}}
