"""The benchmark's workloads: corpus, warm-up, one timed pass, the output
check against the oracle, and the workload's own part of the traced run.

* ``extract_light``: light documents through the default ``run_pipeline``
  into a noop sink — the 99% common case; classify, extract and the Arrow
  adapter do the work, no shuffle, no lake.  Its traced run also puts the
  natural mix (about 1% media-heavy documents with 512-4096 media spans)
  through the default plan and through the heavy split, so the straggler,
  media decode, gate, recover, salted shuffles and finalize are measured.
* ``lake_job``: ``jobs.extract.run`` on a smaller slice of the light stream
  into a fresh lake, every one of 256 buckets claimed — ingest validation,
  persist and four lake writes beside the same extraction.

The traced run (``traced.run``) calls ``trace_probes`` in the live session
after the traced passes, then ``trace_layers`` once the session has
stopped and its event log is complete.  ``trace_layers`` returns the
workload's own per-layer metrics (``pipeline.stage_s`` among them) and the
parts of its ledger; a per-layer metric neither workload sets reads 0.
"""

from __future__ import annotations

import os

from . import corpus, engine, eventlog, layers, oracle, trace

RESULT_COLUMNS = ("doc_id", "status", "document_type", "out_spans")
# The mix probes: timed passes per plan, and the fewest and most warm
# passes before them.  On a 4-vCPU VM the heavy split's pass time kept
# falling until its fifth or sixth pass (6.7, 6.0, 5.6, 5.4, 5.3, 5.2 s
# after a cold first pass), while a pass could be within 3% of the one
# before it as early as the third.
MIX_PASSES = 2
MIX_WARM = {"skew": (3, 8), "heavy": (5, 8)}
LAKE_SPANS = ("lake.pending_buckets", "lake.write_rejects",
              "lake.write_results", "lake.write_fields_long",
              "lake.append_metrics", "lake.append_checkpoints")


def _ensure(ctx, kind: str, size: int) -> dict:
    return corpus.ensure(ctx.root, ctx.work, kind, ctx.seed, size, ctx.P)


def _span_self(tracer, root_id: int, name: str) -> float:
    return sum(tracer.self_time(s["id"]) for s in tracer.descendants(root_id)
               if s["name"] == name)


class Extract:
    """``run_pipeline`` over the light corpus into a noop sink."""

    name = "extract_light"
    size = 4000
    min_passes = 3
    trace_pairs = 3

    def prepare(self, ctx, size: int, traced: bool) -> None:
        ctx.layout = _ensure(ctx, "light", size)
        if traced:
            ctx.mix_layout = _ensure(ctx, "mix", size)

    def warm(self, ctx) -> list[float]:
        engine.group(ctx.spark, "warm")
        return engine.until_steady(lambda: self.run_pass(ctx),
                                   min_passes=3, max_passes=6)

    def run_pass(self, ctx) -> None:
        engine.noop(engine.extraction(ctx.spark, ctx.layout))

    def traced_pass(self, ctx, tracer) -> None:
        with tracer.span("pipeline.build"):
            df = engine.extraction(ctx.spark, ctx.layout)
        with tracer.span("sink.noop"):
            engine.noop(df)

    def collect(self, ctx) -> None:
        engine.group(ctx.spark, "collect")
        table = (engine.extraction(ctx.spark, ctx.layout)
                 .select(*RESULT_COLUMNS).toArrow())
        ctx.actual = oracle.digests_of(table)

    def check(self, ctx, expected: dict) -> dict:
        return oracle.compare(expected["expected"], ctx.actual)

    def trace_probes(self, ctx, untraced: list[float]) -> dict:
        """The mix corpus under the default plan (``skew``), then under
        the split a real-OCR deployment derives (``heavy``,
        ``auto_heavy_threshold(300)``), each warmed until pass time stops
        falling and then timed under its own job groups."""
        from ocr_documents_spark.pipeline import auto_heavy_threshold

        threshold = auto_heavy_threshold(300)
        out = {"stage_s": engine.median(untraced), "threshold": threshold}
        for name, heavy_threshold in (("skew", None), ("heavy", threshold)):
            def one():
                engine.noop(engine.extraction(ctx.spark, ctx.mix_layout,
                                              heavy_threshold))
            engine.group(ctx.spark, f"{name}-warm")
            least, most = MIX_WARM[name]
            warm = engine.until_steady(one, min_passes=least,
                                       max_passes=most)
            walls = []
            for i in range(MIX_PASSES):
                engine.group(ctx.spark, f"{name}-{i}")
                walls.append(engine.timed(one))
            out[name] = {"warm_walls": warm, "walls": walls}
        return out

    def trace_layers(self, ctx, tracer, root, probes, groups, shared):
        """-> (metrics, ledger parts).  The ledger spreads the Python work
        of the adapter and each core layer over P workers beside the
        driver-side plan build, the scan floor and the Arrow floor."""
        mix_docs = ctx.mix_layout["docs"]
        m = {"pipeline.stage_s": probes["stage_s"]}
        for name, keys in (
                ("skew", ("tasks", "task_p50_s", "task_max_s",
                          "straggler_ratio")),
                ("heavy", ("tasks", "straggler_ratio", "shuffle_write_mb",
                           "shuffle_read_mb", "spill_mb"))):
            stages = [groups.get(f"{name}-{i}", {}) for i in range(MIX_PASSES)]
            sums = [eventlog.summarize(s) for s in stages]
            m.update({f"{name}.{k}": engine.median([x[k] for x in sums])
                      for k in keys})
            m[f"{name}.docs_per_s"] = (
                mix_docs / engine.median(probes[name]["walls"]))
        m["skew.stage_s"] = engine.median(probes["skew"]["walls"])
        m["heavy.pass_s"] = engine.median(probes["heavy"]["walls"])
        m["heavy.span_rows"] = engine.median(
            [eventlog.scan_side_shuffle_records(groups.get(f"heavy-{i}", {}))
             for i in range(MIX_PASSES)])
        m["skew.media_decodes_per_doc"] = layers.decode_calls(
            list(corpus.read_documents(ctx.mix_layout))) / mix_docs

        fl, spread = shared["floors"], shared["docs"] / ctx.P / 1e6
        parts = {
            "pipeline.build (driver)": _span_self(tracer, root,
                                                  "pipeline.build"),
            "scan floor": fl["scan_s"],
            "arrow transfer floor": max(0.0, fl["arrow_s"] - fl["scan_s"]),
            "arrow adapter (python)": shared["adapter_us"] * spread,
            **{f"core.{k} (python)": v * spread
               for k, v in shared["core_us"].items()},
        }
        return m, parts


class LakeJob:
    """``jobs.extract.run`` over a light corpus into a fresh lake."""

    name = "lake_job"
    # A lake job pays per bucket file written: each scan task writes one
    # file per bucket it holds, per table.  At 1000 documents (about 2600
    # files per job) a job took 9-15 s on a 4-vCPU VM and its timing moved
    # with the host's load by up to 2x, so the lake corpus is smaller:
    # several whole jobs fit in one run, and the run's median is of
    # several jobs.
    size = 256
    min_passes = 4
    trace_pairs = 2
    warm_jobs = 3

    def prepare(self, ctx, size: int, traced: bool) -> None:
        ctx.layout = _ensure(ctx, "light", size)

    def warm(self, ctx) -> list[float]:
        """Whole jobs into throwaway lakes: every plan shape of the job
        and its commit path.  The count is fixed: job time falls by a few
        percent per job for several jobs after the third on a 4-vCPU VM,
        and a stop rule tripped by the host's noise made set-up time vary
        more than the extra jobs gained."""
        engine.group(ctx.spark, "warm")
        return [engine.timed(lambda: self.run_pass(ctx))
                for _ in range(self.warm_jobs)]

    def run_pass(self, ctx) -> None:
        """Every job writes a new lake; none is deleted before the run
        ends, so no deletion (and no discard I/O) overlaps a timed job."""
        ctx.n_lakes = getattr(ctx, "n_lakes", 0) + 1
        ctx.lake = ctx.run_dir / f"lake-{ctx.n_lakes:03d}"
        engine.lake_job(ctx.spark, ctx.layout, ctx.lake)

    def traced_pass(self, ctx, tracer) -> None:
        """One pass with a span around every ``jobs.lake`` call the job
        makes; the results write is the action that runs the extraction."""
        from ocr_documents_spark.jobs import lake

        def spanned(namer):
            def make(orig):
                def call(*args, **kwargs):
                    with tracer.span(namer(*args, **kwargs)):
                        return orig(*args, **kwargs)
                return call
            return make

        with trace.patched(lake, {
                "pending_buckets": spanned(lambda *a, **k:
                                           "lake.pending_buckets"),
                "write_bucketed": spanned(lambda df, lk, table:
                                          f"lake.write_{table}"),
                "append": spanned(lambda df, lk, table:
                                  f"lake.append_{table}")}):
            self.run_pass(ctx)

    def collect(self, ctx) -> None:
        """The last job's lake (``ctx.lake``) is what ``check`` reads."""

    def check(self, ctx, expected: dict) -> dict:
        return oracle.check_lake(ctx.lake, expected["expected"],
                                 expected["n_fields"], engine.N_BUCKETS)

    def trace_probes(self, ctx, untraced: list[float]) -> dict:
        """The last lake's files, ingest validation alone, and the same
        corpus's extraction stage into a noop sink."""
        from ocr_documents_spark.sources.ingest import split_valid

        files = size = 0
        for dirpath, _, names in os.walk(ctx.lake):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))

        def validate():
            valid, rejects = split_valid(
                engine.docs(ctx.spark, ctx.layout).select("doc_id", "spans"))
            valid.count()
            rejects.count()

        def stage():
            engine.noop(engine.extraction(ctx.spark, ctx.layout))

        engine.group(ctx.spark, "validate")
        validate_s = engine.median([engine.timed(validate)
                                    for _ in range(4)][1:])
        engine.group(ctx.spark, "stage")
        stage_s = engine.median([engine.timed(stage) for _ in range(3)])
        return {"files": files, "bytes": size, "validate_s": validate_s,
                "stage_s": stage_s}

    def trace_layers(self, ctx, tracer, root, probes, groups, shared):
        """-> (metrics, ledger parts).  The ledger is the self time of
        each ``jobs.lake`` span.  The results write is the action that
        runs the extraction and fills the persist, so its span is split
        into the extraction (the same corpus's stage wall in this session)
        and the results commit; the extraction is not counted twice."""
        lake_self = {n: _span_self(tracer, root, n) for n in LAKE_SPANS}
        stage_s, wall = probes["stage_s"], shared["wall_s"]
        kdocs = shared["docs"] / 1000.0
        m = {
            "pipeline.stage_s": stage_s,
            "ingest.validate_s": probes["validate_s"],
            **{f"{n}_s": v for n, v in lake_self.items()},
            "lake.files_written": probes["files"],
            "lake.bytes_written": probes["bytes"],
            "lake.files_per_kdoc": probes["files"] / kdocs,
            "lake.commit_frac": (wall - stage_s) / wall,
        }
        extraction = min(stage_s, lake_self["lake.write_results"])
        parts = {n: v for n, v in lake_self.items()
                 if n != "lake.write_results"}
        parts["extraction (inside lake.write_results)"] = extraction
        parts["results commit (rest of lake.write_results)"] = (
            lake_self["lake.write_results"] - extraction)
        return m, parts


WORKLOADS = {wl.name: wl for wl in (Extract(), LakeJob())}
