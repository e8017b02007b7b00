"""The benchmark's workloads: seeded inputs, the timed operations, the
checks on their output and, when traced, the per-layer breakdown.

Every workload reports the same end-to-end metrics. `op_p50_s` is the
median wall time of the workload's repeated operation, after a first
one that warms the process:

- cli_*: `EventsAggregator(...).do_agg()` into a fresh output dir; the
  first, cold call is reported as detail (`cold_s`, `events_per_s_cold`);
- ivf_churn: one `ivf-append` of a delta followed by a serve of the
  query panel, over a fixed number of deltas so that every run grows the
  artifact alike; the `maintain ivf` build before them and the
  `ivf-compact` after them are reported as detail.

`setup_s` is taken by run.py. Peak RSS (driver plus JVM VmHWM, read when
the timed operations end, before the output checks) is reported in the
detail line and as the per-layer `memory.peak_rss_mb`: it moves by
10-20% between runs with the JVM's heap sizing, too much to gate on.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import redirect_stdout
from dataclasses import dataclass, field

STEP = 3600  # the CLI's default timestep

END_TO_END = {"setup_s": "s", "op_p50_s": "s"}

SOURCES = ("chartevents", "inputevents", "outputevents", "procedureevents")
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.import_s": "s",
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.header_jobs": "count",
    "pipeline.aggregate_s": "s",
    **{f"pipeline.aggregate_s.{s}": "s" for s in SOURCES},
    "pipeline.dense_rows": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "sinks.self_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.empty_stay_files": "count",
    "maintain.build_s": "s",
    "maintain.append_s": "s",
    "maintain.compact_s": "s",
    "maintain.jobs_per_append": "count",
    "maintain.jobs_per_compact": "count",
    "similarity.serve_s": "s",
    "similarity.files_per_cell_max": "count",
    "spark.jobs_per_serve": "count",
    "ivf.space_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
    "host.cpu_probe_s": "s",
}
SPARK_TOTALS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "gc_s", "driver_gap_s")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    rss_mb: dict = field(default_factory=dict)  # peak, per process
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def record(self, errors: list[str]) -> None:
        """Count one operation; it failed if its check found errors."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)


def cached_input(cache: str, kind: str, shape, seed: int, generate) -> tuple[str, dict]:
    """Generate once per (generator code, shape, seed) under `cache`;
    return (dir, generator info)."""
    with open(sys.modules[generate.__module__].__file__, "rb") as f:
        version = hashlib.md5(f.read()).hexdigest()[:8]  # the generator's code
    root = os.path.join(cache, f"{kind}-{version}-{shape.key()}-s{seed}")
    info_path = os.path.join(root, "info.json")
    if not os.path.exists(info_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        info = generate(tmp, seed, shape)
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f)
        try:
            os.replace(tmp, root)
        except OSError:  # another run generated the same input first
            shutil.rmtree(tmp)
    with open(info_path) as f:
        return root, json.load(f)


def _spark_totals(spans: list[dict]) -> dict:
    return {f"spark.{k}": sum(s.get(k, 0.0) for s in spans) for k in SPARK_TOTALS}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Cli:
    """`EventsAggregator(...).do_agg()` over a generated MIMIC root, into
    a fresh output dir per call: one cold call, then warm calls until
    the time is up (at least MIN_WARM)."""

    MIN_WARM = 3

    def __init__(self, ffill: bool, **shape):
        self.shape, self.ffill = shape, ffill

    def prepare(self, seed: int, cache: str):
        import gen_mimic

        shape = gen_mimic.Shape(**self.shape)
        return cached_input(cache, "mimic", shape, seed, gen_mimic.generate)

    def run(self, spark, tracer, inp, work: str, seconds: float, peak_rss) -> Result:
        from mimic2ts_spark import EventsAggregator

        import oracle

        root, counts = inp
        res, outs = Result(), []

        def do_agg() -> float:
            dst = os.path.join(work, f"out{len(outs)}")
            outs.append(dst)
            t0 = time.perf_counter()
            EventsAggregator(spark, root, dst, ffill=self.ffill).do_agg()
            return time.perf_counter() - t0

        cold = do_agg()
        warm: list[float] = []
        if tracer.enabled:
            res.layers, dst = self._layers(spark, tracer, root, work, do_agg)
            outs.append(dst)
        else:
            t_end = time.perf_counter() + seconds
            while len(warm) < self.MIN_WARM or time.perf_counter() < t_end:
                warm.append(do_agg())
        res.rss_mb = peak_rss()  # before the oracle's own memory

        ref = oracle.Reference(root, STEP, self.ffill)
        for dst in outs:
            res.record(ref.check(dst))
            shutil.rmtree(dst)
        events = sum(counts[s] for s in SOURCES)
        op = statistics.median(warm or [cold])
        res.e2e = {"op_p50_s": op}
        res.detail = {
            "input_events": events, "stays": counts["icustays"],
            "dense_cells": ref.n_cells, "cold_s": cold, "warm_s": warm,
            "events_per_s_cold": events / cold, "events_per_s_warm": events / op,
        }
        return res

    def _layers(self, spark, tracer, root: str, work: str, do_agg) -> tuple[dict, str]:
        """Per-layer split of one warm `do_agg`: each source's scan,
        `aggregate()` into a noop sink, and the full `do_agg`; the sink's
        self time is the difference of the last two. Then one untraced
        `do_agg`, the base of the tracing overhead. Returns the layer
        metrics and the traced call's output dir."""
        from mimic2ts_spark import EventsAggregator, sources

        dst = os.path.join(work, "layers")
        aggs = EventsAggregator(spark, root, dst, ffill=self.ffill).aggregators
        spans: dict[str, dict] = {}

        def span(name, fn):
            with tracer.span(name) as rec:
                out = fn()
            spans[name] = rec
            return out

        for table in ("icustays", *[a.name for a in aggs]):
            df = span(f"header.{table}", lambda: sources.read_mimic_csv(spark, root, table))
            span(f"scan.{table}", lambda: _noop(df))
        for agg in aggs:
            span(f"aggregate.{agg.name}", lambda: _noop(agg.aggregate()))
            span(f"do_agg.{agg.name}", agg.do_agg)
        tracer.enabled = False
        plain = do_agg()
        tracer.enabled = True

        def total(prefix, key="wall_s"):
            return sum(r[key] for n, r in spans.items() if n.startswith(prefix))

        agg_spans = [r for n, r in spans.items() if n.startswith("aggregate.")]
        files = [os.path.join(d, f) for d, _, fs in os.walk(dst) for f in fs]
        empty = 0
        for path in files:
            with open(path) as f:
                empty += len(f.read().splitlines()) == 1
        layers = {
            "sources.scan_s": total("scan."),
            "sources.header_jobs": total("header.", "jobs"),
            "pipeline.aggregate_s": total("aggregate."),
            **{f"pipeline.aggregate_s.{a.name}": spans[f"aggregate.{a.name}"]["wall_s"]
               for a in aggs},
            "pipeline.dense_rows": sum(a.aggregate().count() for a in aggs),
            "pipeline.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in agg_spans),
            "pipeline.spill_bytes": sum(r["spill_bytes"] for r in agg_spans),
            "sinks.self_s": total("do_agg.") - total("aggregate."),
            "sinks.files_written": len(files),
            "sinks.bytes_written": sum(os.path.getsize(p) for p in files),
            "sinks.empty_stay_files": empty,
            "trace.overhead_s": total("do_agg.", "traced_s") - plain,
            **_spark_totals([r for n, r in spans.items() if n.startswith("do_agg.")]),
        }
        return layers, dst


class IvfChurn:
    """`maintain ivf` on a base corpus, then per delta `ivf-append` and a
    serve of the query panel, then `ivf-compact` and one more serve. The
    run's seconds do not apply: the sequence is fixed (about 15 s of
    churn steps on a 4-core host)."""

    def __init__(self, **shape):
        self.shape = shape

    def prepare(self, seed: int, cache: str):
        import gen_vectors

        shape = gen_vectors.Shape(**self.shape)
        return (*cached_input(cache, "vectors", shape, seed, gen_vectors.generate), shape)

    def run(self, spark, tracer, inp, work: str, seconds: float, peak_rss) -> Result:
        import pyarrow.parquet as pq

        from mimic2ts_spark import maintain
        from mimic2ts_spark.operators.similarity import serve_ivf_artifact

        root, info, shape = inp
        art = os.path.join(work, "artifact")
        postings = os.path.join(art, "postings")
        res = Result()
        spans: dict[str, list] = {}

        def maint(name: str, *argv: str) -> dict:
            buf = io.StringIO()
            with tracer.span(name) as rec, redirect_stdout(buf):
                maintain.main(list(argv))
            spans.setdefault(name, []).append(rec)
            return json.loads(buf.getvalue().strip().splitlines()[-1])

        queries = spark.read.parquet(os.path.join(root, "queries.parquet"))

        def serve(name: str = "serve") -> list[tuple]:
            with tracer.span(name) as rec:
                rows = serve_ivf_artifact(spark, art, queries, None).collect()
            spans.setdefault(name, []).append(rec)
            return sorted((r.query_id, r.neighbor_id, r.cosine, r.rank) for r in rows)

        def footprint() -> tuple[int, int]:
            """(postings bytes, most files in one cell)."""
            size, per_cell = 0, 0
            for cell in os.listdir(postings):
                path = os.path.join(postings, cell)
                if os.path.isdir(path):
                    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
                    per_cell = max(per_cell, len(files))
                    size += sum(os.path.getsize(os.path.join(path, f)) for f in files)
            return size, per_cell

        audit = maint("build", "ivf", art, os.path.join(root, "base.parquet"))
        live = shape.n_base
        res.record([] if audit["n_postings"] == live
                   else [f"build holds {audit['n_postings']} postings"])
        for d in range(shape.n_deltas):
            audit = maint("append", "ivf-append", art,
                          os.path.join(root, f"delta_{d}.parquet"))
            live += shape.delta_size
            served = serve()
            # every near-duplicate planted so far must be its query's
            # top-1: a serve that misses an append (a stale memo) fails
            top1 = {q: n for q, n, _, rank in served if rank == 1}
            res.record([
                f"delta {d}: top-1 of {q} is {top1.get(q)}, planted {pid}"
                for dd, q, pid in info["planted"] if dd <= d and top1.get(q) != pid
            ] + ([] if audit["n_postings"] == live
                 else [f"append {d}: {audit['n_postings']} postings, {live} live"]))

        res.rss_mb = peak_rss()
        before, files_per_cell = footprint()
        if tracer.enabled:  # the base of the tracing overhead
            tracer.enabled = False
            t0 = time.perf_counter()
            serve("untraced")
            plain_serve = time.perf_counter() - t0
            tracer.enabled = True
        maint("compact", "ivf-compact", art)
        after, _ = footprint()
        res.record([] if serve("compacted") == served
                   else ["served rows changed by compaction"])
        ids = pq.read_table(postings, columns=["vec_id"]).column("vec_id").to_numpy()
        n_distinct = len(set(ids.tolist()))
        res.record([] if len(ids) == live == n_distinct and int(ids.max()) == live - 1
                   else [f"postings hold {len(ids)} ids, {n_distinct} distinct, "
                         f"{live} live"])

        def wall(name):
            return [r["wall_s"] for r in spans[name]]

        steps = [a + s for a, s in zip(wall("append"), wall("serve"))]
        res.e2e = {"op_p50_s": statistics.median(steps)}
        res.detail = {
            "build_s": wall("build")[0],
            "append_p50_s": statistics.median(wall("append")),
            "serve_p50_s": statistics.median(wall("serve")),
            "compact_s": wall("compact")[0],
            "serve_compacted_s": wall("compacted")[0],
            "space_amp": before / after,
        }
        if tracer.enabled:
            res.layers = {
                "maintain.build_s": res.detail["build_s"],
                "maintain.append_s": res.detail["append_p50_s"],
                "maintain.compact_s": res.detail["compact_s"],
                "maintain.jobs_per_append": statistics.mean(
                    r["jobs"] for r in spans["append"]),
                "maintain.jobs_per_compact": spans["compact"][0]["jobs"],
                "similarity.serve_s": res.detail["serve_p50_s"],
                "similarity.files_per_cell_max": files_per_cell,
                "spark.jobs_per_serve": statistics.mean(r["jobs"] for r in spans["serve"]),
                "ivf.space_amp": res.detail["space_amp"],
                "trace.overhead_s": spans["serve"][-1]["traced_s"] - plain_serve,
                **_spark_totals([r for n, rs in spans.items() if n != "untraced"
                                 for r in rs]),
            }
        return res


# Shapes: see gen_mimic.Shape and gen_vectors.Shape. Sized so that one
# run, with its three cold starts and its checks, takes about a minute on
# a 4-core host. cli_long_stays (aggregate-heavy: few long dense stays,
# ffill) is left out of BENCHMARK.json so that a full benchmark pass of
# 22 runs a workload stays under an hour; run it by name to see the
# opposite layer split.
WORKLOADS = {
    "cli_many_stays": Cli(
        ffill=False, n_stays=200, median_hours=20.0, n_items=100,
        chart_per_hour=4.0, other_per_hour=0.4,
    ),
    "cli_long_stays": Cli(
        ffill=True, n_stays=8, median_hours=240.0, n_items=50,
        chart_per_hour=300.0, other_per_hour=25.0,
    ),
    "ivf_churn": IvfChurn(
        n_base=4096, dim=32, n_clusters=32, n_queries=32, n_deltas=6,
        delta_size=1000,
    ),
}
