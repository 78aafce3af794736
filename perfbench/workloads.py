"""The three workloads and the harness they share.

Each runner sets up (several times, so ``setup_s`` is a median),
measures for ``--seconds`` seconds, then checks every output and
returns the result dict. With ``--trace 1`` the same runner records
spans and Spark metrics and returns the per-layer metrics instead.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as E
import checks
import gen
from s2js_spark.geometry.cap import Cap
from s2js_spark.geometry.geojson import from_geojson
from s2js_spark.geometry.interval import R1Interval, S1Interval
from s2js_spark.geometry.point import Point
from s2js_spark.geometry.rect import Rect
from s2js_spark.spark import (
    distance, joins, pipeline, similarity, sqlkernels, storage, tagjoin, textops, tiles,
)
from s2js_spark.spark.pages import PAGES_SQL, pages
from s2js_spark.spark.session import get_session
from spans import SPARK_FIELDS, EventLog, Tracer, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
D = math.pi / 180.0
SETUP_REPS = 3
# Layers traced by text_dedup; the spatial workloads' sit by their runners.
TEXT_LAYERS = ("textops", "similarity")
# Layers that run on the driver alone: no Spark jobs to attribute.
DRIVER_ONLY_LAYERS = ("tiles",)

# Sizes. geotag_bulk: the sf0.1 pages amplified AMPLIFY times, stored in
# N_BUCKETS url buckets. spatial_requests: the sf0.1 pages. text_dedup:
# a smaller page set and embedding table, because label propagation
# runs tens of Spark jobs per batch whatever the input size.
GEOTAG_SF, AMPLIFY, N_BUCKETS, WARM_PASSES = 0.1, 8, 8, 3
REQUESTS_SF = 0.1
# Set-up calls every fixed query WARM_CALLS times: on a 4-core host the
# latency of a repeated pip_tag request falls by a quarter over its first
# 12-15 calls while the JIT warms up. Set-up takes the steepest part of
# that fall; the median of the window's 16 absorbs the rest. More warm
# calls did not narrow the run-to-run spread (5 seeds each with 1, 3 and
# 12), and each costs about half a second of every run.
WARM_CALLS = 4
TEXT_SF, TEXT_EMB = 0.01, 300
# spatial_requests sends one block of requests per BLOCK_SECONDS of
# --seconds (rounded up), so the request count never depends on how fast
# they ran. A block takes 14-20 s on a 4-core host.
BLOCK_SECONDS = 12
# ``--smoke``: every workload at sf0.001, geotag_bulk amplified twice.
# SMOKE_EMB embeddings are also written for the workloads that do not
# read them.
SMOKE_SF, SMOKE_AMPLIFY, SMOKE_EMB = 0.001, 2, 60


class Bench:
    """Session lifecycle, check bookkeeping and the tracer."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.report: list[str] = []
        self._marks = [("start", time.perf_counter())]

    def mark(self, phase: str) -> None:
        """End of a run phase (inputs, setup, window, checks)."""
        self._marks.append((phase, time.perf_counter()))

    def start(self) -> float:
        """Start the session with as many task threads as run.py chose;
        seconds taken."""
        t0 = time.perf_counter()
        self.threads = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = get_session(f"local[{self.threads}]", app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.attach(self.spark.sparkContext)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.report.append(f"CHECK FAILED: {name}")

    def op_failed(self, name: str, exc: Exception) -> None:
        self.attempted += 1
        self.failed += 1
        self.report.append(f"OP FAILED: {name}: {type(exc).__name__}: {exc}")

    def rss(self) -> float:
        """Peak RSS of the driver JVM plus that of this process, in MB."""
        jvm, py = peak_rss_mb(self.jvm_pid), peak_rss_mb("self")
        self.report.append(f"peak RSS: driver JVM {jvm:.1f} MB, Python {py:.1f} MB")
        return jvm + py

    def result(self, e2e: dict, layer: dict) -> dict:
        self.mark("report")
        self.report.append("run phases (s): " + ", ".join(
            f"{name} {t - prev:.2f}"
            for (_, prev), (name, t) in zip(self._marks, self._marks[1:])
        ))
        metrics = layer if self.traced else e2e
        ratio = self.failed / max(self.attempted, 1)
        self.report.append(
            f"failed_ops_ratio = {ratio:.6f} ({self.failed} of {self.attempted} ops)"
        )
        for name, (value, unit) in metrics.items():
            self.report.append(f"{name} = {value:.6g} {unit}")
        return {
            "report": self.report,
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }


def median(xs) -> float:
    return float(statistics.median(xs))


def median_or_0(xs) -> float:
    return median(xs) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_setup(bench: Bench, ingest, first_call) -> float:
    """setup_s = session start + median of SETUP_REPS ingests + the
    first call. The session (and with it the JVM) starts once per
    process and the first call is first only once, so only the ingest
    is repeated; each sample is printed."""
    start_s = bench.start()
    samples = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        ingest()
        samples.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    first_call()
    first_s = time.perf_counter() - t0
    bench.report.append(
        f"setup: session start {start_s:.3f} s, ingest samples "
        + ", ".join(f"{x:.3f}" for x in samples)
        + f" s, first call {first_s:.3f} s"
    )
    return start_s + median(samples) + first_s


def client_metrics(setup_s: float, rss: float, pages_per_op: int, latencies,
                   wall: float) -> dict:
    """The end-to-end metrics every listed workload prints. An operation
    is what the client waits for: a bulk pass or a request. Each one
    reads all ``pages_per_op`` pages of its input."""
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "pages_per_s": (pages_per_op * len(latencies) / wall, "1/s"),
        "request_p50_s": (median(latencies), "s"),
    }


# ------------------------------------------------------------------ layers

def spark_layer_metrics(bench: Bench, out: dict, layers,
                        per_layer_diff: dict | None = None) -> None:
    """``<layer>.<field>`` for every layer from the event log.
    ``per_layer_diff`` overrides a layer's numbers (prefix-probe
    differences)."""
    log = EventLog(os.path.join(bench.work, "eventlog"))
    units = {
        "jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
        "spill_bytes": "bytes", "executor_run_s": "s", "executor_cpu_s": "s",
        "gc_s": "s", "python_eval_s": "s",
    }
    for layer in layers:
        if layer in DRIVER_ONLY_LAYERS:
            continue
        vals = log.layer(layer)
        if per_layer_diff and layer in per_layer_diff:
            vals = per_layer_diff[layer]
        for f in SPARK_FIELDS:
            out[f"{layer}.{f}"] = (vals[f], units[f])


def trace_report(bench: Bench, since: float, wall_s: float, traced_units, plain_units,
                 untraced_s: float, out: dict) -> None:
    """Self time per span name, the unattributed remainder (window time
    in neither a top-level span nor a deliberately untraced unit) and the
    tracing overhead (median traced unit minus median untraced unit)."""
    self_t = bench.tracer.self_times()
    bench.report.append("span self time (s):")
    for name, s in sorted(self_t.items(), key=lambda kv: -kv[1]):
        bench.report.append(f"  {name:<36} {s:9.3f}")
    if not traced_units or not plain_units:
        raise RuntimeError(
            f"tracing overhead unmeasured: {len(traced_units)} traced,"
            f" {len(plain_units)} untraced units")
    unattributed = wall_s - bench.tracer.top_level_s(since) - untraced_s
    overhead = median(traced_units) - median(plain_units)
    bench.report.append(
        f"unattributed remainder = {unattributed:.3f} s of the {wall_s:.3f} s window")
    bench.report.append(
        f"tracing overhead = {overhead:.4f} s per unit"
        f" ({len(traced_units)} traced vs {len(plain_units)} untraced units;"
        " the event log is on for both)"
    )
    out["run.unattributed_s"] = (unattributed, "s")
    out["run.trace_overhead_s"] = (overhead, "s")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(bench.work)), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{bench.args.workload}-{bench.seed}-spans.json")
    bench.tracer.dump(path)
    bench.report.append(f"spans written to {os.path.relpath(path)}")


def listed_layer_metrics() -> dict[str, str]:
    """Name -> unit of the per-layer metrics listed in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def complete_layer_metrics(bench: Bench, out: dict, not_run) -> None:
    """Every listed per-layer metric must be printed. The ones of layers
    (or single metrics) in ``not_run``, which this workload never calls,
    read 0; any other missing one is an error in the benchmark."""
    padded = []
    for name, unit in listed_layer_metrics().items():
        if name in out:
            continue
        if name.split(".")[0] not in not_run and name not in not_run:
            raise RuntimeError(f"per-layer metric {name} was not measured")
        out[name] = (0.0, unit)
        padded.append(name)
    bench.report.append(
        "not run by this workload, printed as 0: " + (", ".join(padded) or "none"))


# ============================================================ geotag_bulk

def geotag_tiles() -> list[tuple[str, object, str]]:
    """The fixed 10-tile set: (tile_id, shape, DuckDB predicate over
    lat_e6/lng_e6). Two convex diamonds and the declared rect/cap
    tiles, plus three rects and two caps around other cities."""
    out = []
    for tid, geom in E.PIP_TILES:
        conds = E._pip_conds(geom["coordinates"][0], "lat_e6/1e6", "lng_e6/1e6")
        out.append((tid, geom, " AND ".join(conds)))
    rects = dict(E.RECT_TILES_E6)
    for c in (1, 10, 14):
        lat, lng = gen.city(c)
        rects[f"rect_c{c}"] = (int(lat * 1e6) - 400_000, int(lat * 1e6) + 400_000,
                               int(lng * 1e6) - 800_000, int(lng * 1e6) + 800_000)
    for tid, (a, b, c_, d) in rects.items():
        shape = Rect(R1Interval(a / 1e6 * D, b / 1e6 * D),
                     S1Interval.from_endpoints(c_ / 1e6 * D, d / 1e6 * D))
        out.append((tid, shape, f"lat_e6 BETWEEN {a} AND {b} AND lng_e6 BETWEEN {c_} AND {d}"))
    caps = [("cap_c12", E.CAP_CENTER, E.CAP_RADIUS_DEG)]
    for c, r in ((3, 0.6), (7, 0.7)):
        caps.append((f"cap_c{c}", gen.city(c), r))
    for tid, (clat, clng), r in caps:
        shape = Cap.from_center_angle(Point.from_latlng_degrees(clat, clng), r * D)
        px, py, pz = E._xyz_sql("lat_e6/1e6", "lng_e6/1e6")
        cx, cy, cz = E._xyz_sql(str(clat), str(clng))
        out.append((tid, shape,
                    f"(pow(({px}) - ({cx}), 2) + pow(({py}) - ({cy}), 2)"
                    f" + pow(({pz}) - ({cz}), 2)) <= pow(2 * sin(radians({r}) / 2), 2)"))
    return out


def run_geotag_bulk(bench: Bench) -> dict:
    sf, amplify = (SMOKE_SF, SMOKE_AMPLIFY) if bench.args.smoke else (GEOTAG_SF, AMPLIFY)
    work = bench.work
    gen.write_tables(work, bench.seed, sf, SMOKE_EMB)
    con = checks.duck(work)
    base = con.sql(PAGES_SQL).df()
    amp = gen.amplify_pages(base, bench.seed, amplify)
    amp_path = f"{work}/pages_amp.parquet"
    pq.write_table(pa.Table.from_pandas(amp, preserve_index=False), amp_path)
    n_pages = len(amp)
    tile_defs = geotag_tiles()
    tile_ids = [t[0] for t in tile_defs]
    bench.mark("inputs")
    with bench.tracer.span("tiles.build_tileset", "tiles"):
        t0 = time.perf_counter()
        ts = tiles.build_tileset([(t[0], t[1]) for t in tile_defs], max_cells=64)
        build_tileset_s = time.perf_counter() - t0
    table, path = "perfbench_pages", f"{work}/pages_bucketed"
    write_times: list[float] = []
    state: dict = {}

    def write_table():
        spark = bench.spark
        src = (
            spark.read.parquet(amp_path)
            .withColumn("html", F.encode(F.col("html"), "UTF-8"))
            .withColumn("warc_ts", F.timestamp_seconds(F.col("warc_ts_sec")))
        )
        t0 = time.perf_counter()
        with bench.tracer.span("storage.write_bucketed", "storage"):
            storage.write_bucketed(src, path, table, n_buckets=N_BUCKETS)
        write_times.append(time.perf_counter() - t0)
        state["ddl"] = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.table(table).schema.fields
        )

    def frames():
        spark = bench.spark
        scan = spark.table(table)
        geo = pipeline.extract_geotags(scan)
        dedup = pipeline.dedup_latest(geo)
        sel = dedup.select("url", "lat", "lng", "text")
        pairs = tagjoin.tag_tiles_pairs(spark, sel, ts)
        return {"scan": scan, "geo": geo, "dedup": dedup, "sel": sel, "pairs": pairs}

    results: list[dict] = []

    def one_pass() -> float:
        # A new aggregate per pass: re-collecting one DataFrame would
        # reuse its shuffle files and skip the scan, parse and join.
        t0 = time.perf_counter()
        rows = state["frames"]["pairs"].groupBy("tile_i").count().collect()
        took = time.perf_counter() - t0
        results.append({ts.tile_ids[r["tile_i"]]: r["count"] for r in rows})
        return took

    def first_passes():
        # Pass times keep falling for the first few passes while the JIT
        # warms up; the set-up takes them, so the window sees the steady state.
        state["frames"] = frames()
        for _ in range(WARM_PASSES):
            one_pass()

    setup_s = timed_setup(bench, write_table, first_passes)
    bench.mark("setup")

    # Timed window at local[N]. The traced run starts with one probe
    # cycle, then alternates traced and untraced passes.
    passes: list[float] = []
    traced_units, plain_units = [], []
    probes: dict[str, float] = {}
    wall0 = time.perf_counter()
    end = wall0 + bench.seconds
    if bench.traced:
        probe_cycle(bench, state["frames"], probes)
    while True:
        if bench.traced:
            with bench.tracer.span("geotag_pass", "tagjoin"):
                traced_units.append(one_pass())
            bench.tracer.enabled = False
            plain_units.append(one_pass())
            bench.tracer.enabled = True
        else:
            passes.append(one_pass())
        if time.perf_counter() >= end:
            break
    wall = time.perf_counter() - wall0
    rss = bench.rss()
    bench.mark("window")

    # ---- checks (outside the timed window)
    expected = {
        r[0]: r[1]
        for r in con.sql(checks.tile_count_sql([(t[0], t[2]) for t in tile_defs],
                                               amp_path)).fetchall()
    }
    expected = {t: expected.get(t, 0) for t in tile_ids}
    for i, got in enumerate(results):
        got = {t: got.get(t, 0) for t in tile_ids}
        bench.check(f"geotag pass {i}: per-tile counts", got == expected)
    fr = state["frames"]
    sample = amp.sample(n=min(300, n_pages), random_state=bench.seed % (2**32))
    urls = sample.url.tolist()
    got_text = {
        r["url"]: r["text"]
        for r in fr["dedup"].filter(F.col("url").isin(urls)).select("url", "text").collect()
    }
    want_text = dict(zip(amp.url, amp.text))
    bench.check("geotag text byte-identical per url",
                all(got_text.get(u, None) is not None
                    and got_text[u].encode() == want_text[u].encode() for u in urls))
    plan = fr["dedup"]._jdf.queryExecution().executedPlan().toString()
    exchanges = sum(
        1 for line in plan.splitlines()
        if line.strip().lstrip("+-*: ").startswith("Exchange")
    )
    bench.check("bucketed scan: no exchange before the dedup window", exchanges == 0)
    bench.mark("checks")

    bench.report.append(
        f"geotag_bulk: {n_pages} pages (sf{sf} x{amplify}), {len(tile_ids)} tiles,"
        f" {N_BUCKETS} url buckets"
    )
    if bench.traced:
        layer = geotag_layers(bench, fr, probes, write_times, path, n_pages,
                              build_tileset_s, ts, sum(results[-1].values()))
        layer["storage.exchanges_before_window"] = (float(exchanges), "count")
        spark_layer_metrics(bench, layer, GEOTAG_LAYERS, probe_spark_diffs(bench))
        trace_report(bench, wall0, wall, traced_units, plain_units, sum(plain_units), layer)
        complete_layer_metrics(bench, layer, GEOTAG_NOT_RUN)
        return bench.result({}, layer)

    bench.report.append(
        f"local[{bench.threads}]: {len(passes)} passes over {n_pages} pages in {wall:.3f} s;"
        " pass seconds " + ", ".join(f"{x:.3f}" for x in passes)
    )
    return bench.result(client_metrics(setup_s, rss, n_pages, passes, wall), {})


# The layers geotag_bulk calls, and the listed metrics it cannot have:
# request plan building and the memo, buffer and kNN.
GEOTAG_LAYERS = ("storage", "pipeline", "sqlkernels", "tiles", "tagjoin")
GEOTAG_NOT_RUN = ("distance", "joins", "tagjoin.build_s", "tagjoin.memo_hit_ratio")
# The same for spatial_requests, which reads an unbucketed corpus built
# once in set-up and never runs the bulk pass whose counts tagjoin reports.
SPATIAL_LAYERS = ("tiles", "tagjoin", "distance", "joins")
SPATIAL_NOT_RUN = ("storage", "pipeline", "sqlkernels",
                   "tagjoin.candidates", "tagjoin.pairs", "tagjoin.keep_ratio")

PROBES = ("scan", "extract", "dedup", "encode", "pairs")
PROBE_LAYER = {"scan": "storage", "extract": "pipeline", "dedup": "pipeline",
               "encode": "sqlkernels", "pairs": "tagjoin"}


def probe_cycle(bench: Bench, fr: dict, probes: dict) -> None:
    """Noop-sink runs up to each layer boundary; the difference between
    consecutive probes is the time of the layer in between."""
    frames = {
        "scan": fr["scan"],
        "extract": fr["geo"],
        "dedup": fr["sel"],
        "encode": sqlkernels.with_s2_cellid(fr["sel"], "lat", "lng"),
        "pairs": fr["pairs"],
    }
    for name in PROBES:
        t0 = time.perf_counter()
        with bench.tracer.span(f"probe.{name}", f"probe:{name}"):
            noop(frames[name])
        probes[name] = time.perf_counter() - t0


def probe_spark_diffs(bench: Bench) -> dict:
    """Spark metrics of each lazy layer as the difference between its
    probe and the probe before it; the traced passes' aggregate beyond
    the pairs probe goes to tagjoin, the ingests to storage."""
    log = EventLog(os.path.join(bench.work, "eventlog"))
    prev = dict.fromkeys(SPARK_FIELDS, 0.0)
    out: dict[str, dict] = {}
    for name in PROBES:
        cur = log.layer(f"probe:{name}")
        diff = {f: cur[f] - prev[f] for f in SPARK_FIELDS}
        layer = PROBE_LAYER[name]
        if layer in out:
            out[layer] = {f: out[layer][f] + diff[f] for f in SPARK_FIELDS}
        else:
            out[layer] = diff
        prev = cur
    full = log.layer("tagjoin")
    n = max(1, log.by_group_count("tagjoin"))
    out["tagjoin"] = {f: out["tagjoin"][f] + full[f] / n - prev[f] for f in SPARK_FIELDS}
    writes = log.layer("storage")
    n = max(1, log.by_group_count("storage"))
    out["storage"] = {f: out["storage"][f] + writes[f] / n for f in SPARK_FIELDS}
    return out


def geotag_layers(bench, fr, med, write_times, path, n_pages, build_tileset_s, ts,
                  n_pairs) -> dict:
    spark = bench.spark
    n_geo = fr["geo"].filter(F.col("lat").isNotNull()).count()
    n_dedup = fr["dedup"].count()
    n_cand = tagjoin.tag_candidates(spark, fr["sel"], ts).count()
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return {
        "storage.write_s": (median(write_times), "s"),
        "storage.bytes_per_page": (size / n_pages, "bytes"),
        "storage.scan_s": (med["scan"], "s"),
        "pipeline.extract_geotags_s": (med["extract"] - med["scan"], "s"),
        "pipeline.geotag_yield": (n_geo / n_pages, "ratio"),
        "pipeline.dedup_latest_s": (med["dedup"] - med["extract"], "s"),
        "pipeline.dedup_keep_ratio": (n_dedup / n_pages, "ratio"),
        "sqlkernels.encode_s": (med["encode"] - med["dedup"], "s"),
        "tiles.build_tileset_s": (build_tileset_s, "s"),
        "tiles.covering_cells": (float(len(ts.cov_cell)), "count"),
        "tagjoin.run_s": (med["pairs"] - med["encode"], "s"),
        "tagjoin.candidates": (float(n_cand), "count"),
        "tagjoin.pairs": (float(n_pairs), "count"),
        "tagjoin.keep_ratio": (n_pairs / max(n_cand, 1), "ratio"),
    }


# ======================================================= spatial_requests

FIXED_QUERY = {"rect": "rect_tag", "cap": "cap_tag", "poly": "pip_tag",
               "bigpoly": "pip_big", "buffer": "buffer_tag", "knn": "knn",
               "raster": "tile_raster"}
KIND_LAYER = {"rect": "tagjoin", "cap": "tagjoin", "poly": "tagjoin",
              "bigpoly": "tagjoin", "raster": "tagjoin", "buffer": "distance",
              "knn": "joins"}


def run_spatial_requests(bench: Bench) -> dict:
    sf = SMOKE_SF if bench.args.smoke else REQUESTS_SF
    work = bench.work
    gen.write_tables(work, bench.seed, sf, SMOKE_EMB)
    con = checks.duck(work)
    state: dict = {}
    queries = E.queries()
    done: list[tuple] = []  # (request, answer) of every request, checked later
    bench.mark("inputs")

    def corpus():
        spark = bench.spark
        pg = pages(spark, work)
        geo = pipeline.extract_geotags(pg)
        state["geo"] = geo.select("url", "doc_id", "lat", "lng")
        state["pts"] = (
            pipeline.dedup_latest(geo).filter(F.col("lat").isNotNull())
            .select(F.col("url").alias("id"), "lat", "lng")
        )
        state["geo"].count()

    def warm_fixed():
        for _ in range(WARM_CALLS):
            for kind in gen.FIXED_PER_BLOCK:
                out = queries[FIXED_QUERY[kind]](bench.spark, work).toPandas()
                done.append((gen.Request(kind, True, {}), out))
    n_warm = WARM_CALLS * len(gen.FIXED_PER_BLOCK)

    setup_s = timed_setup(bench, corpus, warm_fixed)
    bench.mark("setup")

    rng = np.random.default_rng([bench.seed, 5])
    latencies: list[float] = []
    traced_units, plain_units = [], []
    untraced_s = 0.0
    memo = {"calls": 0, "hits": 0, "seen": {}}
    build = {"tileset": [], "tagjoin": [], "cells": []}
    n_blocks = max(1, math.ceil(bench.seconds / BLOCK_SECONDS))
    n_poly = 0
    rid = 0
    by_kind: dict[str, list[float]] = {}
    wall0 = time.perf_counter()
    # Whole blocks only, so every run sends the same request mix.
    for block in range(n_blocks):
        for req in gen.request_block(rng, block):
            rid += 1
            # The traced run leaves every other fixed pip_tag request
            # untraced; those pairs give the tracing overhead.
            fixed_poly = req.fixed and req.kind == "poly"
            trace_this = bench.traced and not (fixed_poly and n_poly % 2 == 1)
            n_poly += fixed_poly
            bench.tracer.enabled = trace_this
            t0 = time.perf_counter()
            try:
                with bench.tracer.span(f"request.{req.kind}", None, request=rid):
                    out = serve(bench, req, state, queries, memo, build, rid)
            except Exception as exc:  # a failed request still counts
                bench.op_failed(f"request {rid} {req.kind}", exc)
                continue
            took = time.perf_counter() - t0
            bench.tracer.enabled = bench.traced
            latencies.append(took)
            by_kind.setdefault(f"{req.kind} {'fixed' if req.fixed else 'fresh'}", []).append(took)
            if not trace_this:
                untraced_s += took
            if fixed_poly:  # one kind, so like is compared with like
                (traced_units if trace_this else plain_units).append(took)
            done.append((req, out))
    wall = time.perf_counter() - wall0
    rss = bench.rss()
    bench.mark("window")

    # ---- checks
    oracle = E.oracle_sql()
    expect_fixed: dict[str, pd.DataFrame] = {}
    sample = checks.sample_points(con, bench.seed, 400)
    dedup_pts = con.sql(
        f"SELECT url, lat_e6/1e6 AS lat, lng_e6/1e6 AS lng FROM ("
        f" SELECT *, row_number() OVER (PARTITION BY url ORDER BY warc_ts_sec DESC,"
        f" doc_id DESC) AS rn FROM ({PAGES_SQL})) WHERE rn = 1 AND lat_e6 IS NOT NULL"
    ).df()
    for i, (req, out) in enumerate(done):
        name = f"request {i} {req.kind} {'fixed' if req.fixed else 'fresh'}"
        if req.fixed:
            q = FIXED_QUERY[req.kind]
            if q not in expect_fixed:
                expect_fixed[q] = con.sql(oracle[q]).df()
            bench.check(name, checks.frames_equal(out, expect_fixed[q]))
        else:
            bench.check(name, check_fresh(req, out, sample, dedup_pts))
    bench.mark("checks")

    timed = done[n_warm:]
    n = len(latencies)
    n_tail, tail = tail_mean(latencies)
    bench.report.append(
        f"spatial_requests: {gen.n_docs(sf)} pages (sf{sf}), {n} requests"
        f" ({sum(r.fixed for r, _ in timed)} on fixed tile sets, {sum(not r.fixed for r, _ in timed)} fresh)"
    )
    pct, at_pct = percentile_with_10_beyond(latencies)
    # Printed, not a listed metric: one 240-edge fresh request makes up
    # most of it, and its spread over seeds is wider than any bound the
    # benchmark may set (README.md).
    bench.report.append(
        f"request_tail_s = {tail:.6g} s, the mean of the slowest {n_tail} of {n}"
        f" latencies (beyond p{100 * (1 - TAIL_SHARE):.0f}); the highest percentile"
        f" with 10 samples beyond it is p{pct} = {at_pct:.4f} s"
    )
    bench.report.append("request latency by kind (s): " + "; ".join(
        f"{k} " + " ".join(f"{x:.3f}" for x in xs) for k, xs in sorted(by_kind.items())))
    if bench.traced:
        tr = bench.tracer
        layer = {
            "tiles.build_tileset_s": (median_or_0(build["tileset"]), "s"),
            "tiles.covering_cells": (median_or_0(build["cells"]), "count"),
            "tagjoin.build_s": (median_or_0(build["tagjoin"]), "s"),
            "tagjoin.memo_hit_ratio": (memo["hits"] / max(memo["calls"], 1), "ratio"),
            "tagjoin.run_s": (median_or_0(tr.durations("tagjoin.run")), "s"),
            "distance.buffer_s": (median_or_0(tr.durations("distance.run")), "s"),
            "joins.knn_s": (median_or_0(tr.durations("joins.run")), "s"),
            "joins.knn_jobs": (median_or_0(tr.jobs("joins.run")), "count"),
        }
        spark_layer_metrics(bench, layer, SPATIAL_LAYERS)
        trace_report(bench, wall0, wall, traced_units, plain_units, untraced_s, layer)
        complete_layer_metrics(bench, layer, SPATIAL_NOT_RUN)
        return bench.result({}, layer)
    return bench.result(client_metrics(setup_s, rss, gen.n_docs(sf), latencies, wall), {})


# With 22 requests per run and only two of them fresh, the
# highest percentile with ten samples beyond it falls among the cheap
# repeated requests; the mean of the slowest 30% is what the fresh
# requests move.
TAIL_SHARE = 0.3


def tail_mean(xs: list[float]) -> tuple[int, float]:
    """Mean latency of the slowest TAIL_SHARE of the requests (the
    expected latency beyond p70): (samples averaged, mean)."""
    k = max(1, round(len(xs) * TAIL_SHARE))
    slow = sorted(xs)[-k:]
    return k, sum(slow) / k


def percentile_with_10_beyond(xs: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least 10 samples beyond it."""
    s = sorted(xs)
    for pct in range(99, -1, -1):
        value = float(np.percentile(s, pct, method="lower"))
        if sum(1 for x in s if x > value) >= 10:
            return pct, value
    return 0, s[0]


def serve(bench: Bench, req, state, queries, memo, build, rid) -> pd.DataFrame:
    """One request, answered to the client as a pandas frame."""
    spark = bench.spark
    tr = bench.tracer
    layer = KIND_LAYER[req.kind]
    if req.fixed:
        name = FIXED_QUERY[req.kind]
        with tr.span(f"{layer}.build", layer, request=rid):
            df = queries[name](spark, bench.work)
        if layer == "tagjoin":
            memo_seen(memo, ("fixed", name), df)
        with tr.span(f"{layer}.run", layer, request=rid):
            return df.toPandas()
    p = req.params
    if req.kind in ("rect", "cap", "poly", "bigpoly", "raster"):
        shape = fresh_shape(req, geojson=True)
        t0 = time.perf_counter()
        with tr.span("tiles.build_tileset", "tiles", request=rid):
            ts = tiles.build_tileset([("fresh", shape)], max_cells=64)
        build["tileset"].append(time.perf_counter() - t0)
        build["cells"].append(len(ts.cov_cell))
        t0 = time.perf_counter()
        with tr.span("tagjoin.build", "tagjoin", request=rid):
            raster = req.kind == "raster"
            pairs = tagjoin.tag_tiles_pairs(
                spark, state["geo"], ts, cellid_col="cellid" if raster else None)
            memo_seen(memo, ("fresh", rid), pairs)
            if raster:
                df = pairs.groupBy(
                    sqlkernels.s2_token_sql(sqlkernels.s2_parent_sql("cellid", 8)).alias("cell_l8")
                ).agg(F.count("*").alias("n_pages"))
            else:
                df = pairs.select("doc_id")
            df._jdf.queryExecution().optimizedPlan()
        build["tagjoin"].append(time.perf_counter() - t0)
        with tr.span("tagjoin.run", "tagjoin", request=rid):
            return df.toPandas()
    if req.kind == "buffer":
        with tr.span("distance.build", "distance", request=rid):
            df = distance.tag_within_distance(
                state["geo"].filter(F.col("lat").isNotNull()), p["ring"], p["radius_deg"]
            ).select("doc_id", "bdist")
        with tr.span("distance.run", "distance", request=rid):
            return df.toPandas()
    if req.kind == "knn":
        vals = ", ".join(
            f"({q}, CAST('{la!r}' AS DOUBLE), CAST('{ln!r}' AS DOUBLE))"
            for q, la, ln in p["points"]
        )
        with tr.span("joins.build", "joins", request=rid):
            qdf = spark.sql(f"SELECT * FROM VALUES {vals} AS q(query_id, qlat, qlng)")
            df = joins.knn_join(spark, state["pts"], qdf, k=p["k"], level=8)
        with tr.span("joins.run", "joins", request=rid):
            return df.toPandas()
    raise ValueError(req.kind)


def memo_seen(memo: dict, key, df) -> None:
    """A plan-memo hit is the same DataFrame object handed back again."""
    memo["calls"] += 1
    memo["hits"] += memo["seen"].get(key) is df
    memo["seen"][key] = df


def fresh_shape(req, geojson: bool = False):
    """The shape of a fresh rect/cap/polygon request; polygons as a
    GeoJSON dict when ``geojson`` (the engine's input), else as the
    scalar port's Polygon."""
    p = req.params
    if req.kind == "rect":
        return Rect(R1Interval(p["lat_lo"] * D, p["lat_hi"] * D),
                    S1Interval.from_endpoints(p["lng_lo"] * D, p["lng_hi"] * D))
    if req.kind == "cap":
        return Cap.from_center_angle(
            Point.from_latlng_degrees(p["lat"], p["lng"]), p["radius_deg"] * D)
    geom = {"type": "Polygon", "coordinates": [p["ring"]]}
    return geom if geojson else from_geojson(geom)


def check_fresh(req, out: pd.DataFrame, sample, dedup_pts) -> bool:
    p = req.params
    if req.kind in ("rect", "cap", "poly", "bigpoly"):
        return checks.check_membership(fresh_shape(req), sample, out.doc_id)
    if req.kind == "raster":
        # every sampled page inside the polygon lies in a level-8 cell
        # that the raster reports
        from s2js_spark.geometry import cellid_scalar as cs

        inside = checks.contains_sample(fresh_shape(req), sample)
        cells = set(out.cell_l8)
        sub = sample[sample.doc_id.isin(inside)]
        want = {
            cs.to_token(cs.parent(cs.from_latlng_degrees(float(la), float(ln)), 8))
            for la, ln in zip(sub.lat, sub.lng)
        }
        return want <= cells
    if req.kind == "buffer":
        return checks.check_buffer(p["ring"], p["radius_deg"], sample, out)
    if req.kind == "knn":
        want = checks.knn_expected(dedup_pts, p["points"], p["k"])
        return checks.check_knn(want, out)
    raise ValueError(req.kind)


# ============================================================= text_dedup

def run_text_dedup(bench: Bench) -> dict:
    sf, n_emb = (SMOKE_SF, SMOKE_EMB) if bench.args.smoke else (TEXT_SF, TEXT_EMB)
    work = bench.work
    gen.write_tables(work, bench.seed, sf, n_emb)
    con = checks.duck(work)
    state: dict = {}
    bench.mark("inputs")

    def inputs():
        spark = bench.spark
        state["pages"] = pages(spark, work)
        state["emb"] = spark.read.parquet(f"{work}/embeddings.parquet").repartition(
            spark.sparkContext.defaultParallelism, F.col("vec_id"))
        state["pages"].count()
        state["emb"].count()

    setup_s = timed_setup(bench, inputs, lambda: None)
    bench.mark("setup")

    batches, traced_units, plain_units = [], [], []
    outputs: list[dict] = []
    step_t = {"exact": [], "minhash": [], "semantic": []}
    wall0 = time.perf_counter()
    end = wall0 + bench.seconds
    i = 0
    while True:
        trace_this = bench.traced and i % 2 == 0
        bench.tracer.enabled = trace_this
        t0 = time.perf_counter()
        try:
            out = dedup_batch(bench, state, step_t)
        except Exception as exc:
            bench.op_failed(f"dedup batch {i}", exc)
            out = None
        took = time.perf_counter() - t0
        bench.tracer.enabled = bench.traced
        if out is not None:
            outputs.append(out)
            batches.append(took)
            (traced_units if trace_this else plain_units).append(took)
        i += 1
        if time.perf_counter() >= end and (not bench.traced or i >= 2):
            break
    wall = time.perf_counter() - wall0
    rss = bench.rss()
    bench.mark("window")

    oracle = E.oracle_sql()
    want = {k: con.sql(oracle[k]).df() for k in ("exact_dedup", "minhash_dedup", "semantic_dedup")}
    for bi, out in enumerate(outputs):
        for k, df in out.items():
            bench.check(f"dedup batch {bi}: {k}", checks.frames_equal(df, want[k]))
    bench.mark("checks")
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    bench.report.append(
        f"text_dedup: {n_docs} documents (sf{sf}), {n_emb} embeddings,"
        f" {len(batches)} batches"
    )
    if bench.traced:
        layer = {
            "textops.exact_dedup_s": (median(step_t["exact"]), "s"),
            "textops.minhash_dedup_s": (median(step_t["minhash"]), "s"),
            "textops.minhash_dedup_jobs": (median(bench.tracer.jobs("textops.minhash_dedup")), "count"),
            "similarity.semantic_dedup_s": (median(step_t["semantic"]), "s"),
            "similarity.semantic_dedup_jobs": (median(bench.tracer.jobs("similarity.semantic_dedup")), "count"),
        }
        spark_layer_metrics(bench, layer, TEXT_LAYERS)
        trace_report(bench, wall0, wall, traced_units, plain_units, sum(plain_units), layer)
        return bench.result({}, layer)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "dedup_batch_s": (median(batches), "s"),
    }
    return bench.result(e2e, {})


def dedup_batch(bench: Bench, state, step_t) -> dict:
    """exact + minhash dedup over the pages, semantic dedup over the
    embeddings; complete decisions collected to the driver."""
    spark = bench.spark
    tr = bench.tracer
    out = {}
    t0 = time.perf_counter()
    with tr.span("textops.exact_dedup", "textops"):
        out["exact_dedup"] = textops.exact_dedup(state["pages"]).select(
            "content_hash", F.col("url").alias("url_keep")).toPandas()
    step_t["exact"].append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    with tr.span("textops.minhash_dedup", "textops"):
        out["minhash_dedup"] = textops.minhash_dedup(
            pipeline.dedup_latest(state["pages"]), bands=4, num_hashes=8, k=8
        ).toPandas()
    step_t["minhash"].append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    with tr.span("similarity.semantic_dedup", "similarity"):
        out["semantic_dedup"] = similarity.semantic_dedup(
            spark, state["emb"], threshold=0.35
        ).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("rep").cast("long").alias("rep"),
            F.col("keep").cast("long").alias("keep"),
        ).toPandas()
    step_t["semantic"].append(time.perf_counter() - t0)
    return out


RUNNERS = {
    "geotag_bulk": run_geotag_bulk,
    "spatial_requests": run_spatial_requests,
    "text_dedup": run_text_dedup,
}
