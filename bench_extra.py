"""Round-6 measurement harness (bench.py is FROZEN for grading; this
file exists so the optimization round can isolate and decompose costs
without touching the measured surface).

Phases (select with argv[1], default "queries"):

- ``queries``  : every declared query, frozen-bench methodology
                 (1 untimed warm-up + best-of-3 noop-sink runs), plus
                 the number of Spark jobs the timed run launches.
- ``flagship`` : the x1600 flagship wall (warm-up + best-of-3), same
                 estimator as bench.paired_flagship's uniform side.
- ``plans``    : dump .explain("formatted") for the headline queries
                 into plans/r06/<query>_<tag>.txt (tag = argv[2]).
- ``micro``    : decomposition probes (pages scan alone, scan+regex,
                 scan+regex+dedup, encode, ...) to attribute the
                 flagship / per-query walls to pipeline stages.
- ``plancost`` : fixed per-query plan cost of the spatial-join frames
                 (pip_tag, rect_tag, pip_big, tile_raster,
                 buffer_tag_multi, flagship):
                 optimizer and planning ms, executed-plan characters,
                 the serialized bytes each task deserializes (every
                 codegen stage's ``references``; the expressions of
                 operators outside whole-stage codegen), each stage's
                 largest generated method, the CodegenFallback
                 expressions in the plan and its BroadcastExchange
                 count.

Usage: python bench_extra.py [phase] [tag] [only_query ...]
       python bench_extra.py plancost [only_frame ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from s2js_spark.spark.session import PYTHON_DAEMON

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def session(n_threads: int = CPUS) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return (
        SparkSession.builder.master(f"local[{n_threads}]")
        .appName(f"bench-extra-{n_threads}")
        .config("spark.sql.shuffle.partitions", str(max(8, n_threads)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", "/dev/shm/spark-bench")
        .config("spark.ui.enabled", "false")
        .config(*PYTHON_DAEMON)
        .getOrCreate()
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed_best3(spark, builder, label: str):
    """Frozen-bench methodology: warm-up, then best-of-3; also report
    the job count of the LAST timed run (statusTracker delta)."""
    spark.sparkContext.setJobDescription(f"{label}: warmup")
    _noop(builder())
    st = spark.sparkContext.statusTracker()
    best = float("inf")
    jobs = 0
    for i in range(3):
        before = len(st.getJobIdsForGroup(None) or [])
        spark.sparkContext.setJobDescription(f"{label}: run{i}")
        t0 = time.time()
        _noop(builder())
        dt = time.time() - t0
        jobs = len(st.getJobIdsForGroup(None) or []) - before
        best = min(best, dt)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3), jobs


def phase_queries(only=None):
    import __spark_entry__ as e

    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    names = list(qs) if not only else [n for n in qs if n in only]
    out = {}
    for name in names:
        w, jobs = timed_best3(spark, lambda: qs[name](spark, SF_DIR), name)
        out[name] = {"sec": w, "jobs": jobs}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"phase": "queries", "sf": SF_DIR, "results": out}))
    spark.stop()


def phase_flagship():
    import bench

    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    ts = bench.tileset()

    def one():
        _df, agg = bench.flagship_frames(spark, ts)
        t0 = time.time()
        agg.collect()
        return time.time() - t0

    one()  # warm-up
    walls = [one() for _ in range(3)]
    print(json.dumps({"phase": "flagship", "walls": [round(w, 3) for w in walls],
                      "best": round(min(walls), 3)}))
    spark.stop()


def phase_plans(tag="before", only=None):
    import __spark_entry__ as e

    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    names = [
        "rect_tag", "pip_tag", "pip_big", "buffer_tag", "tile_raster",
        "knn", "exact_dedup", "minhash_bands", "ann_topk", "tpch_q1",
        "geo_extract", "dedup_latest", "cell_rollup", "cell_vectorize",
        "ann_lsh_self", "minhash_dedup", "semantic_dedup", "knn_auto",
    ]
    if only:
        names = [n for n in names if n in only]
    os.makedirs("plans/r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        p = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(f"plans/r06/{name}_{tag}.txt", "w") as fh:
            fh.write(p)
        print(name, "->", f"plans/r06/{name}_{tag}.txt", len(p), "bytes")
    spark.stop()


def phase_micro():
    """Stage-attribution probes over the x1600 bucketed corpus and the
    raw sf pages frame."""
    import bench
    from s2js_spark.spark.pages import pages
    from s2js_spark.spark.pipeline import dedup_latest, encode_cells, extract_geotags

    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    probes = {}

    def probe(name, builder, n=3):
        spark.sparkContext.setJobDescription(name)
        _noop(builder())  # warm
        best = float("inf")
        for _ in range(n):
            t0 = time.time()
            _noop(builder())
            best = min(best, time.time() - t0)
        probes[name] = round(best, 3)
        print(json.dumps({name: probes[name]}), flush=True)

    # ---- raw sf-dir pipeline stages (what the 10 timed queries pay)
    probe("pages_scan", lambda: pages(spark, SF_DIR))
    probe("pages_url_only", lambda: pages(spark, SF_DIR).select("url"))
    probe("geo_regex", lambda: extract_geotags(pages(spark, SF_DIR)).select("url", "lat", "lng"))
    probe("geo_dedup", lambda: dedup_latest(extract_geotags(pages(spark, SF_DIR))).select("url", "lat", "lng"))
    probe("geo_encode", lambda: encode_cells(
        extract_geotags(pages(spark, SF_DIR)).filter(F.col("lat").isNotNull())
    ).select("url", "cellid"))
    probe("spark_range_baseline", lambda: spark.range(1_000_000))

    # ---- x1600 bucketed corpus stages (the flagship decomposition)
    ts = bench.tileset()
    bp = lambda: bench.bucketed_pages(spark)
    probe("fl_scan_html", lambda: bp().select("url", "html"))
    probe("fl_regex", lambda: extract_geotags(bp()).select("url", "lat", "lng"))
    probe("fl_regex_dedup", lambda: dedup_latest(extract_geotags(bp())).select("url", "lat", "lng"))
    def fl_full():
        _df, agg = bench.flagship_frames(spark, ts)
        return agg
    probe("fl_full", fl_full)
    print(json.dumps({"phase": "micro", "results": probes}))
    spark.stop()


_FALLBACK = "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback"


def plan_cost(spark, build, runs: int = 3) -> dict:
    """Plan-cost figures of the frame ``build()`` returns, each build a
    fresh Dataset run once with ``collect``: best optimizer / planning
    ms (QueryPlanningTracker phases) over ``runs`` builds after a
    warm-up, and from the last run the executed-plan characters
    before execution, the serialized bytes of every codegen stage's
    ``references`` (what each of its tasks deserializes; a
    HashAggregateExec puts itself, child plan included, there), each
    stage's largest generated method in bytecode bytes (HotSpot does
    not JIT-compile a method above 8,000), the serialized expressions
    of non-leaf operators outside whole-stage codegen (each task
    generates their projections again), the simple names of
    CodegenFallback expressions and the number of BroadcastExchange
    operators (each broadcast runs one Spark job)."""
    jvm = spark._jvm
    ser = jvm.org.apache.spark.util.Utils.serialize
    fallback = jvm.java.lang.Class.forName(_FALLBACK)
    opt, planning = [], []
    for i in range(runs + 1):
        df = build()
        qe = df._jdf.queryExecution()
        plan_chars = len(qe.executedPlan().toString())
        df.collect()
        phases = qe.tracker().phases()
        if i:
            opt.append(phases.get("optimization").get().durationMs())
            planning.append(phases.get("planning").get().durationMs())

    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    stages, max_method, outside, classes = {}, {}, {}, set()
    broadcasts = 0

    def expr_classes(node):
        exprs = node.expressions()
        for k in range(exprs.size()):
            classes.update(n["class"] for n in json.loads(exprs.apply(k).toJSON()))

    def walk(node, in_stage):
        nonlocal broadcasts
        cls = node.getClass().getSimpleName()
        broadcasts += cls == "BroadcastExchangeExec"
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), False)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), False)
        if cls.startswith("Reused"):
            return
        if cls == "WholeStageCodegenExec":
            gen, sid = node.doCodeGen(), f"*({node.codegenStageId()})"
            stages[sid] = len(ser(gen._1().references()))
            max_method[sid] = codegen.compile(gen._2())._2().maxMethodCodeSize()
            in_stage = True
        elif cls == "InputAdapter":
            in_stage = False
        elif not in_stage and node.children().nonEmpty() and node.expressions().nonEmpty():
            key = f"{cls} #{len(outside)}"
            outside[key] = len(ser(node.expressions()))
        expr_classes(node)
        kids = node.children()
        for k in range(kids.size()):
            walk(kids.apply(k), in_stage)

    walk(qe.executedPlan(), False)
    fallbacks = sorted(
        c.rsplit(".", 1)[-1] for c in classes
        if fallback.isAssignableFrom(jvm.java.lang.Class.forName(c))
    )
    return {
        "optimize_ms": min(opt), "planning_ms": min(planning),
        "plan_chars": plan_chars, "codegen_refs_bytes": stages,
        "max_method_bytecode": max_method,
        "outside_codegen_bytes": outside, "codegen_fallbacks": fallbacks,
        "broadcast_exchanges": broadcasts,
    }


def phase_plancost(only=None):
    """plan_cost of the spatial-join frames. The flagship frame runs over a
    x1 bucketed corpus: its plan is the x1600 plan, at a size that
    fits any host."""
    import __spark_entry__ as e
    import bench

    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    builders = {
        name: (lambda name=name: qs[name](spark, SF_DIR))
        for name in ("pip_tag", "rect_tag", "pip_big", "tile_raster", "buffer_tag_multi")
    }
    ts = bench.tileset()
    builders["flagship"] = lambda: bench.flagship_frames(spark, ts, amplify=1)[1]
    out = {}
    for name, build in builders.items():
        if only and name not in only:
            continue
        out[name] = plan_cost(spark, build)
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"phase": "plancost", "sf": SF_DIR, "results": out}))
    spark.stop()


if __name__ == "__main__":
    phase = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if phase == "queries":
        phase_queries(only=sys.argv[2:] or None)
    elif phase == "flagship":
        phase_flagship()
    elif phase == "plans":
        tag = sys.argv[2] if len(sys.argv) > 2 else "before"
        phase_plans(tag, only=sys.argv[3:] or None)
    elif phase == "micro":
        phase_micro()
    elif phase == "plancost":
        phase_plancost(only=sys.argv[2:] or None)
    else:
        raise SystemExit(f"unknown phase {phase}")
