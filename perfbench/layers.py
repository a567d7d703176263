"""The traced run: each pipeline layer timed on its own, from outside.

A Spark layer is timed as an isolated job (a ``noop`` write) over the
workload's input, minus the plain scan job; a Python kernel is called
directly, single-threaded, on a fixed ~1.5 MB text sample. Every call
runs inside a span. PREDICTIONS.md says which end-to-end metric each
layer metric should move, on which workload.
"""

import statistics
import sys
import time
from typing import Callable, Dict, List

import procfs
from workloads import DIGEST_COLUMNS, LANGUAGES

LAYER_REPS = 2            # timed reps per layer job, after one warm rep
SAMPLE_TEXT_BYTES = 1_500_000   # kernel sample: ~2k web_mixed docs
COVERAGE_BAND = 0.15      # |coverage - 1| above this is reported

UNITS = {
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "detect.udf_s": "s", "detect.udf_cpu_s": "s",
    "detect.arrow_in_mb": "MB", "detect.udf_overhead_s": "s",
    "scoring.us_per_doc": "us", "detect.us_per_doc": "us",
    "detect.entities_per_doc": "count", "detect.hit_frac": "ratio",
    "quality.rules_s": "s", "quality.rules_cpu_s": "s",
    "scrubnative.scrub_s": "s", "decision.decide_s": "s",
    "pipeline.plan_s": "s", "pipeline.digest_s": "s",
    "pipeline.wall_s": "s", "pipeline.fixed_s": "s",
    "pipeline.layer_coverage": "ratio",
    "checkpoint.run_s": "s", "checkpoint.write_overhead_s": "s",
    "checkpoint.jobs": "count", "checkpoint.files": "count",
    "checkpoint.write_amp": "ratio",
    "config.session_s": "s", "config.first_job_s": "s",
    "host.steal_frac": "ratio", "host.rep_spread": "ratio",
}

# the layers whose costs add up to one pipeline run
COVERAGE_TERMS = ("pipeline.plan_s", "sources.scan_s", "detect.udf_s",
                  "quality.rules_s", "scrubnative.scrub_s",
                  "decision.decide_s", "pipeline.digest_s")


def _timed(tracer, name: str, fn: Callable[[], None]) -> Dict[str, float]:
    """One warm call, then LAYER_REPS timed calls: median wall and median
    process-tree CPU seconds."""
    walls, cpus = [], []
    for i in range(LAYER_REPS + 1):
        c0 = procfs.tree_cpu_s()
        t0 = time.perf_counter()
        with tracer.span(name, warm=i == 0):
            fn()
        if i:
            walls.append(time.perf_counter() - t0)
            cpus.append(procfs.tree_cpu_s() - c0)
    return {"wall": statistics.median(walls), "cpu": statistics.median(cpus)}


def _noop(df) -> Callable[[], None]:
    return lambda: df.write.format("noop").mode("overwrite").save()


def _sample(records: List[Dict]) -> List[Dict]:
    out, size = [], 0
    for r in records:
        if size >= SAMPLE_TEXT_BYTES:
            break
        out.append(r)
        size += len(r["text"].encode("utf-8"))
    return out


def _kernels(tracer, records: List[Dict]) -> Dict[str, float]:
    """Direct single-thread calls of the two Python kernels the fused
    UDF runs, in the order the UDF runs them."""
    from pii_extract_base_spark.functions.scoring import score_batch
    from pii_extract_base_spark.operators.detect import detect_batch

    sample = _sample(records)
    texts = [r["text"] for r in sample]
    langs = [r["lang"] for r in sample]
    urls = [r["url"] for r in sample]
    score = _timed(tracer, "scoring.score_batch",
                   lambda: score_batch(texts))
    detect = _timed(tracer, "detect.detect_batch",
                    lambda: detect_batch(texts, langs, urls, LANGUAGES,
                                         do_scrub=False))
    n = len(sample)
    return {"scoring.us_per_doc": 1e6 * score["wall"] / n,
            "detect.us_per_doc": 1e6 * detect["wall"] / n}


def _spark_layers(bench, tracer) -> Dict[str, float]:
    from pyspark.sql import functions as F

    from pii_extract_base_spark.functions.decision import decision_columns
    from pii_extract_base_spark.functions.quality import rules_struct_column
    from pii_extract_base_spark.functions.scrubnative import scrub_expr
    from pii_extract_base_spark.operators.detect import make_fused_udf

    src = bench.source()
    udf = make_fused_udf(LANGUAGES)
    sd = udf(F.col("text"), F.col("lang"), F.col("url"))
    rules = rules_struct_column("text", "lang")

    with tracer.span("layer.sources"):
        scan = _timed(tracer, "sources.scan", _noop(src))
    with tracer.span("layer.detect"):
        udf_job = _timed(tracer, "detect.udf", _noop(src.select(sd)))
    with tracer.span("layer.quality"):
        rules_job = _timed(tracer, "quality.rules",
                           _noop(src.select(rules.alias("rules"))))

    # scrub and decide consume the UDF's and the rules' outputs: time
    # them over a cached copy, minus a job reading the same cached columns
    cached = src.select("text", "lang", sd.alias("sd"),
                        rules.alias("rules")).cache()
    try:
        with tracer.span("layer.cache"):
            _noop(cached)()
        keep, reasons = decision_columns("rules", "lang", "sd")
        with tracer.span("layer.scrubnative"):
            scrub_base = _timed(tracer, "scrubnative.base", _noop(
                cached.select(F.length("text"), F.size("sd.entities"))))
            scrub = _timed(tracer, "scrubnative.scrub", _noop(
                cached.select(scrub_expr(F.col("text"),
                                         F.col("sd.entities")))))
        with tracer.span("layer.decision"):
            dec_base = _timed(tracer, "decision.base", _noop(
                cached.select(F.col("rules").isNull(), F.col("lang"),
                              F.col("sd").isNull())))
            dec = _timed(tracer, "decision.decide", _noop(
                cached.select(keep, reasons)))
    finally:
        cached.unpersist()

    return {
        "sources.scan_s": scan["wall"],
        "detect.udf_s": udf_job["wall"] - scan["wall"],
        "detect.udf_cpu_s": udf_job["cpu"] - scan["cpu"],
        "quality.rules_s": rules_job["wall"] - scan["wall"],
        "quality.rules_cpu_s": rules_job["cpu"] - scan["cpu"],
        "scrubnative.scrub_s": scrub["wall"] - scrub_base["wall"],
        "decision.decide_s": dec["wall"] - dec_base["wall"],
    }


def _pipeline(bench, tracer) -> Dict:
    """Catalyst planning of the full pipeline query; the per-query fixed
    cost (the full pipeline over the set-up job's TINY_DOCS docs); the
    output digest
    (the benchmark's sink) over a cached pipeline output, minus a job
    reading the same cached columns; then full-pipeline reps, traced
    and untraced interleaved (alternating which goes first): the traced
    median is ``pipeline.wall_s``, the gap is the tracing overhead."""
    from pyspark.sql import functions as F

    def plan():
        q = bench.pipeline(bench.source()).agg(F.sum("n_entities"))
        q._jdf.queryExecution().executedPlan()

    def traced_rep():
        t0 = time.perf_counter()
        with tracer.span("pipeline.run"):
            bench.run_pipeline()
        traced.append(time.perf_counter() - t0)

    def untraced_rep():
        enabled, tracer.enabled = tracer.enabled, False
        try:
            t0 = time.perf_counter()
            bench.run_pipeline()
            untraced.append(time.perf_counter() - t0)
        finally:
            tracer.enabled = enabled

    traced, untraced = [], []
    with tracer.span("layer.pipeline"):
        planned = _timed(tracer, "pipeline.plan", plan)
        tiny = bench.spark.read.parquet(bench.inp["tiny"])
        fixed = _timed(tracer, "pipeline.fixed",
                       lambda: bench.digest(bench.pipeline(tiny)))
        out = (bench.pipeline(bench.source())
               .select(*DIGEST_COLUMNS).cache())
        try:
            _noop(out)()                        # warm + materialize
            base = _timed(tracer, "pipeline.digest_base", _noop(out))
            digest = _timed(tracer, "pipeline.digest",
                            lambda: bench.check(*bench.digest(out)))
        finally:
            out.unpersist()
        for i in range(LAYER_REPS):
            for rep in ((traced_rep, untraced_rep) if i % 2 == 0
                        else (untraced_rep, traced_rep)):
                rep()
    return {"plan": planned["wall"], "fixed": fixed["wall"],
            "digest": digest["wall"] - base["wall"],
            "traced": traced, "untraced": untraced}


def _checkpoint(bench, tracer) -> Dict[str, float]:
    """One warm sink run, then LAYER_REPS timed ones, each into a fresh
    table: median wall; jobs, files and bytes of the last run."""
    with tracer.span("layer.checkpoint"):
        runs = [bench.run_checkpoint(i) for i in range(LAYER_REPS + 1)]
    last = runs[-1]
    return {"checkpoint.run_s": statistics.median(r["wall"]
                                                  for r in runs[1:]),
            "checkpoint.jobs": float(last["jobs"]),
            "checkpoint.files": float(last["files"]),
            "checkpoint.write_amp": last["bytes"] / bench.inp["text_bytes"]}


def traced_run(bench, checkpoint: bool) -> Dict:
    """Per-layer metrics for ``bench``'s workload: a fixed number of
    reps of every layer. ``checkpoint`` adds the checkpoint sink over
    the same input; without it the checkpoint metrics read 0."""
    tracer = bench.tracer
    inp = bench.inp
    n = inp["n_docs"]
    bench.warm_up()
    ticks0 = procfs.cpu_ticks()
    m: Dict[str, float] = {}
    with tracer.span("layers"):
        m.update(_spark_layers(bench, tracer))
        pipe = _pipeline(bench, tracer)
        with tracer.span("layer.kernels"):
            m.update(_kernels(tracer, inp["records"]))
        ckpt = _checkpoint(bench, tracer) if checkpoint else None
    o = inp["oracle"]
    wall = statistics.median(pipe["traced"])
    kernel_s = (m["scoring.us_per_doc"] + m["detect.us_per_doc"]) * n / 1e6
    m.update({
        "pipeline.plan_s": pipe["plan"],
        "pipeline.digest_s": pipe["digest"],
        "pipeline.wall_s": wall,
        "pipeline.fixed_s": pipe["fixed"],
    })
    m.update({
        "sources.input_mb": inp["input_bytes"] / 1e6,
        "detect.arrow_in_mb": inp["arrow_in_bytes"] / 1e6,
        "detect.udf_overhead_s": m["detect.udf_s"] - kernel_s / bench.cores,
        "detect.entities_per_doc": o["entities"] / n,
        "detect.hit_frac": o["hits"] / n,
        "pipeline.layer_coverage": sum(m[k] for k in COVERAGE_TERMS) / wall,
        "config.session_s": bench.setup["session_s"],
        "config.first_job_s": bench.setup["first_job_s"],
    })
    if ckpt:
        m.update(ckpt)
        m["checkpoint.write_overhead_s"] = ckpt["checkpoint.run_s"] - wall
    else:                               # no checkpoint layer ran
        m.update({k: 0.0 for k in UNITS if k.startswith("checkpoint.")})
    walls = pipe["traced"] + pipe["untraced"]
    m["host.steal_frac"] = procfs.steal_frac(ticks0, procfs.cpu_ticks())
    m["host.rep_spread"] = max(walls) / min(walls)
    return {"metrics": {k: m[k] for k in UNITS}, "walls": walls,
            "attempted": bench.checks, "failed": 0,
            "steal_frac": m["host.steal_frac"],
            "overhead": (statistics.median(pipe["traced"])
                         / statistics.median(pipe["untraced"]) - 1)}


def print_trace(tracer, m: Dict) -> None:
    """Self time per span name, layer coverage and tracing overhead."""
    out = sys.stdout
    print("span self time (s):", file=out)
    for name, s in sorted(tracer.self_times().items(),
                          key=lambda kv: -kv[1]):
        print(f"  {name:<28} {s:9.3f}", file=out)
    cov = m["metrics"]["pipeline.layer_coverage"]
    band = ("within" if abs(cov - 1) <= COVERAGE_BAND else "OUTSIDE")
    print(f"pipeline.layer_coverage {cov:.3f} ({band} the "
          f"{COVERAGE_BAND:.0%} band)", file=out)
    print(f"tracing overhead {m['overhead']:+.2%} of pipeline wall "
          f"(traced vs untraced median)", file=out, flush=True)
