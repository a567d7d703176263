#!/usr/bin/env python3
"""The repository benchmark: the web-text quality pipeline
(langid -> perplexity -> rules -> PII detect -> keep/drop + scrub) driven
through its public API on one of its workloads.

    python3 perfbench/run.py --workload web_mixed --seed 1 --seconds 8 \\
        --trace 0

Run it from the repository root. It

  1. builds the workload's input from ``--seed`` and writes it as parquet
     (untimed), with the pure-Python oracle's digest of the expected
     output (untimed, cached per seed under ``perfbench/.work``);
  2. starts a ``local[nproc]`` Spark session sized from the host and runs
     one tiny pipeline job: that is one set-up. ``setup_s`` is the median
     of SETUP_SAMPLES set-ups: this one, and after the measurement the
     same set-up in fresh processes (``--setup-only``), one at a time;
  3. warms up until two successive rep walls agree, then repeats the
     workload for ``--seconds``. Every rep's output digest must equal the
     oracle's and, for the seeds in ``expected_digests.json``, the digest
     committed there, or the rep counts as failed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instead times
each layer as its own job and reports the per-layer metrics, with spans
written to ``perfbench/.work/trace-<workload>-<seed>.jsonl``. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
``--workload all`` runs every workload in turn, each printing its own
summary and result lines.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path
from typing import NamedTuple

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path[:0] = [str(HERE), str(ROOT)]

import procfs  # noqa: E402  (needs the paths above)
import workloads  # noqa: E402


class Workload(NamedTuple):
    kind: str            # input generator: "web" | "long"
    n_docs: int
    checkpoint: bool     # its traced run also times the checkpoint sink


WORKLOADS = {
    "web_mixed": Workload("web", workloads.WEB_DOCS, True),
    "long_dense": Workload("long", workloads.LONG_DOCS, False),
}
TINY_DOCS = 8             # rows of the set-up job (and of pipeline.fixed_s)
SETUP_SAMPLES = 2         # set-ups per untraced run; setup_s is their median
MIN_REPS = 3              # reps in the window however short it is
WARM_AGREE = 0.05         # warm-up ends once two successive rep walls
WARM_MIN = 8              # agree this closely, after at least WARM_MIN
WARM_MAX = 12             # and at most WARM_MAX reps: the JIT keeps
                          # cutting rep CPU for ~12 reps, wall for ~4
CKPT_PARTITIONS = 8       # checkpoint commit partitions ...
CKPT_WAVE = 4             # ... written in waves of this many
CONTENTION_SPREAD = 3.0   # max/min rep wall above this flags the run

E2E_UNITS = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "s/kdoc",
             "setup_s": "s", "worker_rss_mb": "MB"}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _configure_env(cores: int, heap_mb: int) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    let the Python workers import the package from this checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_WAREHOUSE_DIR": str(WORK / "warehouse"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata files in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": str(ROOT) + (os.pathsep + pp if pp else ""),
    })
    import tempfile
    tempfile.tempdir = str(tmp)


# ---------------------------------------------------------------------------
# inputs


def _source_hash() -> str:
    """Oracle cache key part: the program and generator sources."""
    h = hashlib.sha1()
    files = sorted((ROOT / "pii_extract_base_spark").rglob("*.py"))
    for p in files + [HERE / "workloads.py"]:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def committed_digest(kind: str, seed: int, n: int):
    """The output digest ``expected.py`` committed for this input, or
    None for a seed it does not list."""
    table = json.loads((HERE / "expected_digests.json").read_text())
    return table.get(f"{kind}-{n}", {}).get(str(seed))


def materialize(kind: str, seed: int, n: int, cores: int) -> dict:
    """Write the first ``n`` docs of the seed's ``kind`` input as one
    parquet file per core and return its facts, including the oracle's
    digest and counts. One file is one scan task: smaller tasks would
    multiply the per-task UDF set-up far beyond what a production
    input's 128 MB partitions pay."""
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = WORK / "input"                # one run's input at a time
    if out.exists():
        shutil.rmtree(out)
    (out / "full").mkdir(parents=True)
    (out / "tiny").mkdir()
    cache = WORK / "oracle" / f"{kind}-{seed}-{n}-{_source_hash()}.json"
    oracle = json.loads(cache.read_text()) if cache.exists() else None

    n_files = cores
    bounds = [n * i // n_files for i in range(n_files + 1)]
    tasks = [(kind, seed, bounds[i], bounds[i + 1], oracle is None)
             for i in range(n_files)]
    with mp.get_context("spawn").Pool(cores) as pool:
        parts = pool.starmap(workloads.gen_and_oracle, tasks)

    text_bytes = arrow_in = in_bytes = 0
    x = rows = ents = hits = 0
    records = [r for recs, _o in parts for r in recs]
    for i, (recs, orc) in enumerate(parts):
        tbl = pa.table({
            "url": [r["url"] for r in recs],
            "warc_ts": pa.array([r["warc_ts"] for r in recs],
                                pa.timestamp("us")),
            "lang": [r["lang"] for r in recs],
            "text": [r["text"] for r in recs],
        })
        path = out / "full" / f"part-{i:05d}.parquet"
        pq.write_table(tbl, path)
        if i == 0:
            pq.write_table(tbl.slice(0, TINY_DOCS),
                           out / "tiny" / "part-00000.parquet")
        in_bytes += path.stat().st_size
        arrow_in += tbl.select(["text", "lang", "url"]).nbytes
        text_bytes += sum(len(r["text"].encode("utf-8")) for r in recs)
        if orc is not None:
            x ^= orc[0]
            rows, ents, hits = rows + orc[1], ents + orc[2], hits + orc[3]
    if oracle is None:
        oracle = {"digest": workloads.to_signed(x), "rows": rows,
                  "entities": ents, "hits": hits}
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(oracle))
    return {"n_docs": n, "path": str(out / "full"),
            "tiny": str(out / "tiny"), "records": records,
            "input_digest": workloads.input_digest(records),
            "input_bytes": in_bytes, "arrow_in_bytes": arrow_in,
            "text_bytes": text_bytes, "oracle": oracle,
            "expected": committed_digest(kind, seed, n)}


# ---------------------------------------------------------------------------
# Spark session


class Bench:
    """One Spark session plus the workload's rep function."""

    def __init__(self, workload: str, inp: dict, cores: int, tracer):
        self.workload = workload
        self.inp = inp
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.setup = {}
        self.checks = 0           # outputs compared with the oracle

    # -- set-up --------------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("config.session"):
            from pii_extract_base_spark.config import get_spark
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", cores=self.cores,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # one scan partition per input file
                    "spark.sql.files.minPartitionNum":
                        str(self.cores),
                })
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("config.first_job"):
            from pii_extract_base_spark.pipeline import QualityPipeline
            from workloads import LANGUAGES
            self.pipeline = QualityPipeline(LANGUAGES)
            self.digest(self.pipeline(
                self.spark.read.parquet(self.inp["tiny"])))
        t2 = time.perf_counter()
        self.setup = {"session_s": t1 - t0, "first_job_s": t2 - t1,
                      "setup_s": t2 - t0}

    def stop(self) -> None:
        """Stop Spark, then the JVM and, with it, the Python workers; wait
        for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()        # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- the measured work -----------------------------------------------------

    def digest(self, df):
        """(rows, order-independent output digest) in one aggregate."""
        from pyspark.sql import functions as F
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*workloads.DIGEST_COLUMNS)).alias("d")
        ).first()
        return row["n"], row["d"]

    def source(self):
        return self.spark.read.parquet(self.inp["path"])

    def check(self, n: int, d: int) -> None:
        """The live oracle recomputes with the program's own kernels, so
        a kernel change moves it too; the committed digest does not."""
        self.checks += 1
        o = self.inp["oracle"]
        if n != self.inp["n_docs"] or d != o["digest"]:
            raise AssertionError(
                f"output digest {d} over {n} rows != oracle "
                f"{o['digest']} over {self.inp['n_docs']} rows")
        want = self.inp["expected"]
        if want is not None and d != want:
            raise AssertionError(
                f"output digest {d} != committed digest {want}")

    def run_pipeline(self) -> None:
        self.check(*self.digest(self.pipeline(self.source())))

    def warm_up(self) -> list:
        """Untimed full reps until two successive walls agree within
        WARM_AGREE (JIT and worker caches warm); returns the walls."""
        walls = []
        while len(walls) < WARM_MAX:
            t0 = time.perf_counter()
            with self.tracer.span("warmup"):
                self.run_pipeline()
            walls.append(time.perf_counter() - t0)
            if (len(walls) >= WARM_MIN
                    and abs(walls[-1] / walls[-2] - 1) <= WARM_AGREE):
                break
        log("warm-up walls " + " ".join(f"{w:.3f}" for w in walls))
        return walls

    def run_checkpoint(self, rep: int) -> dict:
        """One CheckpointedSink run into a fresh table; returns the
        timed wall and the table's facts. Verification is untimed."""
        from pii_extract_base_spark.sinks.checkpoint import CheckpointedSink
        table = WORK / "tables" / f"{self.workload}-{rep}"
        if table.exists():
            shutil.rmtree(table)
        sc = self.spark.sparkContext
        group = f"perfbench-ckpt-{rep}"
        sc.setJobGroup(group, "checkpoint run")
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.run"):
            sink = CheckpointedSink(str(table), n_partitions=CKPT_PARTITIONS)
            sink.run(self.source(), self.pipeline, wave_size=CKPT_WAVE)
        wall = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        with self.tracer.span("checkpoint.verify"):
            self.check(*self.digest(sink.read(self.spark)))
            rows_in = sum(e["rows_in"] for e in sink.manifest_entries())
            if rows_in != self.inp["n_docs"]:
                raise AssertionError(f"manifest rows_in {rows_in} != "
                                     f"{self.inp['n_docs']} input docs")
        files = [p for p in table.rglob("*") if p.is_file()]
        facts = {"wall": wall, "jobs": jobs,
                 "files": sum(p.suffix == ".parquet" for p in files),
                 "bytes": sum(p.stat().st_size for p in files)}
        shutil.rmtree(table)
        return facts


# ---------------------------------------------------------------------------
# end-to-end run


def measure(bench: Bench, seconds: float) -> dict:
    try:
        warm = bench.warm_up()
    except Exception:               # the window's reps will count it
        log(f"warm-up failed:\n{traceback.format_exc()}")
        warm = []
    walls, cpus, steals, failed = [], [], [], 0
    ticks0 = procfs.cpu_ticks()
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i < MIN_REPS:
        c0 = procfs.tree_cpu_s()
        k0 = procfs.cpu_ticks()
        t0 = time.perf_counter()
        try:
            with bench.tracer.span("rep"):
                bench.run_pipeline()
        except Exception:           # a failed rep is counted, not fatal
            failed += 1
            log(f"rep {i} failed:\n{traceback.format_exc()}")
        else:
            walls.append(time.perf_counter() - t0)
            cpus.append(procfs.tree_cpu_s() - c0)
            steals.append(procfs.steal_frac(k0, procfs.cpu_ticks()))
        i += 1
    steal = procfs.steal_frac(ticks0, procfs.cpu_ticks())
    if walls and warm:  # >= 1: walls had stopped falling in warm-up
        log(f"window median wall / last warm-up wall "
            f"{statistics.median(walls) / warm[-1]:.3f}")
    log("rep walls " + " ".join(f"{w:.3f}" for w in walls)
        + " | cpu " + " ".join(f"{c:.2f}" for c in cpus)
        + " | steal " + " ".join(f"{x:.3f}" for x in steals))
    return {"walls": walls, "cpus": cpus, "attempted": i, "failed": failed,
            "steal_frac": steal,
            "worker_rss_mb": procfs.python_worker_hwm_mb()}


def setup_probe(args) -> float:
    """One more set-up, in a fresh process that does nothing else."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--setup-only"]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE,
                         text=True, timeout=170).stdout
    return json.loads(out.splitlines()[-1])["setup_s"]


def e2e_metrics(bench: Bench, m: dict, setups: list) -> dict:
    n = bench.inp["n_docs"]
    if not m["walls"]:
        return {}
    return {
        "docs_per_s": statistics.median(n / w for w in m["walls"]),
        "cpu_s_per_kdoc": statistics.median(1000 * c / n for c in m["cpus"]),
        "setup_s": statistics.median(setups),
        "worker_rss_mb": m["worker_rss_mb"],
    }


def rep_spread(walls) -> float:
    return max(walls) / min(walls) if walls else 0.0


# ---------------------------------------------------------------------------
# entry


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(WORKLOADS) + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="time one set-up on the input the last run wrote "
                         "and print it as JSON (what setup_s samples)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def run_all(args) -> int:
    """Each workload in its own process, one after the other; their
    summary and result lines go straight to this stdout."""
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        worst = worst or subprocess.run(cmd, check=False).returncode
    return worst


def main(argv=None) -> int:
    """Runs one workload (or all) and, on every path out, stops and waits
    for every process the run started."""
    args = parse_args(argv)
    procfs.become_subreaper()
    try:
        if args.workload == "all":
            return run_all(args)
        if args.setup_only:
            return setup_only(args)
        return run_one(args)
    finally:
        left = procfs.reap_descendants()
        if left:
            log(f"stopped leftover processes {left}")


def _session_size() -> tuple:
    cores = procfs.host_cores()
    heap_mb = procfs.driver_heap_mb(cores, procfs.mem_total_mb())
    _configure_env(cores, heap_mb)
    return cores, heap_mb


def setup_only(args) -> int:
    from spans import Tracer

    cores, _heap_mb = _session_size()
    bench = Bench(args.workload, {"tiny": str(WORK / "input" / "tiny")},
                  cores, Tracer(enabled=False, run_id="setup"))
    try:
        bench.start()
    finally:
        bench.stop()
    print(json.dumps(bench.setup), flush=True)
    return 0


def run_one(args) -> int:
    from spans import Tracer

    cores, heap_mb = _session_size()
    tracer = Tracer(enabled=bool(args.trace),
                    run_id=f"{args.workload}-{args.seed}")
    log(f"{args.workload} seed={args.seed}: local[{cores}], "
        f"heap {heap_mb} MB; building input")
    wl = WORKLOADS[args.workload]
    with tracer.span("sources.materialize"):
        inp = materialize(wl.kind, args.seed, wl.n_docs, cores)
    log(f"input ready: {inp['n_docs']} docs, sha256 {inp['input_digest']}")
    bench = Bench(args.workload, inp, cores, tracer)
    try:
        bench.start()
        log(f"setup {bench.setup['setup_s']:.2f} s; measuring")
        if args.trace:
            import layers
            m = layers.traced_run(bench, wl.checkpoint)
        else:
            m = measure(bench, args.seconds)
    finally:
        bench.stop()
    if args.trace:
        metrics, units = m["metrics"], layers.UNITS
    else:
        setups = [bench.setup["setup_s"]]
        setups += [setup_probe(args) for _ in range(SETUP_SAMPLES - 1)]
        log("set-ups " + " ".join(f"{x:.2f}" for x in setups) + " s")
        metrics, units = e2e_metrics(bench, m, setups), E2E_UNITS

    attempted, failed = m["attempted"], m["failed"]
    error_rate = failed / attempted if attempted else 1.0
    spread = rep_spread(m["walls"])
    flag = " CONTENTION" if spread > CONTENTION_SPREAD else ""
    shown = {**metrics, "error_rate": error_rate,
             "host.steal_frac": m["steal_frac"], "host.rep_spread": spread}
    units = {**units, "error_rate": "ratio", "host.steal_frac": "ratio",
             "host.rep_spread": "ratio"}
    print(f"{args.workload} seed={args.seed} local[{cores}] "
          f"reps={attempted}: "
          + " | ".join(f"{k} {v:.6g} {units[k]}" for k, v in shown.items())
          + flag, flush=True)
    if args.trace:
        layers.print_trace(tracer, m)
        path = WORK / f"trace-{args.workload}-{args.seed}.jsonl"
        tracer.write(path)
        log(f"spans written to {path}")
    result = {
        "correct": bool(metrics) and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
