"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import layers  # noqa: E402
from pii_extract_base_spark.sources.pages import build_page  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import workloads as w  # noqa: E402
from spans import Tracer  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- inputs ------------------------------------------------------------------

def test_same_seed_same_input_digest():
    a = w.make_records("web", 7, 0, 500)
    b = w.make_records("web", 7, 0, 500)
    assert w.input_digest(a) == w.input_digest(b)
    la = w.make_records("long", 7, 0, 10)
    assert w.input_digest(la) == w.input_digest(w.make_records("long", 7,
                                                                0, 10))
    assert w.input_digest(a) != w.input_digest(w.make_records("web", 8,
                                                               0, 500))


def test_other_seed_disjoint_urls_same_mix():
    def mix(seed):
        ids = w.web_ids(seed)
        recs = [w.web_record(d) for d in ids]
        return ({r["url"] for r in recs},
                Counter((r["lang"], build_page(d)[2])
                        for d, r in zip(ids, recs)))

    urls0, mix0 = mix(0)
    urls1, mix1 = mix(3)
    assert len(urls0) == len(urls1) == w.WEB_DOCS
    assert not urls0 & urls1
    assert mix0 == mix1
    assert {c for _lang, c in mix0} == set(range(20))
    assert {lang for lang, _c in mix0} == set(w.LANGUAGES)


def test_long_dense_size_and_entity_density():
    recs = w.make_records("long", 0, 0, 20)
    chars = [len(r["text"]) for r in recs]
    assert 12_000 <= sum(chars) / len(chars) <= 16_000
    assert all(len(r["text"].split("\n")) > w.LONG_BODIES for r in recs)
    _x, rows, ents, hits = w.oracle_chunk(recs)
    assert rows == hits == len(recs)   # no doc is prefilter-skippable
    assert 20 <= ents / rows <= 33
    for k in range(20):                # bodies share one language
        ids = w.long_body_ids(0, k)
        assert len({d % 10 for d in ids}) == 1
        assert all(d % 997 for d in ids)


def test_long_dense_matches_web_mixed_text_bytes():
    web = w.make_records("web", 1, 0, 1000)
    long_ = w.make_records("long", 1, 0, 1000 // w.LONG_BODIES)
    wb = sum(len(r["text"]) for r in web)
    lb = sum(len(r["text"]) for r in long_)
    assert 0.8 <= lb / wb <= 1.25


# -- Spark-compatible xxhash64 ------------------------------------------------

def test_xxh64_reference_vectors():
    assert w.xxh64_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert w.xxh64_bytes(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert w.xxh64_bytes(b"abc", 0) == 0x44BC2CF5AD770999
    s = b"Nobody inspects the spammish repetition"
    assert w.xxh64_bytes(s, 0) == 0xFBCEA83C8A378BF1


def test_xxh64_int_is_four_le_bytes():
    for v in (0, 1, 7, 123456, -1, -2 ** 31):
        assert w.xxh64_int(v, 42) == w.xxh64_bytes(
            (v & 0xFFFFFFFF).to_bytes(4, "little"), 42)


def test_row_hash_order_independent_digest():
    rows = [("u1", True, [], "t1", 0), ("u2", False, ["ppl"], "t2", 2)]
    a = w.row_hash(*rows[0]) ^ w.row_hash(*rows[1])
    b = w.row_hash(*rows[1]) ^ w.row_hash(*rows[0])
    assert a == b
    assert w.to_signed((1 << 64) - 1) == -1


# -- host, spans, metric names ---------------------------------------------

def test_driver_heap_at_most_half_ram():
    assert procfs.driver_heap_mb(4, 15_000) == 4096
    assert procfs.driver_heap_mb(64, 16_000) == 8000
    assert procfs.driver_heap_mb(1, 1_000) == 1024
    cores, mem = procfs.host_cores(), procfs.mem_total_mb()
    assert cores >= 1
    assert procfs.driver_heap_mb(cores, mem) <= max(1024, mem // 2)


def test_tree_cpu_and_steal_read():
    c = procfs.tree_cpu_s()
    assert c >= 0
    t0 = procfs.cpu_ticks()
    sum(i * i for i in range(200_000))
    assert procfs.tree_cpu_s() >= c
    assert 0.0 <= procfs.steal_frac(t0, procfs.cpu_ticks()) <= 1.0


def test_span_self_times():
    tr = Tracer(enabled=True, run_id="t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert abs(st["outer"] + st["inner"]
               - (outer["end"] - outer["start"])) < 1e-9
    off = Tracer(enabled=False, run_id="t")
    with off.span("x"):
        pass
    assert off.spans == []


def test_metric_names_match_benchmark_json():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == \
        run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == \
        layers.UNITS
    assert [x["name"] for x in BENCHMARK["workloads"]] == list(run.WORKLOADS)
    assert set(layers.COVERAGE_TERMS) <= set(layers.UNITS)


def test_rep_spread_flag():
    assert run.rep_spread([1.0, 2.0, 4.0]) == 4.0
    assert run.rep_spread([2.0, 2.0]) == 1.0
    assert run.CONTENTION_SPREAD == 3.0


def test_empty_checkout_fails_without_result(tmp_path):
    """Only BENCHMARK.json and perfbench/: the program is missing, so the
    benchmark must exit non-zero and print no result line."""
    import shutil
    import subprocess
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def test_committed_digests_cover_workloads_and_match_oracle():
    import expected
    for wl in run.WORKLOADS.values():
        assert all(run.committed_digest(wl.kind, s, wl.n_docs) is not None
                   for s in expected.SEEDS)
    assert run.committed_digest("long", 1, w.LONG_DOCS + 1) is None
    want = run.committed_digest("long", 1, w.LONG_DOCS)
    assert expected.digest("long", 1, w.LONG_DOCS) == want


def test_reap_descendants_waits_for_orphans():
    """An orphaned grandchild is re-parented to the subreaper and stopped
    and waited for before reap_descendants returns."""
    import subprocess
    code = (
        "import subprocess, procfs\n"
        "procfs.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 300 &'], check=True)\n"
        "assert len(procfs._others()) == 1\n"
        "left = procfs.reap_descendants(grace_s=0.5)\n"
        "assert len(left) == 1 and not procfs._others(), left\n"
        "print('ok')\n")
    res = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                         capture_output=True, text=True, timeout=60)
    assert res.stdout.strip() == "ok", res.stderr
