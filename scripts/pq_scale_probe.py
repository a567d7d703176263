#!/usr/bin/env python
"""Production-parameter PQ probe: M=16 subquantizers, k=256 codes.

The r4 judge reproduced `Code grows beyond 64 KB` in the PQ family at
M=4/k=4; the r5 fix renders codebooks as literal arrays evaluated by a
zip_with/aggregate loop so generated-code size is independent of
k x dim. BENCH.md claims "a production M=16/k=256 codebook compiles
the same as the 4x4 test one" — this probe MEASURES that claim at the
actual FAISS-typical parameters:

  - amplify the sf embeddings deterministically (x32 -> 64k vectors,
    each replica jittered by a hash-derived factor so codes differ),
  - posexplode into 16 x 4-d subvector rows (1M rows),
  - kmeans_grouped(groups=16, k=256, iters=2) — one job per round,
  - ADC top-10 scan: per-subspace 256-entry LUT literals, score =
    16 element_at lookups + adds per vector.

Prints one JSON line; run with stderr captured and grep it for
`grows beyond 64 KB` (scripts/audit_plans.py greps bench stderr the
same way — zero hits is the pass condition).

Usage: python scripts/pq_scale_probe.py [sf_dir] [amplify]
"""

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
AMPLIFY = int(sys.argv[2]) if len(sys.argv) > 2 else 32
M = 16          # subquantizers
SUB_DIM = 4     # 64-d vectors -> 16 x 4-d slices
K = 256         # codes per subquantizer


def main() -> int:
    from pyspark.sql import functions as F
    from pii_extract_base_spark.config import get_spark
    from pii_extract_base_spark.operators.cluster import kmeans_grouped

    spark = get_spark(app_name="pq_scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", v.alias("v"))

    # deterministic amplification: replica r of vec_id scales every
    # component by 1 + (crc32-ish hash of (vec_id, r) % 997)/1e4 —
    # distinct codes per replica, no randomness, no external data
    reps = spark.range(AMPLIFY).select(F.col("id").alias("rep"))
    jitter = (F.pmod(F.hash(F.col("vec_id"), F.col("rep")), F.lit(997))
              .cast("double") / 1e4 + 1.0)
    big = (base.crossJoin(reps)
               .select((F.col("vec_id") * AMPLIFY + F.col("rep"))
                       .alias("vec_id"),
                       F.transform(F.col("v"), lambda x: x * jitter)
                        .alias("v"))
               .repartition(64)
               .localCheckpoint())
    n_vec = big.count()

    slices = F.array(*[F.slice("v", SUB_DIM * s + 1, SUB_DIM)
                       for s in range(M)])
    sub = big.select("vec_id", F.posexplode(slices).alias("sub", "v"))

    t0 = time.time()
    assigned, cents = kmeans_grouped(sub, groups=list(range(M)), k=K,
                                     iters=2, dim=SUB_DIM)
    n_assigned = assigned.count()
    train_sec = time.time() - t0
    codebook_sizes = {g: len(cs) for g, cs in cents.items()}

    # ADC scan: query = original vector 0; LUT[g][cid] = sq L2 between
    # the query's subvector g and centroid cid — 16x256 plan literals,
    # scored with element_at + sum (bounded expression, no unroll)
    qrow = base.where(F.col("vec_id") == 0).collect()[0]["v"]
    # LUT indexed BY cid (Lloyd may drop empty clusters, leaving the
    # id space sparse — positional indexing would misattribute): slots
    # for vanished ids get a sentinel that no assignment can reference.
    # NOTE: deliberately NOT operators/cluster.adc_lut_entry (the
    # oracle-tied helper the q74/q80/q82/q96 queries share): this is a
    # throughput probe, so it uses a numeric sentinel instead of the
    # NULL-and-drop contract and plain round() instead of _qround.
    luts = {}
    for g in range(M):
        qsub = qrow[SUB_DIM * g: SUB_DIM * (g + 1)]
        arr = [1e18] * K
        for cid, c in cents[g]:
            arr[cid] = round(sum((a - b) * (a - b)
                                 for a, b in zip(qsub, c)), 6)
        luts[g] = arr
    contrib = None
    for g in range(M):
        e = F.element_at(F.lit(luts[g]), F.col("cluster").cast("int") + 1)
        contrib = (F.when(F.col("sub") == g, e) if contrib is None
                   else contrib.when(F.col("sub") == g, e))
    t1 = time.time()
    top = (assigned.withColumn("_c", contrib)
                   .groupBy("vec_id")
                   .agg(F.round(F.sum("_c"), 6).alias("adc_dist"))
                   .orderBy("adc_dist", "vec_id").limit(10).collect())
    scan_sec = time.time() - t1

    print(json.dumps({
        "metric": "pq_m16_k256_train_sec",
        "value": round(train_sec, 3),
        "unit": "sec",
        "vectors": n_vec,
        "subvector_rows": n_assigned,
        "M": M, "k": K, "sub_dim": SUB_DIM, "iters": 2,
        "codebooks_complete": all(s == K for s in codebook_sizes.values()),
        "adc_scan_sec": round(scan_sec, 3),
        "top1": {"vec_id": top[0]["vec_id"],
                 "adc_dist": top[0]["adc_dist"]},
        "sf": SF_DIR, "amplify": AMPLIFY,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
