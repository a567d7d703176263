#!/usr/bin/env python3
"""Writes ``expected_digests.json``: the pure-Python oracle's output
digest of every workload's input for seeds 0-99.

    python3 perfbench/expected.py

The live oracle a run computes uses the program's own kernels, so a
kernel change moves it along with the Spark output. These committed
digests do not move: every rep of a run whose seed is listed must match
them too. Regenerate them only in a change that is meant to alter the
pipeline's output, and say so in that change.
"""

import json
import multiprocessing as mp
import sys

from run import HERE, WORKLOADS
import procfs
import workloads

SEEDS = range(100)


def digest(kind: str, seed: int, n: int) -> int:
    x = workloads.oracle_chunk(workloads.make_records(kind, seed, 0, n))[0]
    return workloads.to_signed(x)


def main() -> int:
    tasks = [(wl.kind, seed, wl.n_docs)
             for wl in WORKLOADS.values() for seed in SEEDS]
    with mp.get_context("spawn").Pool(procfs.host_cores()) as pool:
        digests = pool.starmap(digest, tasks)
    out = {}
    for (kind, seed, n), d in zip(tasks, digests):
        out.setdefault(f"{kind}-{n}", {})[str(seed)] = d
    path = HERE / "expected_digests.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {sum(map(len, out.values()))} digests to {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
