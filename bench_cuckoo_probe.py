#!/usr/bin/env python
"""Cuckoo seen-probe A/B on the real crawl round: broadcast vs sharded
file-backed probe on the same pre-filled
400k-page drain (bench_scaling.one_round, big-G path), best-of-2 each,
one core count (SPARK_GRAFT_CPUS, default 8).

What this measures: the marginal cost at BENCH scale of swapping the
whole-filter broadcast for the shard-routed admission shuffle + lazy
per-task blob loads (engine.cuckoo.ShardFileProbe). At this scale the
filter is ~1 MB, so the broadcast is free and the sharded plan pays
its extra narrow Arrow pass (the shard-key derivation) — the expected
reading is sharded/broadcast slightly above 1, and the engine picks the
broadcast here by itself: the sharded leg forces the shard plan through
the seen-set's private floor (``CuckooSeen._sharded_floor = 0``). The
plan exists for the regime the sandbox can't reach: a 10^10-URL filter (~20 GB) exceeds
any broadcast bound, and broadcast cost is O(executors x filter bytes)
while the sharded probe's read volume is O(filter bytes) total with
worker-side caching of unchanged shards (only DIRTY shards re-read
across rounds). This bench documents that the scale path's overhead at
small scale is bounded, not that it wins here.

Prints one JSON line; appends a row to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_scaling  # noqa: E402

from delver_spark.operators.seen import CuckooSeen  # noqa: E402


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 8))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", 2))
    shards = int(os.environ.get("SPARK_GRAFT_SCALE_SHARDS", cpus * 4))
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "corpus")
    corpus = bench_scaling.ensure_corpus(root)

    os.environ["SPARK_GRAFT_SCALE_SEEN"] = "cuckoo"
    os.environ["SPARK_GRAFT_SCALE_SHARDS"] = str(shards)
    out = {}
    for probe in ("broadcast", "sharded"):
        CuckooSeen._sharded_floor = 0 if probe == "sharded" else None
        best, fetched = None, 0
        for _ in range(reps):
            dt, n = bench_scaling.one_round(cpus, corpus)
            best = dt if best is None else min(best, dt)
            fetched = n
        out[probe] = {"sec": round(best, 2),
                      "urls_per_s": round(fetched / best, 1),
                      "fetched": fetched}

    ratio = out["sharded"]["sec"] / out["broadcast"]["sec"]
    line = {"metric": "cuckoo_probe_ab", "cpus": cpus, "shards": shards,
            "n_pages": bench_scaling.N_PAGES, "reps": reps,
            "broadcast": out["broadcast"], "sharded": out["sharded"],
            "sharded_over_broadcast": round(ratio, 3)}
    print(json.dumps(line))

    stamp = time.strftime("%Y-%m-%d %H:%M")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH", "BASELINE.md"), "a") as f:
        f.write(
            f"\n| cuckoo probe A/B ({bench_scaling.N_PAGES} pages, "
            f"local[{cpus}], {shards} shards, best-of-{reps}, {stamp}) | "
            f"broadcast {out['broadcast']['sec']}s "
            f"({out['broadcast']['urls_per_s']} urls/s) | "
            f"sharded {out['sharded']['sec']}s "
            f"({out['sharded']['urls_per_s']} urls/s) | "
            f"sharded/broadcast {ratio:.3f} |\n")


if __name__ == "__main__":
    main()
