#!/usr/bin/env python
"""Cuckoo URL-seen filter bench (engine/cuckoo.py): distributed build +
driver-side batch probe throughput, at the SPARK_GRAFT_CPUS core count
— run at two levels (e.g. 2 and 8) for the N→4N scaling read. The
build is the crawl engine's: one zero-copy Arrow hash pass over the URL
column derives the (shard, i1, fp) rows on the executors
(frontier.cuckoo_pairs_for_urls), and the driver applies them with the
one canonical insert (ShardedCuckoo.add_pairs_canonical), whose
sequential per-shard loop is the compute floor.

Extrapolated shape to 10^10 URLs: the hash pass is linear in rows with
no driver state and only 24-byte rows cross to the driver-resident
filter. Deletion (the operation the bloom can't do) is a driver-side
O(1) bucket edit per key.

Prints one JSON line; appends a row to BENCH/BASELINE.md.

Env: SPARK_GRAFT_CUCKOO_URLS (default 5_000_000), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_URLS = int(os.environ.get("SPARK_GRAFT_CUCKOO_URLS", 5_000_000))


def main():
    from pyspark.sql import functions as F

    from delver_spark.engine.cuckoo import ShardedCuckoo
    from delver_spark.operators.frontier import cuckoo_pairs_for_urls
    from delver_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("bench_cuckoo", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    urls = (spark.range(N_URLS)
            .select(F.concat(F.lit("http://host"),
                             (F.col("id") % 100_000).cast("string"),
                             F.lit(".test/p/"),
                             F.col("id").cast("string")).alias("url"))
            .repartition(cpus * 4).localCheckpoint(eager=True))

    shards = cpus * 4
    t0 = time.perf_counter()
    sc = ShardedCuckoo.empty(shards, N_URLS)
    pairs = cuckoo_pairs_for_urls(urls, shards, sc.filters[0].m)
    sc.add_pairs_canonical(pairs[:, 0], pairs[:, 1], pairs[:, 2])
    build_s = time.perf_counter() - t0

    # driver-side probe throughput: half present, half absent
    probe = ([f"http://host{i % 100_000}.test/p/{i}"
              for i in range(0, 200_000)]
             + [f"http://absent{i}.test/x" for i in range(200_000)])
    t0 = time.perf_counter()
    got = sc.contains_batch(probe)
    probe_s = time.perf_counter() - t0
    assert got[:200_000].all(), "false negative"
    fp_rate = float(got[200_000:].mean())

    # deletion: the recrawl op the bloom can't express
    t0 = time.perf_counter()
    for i in range(0, 10_000):
        sc.delete(f"http://host{i % 100_000}.test/p/{i}")
    del_s = time.perf_counter() - t0

    out = {"metric": "cuckoo_seen", "n_urls": N_URLS, "cpus": cpus,
           "shards": shards, "build_sec": round(build_s, 2),
           "build_urls_per_sec": int(N_URLS / build_s),
           "probe_sec": round(probe_s, 3),
           "probe_per_sec": int(len(probe) / probe_s),
           "fp_rate": fp_rate,
           "delete_per_sec": int(10_000 / del_s)}
    print(json.dumps(out))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH", "BASELINE.md"), "a") as fh:
        fh.write(
            f"\n| cuckoo seen-set ({N_URLS} urls, local[{cpus}], "
            f"{shards} shards) | build {out['build_sec']}s "
            f"({out['build_urls_per_sec']} urls/s) | probe "
            f"{out['probe_per_sec']}/s fp_rate {fp_rate:.2e} | delete "
            f"{out['delete_per_sec']}/s driver-side |\n")


if __name__ == "__main__":
    main()
