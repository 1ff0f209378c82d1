"""Property check: the distributed dequeue (per-host rank + global top-G)
and the driver kernel (``dequeue_arrow``) each equal the oracle's
sequential greedy on random frontiers — the O2 equivalence the engine's
correctness rests on."""

import random

import numpy as np
import pyarrow as pa

from delver_spark.operators.frontier import (FRONTIER_ARROW, FRONTIER_SCHEMA,
                                             dequeue, dequeue_arrow)


def _greedy(rows, B, G, budgets):
    """Sequential greedy (oracle/crawler.py:_dequeue semantics)."""
    taken, per_host = [], {}
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        host = r[4]
        if len(taken) < G and per_host.get(host, 0) < budgets.get(host, B):
            taken.append(r[2])
            per_host[host] = per_host.get(host, 0) + 1
    return taken


def test_dequeue_equals_sequential_greedy(spark):
    """Random frontiers with ties in priority and round, a url enqueued
    at two seqs, hosts whose budget override is 0, and budgets with
    B >= G; plus the empty frontier. The kernel's ``taken`` mask marks
    exactly the batch's rows."""
    rng = random.Random(99)
    zero_budget = False
    for trial in range(14):
        n = 0 if trial == 0 else rng.randrange(5, 120)
        rows = []
        for i in range(n):
            rows.append((rng.randrange(3),      # priority
                         rng.randrange(4),      # enqueue_round
                         i,                     # enqueue_seq (unique)
                         # a url may repeat at another seq
                         f"http://h{rng.randrange(n)}.test/",
                         f"h{rng.randrange(6)}",  # host
                         0, None))
        G = rng.randrange(1, n + 5)
        B = G + rng.randrange(3) if trial % 4 == 1 else rng.randrange(1, 5)
        budgets = {f"h{h}": rng.randrange(3) for h in rng.sample(range(6), 2)} \
            if trial % 2 else {}
        zero_budget |= 0 in budgets.values()
        want = _greedy(rows, B, G, budgets)
        df = spark.createDataFrame(rows, FRONTIER_SCHEMA)
        got = [r["enqueue_seq"] for r in dequeue(
            df, B, G, host_budgets=budgets or None).orderBy("pos").collect()]
        assert got == want, f"trial {trial}: B={B} G={G} {budgets}"
        tbl = pa.Table.from_pylist(
            [dict(zip(FRONTIER_ARROW.names, r)) for r in rows],
            FRONTIER_ARROW)
        batch, taken = dequeue_arrow(tbl, B, G, budgets)
        assert batch.column("enqueue_seq").to_pylist() == want, trial
        assert batch.column("pos").to_pylist() == list(range(len(want)))
        assert np.flatnonzero(taken).tolist() == sorted(want), trial
    assert zero_budget
