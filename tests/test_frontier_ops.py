"""Unit tests for the frontier primitives (dequeue politeness window,
distributed rank, bloom bitset merge, salted repartition)."""

import numpy as np
from pyspark.sql import functions as F

from delver_spark.engine.bloom import BloomFilter
from delver_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    assign_global_rank,
    bloom_bits_for_urls,
    dequeue,
    salted_repartition,
    seen_round_pass,
)


def _frontier(spark, rows):
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def test_dequeue_greedy_equivalence(spark):
    # (priority, round, seq, url, host, depth, origin)
    rows = [
        (0, 0, 0, "u0", "h1", 0, None),
        (0, 0, 1, "u1", "h1", 0, None),
        (0, 0, 2, "u2", "h1", 0, None),  # h1 third → host-capped at B=2
        (0, 0, 3, "u3", "h2", 0, None),
        (1, 0, 4, "u4", "h3", 0, None),  # lower priority sorts later
        (0, 1, 5, "u5", "h2", 0, None),
    ]
    got = dequeue(_frontier(spark, rows), per_host_budget=2, global_budget=4) \
        .orderBy("pos").collect()
    assert [r["url"] for r in got] == ["u0", "u1", "u3", "u5"]
    assert [r["pos"] for r in got] == [0, 1, 2, 3]


def test_dequeue_big_path_exact_equal(spark):
    """The distributed big-round dequeue (seq_hint + assign_global_rank)
    must return EXACTLY the plain path's (rows, pos) — with and without
    an active per-host budget, across multiple enqueue rounds, with a
    deliberately skewed host. Passing seq_hint selects the big path at
    any batch size."""
    rng = np.random.default_rng(7)
    rows = []
    seq = 0
    for rnd in range(3):
        for _ in range(400):
            host = f"h{int(rng.integers(0, 8))}" if rng.random() < 0.5 \
                else "hot.test"
            rows.append((0, rnd, seq, f"u{seq}", host, 0, None))
            seq += 1
    fr = _frontier(spark, rows).repartition(8)
    for B, G in ((5, 300), (1 << 30, 500), (50, 1200), (7, 2000)):
        plain = dequeue(fr, B, G).orderBy("pos").collect()
        stats: dict = {}
        big = dequeue(fr, B, G, seq_hint=seq, out_stats=stats) \
            .orderBy("pos").collect()
        assert [tuple(r) for r in big] == [tuple(r) for r in plain], (B, G)
        assert stats["batch_count"] == len(plain), (B, G)


def test_dequeue_hot_host_guard_exact(spark):
    """The salted two-phase ranking for hot hosts must return the
    bit-identical batch (rows AND pos) as the plain window."""
    import random

    rng = random.Random(7)
    rows = []
    seq = 0
    for _ in range(3000):  # hot host: 3k rows
        rows.append((rng.choice([0, 1]), rng.randint(0, 3), seq,
                     f"u{seq}", "hot.test", 0, None))
        seq += 1
    for i in range(500):  # 50 cold hosts
        rows.append((rng.choice([0, 1]), rng.randint(0, 3), seq,
                     f"u{seq}", f"c{i % 50}.test", 0, None))
        seq += 1
    f = _frontier(spark, rows)
    plain = dequeue(f, per_host_budget=5, global_budget=200) \
        .orderBy("pos").collect()
    guarded = dequeue(f, per_host_budget=5, global_budget=200,
                      hot_host_threshold=1000, n_salts=8) \
        .orderBy("pos").collect()
    assert [tuple(r) for r in guarded] == [tuple(r) for r in plain]


def test_dequeue_priority_first(spark):
    rows = [(5, 0, 0, "low", "h1", 0, None), (0, 9, 9, "hi", "h2", 0, None)]
    got = dequeue(_frontier(spark, rows), 1, 1).collect()
    assert [r["url"] for r in got] == ["hi"]


def test_assign_global_rank_matches_sort_order(spark):
    import random

    rng = random.Random(3)
    rows = [(rng.randrange(1000), rng.randrange(1000), f"v{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "a long, b long, v string")
    chunk = 100
    out = assign_global_rank(df, ["a", "b", "v"],
                             F.floor(F.col("a") / chunk), "rn").collect()
    got = [(r["a"], r["b"], r["v"]) for r in sorted(out, key=lambda r: r["rn"])]
    assert got == sorted(rows)
    assert sorted(r["rn"] for r in out) == list(range(5000))


def test_bloom_bits_match_driver_side(spark):
    urls = [f"http://d{i % 7}.test/p/{i}" for i in range(500)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    words = bloom_bits_for_urls(df, 2000, 0.01)
    ref = BloomFilter(2000, 0.01)
    ref.add_many(urls)
    assert np.array_equal(words, ref.words)


def test_seen_round_pass_matches_driver_side(spark):
    """One pass returns the admitted counts per partition_id (NULL rows
    insert but are not counted) and the seen-set delta — the bloom words
    and the cuckoo rows equal a driver-side build over every url, under
    any partitioning and task count."""
    from delver_spark.engine.cuckoo import ShardedCuckoo

    urls = [f"http://d{i % 7}.test/p/{i}" for i in range(600)]
    rows = [(u, None if i % 3 == 0 else i % 5) for i, u in enumerate(urls)]
    want_counts = {}
    for _, pid in rows:
        if pid is not None:
            want_counts[pid] = want_counts.get(pid, 0) + 1
    df = spark.createDataFrame(rows, "url string, partition_id int")
    ref = BloomFilter(2000, 0.01)
    ref.add_many(urls)
    ck_ref = ShardedCuckoo.empty(4, 2000)
    ck_ref.add_many_canonical(urls)
    for frame, parts in ((df, 1), (df.repartition(7), None)):
        counts, words = seen_round_pass(frame, "bloom", (2000, 0.01), parts)
        assert counts == want_counts
        assert np.array_equal(words, ref.words)
        counts, pairs = seen_round_pass(
            frame, "cuckoo", (4, ck_ref.filters[0].m), parts)
        assert counts == want_counts and pairs.shape == (600, 3)
        ck = ShardedCuckoo.empty(4, 2000)
        ck.add_pairs_canonical(pairs[:, 0], pairs[:, 1], pairs[:, 2])
        assert ck.to_bytes() == ck_ref.to_bytes()
    counts, words = seen_round_pass(df.filter("false"), "bloom",
                                    (2000, 0.01), 1)
    assert counts == {} and not words.any()


def test_salted_repartition_spreads_hot_key(spark):
    rows = [("hot.test", f"u{i}") for i in range(900)] + \
           [("cold.test", f"c{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "host string, url string")
    out = salted_repartition(df, "host", n_partitions=8, n_salts=8)
    sizes = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    biggest = max(r["count"] for r in sizes)
    assert biggest < 500  # hot host no longer lands in a single partition


def _python_dequeue_budgets(rows, B, G, budgets):
    """Sequential greedy reference with per-host budget overrides."""
    taken, per_host = [], {}
    for r in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        host = r[4]
        cap = budgets.get(host, B)
        if len(taken) < G and per_host.get(host, 0) < cap:
            taken.append(r)
            per_host[host] = per_host.get(host, 0) + 1
    return [(i, r[3]) for i, r in enumerate(taken)]


def test_dequeue_host_budget_overrides(spark):
    """host_budgets (e.g. budgets_from_crawl_delay): per-host caps incl.
    a 0 (host blocked this round) — equal to the sequential greedy, with
    and without the hot-host guard, and schema-invariant."""
    import random

    rng = random.Random(11)
    rows = []
    seq = 0
    for _ in range(2000):
        host = rng.choice(["hot.test", "slow.test", "blocked.test",
                           "a.test", "b.test", "c.test"])
        rows.append((rng.choice([0, 1]), rng.randint(0, 2), seq,
                     f"u{seq}", host, 0, None))
        seq += 1
    budgets = {"slow.test": 2, "blocked.test": 0, "hot.test": 40}
    B, G = 25, 300
    want = _python_dequeue_budgets(rows, B, G, budgets)

    f = _frontier(spark, rows)
    got = dequeue(f, B, G, host_budgets=budgets).orderBy("pos")
    assert [c for c in got.columns if c != "pos"] == \
        [fld.name for fld in FRONTIER_SCHEMA]
    got_rows = [(r["pos"], r["url"]) for r in got.collect()]
    assert got_rows == want
    assert not any(u.startswith("u") and
                   rows[int(u[1:])][4] == "blocked.test"
                   for _, u in got_rows)

    # hot-host guard path must honor each hot host's OWN budget
    guarded = dequeue(f, B, G, host_budgets=budgets,
                      hot_host_threshold=100, n_salts=8) \
        .orderBy("pos").collect()
    assert [(r["pos"], r["url"]) for r in guarded] == want

    # min-budget gate: B >= G alone must NOT skip the window when an
    # override is smaller than G
    got2 = dequeue(f, 1 << 30, 50, host_budgets={"slow.test": 1}) \
        .orderBy("pos").collect()
    want2 = _python_dequeue_budgets(rows, 1 << 30, 50, {"slow.test": 1})
    assert [(r["pos"], r["url"]) for r in got2] == want2


def test_budgets_from_crawl_delay():
    from delver_spark.operators.frontier import budgets_from_crawl_delay

    bodies = {"slow.test": "User-agent: *\nCrawl-delay: 10",
              "glacial.test": "User-agent: *\nCrawl-delay: 3600",
              "fast.test": "User-agent: *\nCrawl-delay: 0.5",
              "plain.test": "User-agent: *\nDisallow: /x"}
    got = budgets_from_crawl_delay(bodies, round_period_s=60.0,
                                   per_host_budget=16)
    # floor(60/10)=6; floor(60/3600)=0 (blocked, documented); 60/0.5=120
    # clamped to B=16; no delay -> omitted
    assert got == {"slow.test": 6, "glacial.test": 0, "fast.test": 16}
