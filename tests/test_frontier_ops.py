"""Unit tests for the frontier primitives (dequeue politeness window,
distributed rank, bloom bitset merge, salted repartition)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from delver_spark.engine.bloom import BloomFilter
from delver_spark.operators.frontier import (
    FRONTIER_ARROW,
    FRONTIER_SCHEMA,
    assign_global_rank,
    bloom_bits_for_urls,
    dequeue,
    dequeue_arrow,
    salted_repartition,
)


def _frontier(spark, rows):
    return spark.createDataFrame(rows, FRONTIER_SCHEMA)


def _kernel_batch(rows, B, G, host_budgets=None):
    """The driver kernel's batch over ``rows`` as frontier-row tuples
    plus ``pos``, in pos order; checks its ``taken`` mask and its
    schema (the Spark dequeue's)."""
    tbl = pa.Table.from_pylist(
        [dict(zip(FRONTIER_ARROW.names, r)) for r in rows], FRONTIER_ARROW)
    batch, taken = dequeue_arrow(tbl, B, G, host_budgets)
    assert batch.schema.names == [*FRONTIER_ARROW.names, "pos"]
    assert batch.schema.field("pos").type == pa.int32()
    assert batch.column("pos").to_pylist() == list(range(batch.num_rows))
    assert sorted(tbl.filter(pa.array(taken)).column("enqueue_seq")
                  .to_pylist()) == sorted(batch.column("enqueue_seq")
                                          .to_pylist())
    return [tuple(r.values()) for r in batch.to_pylist()]


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
    """Priority orders before round and seq, in the Spark dequeue and in
    the driver kernel; ties in priority and round fall to the seq."""
    rows = [(5, 0, 0, "low", "h1", 0, None), (0, 9, 9, "hi", "h2", 0, None)]
    got = dequeue(_frontier(spark, rows), 1, 1).collect()
    assert [r["url"] for r in got] == ["hi"]
    assert [r[3] for r in _kernel_batch(rows, 1, 1)] == ["hi"]
    tied = [(0, 2, 7, "c", "h1", 0, None), (0, 2, 3, "b", "h2", 0, None),
            (0, 1, 9, "a", "h1", 0, None)]
    want = dequeue(_frontier(spark, tied), 5, 3).orderBy("pos").collect()
    assert [r["url"] for r in want] == ["a", "b", "c"]
    assert _kernel_batch(tied, 5, 3) == [tuple(r) for r in want]


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


def test_seen_round_pass_matches_driver_side(spark, tmp_path):
    """The seen-set family matrix. For each family, one round's inserts
    commit to byte-identical filter bytes whichever way the delta is
    built: the driver delta over the urls' hashes, the task-side round
    pass at 1 and 7 partitions (which also returns the admitted counts
    per partition_id; NULL rows insert but are not counted), the
    bare-url builders and the oracle's own adds. The admission mask is
    then the same through every probe form of the committed filters."""
    from delver_spark.engine.cuckoo import ShardedCuckoo, ShardFileProbe
    from delver_spark.engine.murmur import hash128_batch
    from delver_spark.engine.rolling_bloom import RollingBloomFilter
    from delver_spark.operators.frontier import (admission_keep_mask,
                                                 cuckoo_pairs_for_urls)
    from delver_spark.operators.seen import new_seen

    params = {"bloom_max_n": 2000, "bloom_p": 0.01, "bloom_count": 2,
              "cuckoo_shards": 4}
    wd = str(tmp_path)
    urls = [f"http://d{i % 7}.test/p/{i}" for i in range(600)]
    rows = [(u, None if i % 3 == 0 else i % 5) for i, u in enumerate(urls)]
    want_counts = {}
    for _, pid in rows:
        if pid is not None:
            want_counts[pid] = want_counts.get(pid, 0) + 1
    df = spark.createDataFrame(rows, "url string, partition_id int")
    urls_df = df.select("url")
    h1, h2 = hash128_batch(np.array(urls, dtype=object))

    rbf = RollingBloomFilter(2, 2000, 0.01)
    assert rbf.add_many(urls) is None
    ck_ref = ShardedCuckoo.empty(4, 2000)
    ck_ref.add_many_canonical(np.array(urls, dtype=object))
    oracle = {"bloom": rbf, "cuckoo": ck_ref}
    m = ck_ref.filters[0].m
    bare = {"bloom": lambda parts: bloom_bits_for_urls(urls_df, 2000, 0.01,
                                                       parts),
            "cuckoo": lambda parts: cuckoo_pairs_for_urls(urls_df, 4, m,
                                                          parts)}

    def committed(kind, delta, n=len(urls)):
        seen = new_seen(kind, params, wd)
        seen.commit(delta, n,
                    lambda: pytest.fail("no rotation boundary in this round"))
        return seen

    committed_sets = {}
    for kind in ("bloom", "cuckoo"):
        want = oracle[kind].to_bytes()
        deltas = [new_seen(kind, params, wd).delta(h1, h2),
                  bare[kind](None), bare[kind](3)]
        for frame, parts in ((df, 1), (df.repartition(7), 7)):
            counts, delta = new_seen(kind, params, wd).round_pass(frame,
                                                                  parts)
            assert counts == want_counts, (kind, parts)
            deltas.append(delta)
        for i, delta in enumerate(deltas):
            assert committed(kind, delta).to_bytes() == want, (kind, i)
        committed_sets[kind] = committed(kind, deltas[0])
        counts, delta = new_seen(kind, params, wd).round_pass(
            df.filter("false"), 1)
        assert counts == {}
        assert committed(kind, delta, 0).to_bytes() \
            == new_seen(kind, params, wd).to_bytes()

    # the admission mask through every probe form: candidates are half
    # the inserted urls plus 200 fresh ones, each fresh url proposed by
    # two pages (the earlier page wins)
    fresh = [f"http://d{i % 7}.test/q/{i}" for i in range(200)]
    cand = urls[::2] + fresh + fresh
    page_pos = np.arange(len(cand), dtype=np.int64)
    f_pos = np.full(len(cand), -1, dtype=np.int64)
    marker = np.zeros(len(cand), dtype=bool)
    c1, c2 = hash128_batch(np.array(cand, dtype=object))
    want_mask = np.r_[np.zeros(300, bool), np.ones(200, bool),
                      np.zeros(200, bool)]
    bloom = committed_sets["bloom"].bloom
    cuckoo = committed_sets["cuckoo"].cuckoo
    manifest = {}
    for s, f in enumerate(cuckoo.filters):
        manifest[s] = str(tmp_path / f"matrix_shard{s}.bin")
        with open(manifest[s], "wb") as fh:
            fh.write(f.to_bytes())
    for probe in (bloom, bloom.blooms, cuckoo,
                  ShardFileProbe(cuckoo.shards, manifest)):
        got = admission_keep_mask(c1, c2, page_pos, f_pos, marker, probe)
        assert np.array_equal(got, want_mask), type(probe)


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
    # the driver kernel: the same batch, rows and pos
    assert _kernel_batch(rows, B, G, budgets) == \
        [tuple(r) for r in got.collect()]
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
    assert _kernel_batch(rows, 1 << 30, 50, {"slow.test": 1}) == \
        [tuple(r) for r in got2]


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
