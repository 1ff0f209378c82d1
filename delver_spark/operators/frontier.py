"""Frontier primitives: politeness dequeue, the seen-set's round pass
and admission mask, robots gate.

Scale notes (10^10-row frontier, SURVEY §4.2):
  - a frontier small enough to live on the driver (the crawl engine's
    Arrow table below its round floor) dequeues with
    :func:`dequeue_arrow`, one numpy kernel with no Spark job; the
    Spark :func:`dequeue` is the same greedy for a distributed frontier;
  - dequeue is per-host ranking (distributed window over the host-hash
    partitioning) followed by a global top-G, which Spark executes as
    TakeOrdered (per-partition top-G, then merge of G-row heaps) — no
    single-partition global sort ever touches the full frontier;
  - a big crawl round's seen-set delta is built per task by
    :func:`seen_round_pass` — in the same pass that counts the admitted
    rows — with the delta kernel of the seen-set's family (the bloom's
    ``BloomDelta``, the cuckoo's ``CuckooDelta``), and merged on the
    driver after one collect of at most one delta per task; a small
    round runs the same kernel on the driver over the hashes it already
    holds (operators/seen.py). :func:`bloom_bits_for_urls` keeps the
    ``treeAggregate(depth=2)`` merge (BASELINE.json names this topology)
    for inputs with no round bound. The admission mask probes whichever
    filter it is given through its ``contains_batch_hashed``;
  - the politeness budget is applied BEFORE any salting (it is a semantic
    limit, not an optimization — SURVEY §4.2.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema

from ..engine.bloom import BloomDelta
from ..engine.cuckoo import CuckooDelta
from ..engine.robots import allowed_batch
from ..engine.rolling_bloom import RollingBloomFilter
from ..engine.urlnorm import path_of

FRONTIER_SCHEMA = T.StructType([
    T.StructField("priority", T.IntegerType(), False),
    T.StructField("enqueue_round", T.IntegerType(), False),
    T.StructField("enqueue_seq", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("origin", T.StringType(), True),
])
# the same schema for a driver-resident frontier table
FRONTIER_ARROW = to_arrow_schema(FRONTIER_SCHEMA)

STORE_SCHEMA = T.StructType([
    T.StructField("domain", T.StringType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("origin", T.StringType(), True),
    T.StructField("stash_key", T.LongType(), False),
])

ORDER_COLS = ["priority", "enqueue_round", "enqueue_seq"]


def budgets_from_crawl_delay(robots_bodies: dict, round_period_s: float,
                             per_host_budget: int) -> dict:
    """Per-round host budgets from robots.txt ``Crawl-delay``
    (engine/robots.py:crawl_delay): budget = floor(period/delay)
    clamped to [0, per_host_budget]. floor, not ceil — a delay longer
    than the round period honestly yields 0 fetches this round (the
    polite reading); sub-round token carry-over across rounds is the
    streaming operator's job (politeness_state.py), not the batch
    window's. Hosts without a delay are omitted (they get the default
    budget). Feed the result to :func:`dequeue`'s ``host_budgets``."""
    from ..engine.robots import crawl_delay

    out = {}
    for host, body in robots_bodies.items():
        d = crawl_delay(body)
        if d is not None:
            out[host] = max(0, min(per_host_budget,
                                   int(round_period_s / d)))
    return out


def dequeue(frontier: DataFrame, per_host_budget: int, global_budget: int,
            hot_host_threshold: int | None = None,
            n_salts: int = 64,
            seq_hint: int | None = None,
            out_stats: dict | None = None,
            host_budgets: dict | None = None) -> DataFrame:
    """Greedy dequeue under per-host + global budgets in
    (priority, enqueue_round, enqueue_seq) order — provably equal to the
    oracle's sequential greedy (first-B-per-host ∩ global-top-G).
    Returns the batch with a 0-based ``pos`` column in global order.

    Skew safety at 10^10 rows: the per-host ranking window shuffles every
    row of a host into one task, so a 10^8-row hot host would be one
    straggler task. With ``hot_host_threshold`` set, hosts above it are
    first cut by a SALTED two-phase ranking — per-(host, salt) top-B is a
    superset of per-host top-B, so ranking each salt shard and keeping B
    leaves <= n_salts x B exact candidates per hot host for the final
    window. All JVM (two shuffles over the hot rows only; the cold path
    is untouched). Python-side pruning was measured and rejected: ANY
    python pass pays the full-frontier Arrow IPC round trip, which costs
    more than the JVM window shuffle it would save (10 s vs 2.8 s at
    10^7 rows — see bench_frontier.py).

    Big-round fast paths (exact, opt-in via ``seq_hint``):

    - ``per_host_budget >= global_budget`` → the host window is a provable
      no-op on the result: a row with host_rank > G in the top-G would
      need > G earlier same-host rows, all globally earlier, i.e. > G
      rows in the top-G — contradiction. The full-frontier host shuffle
      is skipped entirely.
    - ``seq_hint`` (the engine's global seq counter) asserts the CALLER'S
      invariant that frontier order collapses to enqueue_seq alone:
      every row has the same priority and enqueue_round is monotone
      non-decreasing in enqueue_seq (true by construction for the crawl
      engine — one global counter assigns both). Then the batch is
      selected by the DISTRIBUTED exact ranking (assign_global_rank
      sharded on floor(seq/chunk)) instead of TakeOrdered's single-point
      merge + single-partition pos window — the two core-count-independent
      ~1.5 s/round costs of the sustained drain.
      The caller chooses the plan by passing ``seq_hint`` or not: the
      ranking launches several jobs, so it only pays off for big batches,
      and the crawl engine passes it only for a round whose bound
      ``min(G, frontier_count)`` exceeds its big-round floor. Equality
      with the plain path is pinned by
      tests/test_frontier_ops.py::test_dequeue_big_path_exact_equal.
    ``out_stats``, if given, receives ``batch_count`` when the ranking
    runs (derived from the ranking's own counts — saves the caller's
    count job).

    ``host_budgets`` (opt-in): per-host budget OVERRIDES, e.g. from
    :func:`budgets_from_crawl_delay` — host h's cap becomes
    host_budgets.get(h, per_host_budget); a 0 budget blocks the host
    this round. The dict is driver-resident by the same contract as
    the robots cache it derives from (one entry per known host) and
    reaches the plan as a broadcast-joined column, so the window stays
    one shuffle. The B>=G window skip and the hot-host pre-cut both
    account for overrides (the skip needs min(budget) >= G; the salted
    pre-cut keeps each hot host's OWN budget per salt — still an exact
    superset of its final top-budget)."""
    budgets_df = None
    min_budget = per_host_budget
    if host_budgets:
        spark = frontier.sparkSession
        budgets_df = F.broadcast(spark.createDataFrame(
            [(h, int(b)) for h, b in host_budgets.items()],
            "host string, _budget int"))
        min_budget = min(per_host_budget, min(host_budgets.values()))

    def _with_budget(df: DataFrame) -> DataFrame:
        # USING-join reorders columns (key first): reselect the caller's
        # order so dequeue's output schema is budget-path-invariant
        return (df.join(budgets_df, "host", "left")
                .withColumn("_budget", F.coalesce(
                    F.col("_budget"), F.lit(per_host_budget)))
                .select(*df.columns, "_budget"))

    if hot_host_threshold and min_budget < global_budget:
        # (with B >= G the host window below is skipped entirely, so the
        # hot-host pre-cut has nothing to relieve)
        cnt = frontier.groupBy("host").agg(F.count("*").alias("c"))
        hot_hosts = [r["host"] for r in
                     cnt.filter(F.col("c") > hot_host_threshold)
                     .select("host").collect()]
        if hot_hosts:
            is_hot = F.col("host").isin(hot_hosts)
            w_salt = Window.partitionBy("host", "_salt") \
                .orderBy(*[F.col(c) for c in ORDER_COLS])
            hot_rows = frontier.filter(is_hot)
            if budgets_df is not None:
                hot_rows = _with_budget(hot_rows)
                cap = F.col("_budget")
            else:
                cap = F.lit(per_host_budget)
            pruned_hot = (hot_rows
                          .withColumn("_salt", F.pmod(
                              F.hash("enqueue_seq"), F.lit(n_salts)))
                          .withColumn("_r", F.row_number().over(w_salt))
                          .filter(F.col("_r") <= cap)
                          .drop("_r", "_salt"))
            if budgets_df is not None:
                pruned_hot = pruned_hot.drop("_budget")
            frontier = frontier.filter(~is_hot).unionByName(pruned_hot)
    if min_budget >= global_budget:
        eligible = frontier  # host window provably no-op (see docstring)
    else:
        w_host = Window.partitionBy("host") \
            .orderBy(*[F.col(c) for c in ORDER_COLS])
        ranked_rows = frontier
        if budgets_df is not None:
            ranked_rows = _with_budget(ranked_rows)
            cap = F.col("_budget")
        else:
            cap = F.lit(per_host_budget)
        eligible = (ranked_rows
                    .withColumn("host_rank", F.row_number().over(w_host))
                    .filter(F.col("host_rank") <= cap)
                    .drop("host_rank"))
        if budgets_df is not None:
            eligible = eligible.drop("_budget")
    if seq_hint is not None:
        spark = frontier.sparkSession
        parts = max(spark.sparkContext.defaultParallelism, 4)
        chunk = max(1, (seq_hint + parts - 1) // parts)
        rank_stats: dict = {}
        ranked = assign_global_rank(
            eligible, ORDER_COLS,
            F.floor(F.col("enqueue_seq") / F.lit(chunk)), "pos",
            partitions=parts, out_stats=rank_stats)
        if out_stats is not None:
            out_stats["batch_count"] = min(global_budget,
                                           rank_stats["total"])
        return ranked.filter(F.col("pos") < global_budget)
    batch = eligible.orderBy(*ORDER_COLS).limit(global_budget)
    # pos over <= G rows: single-partition window is bounded by the budget
    w_pos = Window.orderBy(*[F.col(c) for c in ORDER_COLS])
    return batch.withColumn("pos", F.row_number().over(w_pos) - 1)


def dequeue_arrow(frontier: pa.Table, per_host_budget: int,
                  global_budget: int, host_budgets: dict | None = None):
    """:func:`dequeue` as one numpy kernel over a driver-resident
    frontier table (``FRONTIER_ARROW``), for the crawl engine's state
    below its round floor: no Spark job. Rows sort by
    ``(priority, enqueue_round, enqueue_seq)``; a stable sort of the
    sorted rows' host dictionary codes ranks each row within its host;
    a row is kept iff its rank is below ``host_budgets.get(host,
    per_host_budget)``; the first ``global_budget`` kept rows are the
    batch. Returns ``(batch, taken)``: the batch in :func:`dequeue`'s
    schema (the frontier's columns plus an int32 ``pos``) and the
    boolean mask of the frontier rows it took."""
    n = frontier.num_rows
    taken = np.zeros(n, dtype=bool)
    order = np.lexsort([frontier.column(c).to_numpy()
                        for c in reversed(ORDER_COLS)])
    hosts = frontier.column("host").combine_chunks().dictionary_encode()
    codes = hosts.indices.to_numpy(zero_copy_only=False)[order]
    by_host = np.argsort(codes, kind="stable")
    # each host's rows are one run of the stably sorted codes
    first = np.diff(codes[by_host], prepend=-1) != 0
    starts = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    rank = np.empty(n, dtype=np.int64)
    rank[by_host] = np.arange(n) - starts
    if host_budgets:
        budget = np.array([host_budgets.get(h, per_host_budget)
                           for h in hosts.dictionary.to_pylist()],
                          dtype=np.int64)[codes]
    else:
        budget = per_host_budget
    picked = order[np.flatnonzero(rank < budget)[:global_budget]]
    taken[picked] = True
    batch = frontier.take(picked).append_column(
        "pos", pa.array(np.arange(len(picked), dtype=np.int32)))
    return batch, taken


def _url_hashes(batches):
    """The murmur halves of the first column of a task's Arrow batches,
    hashed zero-copy from the string buffers (no python string objects);
    ``None`` when the task has no rows."""
    from ..engine.murmur import hash128_batch_buf, string_buf_views
    hashes = [hash128_batch_buf(*string_buf_views(rb.column(0)))
              for rb in batches if rb.num_rows]
    if not hashes:
        return None
    return tuple(np.concatenate(h) for h in zip(*hashes))


def bloom_bits_for_urls(urls_df: DataFrame, max_n: int, p: float,
                        partitions: int | None = None) -> np.ndarray:
    """Per-partition numpy bitsets OR-merged via treeAggregate(depth=2)
    (SURVEY §4.2.3). ``urls_df`` must have a single string column.

    The per-partition bitset is the bloom kernel's delta
    (``BloomDelta``), built inside mapInArrow (Arrow transfer, no
    per-row pickling); only the P partition bitsets flow through the
    RDD treeAggregate."""
    kernel = BloomDelta(max_n, p)
    if partitions is not None:
        # callers that know the url count bound the number of bitsets
        # (each is m/8 bytes through the treeAggregate) — small rounds
        # want ONE bitset, not one per scan partition
        urls_df = urls_df.coalesce(max(1, partitions))

    def build(it):
        import pyarrow as pa

        hashes = _url_hashes(it)
        if hashes is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array([kernel(*hashes).tobytes()], type=pa.binary())],
                names=["words"])

    bitsets = urls_df.mapInArrow(build, "words binary")
    rdd = bitsets.rdd.map(lambda r: np.frombuffer(r[0], dtype=np.uint64))
    return rdd.treeAggregate(kernel.merge([]), lambda a, b: a | b,
                             lambda a, b: a | b, depth=2)


def cuckoo_pairs_for_urls(urls_df: DataFrame, shards: int, m: int,
                          partitions: int | None = None) -> np.ndarray:
    """Cuckoo-mode twin of :func:`bloom_bits_for_urls`: hash the single
    string column zero-copy on the executors and derive the seen-set's
    (shard, i1, fp) rows there (``CuckooDelta``) — only the 24-byte rows
    reach the driver (no python strings ever materialize), where
    ``ShardedCuckoo.add_pairs_canonical`` applies them. Unlike bloom
    bitsets, cuckoo inserts can't OR-merge, so the rows themselves are
    the minimal transferable round state. Returns an (n, 3) int64
    array. (The crawl round's :func:`seen_round_pass`, with no admitted
    rows to count.)"""
    rows = urls_df.select(F.col(urls_df.columns[0]).alias("url"),
                          F.lit(None).cast("int").alias("partition_id"))
    return seen_round_pass(rows, CuckooDelta(shards, m), partitions)[1]


def seen_round_pass(rows: DataFrame, kernel, partitions: int | None = None):
    """A crawl round's seen-set inserts and admitted counts in ONE Arrow
    pass and one ``toArrow`` collect.

    ``rows`` is ``(url string, partition_id int)``: every url the round
    inserts, with ``partition_id`` set on the admitted rows and NULL on
    rows that only insert (the round's fetched pages). Each task hashes
    its urls zero-copy from the Arrow string buffers and emits one row
    per partition_id it saw (the admitted count) plus one ``blob`` row
    with ``kernel(h1, h2).tobytes()``. ``kernel`` is a seen-set family's
    delta kernel (``BloomDelta`` or ``CuckooDelta``): it carries only the
    family's parameters into the task closure, never the live filter,
    and its ``merge`` combines the tasks' blobs on the driver, so the
    result does not depend on the partitioning.

    Returns ``(counts, delta)``: ``{partition_id: admitted rows}`` and
    the merged delta."""
    if partitions is not None:
        # callers size this from the round: small rounds want ONE
        # delta, not one per input partition (a bloom delta is m/8
        # bytes through the collect)
        rows = rows.coalesce(max(1, partitions))

    def seen_pass(it):
        import pyarrow as pa

        counts: dict[int, int] = {}

        def counted(it):
            for rb in it:
                pids = rb.column(1).drop_null().to_numpy()
                for pid, n in zip(*np.unique(pids, return_counts=True)):
                    counts[int(pid)] = counts.get(int(pid), 0) + int(n)
                yield rb

        hashes = _url_hashes(counted(it))
        if hashes is None:
            return
        pids = list(counts)
        yield pa.RecordBatch.from_arrays(
            [pa.array(pids + [None], pa.int64()),
             pa.array([counts[p] for p in pids] + [None], pa.int64()),
             pa.array([None] * len(pids) + [kernel(*hashes).tobytes()],
                      pa.binary())],
            names=["partition_id", "n", "blob"])

    tbl = rows.mapInArrow(
        seen_pass, "partition_id long, n long, blob binary").toArrow()
    counts: dict[int, int] = {}
    blobs = []
    for pid, n, blob in zip(*(tbl.column(c).to_pylist()
                              for c in ("partition_id", "n", "blob"))):
        if pid is None:
            blobs.append(blob)
        else:
            counts[pid] = counts.get(pid, 0) + n
    return counts, kernel.merge(blobs)


_SENTINEL = np.int64(1 << 62)


def admission_keep_mask(h1: np.ndarray, h2: np.ndarray,
                        page_pos: np.ndarray, f_pos: np.ndarray,
                        is_marker: np.ndarray,
                        bloom) -> np.ndarray:
    """Vectorized winner selection of the admission (crawl.py
    ``_admission_keep``, which both round plans call): rows are candidate
    proposals and fetched-url marker rows grouped by url. Returns the
    boolean keep mask (True = admitted candidate row).

    Gates (sequential-oracle equivalence): admit a candidate iff (a) its
    url is not in the previous round's seen-set, (b) no marker for the
    url has position <= the proposing row's ``page_pos``, and (c) its
    ``page_pos`` is the least among the url's eligible proposals; every
    proposal at that least value wins. ``page_pos`` is the tie key, so
    the caller picks the winner rule by what it passes:

    - dfs (dfs_basic.go:61-123): the proposing page's position, so all
      same-page duplicates of the first eligible page win (reference
      quirk), with one marker row per fetched page;
    - news (news.go:248-262): ``page_pos * 2**21 + link_pos``, unique
      per proposal, so only the single first proposal wins
      (``seenUrls.SetBytes`` inside urlAllowed blocks the url's later
      proposals, the same page's too), and no marker rows (the fetched
      page is never marked).

    Grouping key is the url's murmur3 x64_128 (h1, h2) — NOT the string.
    The bloom's probe positions derive solely from (h1, h2)
    (bloom.go:212-226), so two urls colliding in all 128 bits are already
    indistinguishable to the seen-set in the reference itself; using the
    hash as the group key adds no new collision class in practice
    (P ~ n^2 / 2^129) and lets the whole pass run without materializing
    a single python string.

    ``bloom`` is the seen-set: any filter with a
    ``contains_batch_hashed(h1, h2)`` probe — a BloomFilter, a
    RollingBloomFilter, a ShardedCuckoo or a ShardFileProbe — or a plain
    list of rolling-bloom generations; the gate semantics are
    filter-agnostic."""
    if isinstance(bloom, list):
        bloom = RollingBloomFilter(len(bloom), bloom[0].max_n, bloom[0].p,
                                   blooms=bloom)
    n = len(h1)
    idx = np.lexsort((h2, h1))
    h1s, h2s = h1[idx], h2[idx]
    new_run = np.r_[True, (h1s[1:] != h1s[:-1]) | (h2s[1:] != h2s[:-1])]
    run_starts = np.flatnonzero(new_run)
    run_id_sorted = np.cumsum(new_run) - 1
    run_id = np.empty(n, dtype=np.int64)
    run_id[idx] = run_id_sorted

    # per-run min marker position (sentinel when the run has no marker)
    fm = np.where(is_marker, f_pos, _SENTINEL)
    run_fp_min = np.minimum.reduceat(fm[idx], run_starts)

    # gate (a): seen-set membership straight from the hashes
    in_seen = bloom.contains_batch_hashed(h1, h2)

    elig = (~is_marker) & (~in_seen) & (run_fp_min[run_id] > page_pos)

    # gate (c): min proposing page among eligible proposals of the run
    pp = np.where(elig, page_pos, _SENTINEL)
    run_pp_min = np.minimum.reduceat(pp[idx], run_starts)
    return elig & (page_pos == run_pp_min[run_id])


def assign_global_rank(df: DataFrame, order_cols: list[str], pid_expr,
                       out_col: str = "rn", partitions: int | None = None,
                       out_stats: dict | None = None) -> DataFrame:
    """Distributed 0-based global rank by ``order_cols`` (must be a unique
    key): :func:`assign_global_prefix_sum` of weight 1, same contract and
    jobs. ``out_stats``, if given, receives ``total``, the row count."""
    return _global_prefix_sum(df, order_cols, pid_expr, None, out_col,
                              partitions, out_stats)


def assign_global_prefix_sum(df: DataFrame, order_cols: list[str], pid_expr,
                             weight_col: str, out_col: str = "psum",
                             partitions: int | None = None) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum of ``weight_col`` in ``order_cols``
    order — no single-partition window, no row pickling, no sampling
    pass. ``order_cols`` is a unique key; ``pid_expr`` is a
    caller-supplied integer Column MONOTONE non-decreasing in that order
    (e.g. floor(major_key / chunk)). Rows shuffle once by pid and sort
    within partitions, per-pid weight totals come from one tiny collect,
    and a single Arrow pass adds ``out_col = sum of all earlier rows'
    weights`` (first row gets 0).

    Weights must be non-negative integers (the result is exact int64,
    so an engine twin — e.g. DuckDB ``sum() OVER (... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` — is bit-identical)."""
    return _global_prefix_sum(df, order_cols, pid_expr, weight_col, out_col,
                              partitions, None)


def _global_prefix_sum(df: DataFrame, order_cols: list[str], pid_expr,
                       weight_col: str | None, out_col: str,
                       partitions: int | None,
                       out_stats: dict | None) -> DataFrame:
    """The body of both: ``weight_col=None`` counts rows (the rank)."""
    spark = df.sparkSession
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)
    cols = [F.col(c) for c in order_cols]
    sorted_df = (df.withColumn("_pid", pid_expr.cast("long"))
                 .repartition(partitions, F.col("_pid"))
                 .sortWithinPartitions(*cols)
                 .localCheckpoint(eager=True))
    weight = F.count("*") if weight_col is None \
        else F.sum(F.col(weight_col).cast("long"))
    totals = dict(sorted_df.groupBy("_pid").agg(weight).collect())
    offsets = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid])
    if out_stats is not None:
        out_stats["total"] = acc  # free from the offsets pass
    schema = sorted_df.drop("_pid").schema.add(out_col, "long")

    def add_psum(it):
        carry: dict[int, int] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            pids = pdf["_pid"].to_numpy()
            w = np.ones(len(pdf), dtype=np.int64) if weight_col is None \
                else pdf[weight_col].to_numpy().astype(np.int64)
            ps = np.empty(len(pdf), dtype=np.int64)
            # pids appear in contiguous runs (sorted by order_cols and pid
            # is monotone in them)
            start = 0
            while start < len(pdf):
                pid = int(pids[start])
                end = start
                while end < len(pdf) and pids[end] == pid:
                    end += 1
                run = w[start:end]
                base = offsets[pid] + carry.get(pid, 0)
                # exclusive cumsum of the run, shifted by what this pid
                # has already emitted in earlier batches
                ps[start:end] = base + np.concatenate(
                    ([0], np.cumsum(run[:-1])))
                carry[pid] = carry.get(pid, 0) + int(run.sum())
                start = end
            out = pdf.drop(columns=["_pid"])
            out[out_col] = ps
            yield out

    return sorted_df.mapInPandas(add_psum, schema)


def make_robots_udf(spark: SparkSession, rules_by_host: dict):
    """Vectorized robots gate (SURVEY F5/J2): broadcast tiny rules table,
    longest-prefix Allow/Disallow per batch."""
    bc = spark.sparkContext.broadcast(rules_by_host)

    @pandas_udf("boolean")
    def robots_ok(hosts: pd.Series, urls: pd.Series) -> pd.Series:
        rules = bc.value
        paths = [path_of(u) for u in urls]
        return pd.Series(allowed_batch(rules, hosts.tolist(), paths))

    return robots_ok, bc


def salted_repartition(df: DataFrame, key: str, n_partitions: int,
                       n_salts: int = 8, salt_col: str = "url") -> DataFrame:
    """Explicit salted repartitioning on hash(key) to break hot-host skew
    (BASELINE.json north_star; SURVEY §4.2.1). Used for the
    order-insensitive fetch/extract stage; order is restored downstream by
    the explicit (priority, enqueue_round, enqueue_seq) keys."""
    salt = F.pmod(F.hash(F.col(salt_col)).cast("long"), F.lit(n_salts))
    return df.repartition(n_partitions, F.pmod(
        F.hash(F.col(key)).cast("long") * F.lit(n_salts) + salt,
        F.lit(n_partitions)))
