"""The crawl engine: delver's pipeline as one DataFrame job per round.

Each round (SURVEY §3.1 "Spark translation"):

  refill-if-empty (S3) → dequeue under politeness budget (O1/O2, window +
  TakeOrdered) → payload join (J1: IN-filter pushdown + broadcast for
  small rounds; broadcast-keys-into-the-scan for big rounds so image
  bytes are never shuffled) → decode + extract in ONE mapInArrow pass
  with zero-copy binary views (X1-X11) → admission split (F6):
  same-domain candidates bloom-gated (F7/J3) vs cross-domain stash
  (append-only url_store) → assign enqueue_seq → union frontier delta →
  ONE seen-set pass (bitset words or cuckoo rows + admitted counts, one
  collect) merged on the driver → snapshot commit (T8).

A steady small-G round launches at most 10 Spark jobs: the dequeue
collect (3: the tombstone broadcast, the host window's shuffle, the
ordered take), the payload broadcasts and the extract checkpoint (2-3),
the order job, which also carries each page's lineage candidate counts
as higher-order columns (1), the admission checkpoint (2: origin
broadcast, admit pass) and the seen-set pass (1). On a 4-core box each
small job costs 0.1-0.64 s of process-tree CPU, so the count, not the
data, sets a small round's cost.

Hot-host skew strategy (BASELINE.json north_star: "explicit salted
repartitioning on hash(host)"), by stage:
  - fetch/extract: partitioned by payload row-group SPLITS, not by host —
    a host's pages are spread across splits by construction, so no
    per-host hotspot can exist in the heavy stage at all (stronger than
    salting; `sources/payload_scan.py`);
  - dequeue: per-host politeness window with the opt-in SALTED two-phase
    ranking for detected hot hosts (`frontier.dequeue(hot_host_threshold)`,
    exact — see its docstring and bench_frontier.py);
  - admission: shuffled by url (uniform by canonicalized-url hash, not by
    host) — hot hosts do not concentrate;
  - residual shuffle skew: AQE skew-join/coalesce is on (session.py);
    `frontier.salted_repartition` remains the generic salting primitive
    for order-insensitive host-keyed stages.

State is distributed (frontier / url_store DataFrames, localCheckpoint'd
per round to truncate lineage); only round-bounded artifacts (the <= G
fetched rows, counters) touch the driver. The url_store is APPEND-ONLY —
last-wins dedupe happens once per refill on the single published domain,
not per round, so no full-store shuffle ever runs (SURVEY J4/O5 + Badger
Set overwrite semantics, resource/maps/persistent.go:23-41).

Determinism contract: matches delver_spark.oracle.crawler.OracleCrawler
bit-for-bit on crawl order and bloom bitmap (tests/test_crawl_spark.py).
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine.bloom import BloomFilter
from ..engine.cuckoo import ShardedCuckoo
from ..engine.robots import RobotsCache
from ..engine.rolling_bloom import RollingBloomFilter
from ..engine.urlnorm import canonicalize, host_of
from ..sources.snapshot import SnapshotStore
from .extract import EXTRACT_SCHEMA, make_extractor_arrow
from .frontier import (
    FRONTIER_SCHEMA,
    STORE_SCHEMA,
    dequeue,
    make_robots_udf,
    seen_round_pass,
)

_STORE_SCHEMA_W_HOST = STORE_SCHEMA.add("host", "string", False)


def _outlink_domain(host_col):
    """GetSLDAndTLD (util/util.go:92-101) as a JVM column expression:
    last two dot-tokens, single token as-is. Exactly mirrors
    engine.urlnorm.sld_tld so the admission gate stays oracle-equal
    while the domain never has to be computed in python or carried
    through the extracted checkpoint."""
    toks = F.split(host_col, "\\.")
    return F.when(F.size(toks) <= 1, host_col) \
        .otherwise(F.array_join(F.slice(toks, -2, 2), "."))


def _in_list(col: str, values: list[str]):
    """``col IN (values)`` parsed from ONE SQL string. ``Column.isin``
    makes two JVM calls per value, ~1 s of process-tree CPU for a
    512-url fetch list on a 4-core box; the parser takes the whole list
    in one call and yields the same In/InSet predicate, which still
    pushes down to the parquet scan. ``values`` must be non-empty."""
    quoted = ("'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
              for v in values)
    return F.expr(f"`{col}` IN ({','.join(quoted)})")


def _explode_outlinks(extracted: DataFrame,
                      with_page_host: bool = False) -> DataFrame:
    """Candidate rows: one per (page, outlink), with the outlink's
    registrable domain derived JVM-side post-explode. ``with_page_host``
    additionally carries the proposing page's exact host (the news-mode
    gate compares HOSTS, not registrable domains — news.go:229-231)."""
    extra = [F.col("host").alias("page_host")] if with_page_host else []
    return (extracted.filter("success")
            .select(F.col("pos").alias("page_pos"),
                    F.col("url_canon").alias("page_url"),
                    F.col("depth").alias("page_depth"),
                    F.col("domain").alias("page_domain"),
                    F.col("partition_id"), *extra,
                    F.explode("outlinks").alias("l"))
            .select("page_pos", "page_url", "page_depth", "page_domain",
                    "partition_id",
                    *(["page_host"] if with_page_host else []),
                    "l.link_pos", "l.url", "l.host",
                    _outlink_domain(F.col("l.host")).alias("domain")))


def _page_cand_counts(max_depth: int) -> list:
    """Each fetched page's ``same_n`` (same-domain candidates under the
    depth gate — the dfs admission set) and ``stash_n`` (cross-domain
    candidates) as JVM higher-order columns over ``outlinks``: the gates
    of the exploded candidate split in ``_finish_round``, applied per page
    with no explode, shuffle or extra job. Failed pages count 0, as the
    explode drops them (``size(NULL)`` would read -1); a NULL domain on
    either side fails both gates, as it does after the explode."""
    def n_links(gate, pred):
        return F.when(gate & F.col("success") & F.col("outlinks").isNotNull(),
                      F.size(F.filter("outlinks", pred))).otherwise(0)

    def link_domain(link):
        return _outlink_domain(link["host"])

    return [n_links(F.col("depth") < max_depth,
                    lambda link: link_domain(link) == F.col("domain"))
            .alias("same_n"),
            n_links(F.lit(True),
                    lambda link: link_domain(link) != F.col("domain"))
            .alias("stash_n")]


def _cuckoo_derive_canonical(batches, m: int, shards: int):
    """Shared executor-side derivation for the recrawl/expiry APIs
    (readmit_df / forget_df): canonicalize a batch of RAW urls, hash
    with murmur3-128 and derive the seen-set rows. Yields
    (keep, h1, h2, i1, fp, shard_i64) per non-empty batch — one place
    owns the canonicalize→hash→(i1, fp) chain so the insert and delete
    paths cannot desynchronize. (The round-commit path,
    frontier.seen_round_pass, hashes ALREADY-canonical urls
    zero-copy from Arrow buffers instead — same _derive/shard_of.)"""
    from ..engine.cuckoo import _derive, shard_of
    from ..engine.murmur import hash128_batch

    for rb in batches:
        keep = [c for c in (canonicalize(u) for u in
                            rb.column(0).to_pylist())
                if c is not None]
        if not keep:
            continue
        h1, h2 = hash128_batch(np.array(keep, dtype=object))
        i1, fp = _derive(h1, h2, m)
        yield keep, h1, h2, i1, fp, shard_of(h2, shards).astype(np.int64)


class CrawlEngine:
    def __init__(self, spark: SparkSession, corpus_dir: str, workdir: str,
                 n_partitions: int = 8, collect_documents: bool = True,
                 collect_order: bool | None = None,
                 hot_host_threshold: int | None = None,
                 mode: str = "dfs",
                 param_overrides: dict | None = None,
                 seen_filter: str = "bloom",
                 seen_probe: str = "broadcast",
                 host_budgets: dict | None = None):
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.workdir = workdir
        self.n_partitions = n_partitions
        self.collect_documents = collect_documents
        # "dfs" = dfs_basic accumulator (same-domain gate, stash, refill);
        # "news" = news accumulator (functions/news.py gates at admission
        # incl. per-outlink robots, bloom marks admitted urls only, no
        # stash/refill, maxDepth=1, articles = depth>0 fetched pages)
        assert mode in ("dfs", "news")
        self.mode = mode
        # rows-per-host count above which the dequeue pre-cuts a host with
        # the exact salted two-phase ranking (frontier.dequeue docstring).
        # None = plain window, correct at any scale and faster until a
        # single host reaches ~10^7 frontier rows.
        self.hot_host_threshold = hot_host_threshold
        # per-host dequeue-budget overrides (e.g. robots Crawl-delay via
        # frontier.budgets_from_crawl_delay); SEMANTIC — the oracle takes
        # the same map and the equality tests cover it
        self.host_budgets = host_budgets or {}
        self.store = SnapshotStore(workdir)

        with open(os.path.join(corpus_dir, "params.json")) as f:
            self.params = json.load(f)
        # config-driven assembly (delver_spark/config.py): resource
        # parameters from the application JSON override the corpus
        # defaults, exactly like the reference's resource entries own
        # bloom sizing etc. (main.go:286-317)
        if param_overrides:
            self.params.update(param_overrides)
        p = self.params
        self.max_depth = p["max_depth"]
        self.B = p["per_host_budget"]
        self.G = p["global_budget"]
        self.max_rounds = p["max_rounds"]
        # collect_order=False keeps even the crawl-order/documents artifacts
        # fully distributed (Spark parquet writes). Default is by round
        # size: big-G engines (the scaling-bench regime) must never
        # bottleneck a round on a driver toPandas, small-G rounds are
        # cheaper through the driver buffer (one pandas frame vs a
        # per-round distributed write job).
        self.collect_order = (self.G <= 10000) if collect_order is None \
            else collect_order

        # payload table: at 100 TB this is the Iceberg table bucketed/sorted
        # by url_canon; per-round access is an IN-filter over <= G keys that
        # pushes down to parquet row-group stats (no full scan per round).
        self.pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet")) \
            .select("url_canon", "bytes", "fmt", "caption", "phash", "pix_md5")
        golden = os.path.join(corpus_dir, "golden_pixels.parquet")
        self.golden = spark.read.parquet(golden) if os.path.exists(golden) else None

        # robots: versioned rows + round-age TTL (robotstxt.go mapping; see
        # engine.robots.RobotsCache). The rules dict is broadcast once and
        # rebuilt only on a change — with no TTL (the default) this is the
        # old static-per-run broadcast exactly.
        robots_pd = pq.read_table(os.path.join(corpus_dir, "robots.parquet")).to_pylist()
        self.robots_cache = RobotsCache(
            [(r["host"], r["body"], r.get("from_round", 0)) for r in robots_pd],
            ttl_rounds=p.get("robots_ttl_rounds"))
        self.robots_rules: dict | None = None
        self.robots_ok = None
        self._robots_bc = None

        # the seen-set is the reference's ROLLING bloom (rotate-on-overflow,
        # newest-first write, any-match read — rolling_bloom.go): overflow
        # no longer kills the crawl, it rotates a generation exactly as the
        # reference does (including the lost-insert quirk; see
        # engine/rolling_bloom.py and _finish_round's replay path)
        self.bloom = RollingBloomFilter(p.get("bloom_count", 1),
                                        p["bloom_max_n"], p["bloom_p"])
        # seen_filter="cuckoo" swaps in the deletion-capable sharded
        # cuckoo (engine/cuckoo.py — the north star's named alternative).
        # Semantics are DEFINED in oracle/crawler.py (the spec): same
        # round-snapshot probe contract; the round's insert set commits
        # at round END in canonical per-shard order, which is
        # partition-invariant, so the distributed engine's filter is
        # bit-identical to the oracle's without any per-op replay. The
        # payoff is readmit(): per-URL recrawl the bloom cannot express.
        assert seen_filter in ("bloom", "cuckoo")
        self.seen_filter = seen_filter
        self.cuckoo = ShardedCuckoo.empty(
            p.get("cuckoo_shards", 4),
            p.get("cuckoo_capacity") or p["bloom_max_n"]) \
            if seen_filter == "cuckoo" else None
        # seen_probe="sharded" (cuckoo only): the admission pass routes
        # candidates by shard_of(h2) and each task lazily loads ONLY its
        # shards' blobs from the workdir (engine.cuckoo.ShardFileProbe)
        # instead of broadcasting the whole filter — O(filter) total read
        # volume vs O(executors x filter) broadcast, the plan that still
        # works when a 10^10-URL filter (~20 GB) exceeds any broadcast.
        # PERFORMANCE-ONLY knob: probe results are identical, so crawl
        # order/lineage/filter bytes are unchanged (equality-pinned).
        assert seen_probe in ("broadcast", "sharded")
        assert seen_probe == "broadcast" or seen_filter == "cuckoo", \
            "seen_probe='sharded' requires the cuckoo seen-set"
        self.seen_probe = seen_probe
        self._seen_shard_dir = os.path.join(workdir, "seen_shards")
        self._shard_manifest: dict[int, str] | None = None  # None = unsynced
        self._shard_sync_n = 0
        # per-ENGINE-INSTANCE tag in every shard filename: a resumed (or
        # second) engine on the same workdir must never reuse a path —
        # python workers cache blobs BY PATH on the immutability promise,
        # and a reused name with different contents serves a stale filter
        # (caught by test_sharded_probe_survives_resume: the post-resume
        # round probed the pre-resume filter and over-admitted)
        self._shard_run_tag = uuid.uuid4().hex[:8]
        # paths superseded by the PREVIOUS sync — deletable at the next
        # one (keep-last-2: the round in flight reads the current
        # manifest, the previous round's outputs are materialized before
        # its round ends, so nothing can still read two generations back)
        self._shard_gc_paths: list[str] = []
        self.extractor = make_extractor_arrow(n_partitions,
                                              emit_text=collect_documents)
        # dfs lineage count columns, built once: each Column is several
        # JVM calls (~0.4 ms of CPU each), ~0.1 s a round if rebuilt
        self._cand_cols = [] if mode == "news" \
            else _page_cand_counts(self.max_depth)

        # mutable state. The frontier is held MOR-style (Iceberg
        # merge-on-read semantics over localCheckpoints): `frontier` is
        # the compacted BASE; dequeued seqs accumulate as TOMBSTONES
        # (broadcast anti-joined at read time — a map-side filter, no
        # shuffle while they fit a broadcast); admitted rows accumulate
        # as DELTAS. The round's state transition is therefore O(G),
        # not an O(frontier) rewrite; compaction folds the view into a
        # new base when tombstones exceed ~30% of it. On the 10^10
        # deployment this maps 1:1 to Iceberg MOR delete files + appends
        # + background compaction.
        # True ⇒ frontier order provably collapses to enqueue_seq (all
        # priorities 0; round/seq share one counter) and the dequeue may
        # take the distributed big-round path. seed()/resume() verify it
        # against the actual seed priorities; callers that install a
        # frontier directly (bench/profile prefills) inherit True and
        # must use priority-0 rows (all in-repo prefills do).
        self._seq_orderable = True
        self.frontier: DataFrame | None = None
        self._frontier_delta: DataFrame | None = None
        self._tombstones: DataFrame | None = None
        self._tomb_count = 0
        self._base_count = 0
        self._compact_floor = 4096  # tests lower this to force compaction
        self._tomb_abs_cap = 2_000_000  # broadcast-size bound (see _maybe_compact)
        self.url_store: DataFrame = spark.createDataFrame([], _STORE_SCHEMA_W_HOST)
        self.frontier_count = 0
        self.seq = 0
        self.fetch_seq = 0
        self.round = 0
        self._store_unions = 0
        # driver-side buffers, flushed-and-cleared at checkpoints
        self.crawl_order: list[dict] = []
        self.lineage: list[dict] = []
        self.documents: list[pd.DataFrame] = []
        self.quarantine: list[dict] = []

    # ------------------------------------------------------------------ seed
    def seed(self):
        seeds = pq.read_table(os.path.join(self.corpus_dir, "seeds.parquet")).to_pylist()
        rows = []
        for s in seeds:
            c = canonicalize(s["url"])
            if c is None:
                continue
            rows.append((int(s["priority"]), 0, self.seq, c, host_of(c), 0, None))
            self.seq += 1
        self.frontier = self.spark.createDataFrame(rows, FRONTIER_SCHEMA) \
            .localCheckpoint(eager=True)
        self.frontier_count = len(rows)
        self._base_count = len(rows)
        # order-collapse invariant for the big-round dequeue fast path
        # (frontier.dequeue seq_hint): every non-seed enqueue (refill,
        # admission) is priority 0 and enqueue_round/enqueue_seq are both
        # assigned from the one global counter, so if the seeds are all
        # priority 0 too, frontier order == enqueue_seq order forever
        self._seq_orderable = all(r[0] == 0 for r in rows)

    # ----------------------------------------------------------------- view
    def _frontier_view(self) -> DataFrame:
        v = self.frontier
        if self._frontier_delta is not None:
            v = v.unionByName(self._frontier_delta)
        if self._tombstones is not None:
            v = v.join(F.broadcast(self._tombstones), "enqueue_seq",
                       "left_anti")
        return v

    def _append_delta(self, rows: DataFrame, n: int):
        """rows must already be materialized (checkpointed)."""
        self._frontier_delta = rows if self._frontier_delta is None \
            else self._frontier_delta.unionByName(rows)
        self.frontier_count += n

    def _maybe_compact(self):
        # 30%-of-base keeps compaction amortized, but the tombstone set is
        # BROADCAST in _frontier_view's anti-join — an absolute row cap
        # bounds that broadcast (~16 MB of longs at 2M rows) regardless of
        # how large the base grows, enforcing the "while they fit a
        # broadcast" contract instead of assuming it
        if self._tomb_count > max(self._compact_floor,
                                  min(int(0.3 * self._base_count),
                                      self._tomb_abs_cap)):
            self.frontier = self._frontier_view().localCheckpoint(eager=True)
            self._frontier_delta = None
            self._tombstones = None
            self._tomb_count = 0
            self._base_count = self.frontier_count

    # ----------------------------------------------------------- bloom bounds
    def _round_fits_bloom(self, total_added: int) -> bool:
        """True iff NO bloom op of this round can fail the reference's
        bounds check (bloom.go:228-246: n >= maxN or p̂(n) >= p, checked
        BEFORE each op). Both bounds are monotone in n and the largest
        pre-op n is ``gen0.n + total_added - 1``, so checking there covers
        every op — when it passes, the distributed bitset merge equals
        the sequential per-op inserts bit-for-bit."""
        import math
        if total_added == 0:
            return True  # no ops this round → no bound can trip
        g = self.bloom.gen0
        worst = g.n + total_added - 1
        if worst >= g.max_n:
            return False
        kf, mf = g.k_float, g.m_float
        p_hat = (1 - math.exp(-kf * (worst + 0.5) / (mf - 1))) ** kf
        return p_hat < g.p

    def _replay_bloom_ops(self, extracted: DataFrame, admitted: DataFrame):
        """Exact sequential replay of the round's bloom ops for rotation
        boundaries: for each fetched page in pos order, ``add(url)`` then
        ``add_many(admitted urls of that page)`` — the oracle's op
        sequence (dfs_basic.go:48,121-123) — against the rolling filter,
        so rotation (and the reference's lost-insert quirk) lands on
        exactly the same op. Errors are dropped like the reference's
        log-and-continue. Collects are G-bounded and run at most once per
        maxN/G rounds."""
        fetched = sorted(
            (r["pos"], r["url_canon"])
            for r in extracted.filter(F.col("quarantined").isNull())
            .select("pos", "url_canon").collect())
        adm = sorted(
            ((r["page_pos"], r["enqueue_seq"], r["url"])
             for r in admitted.select("page_pos", "enqueue_seq",
                                      "url").collect()))
        by_page: dict[int, list[str]] = {}
        for page_pos, _, url in adm:
            by_page.setdefault(int(page_pos), []).append(url)
        for pos, url in fetched:
            self.bloom.add(url)
            to_visit = by_page.get(int(pos))
            if to_visit:
                self.bloom.add_many(to_visit)

    # ---------------------------------------------------------------- refill
    def _refresh_robots(self, rnd: int):
        """Round-age robots view: rebuild the broadcast rules dict only
        when the cache's effective content changed (TTL expiry reloading
        a newer robots version). Static corpora hit this once."""
        rules = self.robots_cache.rules_for_round(rnd)
        if rules != self.robots_rules:
            if self._robots_bc is not None:
                self._robots_bc.destroy()
            self.robots_rules = dict(rules)
            self.robots_ok, self._robots_bc = make_robots_udf(
                self.spark, self.robots_rules)

    def _refill(self, rnd: int) -> int:
        """dfs_basic publisher (S3/O4/O5): first lexicographic domain with
        >= 1 robots-allowed url; publish last-wins-deduped urls in url
        order at depth 0; drop the domain from the store."""
        if self.mode == "news":
            return 0  # the news pipeline has no dfs publisher (seeds come
            # from the RSS publisher, sources/rss.py, outside the round loop)
        self._refresh_robots(rnd)
        ok_store = self.url_store.withColumn(
            "ok", self.robots_ok(F.col("host"), F.col("url")))
        first = ok_store.filter("ok").agg(F.min("domain").alias("d")).collect()[0]["d"]
        if first is None:
            return 0
        w_last = Window.partitionBy("url").orderBy(F.col("stash_key").desc())
        pub = (ok_store.filter(F.col("domain") == first).filter("ok")
               .withColumn("rn", F.row_number().over(w_last)).filter("rn = 1")
               .withColumn("seq_off", F.row_number().over(Window.orderBy("url")) - 1)
               .select(
                   F.lit(0).alias("priority"),
                   F.lit(rnd).alias("enqueue_round"),
                   (F.lit(self.seq) + F.col("seq_off")).alias("enqueue_seq"),
                   F.col("url"), F.col("host"),
                   F.lit(0).alias("depth"), F.col("origin"))
               .localCheckpoint(eager=True))
        n = pub.count()
        self.seq += n
        self._append_delta(pub, n)
        self.url_store = self.url_store.filter(F.col("domain") != first) \
            .localCheckpoint(eager=True)
        return n

    # ------------------------------------------------------------- one round
    def run_round(self, timings: dict | None = None) -> bool:
        import time as _time

        def _mark(name, t0):
            if timings is not None:
                timings[name] = timings.get(name, 0.0) + _time.perf_counter() - t0
            return _time.perf_counter()

        _t = _time.perf_counter()
        rnd = self.round
        if self.frontier_count == 0:
            if self._refill(rnd) == 0:
                return False

        deq_stats: dict = {}
        batch = dequeue(self._frontier_view(), self.B, self.G,
                        hot_host_threshold=self.hot_host_threshold,
                        seq_hint=self.seq if self._seq_orderable else None,
                        out_stats=deq_stats,
                        host_budgets=self.host_budgets or None)
        # ---- fetch (J1): small batches push an IN-filter into the parquet
        # scan (row-group pruning on url_canon stats) and broadcast the
        # pruned payload; huge batches (big-G rounds / scaling bench) go
        # through a distributed join against the payload table instead.
        small_batch = self.G <= 10000
        batch_urls = None
        if small_batch:
            # ONE collect: the <= G rows reach the driver anyway (their
            # urls are the fetch's IN-list), so they come back as an
            # Arrow-backed local frame instead of a localCheckpoint job
            # followed by a second collect of the checkpoint
            batch_tbl = batch.toArrow()
            batch = self.spark.createDataFrame(batch_tbl, batch.schema)
            batch_urls = batch_tbl.column("url").to_pylist()
            batch_count = len(batch_urls)
        else:
            batch = batch.localCheckpoint(eager=True)
            # the big-path dequeue derives the count from its own ranking
            # offsets — no extra count job
            batch_count = deq_stats["batch_count"] \
                if "batch_count" in deq_stats else batch.count()
        _t = _mark('dequeue', _t)
        if batch_count == 0:
            return False
        # MOR delete: the dequeued seqs become tombstones (batch is local
        # or checkpointed, so this union holds only materialized frames)
        seqs = batch.select("enqueue_seq")
        self._tombstones = seqs if self._tombstones is None \
            else self._tombstones.unionByName(seqs)
        self._tomb_count += batch_count
        self.frontier_count -= batch_count

        # Payload rows are ~10 KB of binary each: the 256-row Arrow batch
        # rule (measured rationale in session.scoped_arrow_batch — the
        # one shared copy of this logic), scoped to the fetch/extract job
        # only.
        from ..session import scoped_arrow_batch
        with scoped_arrow_batch(self.spark, 256):
            extracted = self._fetch_extract(batch, batch_count, batch_urls)
        _t = _mark('fetch_extract', _t)

        # post-extract work is a DAG of independent Spark jobs — run them
        # concurrently so driver-side job-launch latency (the dominant
        # serial per-round cost) overlaps; one admission code path for
        # every round size
        self._finish_round(extracted, batch_count, rnd, timings, _mark, _t)
        self.round += 1
        return True

    # ------------------------------------------------------------ fetch path
    def _fetch_extract(self, batch: DataFrame, batch_count: int,
                       batch_urls: list | None) -> DataFrame:
        """Fetch + extract for one round; returns the checkpointed
        ``extracted`` frame. ``batch_urls`` non-None selects the small-batch
        IN-pushdown plan (the list is the already-collected batch keys)."""
        payload_cols = ["bytes", "fmt", "caption", "phash", "pix_md5"]
        if batch_urls is not None:
            payload = self.pages.filter(_in_list("url_canon", batch_urls))
            if self.golden is not None:
                payload = payload.join(
                    self.golden.withColumnRenamed("pixels", "golden_pixels"),
                    "url_canon", "left")
                payload_cols = payload_cols + ["golden_pixels"]
            fetched = batch.join(F.broadcast(payload),
                                 batch.url == payload.url_canon, "left") \
                .select(batch.pos, batch.url.alias("url_canon"), batch.depth,
                        batch.host, *payload_cols)
            extracted = fetched.mapInArrow(self.extractor, EXTRACT_SCHEMA) \
                .localCheckpoint(eager=True)
        elif self.golden is not None:
            # big batch WITH golden pixels (tests only): broadcast the key
            # set, broadcast-hash-join it INTO the payload scan (narrow on
            # pages) — payload bytes still never shuffle; fetch misses take
            # the same extractor with null payload columns.
            keys = batch.select("pos", "url", "depth", "host")
            payload = self.pages.join(
                self.golden.withColumnRenamed("pixels", "golden_pixels"),
                "url_canon", "left")
            payload_cols = payload_cols + ["golden_pixels"]
            hits = (payload.join(F.broadcast(keys),
                                 payload.url_canon == keys.url, "inner")
                    .select("pos", F.col("url").alias("url_canon"),
                            "depth", "host", *payload_cols))
            misses = (batch.join(self.pages.select(F.col("url_canon").alias("u")),
                                 batch.url == F.col("u"), "left_anti")
                      .select("pos", F.col("url").alias("url_canon"),
                              "depth", "host",
                              *[F.lit(None).alias(c) for c in payload_cols]))
            extracted = (hits.mapInArrow(self.extractor, EXTRACT_SCHEMA)
                         .unionByName(misses.mapInArrow(self.extractor, EXTRACT_SCHEMA))
                         .localCheckpoint(eager=True))
        else:
            # big batch: payload bytes never cross ANY process boundary —
            # the extract tasks read their parquet row-group splits directly
            # and probe the G-bounded broadcast key map in place
            # (sources/payload_scan.py has the measurements and the 100 TB
            # story). Misses = anti-join on the url column only (JVM
            # columnar scan, no payload IO).
            from ..sources.payload_scan import fetch_extract_direct
            keys_tbl = batch.select("url", "pos", "depth", "host").toArrow()
            hits_df, fetch_key_bc = fetch_extract_direct(
                self.spark, os.path.join(self.corpus_dir, "pages.parquet"),
                keys_tbl, self.n_partitions,
                emit_text=self.collect_documents)
            try:
                hits_df = hits_df.localCheckpoint(eager=True)
                n_hits = hits_df.count()
            finally:
                fetch_key_bc.destroy()
            if n_hits == batch_count:
                # common case: every dequeued url has a payload row — skip
                # the miss anti-join (a full scan of the url column) and the
                # extra union materialization entirely
                extracted = hits_df
            else:
                misses = (batch.join(
                              self.pages.select(F.col("url_canon").alias("u")),
                              batch.url == F.col("u"), "left_anti")
                          .select("pos", F.col("url").alias("url_canon"),
                                  "depth", "host",
                                  *[F.lit(None).alias(c) for c in payload_cols]))
                extracted = (hits_df
                             .unionByName(misses.mapInArrow(self.extractor,
                                                            EXTRACT_SCHEMA))
                             .localCheckpoint(eager=True))
        return extracted

    # ---------------------------------------------------- round finish
    def _finish_round(self, extracted: DataFrame, batch_count: int,
                      rnd: int, timings, _mark, _t):
        """Post-extract work for every round, as a concurrent job DAG.

        Jobs, for every G and both seen filters:

        - the order job (thread pool, depends only on ``extracted``):
          crawl-order / quarantine / document artifacts plus the fetched
          and quarantined counts per partition, and — dfs — each page's
          same-domain and cross-domain candidate counts as higher-order
          columns (``_page_cand_counts``), summed per partition. News
          mode runs one more count job: its gate calls the robots
          pandas UDF, which cannot run inside a higher-order function;
        - the critical path: fused Arrow admission (markers ∪ candidates
          -> one colocating pass -> sequence rank -> admitted checkpoint);
        - ONE seen-set pass over the round's inserts (non-quarantined
          fetched urls ∪ admitted ``(url, partition_id)``;
          ``frontier.seen_round_pass``): per-partition admitted counts
          plus the bitset words or the cuckoo ``(shard, i1, fp)`` rows,
          one ``toArrow``. It overlaps the stash union.

        Driver-side job launches are the dominant serial cost of a round
        at this scale (0.1-0.64 s of CPU each on a 4-core box). All
        merges (lineage dict, bitmap OR, canonical cuckoo commit) happen
        on the driver after the gather, so the result is bit-identical
        to the serial order (tests/test_crawl_spark.py
        test_big_g_path_matches_oracle pins this)."""
        from concurrent.futures import ThreadPoolExecutor

        sc = self.spark.sparkContext

        news = self.mode == "news"
        # lazy definitions shared by the jobs
        cands = _explode_outlinks(extracted, with_page_host=news)
        if news:
            # news.go urlAllowed as the candidate gate: exact host +
            # extension/path blacklists + ':'+'=' (functions/news.py) AND
            # the per-outlink robots check (news.go:239-247 — unlike dfs,
            # robots gate at ADMISSION, not refill)
            from ..functions.news import NEWS_MAX_DEPTH, news_url_allowed
            self._refresh_robots(rnd)
            path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")),
                              F.lit(""))
            same = (cands.filter(
                (F.col("page_depth") < NEWS_MAX_DEPTH)
                & news_url_allowed(path, F.col("host"), F.col("page_host"))
                & self.robots_ok(F.col("host"), F.col("url")))
                .drop("page_domain", "domain", "page_url", "page_host"))
            stash = None  # news drops cross-host links (no stash, no refill)
        else:
            same = (cands.filter((F.col("domain") == F.col("page_domain"))
                                 & (F.col("page_depth") < self.max_depth))
                    # page_domain/domain are spent after the gate, and the
                    # proposing page's url (the eventual `origin`) is
                    # re-attached AFTER admission by a broadcast join on
                    # page_pos — none of them ride the admission shuffle
                    # (page_url alone is ~45 B x fan-out x batch of the
                    # shuffle and of the per-batch Arrow->pandas string
                    # allocation, which anti-scales with worker count)
                    .drop("page_domain", "domain", "page_url"))
            stash = cands.filter(F.col("domain") != F.col("page_domain"))
        fetch_seq0 = self.fetch_seq
        # dfs lineage counts ride the order job as per-page columns; news
        # keeps a count job (its gate calls the robots pandas UDF, which
        # cannot run inside a higher-order function)
        cand_cols = self._cand_cols
        cand_names = [] if news else ["same_n", "stash_n"]

        def job_order():
            """Order artifacts + {partition_id: lineage counters}."""
            def counters(n, same_n=0, stash_n=0):
                return {"fetched": int(n), "deduped": int(same_n),
                        "enqueued": 0, "stashed": int(stash_n)}

            if self.collect_order:
                ext_pd = extracted.select("*", *cand_cols) \
                    .drop("outlinks").toPandas().sort_values("pos")
                g = ext_pd.groupby("partition_id")
                sums = g[cand_names].sum() if cand_names else None
                agg = {int(k): counters(n, *(sums.loc[k] if cand_names
                                             else ()))
                       for k, n in g.size().items()}
                rows = [{"seq": fetch_seq0 + int(r.pos), "url_canon": r.url_canon,
                         "depth": int(r.depth), "round": rnd, "host": r.host,
                         "success": bool(r.success)}
                        for r in ext_pd.itertuples()]
                quar = [{"url_canon": r.url_canon, "error": r.quarantined,
                         "round": rnd}
                        for r in ext_pd[ext_pd["quarantined"].notna()]
                        .itertuples()]
                doc = None
                if self.collect_documents:
                    mask = ext_pd["success"] & ext_pd["quarantined"].isna()
                    if news:  # articles only: processArticle skips depth 0
                        mask &= ext_pd["depth"] > 0
                    doc = ext_pd[mask].drop(columns=cand_names)
                    doc["round"] = rnd
                return agg, rows, doc, quar, len(quar)
            parts = extracted.select("*", *cand_cols) \
                .groupBy("partition_id").agg(
                    F.count("*").alias("count"),
                    F.sum(F.when(F.col("quarantined").isNotNull(), 1)
                          .otherwise(0)).alias("q_n"),
                    *[F.sum(c).alias(c) for c in cand_names]).collect()
            agg = {int(r["partition_id"]): counters(
                       r["count"], *(r[c] for c in cand_names))
                   for r in parts}
            q_total = sum(int(r["q_n"]) for r in parts)
            if q_total:
                (extracted.filter(F.col("quarantined").isNotNull())
                 .select("url_canon", F.col("quarantined").alias("error"),
                         F.lit(rnd).alias("round"))
                 .write.mode("overwrite")
                 .parquet(self.store.state_dir("quarantine", rnd)))
            d = self.store.state_dir("crawl_order", rnd)
            (extracted.select(
                (F.col("pos") + F.lit(fetch_seq0)).alias("seq"),
                "url_canon", "depth", F.lit(rnd).alias("round"), "host",
                "success")
             .write.mode("overwrite").parquet(d))
            if self.collect_documents:
                # distributed twin of the driver-buffer document artifact:
                # successful rows written per round, bytes stay executor-side
                dd = self.store.state_dir("documents", rnd)
                doc_f = F.col("success") & F.col("quarantined").isNull()
                if news:
                    doc_f = doc_f & (F.col("depth") > 0)
                (extracted.filter(doc_f).drop(
                    "outlinks", *[c for c in ("countries", "companies")
                                  if c in extracted.columns])
                 .withColumn("round", F.lit(rnd))
                 .write.mode("overwrite").parquet(dd))
            return agg, None, None, None, q_total

        def job_news_cand_counts():
            return (same.groupBy("partition_id")
                    .agg(F.count("*").alias("same_n")).collect())

        # partitioning scaled to the round: toy rounds (bench.py's 2k-G
        # corpus, unit tests) run the SAME plan at 1 partition — no
        # 32-task shuffles over 2k rows; big-G rounds get full width
        par = max(sc.defaultParallelism, 4)
        n_parts = max(1, min(par, batch_count // 2000))

        cuckoo_mode = self.seen_filter == "cuckoo"
        pool = ThreadPoolExecutor(max_workers=4)
        probe_bc = None
        try:
            fut_order = pool.submit(job_order)
            fut_cand = pool.submit(job_news_cand_counts) if news else None

            # ---- critical path: fused Arrow admission (F6/F7) --------------
            # ONE shuffle by url (a coalesce when the round is one task)
            # colocates all proposals of a url TOGETHER WITH a marker row
            # per fetched url (cogroup-via-union: urls
            # are unique in `extracted`, so the fetched-pos gate needs no
            # groupBy stage, no driver collect, and no O(batch)-sized
            # broadcast — only the bloom bitset is broadcast). A single
            # Arrow pass over each whole partition then applies the bloom
            # probe, the fetched-pos gate, and min-page winner selection.
            # The pass MUST see the partition as one frame: Arrow slices
            # partitions into batches, and a per-batch min-page would admit
            # the same url from two pages (tests pin this with a tiny
            # Arrow batch size).
            # seen_probe="sharded": no filter broadcast at all — dirty
            # shard blobs sync to the workdir and the admission shuffle
            # routes by shard_of(h2) so each task file-loads only its
            # shards (ShardFileProbe docstring has the 10^10 argument).
            sharded_probe = cuckoo_mode and self.seen_probe == "sharded"
            probe_manifest = probe_shards = None
            if sharded_probe:
                probe_manifest = self._sync_shard_files()
                probe_shards = self.cuckoo.shards
            else:
                probe_bc = sc.broadcast(self.cuckoo.to_bytes() if cuckoo_mode
                                        else self.bloom.to_bytes())
            same_schema = same.schema
            cands_tagged = same.withColumn("f_pos", F.lit(None).cast("long"))
            # marker rows carry only (url, f_pos); the union fills every
            # candidate column with NULL
            markers = extracted.filter(F.col("quarantined").isNull()).select(
                F.col("url_canon").alias("url"),
                F.col("pos").cast("long").alias("f_pos"))

            def admit(it):
                # Arrow-native: hash urls zero-copy from the string
                # buffers, group by the 128-bit hash in numpy, keep
                # winners with Table.filter — no python string ever
                # materializes (frontier.admission_keep_mask has the
                # gate semantics and the collision argument).
                import pyarrow as pa
                import pyarrow.compute as pc

                from ..engine.murmur import hash128_batch_buf
                from ..engine.rolling_bloom import blooms_from_bytes
                from .frontier import admission_keep_mask
                if probe_manifest is not None:  # sharded file-backed probe
                    from ..engine.cuckoo import ShardFileProbe
                    bf = ShardFileProbe(probe_shards, probe_manifest)
                else:
                    raw = probe_bc.value
                    if raw[:5] == b"SCK1\n":  # cuckoo seen-set (magic-tagged)
                        from ..engine.cuckoo import ShardedCuckoo
                        bf = ShardedCuckoo.from_bytes(raw)
                    else:
                        bf = blooms_from_bytes(raw)
                tbls = [pa.Table.from_batches([rb]) for rb in it]
                if not tbls:
                    return
                # NOT combine_chunks'd: a >2 GB url column in one shuffle
                # partition cannot collapse to a single int32-offset chunk
                # (ArrowInvalid) — hash per chunk and concatenate instead,
                # so oversized partitions stay correct, just slower
                t = pa.concat_tables(tbls)
                if t.num_rows == 0:
                    return
                from ..engine.murmur import string_buf_views
                datas, lens = [], []
                for arr in t.column("url").chunks:
                    if len(arr) == 0:
                        continue
                    d, ln = string_buf_views(arr)
                    datas.append(d)
                    lens.append(ln)
                h1, h2 = hash128_batch_buf(
                    datas[0] if len(datas) == 1 else np.concatenate(datas),
                    lens[0] if len(lens) == 1 else np.concatenate(lens))
                page_pos = pc.fill_null(t.column("page_pos"), -1).to_numpy()
                if news_flag:
                    # news winner rule: single FIRST proposal per url by
                    # (page_pos, link_pos) — SetBytes inside urlAllowed
                    # dedupes within-page too; no marker rows exist
                    from .frontier import admission_keep_mask_news
                    link_pos = t.column("link_pos").to_numpy(
                        zero_copy_only=False)
                    keep = admission_keep_mask_news(h1, h2, page_pos,
                                                    link_pos, bf)
                else:
                    f_pos = pc.fill_null(t.column("f_pos"), -1).to_numpy()
                    is_marker = f_pos >= 0
                    keep = admission_keep_mask(h1, h2, page_pos, f_pos,
                                               is_marker, bf)
                if not keep.any():
                    return
                drop = ["f_pos", "shard"] if "shard" in t.column_names \
                    else ["f_pos"]
                out = t.filter(pa.array(keep)).drop_columns(drop)
                yield from out.to_batches()

            news_flag = news
            winners_in = cands_tagged if news \
                else cands_tagged.unionByName(markers,
                                              allowMissingColumns=True)

            def colocate(df, n, key):
                # all proposals of a url must reach one task; a one-task
                # round gets there by coalesce, without a shuffle job
                return df.coalesce(1) if n == 1 \
                    else df.repartition(n, F.col(key))
            if sharded_probe:
                # route candidates BY SHARD so the admit tasks are
                # shard-local. Correct because shard_of(h2) is a pure
                # function of the url: all proposals of a url (and its
                # marker row) share a shard, so winner selection still
                # sees every proposal together. The shard key derives via
                # a SCALAR arrow_udf — Spark ships ONLY the url column to
                # the python worker (a full-frame mapInArrow pre-pass
                # measured 1.35x on the 400k round from round-tripping
                # every column through Arrow IPC); hashing is the same
                # zero-copy buffer walk the admit pass uses.
                from pyspark.sql.functions import arrow_udf

                @arrow_udf("long")
                def shard_udf(urls):
                    import pyarrow as pa

                    from ..engine.cuckoo import shard_of
                    from ..engine.murmur import (hash128_batch_buf,
                                                 string_buf_views)
                    if len(urls) == 0:
                        return pa.array([], pa.int64())
                    _, h2 = hash128_batch_buf(*string_buf_views(urls))
                    return pa.array(
                        shard_of(h2, probe_shards).astype(np.int64),
                        pa.int64())

                winners = colocate(
                    winners_in.withColumn("shard", shard_udf(F.col("url"))),
                    min(n_parts, probe_shards), "shard") \
                    .mapInArrow(admit, same_schema)
            else:
                winners = colocate(winners_in, n_parts, "url") \
                    .mapInArrow(admit, same_schema)
            # scalable global sequence: pid-sharded sort + per-pid offsets
            # in one Arrow pass — no single-partition window at big G.
            # Toy rounds are already one partition: a plain window rank
            # there is the same work in a third of the jobs.
            if n_parts == 1:
                ranked = winners.withColumn("rn", F.row_number().over(
                    Window.orderBy("page_pos", "link_pos")).cast("long") - 1)
            else:
                from .frontier import assign_global_rank
                chunk = max(1, (batch_count + par - 1) // par)
                ranked = assign_global_rank(
                    winners, ["page_pos", "link_pos"],
                    F.floor(F.col("page_pos") / F.lit(chunk)), "rn",
                    partitions=n_parts, timings=timings)
            origin_by_pos = extracted.select(
                F.col("pos").alias("page_pos"),
                F.col("url_canon").alias("origin"))
            import time as _time
            _ta = _time.perf_counter()
            admitted = (ranked
                        .join(F.broadcast(origin_by_pos), "page_pos")
                        .select(
                            F.lit(0).alias("priority"),
                            F.lit(rnd).alias("enqueue_round"),
                            (F.lit(self.seq) + F.col("rn")).alias("enqueue_seq"),
                            F.col("url"), F.col("host"),
                            (F.col("page_depth") + 1).alias("depth"),
                            F.col("origin"),
                            F.col("partition_id"), F.col("page_pos"))
                        .localCheckpoint(eager=True))
            if timings is not None:
                timings["adm_admit_ckpt"] = timings.get("adm_admit_ckpt", 0.0) \
                    + _time.perf_counter() - _ta
            _t = _mark('admission', _t)

            # ---- seen-set delta + admitted counts: ONE pass, one collect
            # over the round's insert set — markVisited'd pages ∪ admitted
            # urls (admitted only in news mode: news.go never marks the
            # fetched page; quarantined rows never markVisited). It
            # overlaps the stash union below.
            ins = admitted.select("url", "partition_id")
            if not news:
                ins = (extracted.filter(F.col("quarantined").isNull())
                       .select(F.col("url_canon").alias("url"),
                               F.lit(None).cast("int").alias("partition_id"))
                       .unionByName(ins))
            seen_params = (self.cuckoo.shards, self.cuckoo.filters[0].m) \
                if cuckoo_mode else (self.bloom.max_n, self.bloom.p)
            fut_seen = pool.submit(seen_round_pass, ins, self.seen_filter,
                                   seen_params,
                                   min(par, batch_count // 10000 + 1))

            if stash is not None:
                stash_rows = stash.select(
                    "domain", "url",
                    F.col("page_url").alias("origin"),
                    (F.lit(rnd) * F.lit(1 << 40)
                     + F.col("page_pos") * F.lit(1 << 20)
                     + F.col("link_pos")).alias("stash_key"),
                    "host")
                self.url_store = self.url_store.unionByName(stash_rows)
                self._store_unions += 1
                if self._store_unions >= 4:  # bound the lazy union chain
                    self.url_store = self.url_store.localCheckpoint(eager=True)
                    self._store_unions = 0

            adm_counts, seen_delta = fut_seen.result()
            admitted_count = sum(adm_counts.values())
            self.seq += admitted_count
            # MOR append + maybe-compact instead of an O(frontier) rewrite
            self._append_delta(admitted.drop("partition_id", "page_pos"),
                               admitted_count)
            self._maybe_compact()
            _t = _mark('state_updates', _t)

            # ---- gather + driver-side merges -------------------------------
            agg, order_rows, doc, quar, q_n = fut_order.result()
            if order_rows is not None:
                self.crawl_order.extend(order_rows)
            if doc is not None:
                self.documents.append(doc)
            if quar:
                self.quarantine.extend(quar)
            self.fetch_seq += batch_count

            if fut_cand is not None:
                for r in fut_cand.result():
                    agg[int(r["partition_id"])]["deduped"] += int(r["same_n"])
            for part, n in adm_counts.items():
                agg[part]["enqueued"] += n
                agg[part]["deduped"] -= n
            for part in sorted(agg):
                self.lineage.append(
                    {"round": rnd, "partition": int(part), **agg[part]})

            if cuckoo_mode:
                # round-END canonical commit (the defined cuckoo-mode
                # semantics — oracle/crawler.py __init__): per-shard
                # sorted-unique insert of the derived rows, bit-identical
                # to the oracle's add_many_canonical on the same url set
                self.cuckoo.add_pairs_canonical(seen_delta[:, 0],
                                                seen_delta[:, 1],
                                                seen_delta[:, 2])
                _t = _mark('bloom_merge', _t)
                return
            # quarantined rows never markVisited → not counted as inserts;
            # news mode marks ONLY admitted outlinks (no page inserts)
            total_added = admitted_count if news \
                else batch_count - q_n + admitted_count
            if self._round_fits_bloom(total_added):
                # fast path (every round except the ~1-in-maxN/G that
                # crosses a bound): no rotation can occur anywhere in the
                # round's op sequence, so the distributed bitset OR is
                # bit-identical to the oracle's per-page add/add_many
                self.bloom.merge_words(seen_delta, added_n=total_added)
            else:
                # rotation boundary: replay the round's bloom ops exactly
                # (page add, then the page's admitted batch) driver-side —
                # O(G) work, same bound as the batch itself — so the
                # rotation fires at the same op and loses the same insert
                # as the oracle/reference (rolling_bloom.go quirk)
                if news:
                    # news inserts are one add() per admitted url in
                    # enqueue order (SetBytes inside urlAllowed)
                    for r in sorted(admitted.select("enqueue_seq", "url")
                                    .collect()):
                        self.bloom.add(r["url"])
                else:
                    self._replay_bloom_ops(extracted, admitted)
            _t = _mark('bloom_merge', _t)
        finally:
            # destroyed on every exit path — nothing past the admitted
            # checkpoint reads it, and leaking one bitset per failed round
            # would accumulate executor memory for the session's lifetime
            if probe_bc is not None:
                probe_bc.destroy()
            pool.shutdown(wait=True)

    # ------------------------------------------------------------------- run
    def run(self, max_rounds: int | None = None, checkpoint_every: int = 0) -> dict:
        if self.frontier is None:
            self.seed()
        limit = self.max_rounds if max_rounds is None else max_rounds
        while self.round < limit:
            if not self.run_round():
                break
            if checkpoint_every and self.round % checkpoint_every == 0:
                self.checkpoint()
        self.checkpoint()
        out = {"rounds": self.round, "fetched": self.fetch_seq,
               "frontier_ops": self.seq}
        if self.seen_filter == "cuckoo":
            out["cuckoo_n"] = out["seen_n"] = self.cuckoo.n
        else:
            # only meaningful in bloom mode (the bloom is unused and
            # all-zero under the cuckoo seen-set)
            out["bloom_bits"] = int(np.count_nonzero(self.bloom.words))
            out["seen_n"] = self.bloom.n
        return out

    def _sync_shard_files(self) -> dict[int, str]:
        """Write the cuckoo's DIRTY shard blobs to the workdir as
        immutable versioned files and return the full shard->path
        manifest (seen_probe="sharded"). First sync writes every shard;
        later syncs rewrite only shards mutated since (round commits,
        readmit/forget deletes). Immutable names (never overwritten)
        keep worker-side caches valid and make stage retries re-read
        exactly the blobs the round started with; the tmp+rename makes
        each file's appearance atomic. At 10^10 scale this directory
        lives on the cluster's shared store and the per-round write is
        O(changed shards), the same class as the round's insert volume."""
        os.makedirs(self._seen_shard_dir, exist_ok=True)
        if self._shard_manifest is None:
            to_write = range(self.cuckoo.shards)
            manifest: dict[int, str] = {}
        else:
            to_write = sorted(self.cuckoo.dirty)
            manifest = dict(self._shard_manifest)
        ver = self._shard_sync_n
        superseded = []
        for s in to_write:
            path = os.path.join(
                self._seen_shard_dir,
                f"shard{s:05d}_v{ver:06d}_{self._shard_run_tag}.bin")
            tmp = path + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(self.cuckoo.filters[s].to_bytes())
            os.replace(tmp, path)
            if s in manifest:
                superseded.append(manifest[s])
            manifest[s] = path
        # GC superseded blobs with a one-generation lag (keep-last-2):
        # without this a long sharded crawl accretes O(dirty bytes)/round
        # of dead immutable files on the shared store forever
        for old in self._shard_gc_paths:
            try:
                os.unlink(old)
            except FileNotFoundError:
                pass
        self._shard_gc_paths = superseded
        self._shard_sync_n += 1
        self.cuckoo.dirty.clear()
        self._shard_manifest = manifest
        return manifest

    def readmit(self, urls) -> int:
        """Recrawl API (cuckoo mode only — the per-URL forget the rolling
        bloom cannot express; with the bloom the engine's only lever is
        rotating out a whole generation): delete each url from the
        seen-set and re-enqueue it at depth 0 with origin 'readmit', so
        subsequent :meth:`run` rounds refetch it. Mirrors
        ``OracleCrawler.readmit`` exactly (priority-0 rows keep the
        big-path order invariant). Returns the number re-enqueued."""
        assert self.seen_filter == "cuckoo", \
            "readmit requires the cuckoo seen-set"
        if self.frontier is None:
            # seed first or seed() would later RESET frontier_count and
            # orphan the readmit delta; seeds keep the first seqs
            # (oracle parity: OracleCrawler.readmit seeds too)
            self.seed()
        rows = []
        for u in urls:
            c = canonicalize(u)
            if c is None:
                continue
            self.cuckoo.delete(c)
            rows.append((0, self.round, self.seq, c, host_of(c), 0,
                         "readmit"))
            self.seq += 1
        if rows:
            df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA) \
                .localCheckpoint(eager=True)
            self._append_delta(df, len(rows))
        return len(rows)

    def readmit_df(self, urls_df: DataFrame) -> int:
        """Distributed :meth:`readmit` — the 10^10-frontier form, for
        recrawl sets that don't fit a driver list. ``urls_df`` is one
        string column of raw urls. One Arrow pass canonicalizes, hashes
        (murmur3-128) and derives the cuckoo (shard, i1, fp) rows on the
        executors; enqueue order is defined as ascending UNSIGNED
        (h1, h2) — deterministic and partition-invariant — with seqs
        assigned by the sharded global rank (no single-partition
        window). URL strings never reach the driver: the frontier rows
        stay a checkpointed DataFrame delta, and only the 24-byte
        derived rows are collected for the driver-resident filter's
        bucket edits (same G-bounded contract as the round commit).
        Equivalent to ``readmit(victims sorted by unsigned (h1, h2))``
        — pinned in t:test_crawl_cuckoo. Returns the number re-enqueued
        (invalid/uncanonicalizable urls are dropped)."""
        assert self.seen_filter == "cuckoo", \
            "readmit requires the cuckoo seen-set"
        if self.frontier is None:
            self.seed()  # see readmit(): never let seed() run AFTER us
        from .frontier import assign_global_rank

        m, shards = self.cuckoo.filters[0].m, self.cuckoo.shards
        flip = np.uint64(1 << 63)

        def derive_pass(it):
            for got in _cuckoo_derive_canonical(it, m, shards):
                keep, h1, h2, i1, fp, sh = got
                yield pa.RecordBatch.from_arrays(
                    [pa.array(keep, pa.string()),
                     pa.array([host_of(c) for c in keep], pa.string()),
                     pa.array(sh),
                     pa.array(i1.view(np.int64)),
                     pa.array(fp.view(np.int64)),
                     # sign-flip so int64 ORDER == uint64 order
                     pa.array((h1 ^ flip).view(np.int64)),
                     pa.array((h2 ^ flip).view(np.int64))],
                    names=["url", "host", "shard", "i1", "fp",
                           "h1s", "h2s"])

        derived = urls_df.mapInArrow(
            derive_pass,
            "url string, host string, shard long, i1 long, fp long, "
            "h1s long, h2s long")
        st: dict = {}
        # pid = top 16 bits of h1s: monotone in the (h1s, h2s) order,
        # uniform under murmur — the assign_global_rank contract
        ranked = assign_global_rank(
            derived, ["h1s", "h2s"], F.shiftright(F.col("h1s"), 48),
            out_col="rn", out_stats=st)
        rows = ranked.select(
            F.lit(0).cast("int").alias("priority"),
            F.lit(self.round).cast("int").alias("enqueue_round"),
            (F.lit(self.seq) + F.col("rn")).cast("long")
            .alias("enqueue_seq"),
            "url", "host",
            F.lit(0).cast("int").alias("depth"),
            F.lit("readmit").alias("origin"),
            "shard", "i1", "fp").localCheckpoint(eager=True)
        n = st.get("total", 0)
        if n == 0:
            return 0
        pr = rows.select("shard", "i1", "fp").toArrow()
        self.cuckoo.delete_pairs(
            pr.column("shard").to_numpy(zero_copy_only=False),
            pr.column("i1").to_numpy(zero_copy_only=False).view(np.uint64),
            pr.column("fp").to_numpy(zero_copy_only=False).view(np.uint64))
        self._append_delta(rows.drop("shard", "i1", "fp"), n)
        self.seq += n
        return n

    def forget_df(self, urls_df: DataFrame) -> int:
        """Expiry — the other half of the cuckoo recrawl/expiry story:
        delete urls from the seen-set WITHOUT re-enqueueing them, so the
        filter's load stays bounded and a forgotten url is recrawled
        only IF the live frontier re-encounters it (passive freshness).
        Same distributed shape as :meth:`readmit_df` minus the rank and
        frontier delta: canonicalize+hash on the executors, only the
        24-byte derived rows reach the driver-resident filter. Same
        deletion contract as ``CuckooFilter.delete`` (only forget urls
        that were actually inserted). Returns the number of stored
        entries removed (duplicates and never-inserted urls no-op)."""
        assert self.seen_filter == "cuckoo", \
            "forget requires the cuckoo seen-set"
        m, shards = self.cuckoo.filters[0].m, self.cuckoo.shards

        def derive_pass(it):
            for _, _, _, i1, fp, sh in _cuckoo_derive_canonical(
                    it, m, shards):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(sh),
                     pa.array(i1.view(np.int64)),
                     pa.array(fp.view(np.int64))],
                    names=["shard", "i1", "fp"])

        pr = urls_df.mapInArrow(
            derive_pass, "shard long, i1 long, fp long").toArrow()
        return self.cuckoo.delete_pairs(
            pr.column("shard").to_numpy(zero_copy_only=False),
            pr.column("i1").to_numpy(zero_copy_only=False).view(np.uint64),
            pr.column("fp").to_numpy(zero_copy_only=False).view(np.uint64))

    # ------------------------------------------------------------- checkpoint
    def checkpoint(self):
        rnd = self.round
        fdir = self.store.state_dir("frontier", rnd)
        sdir = self.store.state_dir("url_store", rnd)
        self._frontier_view().write.mode("overwrite").parquet(fdir)
        self.url_store.write.mode("overwrite").parquet(sdir)
        self.store.save_bloom(rnd, self.cuckoo.to_bytes()
                              if self.seen_filter == "cuckoo"
                              else self.bloom.to_bytes())
        if self.crawl_order:
            d = self.store.state_dir("crawl_order", rnd)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(self.crawl_order),
                           os.path.join(d, "part.parquet"))
            self.crawl_order = []
        if self.lineage:
            d = self.store.state_dir("lineage", rnd)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(self.lineage),
                           os.path.join(d, "part.parquet"))
            self.lineage = []
        if self.quarantine:
            d = self.store.state_dir("quarantine", rnd)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(self.quarantine),
                           os.path.join(d, "part.parquet"))
            self.quarantine = []
        if self.documents:
            d = self.store.state_dir("documents", rnd)
            os.makedirs(d, exist_ok=True)
            docs = pd.concat(self.documents, ignore_index=True)
            docs = docs.drop(columns=[c for c in ("countries", "companies")
                                      if c in docs.columns])
            pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                           os.path.join(d, "part.parquet"))
            self.documents = []
        self.store.commit({
            "round": rnd, "seq": self.seq, "fetch_seq": self.fetch_seq,
            "frontier_count": self.frontier_count,
            # informational only (restore reads the blob itself); named
            # for the seen-set mode, not "bloom_n", since cuckoo counts
            # land here too
            "seen_n": self.cuckoo.n if self.seen_filter == "cuckoo"
            else self.bloom.n,
            "frontier_dir": fdir, "url_store_dir": sdir, "mode": self.mode,
            "seen_filter": self.seen_filter,
            # performance-only, but restored so a resumed sharded-probe
            # crawl keeps its probe plan without re-passing the kwarg
            "seen_probe": self.seen_probe,
            # SEMANTIC engine knob — resume == uninterrupted requires it
            "host_budgets": self.host_budgets,
        })

    # ----------------------------------------------------------------- resume
    @classmethod
    def resume(cls, spark: SparkSession, corpus_dir: str, workdir: str,
               n_partitions: int = 8, collect_documents: bool = True) -> "CrawlEngine":
        eng = cls(spark, corpus_dir, workdir, n_partitions, collect_documents)
        m = eng.store.last_manifest()
        if m is None:
            raise FileNotFoundError(f"no committed snapshot under {workdir}")
        eng.round = m["round"]
        eng.mode = m.get("mode", "dfs")
        eng.seq = m["seq"]
        eng.fetch_seq = m["fetch_seq"]
        eng.frontier_count = m["frontier_count"]
        # semantic politeness overrides travel with the snapshot; without
        # this a resumed crawl would silently revert to the uniform B
        eng.host_budgets = m.get("host_budgets") or {}
        blob = eng.store.load_bloom(m["round"])
        if blob.startswith(b"SCK1\n"):
            # cuckoo seen-set snapshot (magic-tagged single blob)
            eng.seen_filter = "cuckoo"
            eng.cuckoo = ShardedCuckoo.from_bytes(blob)
            # probe plan sticks across resume (manifest None ⇒ the first
            # round re-syncs every shard file from the restored filter)
            eng.seen_probe = m.get("seen_probe", "broadcast")
        elif blob.startswith(b"RBF1\n"):
            # full-generation snapshot (NOT the reference's save-gen0-only
            # Save quirk — resume == uninterrupted requires all generations)
            eng.bloom = RollingBloomFilter.from_bytes(blob)
        else:  # pre-rolling snapshot: single generation
            eng.bloom = RollingBloomFilter(
                eng.params.get("bloom_count", 1),
                eng.params["bloom_max_n"], eng.params["bloom_p"],
                blooms=[BloomFilter.from_bytes(blob)])
        eng.frontier = spark.read.schema(FRONTIER_SCHEMA) \
            .parquet(m["frontier_dir"]).localCheckpoint(eager=True)
        eng._base_count = eng.frontier_count
        # re-verify the big-path order-collapse invariant on the restored
        # frontier (one tiny agg over the checkpointed frame)
        pr = eng.frontier.agg(F.min("priority").alias("lo"),
                              F.max("priority").alias("hi")).collect()[0]
        eng._seq_orderable = (pr["lo"] is None
                              or (pr["lo"] == 0 and pr["hi"] == 0))
        eng.url_store = spark.read.schema(_STORE_SCHEMA_W_HOST) \
            .parquet(m["url_store_dir"]).localCheckpoint(eager=True)
        return eng

    # -------------------------------------------------------------- accessors
    def crawl_order_df(self) -> pd.DataFrame:
        """Full committed crawl order (flushed parts + buffer)."""
        parts = self.store.part_dirs("crawl_order", self.round)
        frames = [pq.read_table(p).to_pandas() for p in parts]
        if self.crawl_order:
            frames.append(pd.DataFrame(self.crawl_order))
        return (pd.concat(frames, ignore_index=True).sort_values("seq")
                .reset_index(drop=True)) if frames else pd.DataFrame()

    def quarantine_df(self) -> pd.DataFrame:
        """Committed DLQ rows (url_canon, error, round) + buffer."""
        parts = self.store.part_dirs("quarantine", self.round)
        frames = [pq.read_table(p).to_pandas() for p in parts]
        if self.quarantine:
            frames.append(pd.DataFrame(self.quarantine))
        return (pd.concat(frames, ignore_index=True)
                .sort_values(["round", "url_canon"]).reset_index(drop=True)
                ) if frames else pd.DataFrame(
                    columns=["url_canon", "error", "round"])

    def lineage_df(self) -> pd.DataFrame:
        parts = self.store.part_dirs("lineage", self.round)
        frames = [pq.read_table(p).to_pandas() for p in parts]
        if self.lineage:
            frames.append(pd.DataFrame(self.lineage))
        return (pd.concat(frames, ignore_index=True)
                .sort_values(["round", "partition"]).reset_index(drop=True)
                ) if frames else pd.DataFrame()
