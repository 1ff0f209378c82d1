"""The crawl engine: delver's pipeline as one DataFrame job per round.

Each round (SURVEY §3.1 "Spark translation"):

  refill-if-empty (S3) → dequeue under politeness budget (O1/O2, window +
  TakeOrdered) → payload join (J1) → decode + extract in ONE mapInArrow
  pass with zero-copy binary views (X1-X11) → admission split (F6):
  same-domain candidates seen-set-gated (F7/J3) vs cross-domain stash
  (append-only url_store) → assign enqueue_seq → union frontier delta →
  ONE seen-set pass (the seen-set delta + admitted counts, one collect)
  committed on the driver → snapshot commit (T8). The seen-set — the
  rolling bloom or the sharded cuckoo, and how it is probed — lives
  behind one interface in operators/seen.py.

Each round picks its physical plan from its BOUND, the most rows it can
dequeue: ``min(G, frontier_count)``, where ``frontier_count`` is the
exact row count the merge-on-read bookkeeping keeps on the driver. The
bound only picks the plan; the dequeue limit stays G, so the crawl is the
same under either plan. At or below ``BIG_ROUND_FLOOR`` a round takes
the small-round plan: the dequeue is one ``toArrow`` that comes back as
a local relation, the fetch pushes an IN-list into the payload scan and
broadcast-joins the pruned payload, and the order/quarantine/document
artifacts come back in one ``toArrow`` into the driver buffer, flushed
at checkpoints. Above it, the big-round plan: the dequeue ranks
distributed (``frontier.dequeue`` ``seq_hint``), the extract tasks read
their payload row-group splits directly (``sources/payload_scan.py``,
payload bytes never shuffle) and Spark writes the artifacts every
round. Each artifact is defined once (``_artifacts``), so both layouts
write one schema.

A steady small round launches at most 10 Spark jobs: the dequeue
collect (3: the tombstone broadcast, the host window's shuffle, the
ordered take), the payload broadcasts and the extract checkpoint (2-3),
the order job, which also carries each page's lineage candidate counts
as higher-order columns (1), the admission checkpoint (2: origin
broadcast, admit pass) and the seen-set pass (1). On a 4-core box each
small job costs 0.1-0.64 s of process-tree CPU, so the count, not the
data, sets a small round's cost — which is why a G=20000 crawl whose
frontier holds a few hundred urls takes the small plan.

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
bit-for-bit on crawl order and seen-set bytes (tests/test_crawl_spark.py,
tests/test_crawl_cuckoo.py).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine.robots import RobotsCache
from ..engine.urlnorm import canonicalize, host_of
from ..sources.snapshot import SnapshotStore
from .extract import EXTRACT_SCHEMA, make_extractor_arrow
from .frontier import (
    FRONTIER_SCHEMA,
    STORE_SCHEMA,
    dequeue,
    make_robots_udf,
)
from .seen import from_blob, new_seen

_STORE_SCHEMA_W_HOST = STORE_SCHEMA.add("host", "string", False)

# A round whose bound min(G, frontier_count) exceeds this many rows takes
# the big-round plan (module docstring); tests lower the engine's private
# copy, ``CrawlEngine._big_round_floor``, to force it at unit scale.
BIG_ROUND_FLOOR = 10_000

# the append-only artifact tables (SnapshotStore part dirs)
_PART_TABLES = ("crawl_order", "lineage", "quarantine", "documents")


# the documents artifact: every extract column but the outlinks and the
# entity lists, plus the round
_DOC_COLS = [f.name for f in EXTRACT_SCHEMA.fields
             if f.name not in ("outlinks", "countries", "companies")]


def _artifacts(rnd: int, fetch_seq0: int, news: bool,
               documents: bool) -> dict:
    """The one definition of each artifact table a round appends to:
    ``{name: (row predicate, columns)}``, SQL over the extract frame.
    Spark writes ``extracted.filter(pred).selectExpr(*cols)``; the driver
    buffer collects every table as a struct column of ``cols`` plus
    ``pred`` as a mask (:meth:`CrawlEngine._order_job`). ``round`` is a
    non-NULL INT literal in both."""
    arts = {
        "crawl_order": ("true", [f"pos + {fetch_seq0} AS seq", "url_canon",
                                 "depth", f"{rnd} AS round", "host",
                                 "success"]),
        "quarantine": ("quarantined IS NOT NULL",
                       ["url_canon", "quarantined AS error",
                        f"{rnd} AS round"]),
    }
    if documents:
        # news: articles only, processArticle skips depth 0
        arts["documents"] = (
            "success AND quarantined IS NULL" + (" AND depth > 0" if news
                                                 else ""),
            _DOC_COLS + [f"{rnd} AS round"])
    return arts


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


def _admit_pass(probe, news: bool, out_cols: list[str]):
    """The fused admission's mapInArrow body: per colocated partition,
    the seen-set probe, the fetched-pos gate and winner selection
    (frontier.admission_keep_mask[_news] has the semantics). It MUST see
    the partition as one frame: a per-batch min-page would admit a url
    from two pages (tests pin this with a tiny Arrow batch size). Urls
    hash zero-copy from the string buffers and winners leave by
    Table.filter — no python string ever materializes."""
    def admit(it):
        import pyarrow.compute as pc

        from ..engine.murmur import hash128_batch_buf, string_buf_views
        from .frontier import admission_keep_mask, admission_keep_mask_news
        seen = probe.load()
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
        if news:
            # news winner rule: single FIRST proposal per url by
            # (page_pos, link_pos) — SetBytes inside urlAllowed
            # dedupes within-page too; no marker rows exist
            link_pos = t.column("link_pos").to_numpy(zero_copy_only=False)
            keep = admission_keep_mask_news(h1, h2, page_pos, link_pos, seen)
        else:
            f_pos = pc.fill_null(t.column("f_pos"), -1).to_numpy()
            keep = admission_keep_mask(h1, h2, page_pos, f_pos, f_pos >= 0,
                                       seen)
        if keep.any():
            # drops f_pos and any routing column the colocation added
            yield from t.filter(pa.array(keep)).select(out_cols).to_batches()

    return admit


class CrawlEngine:
    def __init__(self, spark: SparkSession, corpus_dir: str, workdir: str,
                 n_partitions: int = 8, collect_documents: bool = True,
                 hot_host_threshold: int | None = None,
                 mode: str = "dfs",
                 param_overrides: dict | None = None,
                 seen_filter: str = "bloom",
                 host_budgets: dict | None = None):
        # the one record of the options: a checkpoint writes it into the
        # manifest and resume() constructs the engine from it
        self.options = dict(
            n_partitions=n_partitions, collect_documents=collect_documents,
            hot_host_threshold=hot_host_threshold, mode=mode,
            param_overrides=param_overrides, seen_filter=seen_filter,
            host_budgets=host_budgets)
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.workdir = workdir
        self.n_partitions = n_partitions
        self.collect_documents = collect_documents
        # "dfs" = dfs_basic accumulator (same-domain gate, stash, refill);
        # "news" = news accumulator (functions/news.py gates at admission
        # incl. per-outlink robots, seen-set marks admitted urls only, no
        # stash/refill, maxDepth=1, articles = depth>0 fetched pages)
        if mode not in ("dfs", "news"):
            raise ValueError(f"mode must be 'dfs' or 'news', got {mode!r}")
        if seen_filter not in ("bloom", "cuckoo"):
            raise ValueError("seen_filter must be 'bloom' or 'cuckoo', got "
                             f"{seen_filter!r}")
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
        self._big_round_floor = BIG_ROUND_FLOOR

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

        # the URL-seen set (operators/seen.py): the rolling bloom, or the
        # sharded cuckoo whose payoff is readmit(), per-URL recrawl.
        # Built on first use (see `seen`)
        self._seen = None
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
        # take the distributed big-round path. seed() verifies it against
        # the seed priorities and the snapshot carries it; callers that
        # install a frontier directly (bench/profile prefills) inherit
        # True and must use priority-0 rows (all in-repo prefills do).
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
        # the driver buffer: {artifact table: its uncommitted rows, in
        # the Spark-written parts' schema}, flushed at checkpoints
        self.buffers: dict[str, pa.Table] = {}

    @property
    def seen(self):
        # created on first use, so resume() installs its snapshot's set
        # without first allocating an empty one sized from the params
        # (the 10^10 regime's cuckoo is ~20 GB)
        if self._seen is None:
            self._seen = new_seen(self.options["seen_filter"], self.params,
                                  self.workdir)
        return self._seen

    # the seen-set's kind and its derived probe plan, and its filter (None
    # for the family not in use)
    seen_filter = property(lambda self: self.seen.kind)
    seen_probe = property(lambda self: self.seen.probe)
    bloom = property(lambda self: self.seen.bloom)
    cuckoo = property(lambda self: self.seen.cuckoo)

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
    def run_round(self) -> bool:
        rnd = self.round
        if self.frontier_count == 0:
            if self._refill(rnd) == 0:
                return False

        # the round's plan comes from its bound, the most rows it can
        # dequeue (module docstring). Only the plan: the dequeue limit
        # stays G, so a wrong frontier_count can never change the crawl
        big = min(self.G, self.frontier_count) > self._big_round_floor
        deq_stats: dict = {}
        batch = dequeue(self._frontier_view(), self.B, self.G,
                        hot_host_threshold=self.hot_host_threshold,
                        seq_hint=self.seq if big and self._seq_orderable
                        else None,
                        out_stats=deq_stats,
                        host_budgets=self.host_budgets or None)
        batch_urls = None
        if not big:
            # ONE collect: the <= bound rows reach the driver anyway (their
            # urls are the fetch's IN-list), so they come back as an
            # Arrow-backed local frame instead of a localCheckpoint job
            # followed by a second collect of the checkpoint
            batch_tbl = batch.toArrow()
            batch = self.spark.createDataFrame(batch_tbl, batch.schema)
            batch_urls = batch_tbl.column("url").to_pylist()
            batch_count = len(batch_urls)
        else:
            batch = batch.localCheckpoint(eager=True)
            # the distributed rank derives the count from its own offsets
            # — no extra count job
            batch_count = deq_stats["batch_count"] \
                if "batch_count" in deq_stats else batch.count()
        if batch_count == 0:
            return False
        # MOR delete: the dequeued seqs become tombstones (batch is local
        # or checkpointed, so this union holds only materialized frames)
        seqs = batch.select("enqueue_seq")
        self._tombstones = seqs if self._tombstones is None \
            else self._tombstones.unionByName(seqs)
        self._tomb_count += batch_count
        self.frontier_count -= batch_count

        # ---- fetch (J1): a small round pushes its IN-list into the parquet
        # scan (row-group pruning on url_canon stats) and broadcasts the
        # pruned payload; a big round's extract tasks read the payload
        # splits directly. Payload rows are ~10 KB of binary each: the
        # 256-row Arrow batch rule (measured rationale in
        # session.scoped_arrow_batch — the one shared copy of this logic),
        # scoped to the fetch/extract job only.
        from ..session import scoped_arrow_batch
        with scoped_arrow_batch(self.spark, 256):
            extracted = self._fetch_extract(batch, batch_count, batch_urls)

        # post-extract work is a DAG of independent Spark jobs — run them
        # concurrently so driver-side job-launch latency (the dominant
        # serial per-round cost) overlaps; one admission code path for
        # every round size. The artifacts go to the driver buffer on a
        # small round, to per-round Spark writes on a big one
        self._finish_round(extracted, batch_count, rnd, buffered=not big)
        self.round += 1
        return True

    # ------------------------------------------------------------ fetch path
    def _fetch_extract(self, batch: DataFrame, batch_count: int,
                       batch_urls: list | None) -> DataFrame:
        """Fetch + extract for one round; returns the checkpointed
        ``extracted`` frame. ``batch_urls`` non-None selects the small-round
        IN-pushdown plan (the list is the already-collected batch keys);
        None, the big-round plan."""
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
    def _order_job(self, extracted: DataFrame, rnd: int, fetch_seq0: int,
                   buffered: bool):
        """The round's artifacts (:func:`_artifacts`) + {partition_id:
        lineage counters} + the quarantined count, in one job. dfs lineage
        candidate counts ride it as per-page columns. ``buffered``: one
        ``toArrow`` carries every artifact as a struct column plus its
        predicate as a mask column, and the split tables return for the
        driver buffer. (A NULL struct for a filtered-out row would fail
        the ``toArrow``: ``round`` is a non-NULL child.) Else Spark
        writes them into the part dirs of the snapshot round that will
        commit them (``rnd + 1``: an uncommitted round's parts stay
        invisible, see ``SnapshotStore``) and no tables return."""
        news = self.mode == "news"
        cand_names = [] if news else ["same_n", "stash_n"]
        arts = _artifacts(rnd, fetch_seq0, news, self.collect_documents)

        def counters(n, same_n=0, stash_n=0):
            return {"fetched": int(n), "deduped": int(same_n),
                    "enqueued": 0, "stashed": int(stash_n)}

        if buffered:
            t = extracted.select(
                "pos", "partition_id", *self._cand_cols,
                *[F.expr(f"struct({', '.join(cols)}) AS {name}")
                  for name, (_, cols) in arts.items()],
                *[F.expr(f"{pred} AS in_{name}")
                  for name, (pred, _) in arts.items()]
            ).toArrow().sort_by("pos")
            tables = {name: pa.Table.from_struct_array(t.column(name))
                      .filter(t.column("in_" + name)) for name in arts}
            sums = t.group_by("partition_id").aggregate(
                [([], "count_all")] + [(c, "sum") for c in cand_names])
            agg = {int(r["partition_id"]): counters(
                       r["count_all"], *(r[c + "_sum"] for c in cand_names))
                   for r in sums.to_pylist()}
            return agg, tables, tables["quarantine"].num_rows
        parts = extracted.select("*", *self._cand_cols) \
            .groupBy("partition_id").agg(
                F.count("*").alias("count"),
                F.expr(f"count_if({arts['quarantine'][0]})").alias("q_n"),
                *[F.sum(c).alias(c) for c in cand_names]).collect()
        agg = {int(r["partition_id"]): counters(
                   r["count"], *(r[c] for c in cand_names))
               for r in parts}
        q_total = sum(int(r["q_n"]) for r in parts)
        for name, (pred, cols) in arts.items():
            if name != "quarantine" or q_total:
                extracted.filter(pred).selectExpr(*cols).write \
                    .mode("overwrite").parquet(
                        self.store.state_dir(name, rnd + 1))
        return agg, {}, q_total

    def _admit(self, extracted: DataFrame, same: DataFrame, probe,
               batch_count: int, rnd: int, n_parts: int,
               par: int) -> DataFrame:
        """The round's critical path, fused Arrow admission (F6/F7): ONE
        colocating pass (``probe.colocate``) brings all proposals of a
        url TOGETHER WITH a marker row per fetched url (cogroup-via-union:
        urls are unique in ``extracted``, so the fetched-pos gate needs no
        groupBy, no driver collect and no O(batch) broadcast), then
        :func:`_admit_pass`, a sequence rank and the origin join. Returns
        the admitted checkpoint, ``partition_id`` and ``page_pos`` kept."""
        news = self.mode == "news"
        winners_in = same.withColumn("f_pos", F.lit(None).cast("long"))
        if not news:  # news.go never marks the fetched page: no markers
            # marker rows carry only (url, f_pos); the union fills every
            # candidate column with NULL
            markers = extracted.filter(F.col("quarantined").isNull()).select(
                F.col("url_canon").alias("url"),
                F.col("pos").cast("long").alias("f_pos"))
            winners_in = winners_in.unionByName(markers,
                                                allowMissingColumns=True)
        winners = probe.colocate(winners_in, n_parts).mapInArrow(
            _admit_pass(probe, news, same.schema.names), same.schema)
        # scalable global sequence: pid-sharded sort + per-pid offsets
        # in one Arrow pass — no single-partition window on big rounds.
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
                partitions=n_parts)
        origin_by_pos = extracted.select(
            F.col("pos").alias("page_pos"),
            F.col("url_canon").alias("origin"))
        return (ranked
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

    def _seen_ops(self, extracted: DataFrame, admitted: DataFrame):
        """The round's seen-set inserts as the oracle's write transactions
        (G-bounded collects). dfs: per fetched page in pos order, its url,
        then its admitted urls (dfs_basic.go:48,121-123); news: one
        admitted url at a time in enqueue order (SetBytes in urlAllowed)."""
        if self.mode == "news":
            return [[r["url"]] for r in sorted(
                admitted.select("enqueue_seq", "url").collect())]
        by_page: dict[int, list[str]] = {}
        for r in sorted(admitted.select("page_pos", "enqueue_seq",
                                        "url").collect()):
            by_page.setdefault(r["page_pos"], []).append(r["url"])
        ops = []
        for pos, url in sorted(extracted.filter(F.col("quarantined").isNull())
                               .select("pos", "url_canon").collect()):
            ops += [[url], by_page[pos]] if pos in by_page else [[url]]
        return ops

    def _finish_round(self, extracted: DataFrame, batch_count: int,
                      rnd: int, buffered: bool):
        """Post-extract work for every round, as a concurrent job DAG.

        Jobs, for every round plan and every seen-set:

        - the order job (:meth:`_order_job`, thread pool): the artifact
          tables (``buffered``: one ``toArrow`` into the driver buffer,
          else per-round Spark writes), per-partition fetched/quarantined
          counts and — dfs — the pages' candidate counts
          (``_page_cand_counts``). News runs one more
          count job: its gate calls the robots pandas UDF, which cannot
          run inside a higher-order function;
        - the critical path: fused Arrow admission (:meth:`_admit`);
        - ONE seen-set pass over the round's inserts (non-quarantined
          fetched urls ∪ admitted ``(url, partition_id)``;
          ``frontier.seen_round_pass``): per-partition admitted counts
          plus the seen-set delta, one ``toArrow``, overlapping the
          stash union.

        Driver-side job launches are the dominant serial cost of a round
        at this scale (0.1-0.64 s of CPU each on a 4-core box). All
        merges (lineage dict, seen-set commit) happen on the driver after
        the gather, so the result is bit-identical to the serial order
        (tests/test_crawl_spark.py test_big_g_path_matches_oracle pins
        this). The seen-set owns its probe plan and commit (seen.py)."""
        from concurrent.futures import ThreadPoolExecutor

        news = self.mode == "news"
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
        # partitioning scaled to the round: toy rounds (bench.py's 2k-G
        # corpus, unit tests) run the SAME plan at 1 partition — no
        # 32-task shuffles over 2k rows; big rounds get full width
        par = max(self.spark.sparkContext.defaultParallelism, 4)
        n_parts = max(1, min(par, batch_count // 2000))

        pool = ThreadPoolExecutor(max_workers=4)
        probe = None
        try:
            fut_order = pool.submit(self._order_job, extracted, rnd,
                                    self.fetch_seq, buffered)
            fut_cand = pool.submit(
                lambda: same.groupBy("partition_id")
                .agg(F.count("*").alias("same_n")).collect()) \
                if news else None
            probe = self.seen.open_probe(self.spark.sparkContext)
            admitted = self._admit(extracted, same, probe, batch_count, rnd,
                                   n_parts, par)

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
            fut_seen = pool.submit(self.seen.round_pass, ins,
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

            # ---- gather + driver-side merges -------------------------------
            agg, tables, q_n = fut_order.result()
            self.fetch_seq += batch_count

            if fut_cand is not None:
                for r in fut_cand.result():
                    agg[int(r["partition_id"])]["deduped"] += int(r["same_n"])
            for part, n in adm_counts.items():
                agg[part]["enqueued"] += n
                agg[part]["deduped"] -= n
            tables["lineage"] = pa.Table.from_pylist(
                [{"round": rnd, "partition": part, **agg[part]}
                 for part in sorted(agg)])
            for name, t in tables.items():
                if t.num_rows:
                    self.buffers[name] = pa.concat_tables(
                        [self.buffers[name], t]) if name in self.buffers \
                        else t

            # quarantined rows never markVisited → not counted as inserts;
            # news mode marks ONLY admitted outlinks (no page inserts)
            total_added = admitted_count if news \
                else batch_count - q_n + admitted_count
            self.seen.commit(seen_delta, total_added,
                             lambda: self._seen_ops(extracted, admitted))
        finally:
            if probe is not None:
                probe.release()
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
        return {"rounds": self.round, "fetched": self.fetch_seq,
                "frontier_ops": self.seq, **self.seen.stats()}

    def readmit(self, urls) -> int:
        """Recrawl API (cuckoo mode only — the per-URL forget the rolling
        bloom cannot express; with the bloom the engine's only lever is
        rotating out a whole generation): delete each url from the
        seen-set and re-enqueue it at depth 0 with origin 'readmit', so
        subsequent :meth:`run` rounds refetch it. Mirrors
        ``OracleCrawler.readmit`` exactly (priority-0 rows keep the
        big-path order invariant). Returns the number re-enqueued.
        Raises ValueError under the bloom seen-set."""
        canon = [c for c in map(canonicalize, urls) if c is not None]
        self.seen.delete_urls(canon)
        if self.frontier is None:
            # seed first or seed() would later RESET frontier_count and
            # orphan the readmit delta; seeds keep the first seqs
            # (oracle parity: OracleCrawler.readmit seeds too)
            self.seed()
        rows = [(0, self.round, self.seq + i, c, host_of(c), 0, "readmit")
                for i, c in enumerate(canon)]
        self.seq += len(rows)
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
        (invalid/uncanonicalizable urls are dropped). Raises ValueError
        under the bloom seen-set."""
        derived = self.seen.derive_df(urls_df, with_keys=True)
        if self.frontier is None:
            self.seed()  # see readmit(): never let seed() run AFTER us
        from .frontier import assign_global_rank

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
        self.seen.delete_rows(rows.select("shard", "i1", "fp").toArrow())
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
        entries removed (duplicates and never-inserted urls no-op).
        Raises ValueError under the bloom seen-set."""
        return self.seen.delete_rows(self.seen.derive_df(urls_df).toArrow())

    # ------------------------------------------------------------- checkpoint
    def checkpoint(self):
        rnd = self.round
        fdir = self.store.state_dir("frontier", rnd)
        sdir = self.store.state_dir("url_store", rnd)
        self._frontier_view().write.mode("overwrite").parquet(fdir)
        self.url_store.write.mode("overwrite").parquet(sdir)
        self.store.save_bloom(rnd, self.seen.to_bytes())
        # the buffers flush into the part dirs of the round this manifest
        # commits (lineage is only ever buffered)
        for name, t in self.buffers.items():
            d = self.store.state_dir(name, rnd)
            os.makedirs(d, exist_ok=True)
            pq.write_table(t, os.path.join(d, "part.parquet"))
        self.buffers = {}
        self.store.commit({
            "round": rnd, "seq": self.seq, "fetch_seq": self.fetch_seq,
            "frontier_count": self.frontier_count,
            # informational only (restore reads the blob itself); named
            # for the seen-set mode, not "bloom_n", since cuckoo counts
            # land here too
            "seen_n": self.seen.n,
            "frontier_dir": fdir, "url_store_dir": sdir,
            "seq_orderable": self._seq_orderable,
            "engine": self.options,
        })
        self.store.gc(rnd)

    # ----------------------------------------------------------------- resume
    @classmethod
    def resume(cls, spark: SparkSession, corpus_dir: str, workdir: str,
               n_partitions: int | None = None,
               collect_documents: bool | None = None) -> "CrawlEngine":
        """The engine of the last committed snapshot under ``workdir``,
        constructed with the options it was checkpointed with.
        ``n_partitions`` and ``collect_documents`` default to the
        snapshot's; a value that contradicts it raises ValueError."""
        m = SnapshotStore(workdir).last_manifest()
        if m is None:
            raise FileNotFoundError(f"no committed snapshot under {workdir}")
        options = m.get("engine", {})
        for name, value in (("n_partitions", n_partitions),
                            ("collect_documents", collect_documents)):
            if value is not None and options.setdefault(name, value) != value:
                raise ValueError(f"resume({name}={value!r}) contradicts the "
                                 f"snapshot's {name}={options[name]!r}")
        eng = cls(spark, corpus_dir, workdir, **options)
        eng.round = m["round"]
        # a dead run's uncommitted parts would land beside this run's
        # re-run rounds, under another name if the layout differs
        eng.store.drop_after(_PART_TABLES, eng.round)
        eng.seq = m["seq"]
        eng.fetch_seq = m["fetch_seq"]
        eng.frontier_count = m["frontier_count"]
        # the blob decides the filter (an unsynced shard manifest makes
        # the first sharded round re-sync every shard file from it)
        eng._seen = from_blob(eng.store.load_bloom(m["round"]), eng.params,
                              workdir)
        eng.frontier = spark.read.schema(FRONTIER_SCHEMA) \
            .parquet(m["frontier_dir"]).localCheckpoint(eager=True)
        eng._base_count = eng.frontier_count
        # absent from older snapshots: False is the TakeOrdered dequeue,
        # correct for any frontier
        eng._seq_orderable = m.get("seq_orderable", False)
        eng.url_store = spark.read.schema(_STORE_SCHEMA_W_HOST) \
            .parquet(m["url_store_dir"]).localCheckpoint(eager=True)
        return eng

    # -------------------------------------------------------------- accessors
    def _artifact_df(self, name: str, order: list[str]) -> pd.DataFrame:
        """One artifact table as of now (committed parts + the driver
        buffer), sorted by ``order``."""
        frames = [pq.read_table(p).to_pandas()
                  for p in self.store.part_dirs(name, self.round)]
        if name in self.buffers:
            frames.append(self.buffers[name].to_pandas())
        df = pd.concat(frames, ignore_index=True) if frames \
            else pd.DataFrame(columns=order)
        return df.sort_values(order).reset_index(drop=True)

    def crawl_order_df(self) -> pd.DataFrame:
        return self._artifact_df("crawl_order", ["seq"])

    def quarantine_df(self) -> pd.DataFrame:
        return self._artifact_df("quarantine", ["round", "url_canon"])

    def lineage_df(self) -> pd.DataFrame:
        return self._artifact_df("lineage", ["round", "partition"])

    def documents_df(self) -> pd.DataFrame:
        return self._artifact_df("documents", ["round", "pos"])
