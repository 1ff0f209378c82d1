"""The crawl engine: delver's pipeline, one round at a time.

Each round (SURVEY §3.1 "Spark translation"):

  refill-if-empty (S3) → dequeue under politeness budget (O1/O2) →
  payload fetch (J1) → decode + extract with zero-copy binary views
  (X1-X11), which also gates each page's outlinks → admission split
  (F6): same-domain candidates seen-set-gated (F7/J3) vs cross-domain
  stash (append-only url_store) → assign enqueue_seq → frontier append →
  the round's seen-set delta committed on the driver → snapshot commit
  (T8). The seen-set — the rolling bloom or the sharded cuckoo, and how
  a big round probes it — lives behind one interface in
  operators/seen.py; the admission gates are one per-page kernel the
  extractor runs in both plans (``extract.link_gates``, emitting
  ``same_links`` and ``stash_links``), and the winner rule
  (``_admission_keep``) is one kernel both plans run.

Each round picks its physical plan from its BOUND, the most rows it can
dequeue: ``min(G, frontier_count)``, where ``frontier_count`` is the
exact live row count the driver keeps in either state representation
(below). The bound only picks the plan; the dequeue limit stays G, so
the crawl is the same under either plan. At or below ``BIG_ROUND_FLOOR``
a round takes the driver plan, which launches no Spark job over a
driver frontier: the numpy dequeue ``frontier.dequeue_arrow``, one
filtered pyarrow read of the payload rows (``_rows_by_url``), the
extractor called in-process, then Arrow/numpy kernels for the artifact
split, admission mask, winner rank and seen-set delta. Over a Spark
frontier its dequeue is one collect of 2 jobs (the host window's
shuffle, the ordered take; the tombstones ride it as one parsed ``NOT
IN`` literal while the driver knows all of them and they number at most
``BIG_ROUND_FLOOR``). Above the floor, the big-round plan: the dequeue
ranks distributed (``frontier.dequeue`` ``seq_hint``), the extract
tasks read their payload row-group splits directly
(``sources/payload_scan.py``, payload bytes never shuffle), the
admission is a distributed Arrow pass through the seen-set's probe plan
and Spark writes the artifacts every round. Each artifact is defined
once (``_artifacts``), so both layouts write one schema. On a 4-core box
the driver plan used less CPU than the big plan up to 20 000 urls and
less wall time up to 10 000 (CHANGES.md); each Spark job costs 0.1-0.64
s of process-tree CPU, much of it the JVM compiling each distinct code
path, so a G=20000 crawl whose frontier holds a few hundred urls takes
the driver plan.

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
  - residual shuffle skew: AQE skew-join/coalesce is on (session.py).

The frontier's representation follows its size, as the round plan
does: ``CrawlEngine._rebase``, the one place the state is installed,
picks it from ``frontier_count`` against the same floor. At or below it
the frontier is ONE driver Arrow table: seeds, admitted rows, readmits
and refills concatenate onto it, a dequeue deletes its rows (no
tombstones), and a checkpoint writes it with pyarrow, so seed, readmit
and the frontier's commit launch no Spark job. An append that takes it
past the floor folds it into Spark in one ``localCheckpoint``; from
there the frontier is a merge-on-read DataFrame (a base, admitted
deltas, tombstones) until a checkpoint or compaction at or below the
floor brings it back. The url_store is a DataFrame in both. A
checkpoint re-bases the engine on the state it committed, as resume
loads it — pyarrow's read of a frontier at or below the floor, else
lazy parquet reads: lineage and partition count restart, and an
uninterrupted crawl runs on exactly the state a resume would load. Only
round-bounded data (a small round's payload rows, its extract with the
candidate links, its admitted and stash rows, counters) and a frontier
below the floor live on the driver: about 10 KB of payload a row, so the
floor bounds the driver's memory. The url_store is APPEND-ONLY —
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
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..engine.robots import RobotsCache
from ..engine.urlnorm import canonicalize, host_of
from ..sources.snapshot import SnapshotStore
from .extract import EXTRACT_SCHEMA, link_gates, make_extractor_arrow
from .frontier import (
    FRONTIER_ARROW,
    FRONTIER_SCHEMA,
    STORE_SCHEMA,
    dequeue,
    dequeue_arrow,
    make_robots_udf,
)
from .seen import from_blob, new_seen, seen_family

_STORE_SCHEMA_W_HOST = STORE_SCHEMA.add("host", "string", False)

# A round whose bound min(G, frontier_count) exceeds this many rows takes
# the big-round plan (module docstring); tests lower the engine's private
# copy, ``CrawlEngine._big_round_floor``, to force it at unit scale.
BIG_ROUND_FLOOR = 10_000

# the append-only artifact tables (SnapshotStore part dirs)
_PART_TABLES = ("crawl_order", "lineage", "quarantine", "documents")
# the counters a manifest records and resume restores
_COUNTERS = ("round", "seq", "fetch_seq", "frontier_count")


# the documents artifact: every extract column but the link arrays and
# the entity lists, plus the round
_DOC_COLS = [f.name for f in EXTRACT_SCHEMA.fields
             if f.name not in ("outlinks", "same_links", "stash_links",
                               "countries", "companies")]

# an artifact row test (_artifacts) on Spark columns and on Arrow arrays
_SPARK_TESTS = {"true": lambda c: c, "null": lambda c: c.isNull(),
                "valid": lambda c: c.isNotNull(),
                "positive": lambda c: c > 0}
_ARROW_TESTS = {"true": lambda a: a, "null": pc.is_null,
                "valid": pc.is_valid,
                "positive": lambda a: pc.greater(a, 0)}


def _artifacts(rnd: int, fetch_seq0: int, news: bool,
               documents: bool) -> dict:
    """The one definition of each artifact table a round appends to:
    ``{name: (tests, columns)}`` over the extract table. A row belongs
    to the table when each ``(column, test)`` of ``tests`` holds (a
    ``_SPARK_TESTS``/``_ARROW_TESTS`` key). A column is ``(name,
    source, k)``: ``source`` renamed (k None), ``source + k``, or the
    non-NULL INT literal ``k`` (source None); a bare name keeps an
    extract column as it is. A big round's tables are Spark writes of
    :func:`_spark_artifact`, a small round's the Arrow tables of
    :func:`_arrow_artifact`, in one schema."""
    rnd_col = ("round", None, rnd)
    arts = {
        "crawl_order": ([], [("seq", "pos", fetch_seq0), "url_canon",
                             "depth", rnd_col, "host", "success"]),
        "quarantine": ([("quarantined", "valid")],
                       ["url_canon", ("error", "quarantined", None),
                        rnd_col]),
    }
    if documents:
        # news: articles only, processArticle skips depth 0
        arts["documents"] = (
            [("success", "true"), ("quarantined", "null")]
            + ([("depth", "positive")] if news else []),
            _DOC_COLS + [rnd_col])
    return {name: (tests, [(c, c, None) if isinstance(c, str) else c
                           for c in cols])
            for name, (tests, cols) in arts.items()}


def _spark_artifact(df: DataFrame, tests: list, cols: list) -> DataFrame:
    """One :func:`_artifacts` table of the extract frame ``df``."""
    for name, test in tests:
        df = df.filter(_SPARK_TESTS[test](F.col(name)))
    return df.select(*[
        (F.lit(k) if src is None else F.col(src) if k is None
         else F.col(src) + k).alias(name)
        for name, src, k in cols])


def _arrow_artifact(t: pa.Table, tests: list, cols: list) -> pa.Table:
    """One :func:`_artifacts` table of the extract table ``t``, in the
    schema Spark writes: every column nullable but the literal."""
    for name, test in tests:
        t = t.filter(_ARROW_TESTS[test](t.column(name)))
    fields, arrays = [], []
    for name, src, k in cols:
        if src is None:
            a = pa.array(np.full(t.num_rows, k, dtype=np.int32))
        else:
            a = t.column(src) if k is None else pc.add(t.column(src), k)
        fields.append(pa.field(name, a.type, nullable=src is not None))
        arrays.append(a)
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def _rows_by_url(path: str, urls: pa.Array, columns: list) -> pa.Table:
    """``columns`` of the parquet table at ``path`` taken at each of
    ``urls`` by its ``url_canon`` key, in ``urls`` order: one filtered
    pyarrow read (the filter prunes row groups by their url stats). A
    url held twice gets its row twice, a url with no row NULLs."""
    t = pq.read_table(path, columns=["url_canon", *columns],
                      filters=pc.field("url_canon").isin(urls))
    at = pc.index_in(urls, value_set=t.column("url_canon").combine_chunks())
    return t.select(columns).take(at)


def _arrow_frontier(rows: pa.Table) -> pa.Table:
    """``rows`` (the frontier's columns, in any order and with any
    nullability) in the driver frontier table's schema."""
    return rows.select(FRONTIER_ARROW.names).cast(FRONTIER_ARROW)


def _seen_ops(news: bool, pages: list, admitted: list) -> list:
    """The round's seen-set inserts as the oracle's write transactions.
    ``pages``: (pos, url) of the fetched, unquarantined pages;
    ``admitted``: (page_pos, enqueue_seq, url). dfs: per page in pos
    order, its url, then its admitted urls (dfs_basic.go:48,121-123);
    news: one admitted url at a time in enqueue order (SetBytes in
    urlAllowed)."""
    admitted = sorted(admitted)  # page_pos-major is enqueue order
    if news:
        return [[url] for _, _, url in admitted]
    by_page: dict[int, list[str]] = {}
    for pos, _, url in admitted:
        by_page.setdefault(pos, []).append(url)
    ops = []
    for pos, url in sorted(pages):
        ops += [[url], by_page[pos]] if pos in by_page else [[url]]
    return ops


def _admission_keep(urls: pa.ChunkedArray, page_pos: np.ndarray,
                    link_pos: np.ndarray, f_pos: np.ndarray, news: bool,
                    seen):
    """The admission winner mask both round plans run: the rows' urls
    hashed once, then ``frontier.admission_keep_mask`` with the mode's
    tie key — dfs ``page_pos``, news ``page_pos * 2**21 + link_pos``
    (``link_pos`` is the within-caption index, far below 2**21). Rows
    with ``f_pos >= 0`` are the fetched pages' marker rows;
    ``page_pos``, ``link_pos`` and ``f_pos`` are -1 where a row has
    none. Returns ``(keep, h1, h2)``, the hashes for the seen-set delta.
    Urls hash zero-copy from the string buffers, one chunk at a time: a
    >2 GB url column cannot collapse into one int32-offset chunk
    (ArrowInvalid), so an oversized shuffle partition stays correct,
    just slower."""
    from ..engine.murmur import hash128_batch_buf, string_buf_views
    from .frontier import admission_keep_mask

    hashes = [hash128_batch_buf(*string_buf_views(c))
              for c in urls.chunks if len(c)]
    if not hashes:
        empty = np.zeros(0, dtype=np.uint64)
        return np.zeros(0, dtype=bool), empty, empty
    h1, h2 = (np.concatenate(h) for h in zip(*hashes))
    key = page_pos * (1 << 21) + link_pos if news else page_pos
    return admission_keep_mask(h1, h2, key, f_pos, f_pos >= 0, seen), h1, h2


def _stash_key(rnd, page_pos, link_pos):
    """A stash row's ``stash_key``, the refill's last-wins order:
    ``rnd * 2**40 + page_pos * 2**20 + link_pos`` over numpy arrays
    (int64) or Columns (long) alike."""
    return rnd * (1 << 40) + page_pos * (1 << 20) + link_pos


def _admit_pass(probe, news: bool, out_cols: list[str]):
    """The fused admission's mapInArrow body: per colocated partition,
    the seen-set probe, the fetched-pos gate and winner selection
    (:func:`_admission_keep`). It MUST see the partition as one frame: a
    per-batch min-page would admit a url from two pages (tests pin this
    with a tiny Arrow batch size). Winners leave by Table.filter — no
    python string ever materializes."""
    def admit(it):
        import pyarrow.compute as pc

        seen = probe.load()
        batches = list(it)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        keep, _, _ = _admission_keep(
            t.column("url"),
            *(pc.fill_null(t.column(c), -1).to_numpy()
              for c in ("page_pos", "link_pos", "f_pos")), news, seen)
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
        seen_family(seen_filter)  # raises on an unknown family
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

        # the payload table (at 100 TB the Iceberg table bucketed/sorted
        # by url_canon) is read per round, never here: a small round
        # reads its keys' rows with pyarrow (_fetch_on_driver), a big
        # round's tasks read its row-group splits (payload_scan). The
        # original pixels of lossy payloads, for the extract's PSNR
        # check, are attached to the dequeued keys on the driver
        # (_with_golden)
        self._pages_path = os.path.join(corpus_dir, "pages.parquet")
        golden = os.path.join(corpus_dir, "golden_pixels.parquet")
        self._golden_path = golden if os.path.exists(golden) else None

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
        # the extract, which emits each page's gated admission candidates
        # (extract.link_gates) in both round plans
        self._gates = link_gates(mode == "news", self.max_depth)
        self.extractor = make_extractor_arrow(
            n_partitions, emit_text=collect_documents, gates=self._gates)

        # mutable state. `frontier` is a driver Arrow table at or below
        # the round floor (_rebase). Past it, it is held MOR-style
        # (Iceberg merge-on-read semantics): `frontier` is the BASE that
        # _rebase installs, with admitted rows unioned on as DELTAS;
        # dequeued seqs accumulate as TOMBSTONES (filtered at read time —
        # a map-side filter, no shuffle). The round's state transition is therefore
        # O(G), not an O(frontier) rewrite; compaction folds the view
        # into a new base when tombstones exceed ~30% of it, and a
        # checkpoint re-bases on the state it committed. On the 10^10
        # deployment this maps 1:1 to Iceberg MOR delete files + appends
        # + background compaction.
        # True ⇒ frontier order provably collapses to enqueue_seq, so the
        # dequeue may take the distributed big-round path (frontier.dequeue
        # seq_hint): every non-seed enqueue is priority 0 with round and
        # seq from one counter, and seed() checks the seeds' priorities.
        # Prefills that set `frontier` directly inherit True and must use
        # priority-0 rows (all in-repo ones do).
        self._seq_orderable = True
        self._compact_floor = 4096  # tests lower this to force compaction
        self._tomb_abs_cap = 2_000_000  # broadcast-size bound (see _maybe_compact)
        self.frontier_count = 0
        self._rebase(None, spark.createDataFrame([], _STORE_SCHEMA_W_HOST))
        self.seq = 0
        self.fetch_seq = 0
        self.round = 0
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
        """The corpus seeds, canonicalized, become the whole frontier at
        round 0 with the first seqs. Installed by :meth:`_rebase`, so at
        or below the round floor they stay a driver Arrow table and the
        seed launches no Spark job."""
        seeds = pq.read_table(os.path.join(self.corpus_dir, "seeds.parquet")).to_pylist()
        rows = []
        for s in seeds:
            c = canonicalize(s["url"])
            if c is None:
                continue
            rows.append(dict(priority=int(s["priority"]), enqueue_round=0,
                             enqueue_seq=self.seq, url=c, host=host_of(c),
                             depth=0, origin=None))
            self.seq += 1
        self.frontier_count = len(rows)
        self._rebase(pa.Table.from_pylist(rows, FRONTIER_ARROW))
        self._seq_orderable = all(r["priority"] == 0 for r in rows)

    # ----------------------------------------------------------------- view
    def _rebase(self, frontier, url_store: DataFrame | None = None):
        """The one place the crawl state is installed. ``frontier``
        holds all ``frontier_count`` live rows: a driver Arrow table, a
        compaction's frontier view, or a committed frontier dir (None
        before the seed). ``frontier_count`` picks the representation.
        At or below the round floor the frontier is ONE driver Arrow
        table (``FRONTIER_ARROW``): a round dequeues it with
        ``frontier.dequeue_arrow`` and deletes the dequeued rows, so it
        keeps no tombstones; a committed dir is read with pyarrow and a
        view comes back in one ``toArrow``. Above the floor it is the
        merge-on-read base of a Spark frontier, with no tombstones yet: a
        table folds in with one ``localCheckpoint``, a view is
        checkpointed, a committed dir is a lazy, schema-given read. A
        big round needs ``min(G, frontier_count)`` above the floor, so
        driver state always means a small round. ``url_store`` too."""
        small = self.frontier_count <= self._big_round_floor
        if isinstance(frontier, str):
            frontier = pq.read_table(frontier, schema=FRONTIER_ARROW) \
                if small else \
                self.spark.read.schema(FRONTIER_SCHEMA).parquet(frontier)
        elif isinstance(frontier, DataFrame):
            frontier = _arrow_frontier(frontier.toArrow()) if small \
                else frontier.localCheckpoint(eager=True)
        elif frontier is not None and not small:
            frontier = self.spark.createDataFrame(
                frontier, FRONTIER_SCHEMA).localCheckpoint(eager=True)
        self.frontier = frontier
        if url_store is not None:
            self.url_store = url_store
        self._tombstones: DataFrame | None = None
        # every tombstone seq, while the driver knows them all (small
        # rounds' dequeues) and they number at most BIG_ROUND_FLOOR; else
        # None until the next re-base
        self._tomb_seqs: list[int] | None = []
        self._tomb_count = 0
        self._base_count = self.frontier_count

    def _frontier_view(self) -> DataFrame:
        """The live rows of a Spark-resident frontier: the base and its
        deltas less the tombstones."""
        v = self.frontier
        if self._tomb_seqs:
            # one parsed literal: broadcasting even a local relation
            # costs a job
            v = v.filter(F.expr("enqueue_seq NOT IN ("
                                + ",".join(map(str, self._tomb_seqs)) + ")"))
        elif self._tombstones is not None:
            v = v.join(F.broadcast(self._tombstones), "enqueue_seq",
                       "left_anti")
        return v

    def _append(self, rows, n: int):
        """Enqueue ``n`` rows: an Arrow table of the frontier's columns,
        or (a big round's) materialized DataFrame. A driver table
        concatenates them, and :meth:`_rebase` folds it into Spark if
        that takes ``frontier_count`` past the floor; a Spark frontier
        unions them on as a merge-on-read delta, an Arrow table as a
        local relation, which launches no job."""
        self.frontier_count += n
        if isinstance(self.frontier, pa.Table):
            self._rebase(pa.concat_tables(
                [self.frontier, _arrow_frontier(rows)]).combine_chunks())
            return
        if isinstance(rows, pa.Table):
            rows = self.spark.createDataFrame(_arrow_frontier(rows),
                                              FRONTIER_SCHEMA)
        self.frontier = self.frontier.unionByName(rows)

    def _maybe_compact(self):
        # 30%-of-base keeps compaction amortized, but the tombstone set is
        # BROADCAST in _frontier_view's anti-join — an absolute row cap
        # bounds that broadcast (~16 MB of longs at 2M rows) regardless of
        # how large the base grows, enforcing the "while they fit a
        # broadcast" contract instead of assuming it
        if self._tomb_count > max(self._compact_floor,
                                  min(int(0.3 * self._base_count),
                                      self._tomb_abs_cap)):
            self._rebase(self._frontier_view())

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
               .toArrow())
        n = pub.num_rows
        self.seq += n
        self._append(pub, n)
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
        if big and isinstance(self.frontier, pa.Table):
            # the floor was lowered under driver state: fold it into Spark
            self._rebase(self.frontier)
        driver = isinstance(self.frontier, pa.Table)
        if driver:
            # driver state: the dequeue is one numpy kernel, no job, and
            # the dequeued rows leave the table as row deletes
            batch_tbl, taken = dequeue_arrow(self.frontier, self.B, self.G,
                                             self.host_budgets)
            self.frontier = self.frontier.filter(pa.array(~taken))
        else:
            deq_stats: dict = {}
            batch = dequeue(self._frontier_view(), self.B, self.G,
                            hot_host_threshold=self.hot_host_threshold,
                            seq_hint=self.seq if big and self._seq_orderable
                            else None,
                            out_stats=deq_stats,
                            host_budgets=self.host_budgets or None)
        if big:
            batch = batch.localCheckpoint(eager=True)
            # the distributed rank derives the count from its own offsets
            # — no extra count job
            batch_count = deq_stats["batch_count"] \
                if "batch_count" in deq_stats else batch.count()
        else:
            if not driver:
                # ONE collect: the <= bound rows are fetched on the driver
                batch_tbl = batch.toArrow()
            batch_count = batch_tbl.num_rows
        if batch_count == 0:
            return False
        if not driver:
            # MOR delete: the dequeued seqs become tombstones (a
            # checkpointed batch's or a local relation, so this union holds
            # only materialized frames)
            seqs = batch.select("enqueue_seq") if big else \
                self.spark.createDataFrame(batch_tbl.select(["enqueue_seq"]))
            self._tombstones = seqs if self._tombstones is None \
                else self._tombstones.unionByName(seqs)
            if big or self._tomb_seqs is None \
                    or len(self._tomb_seqs) + batch_count > BIG_ROUND_FLOOR:
                self._tomb_seqs = None
            else:
                self._tomb_seqs += batch_tbl.column("enqueue_seq").to_pylist()
            self._tomb_count += batch_count
        self.frontier_count -= batch_count

        # ---- fetch (J1) + extract: a big round's tasks read the payload
        # splits under the 256-row Arrow batch rule for ~10 KB payload
        # rows (session.scoped_arrow_batch); a small round runs on the
        # driver
        if big:
            from ..session import scoped_arrow_batch
            with scoped_arrow_batch(self.spark, 256):
                extracted = self._fetch_extract(batch, batch_count)
            self._finish_round(extracted, batch_count, rnd)
        else:
            self._finish_on_driver(self._fetch_on_driver(batch_tbl),
                                   batch_count, rnd)
        self.round += 1
        return True

    # ------------------------------------------------------------ fetch path
    def _with_golden(self, keys: pa.Table) -> pa.Table:
        """``keys`` plus each ``url``'s original pixels as
        ``golden_pixels`` (NULL where it has none) when the corpus has
        them (:func:`_rows_by_url`). The extract finds the column by
        name; without golden pixels ``keys`` is returned as it is."""
        if self._golden_path is None:
            return keys
        golden = _rows_by_url(self._golden_path,
                              keys.column("url").combine_chunks(), ["pixels"])
        return keys.append_column("golden_pixels", golden.column(0))

    def _fetch_on_driver(self, keys: pa.Table) -> pa.Table:
        """A small round's fetch + extract in the driver process, with
        no Spark job: the dequeued ``keys``' payload rows and golden
        pixels (:func:`_rows_by_url`), then the extractor in-process. A
        url with no payload row extracts as a failed fetch, as in the
        big plan. Returns the extract table in ``pos`` order."""
        from ..sources.payload_scan import PAYLOAD_COLS

        keys = self._with_golden(keys.sort_by("pos"))
        urls = keys.column("url").combine_chunks()
        payload = _rows_by_url(self._pages_path, urls, PAYLOAD_COLS[1:])
        rows = {"url_canon": urls,
                **{c: keys.column(c) for c in keys.column_names
                   if c in ("pos", "depth", "host", "golden_pixels")},
                **dict(zip(payload.column_names, payload.columns))}
        return pa.Table.from_batches(
            self.extractor(pa.table(rows).to_batches()))

    def _fetch_extract(self, batch: DataFrame,
                       batch_count: int) -> DataFrame:
        """A big round's fetch + extract; returns the checkpointed
        ``extracted`` frame. Payload bytes never cross ANY process
        boundary: the extract tasks read their parquet row-group splits
        and probe the broadcast keys (golden pixels attached) in place
        (sources/payload_scan.py). Misses = anti-join on the payload
        table's url column only (no payload IO)."""
        from ..sources.payload_scan import PAYLOAD_COLS, fetch_extract_direct
        keys_tbl = self._with_golden(
            batch.select("url", "pos", "depth", "host").toArrow())
        hits_df, fetch_key_bc = fetch_extract_direct(
            self.spark, self._pages_path, keys_tbl, self.n_partitions,
            emit_text=self.collect_documents, gates=self._gates)
        try:
            hits_df = hits_df.localCheckpoint(eager=True)
            n_hits = hits_df.count()
        finally:
            fetch_key_bc.destroy()
        if n_hits == batch_count:
            # common case: every dequeued url has a payload row — skip the
            # miss anti-join (a full scan of the url column) and the extra
            # union materialization entirely
            return hits_df
        urls = self.spark.read.parquet(self._pages_path) \
            .select(F.col("url_canon").alias("u"))
        misses = (batch.join(urls, batch.url == F.col("u"), "left_anti")
                  .select("pos", F.col("url").alias("url_canon"), "depth",
                          "host",
                          *[F.lit(None).alias(c) for c in PAYLOAD_COLS[1:]]))
        return (hits_df
                .unionByName(misses.mapInArrow(self.extractor, EXTRACT_SCHEMA))
                .localCheckpoint(eager=True))

    # ---------------------------------------------------- round finish
    def _finish_on_driver(self, pages: pa.Table, batch_count: int,
                          rnd: int):
        """The small round after its extract ``pages`` (in ``pos``
        order), with the Arrow/numpy kernels the big round runs in its
        tasks: the artifacts split by :func:`_arrow_artifact`; the gated
        link arrays flattened (plus, dfs, one marker row per
        unquarantined page) through :func:`_admission_keep` against the
        live seen-set; winners ranked by ``(page_pos, link_pos)``; the
        seen-set delta from the same hashes (``seen.delta``). Admitted
        and stash rows join the state as local relations (no job)."""
        news = self.mode == "news"
        tables = {name: _arrow_artifact(pages, *art) for name, art in
                  _artifacts(rnd, self.fetch_seq, news,
                             self.collect_documents).items()}
        pos = pages.column("pos").to_numpy()
        depth = pages.column("depth").to_numpy()
        urls = pages.column("url_canon").combine_chunks()
        parts, part_of = np.unique(pages.column("partition_id").to_numpy(),
                                   return_inverse=True)

        def per_part(rows):  # rows (page indices) counted per partition
            return np.bincount(part_of[rows], minlength=len(parts))

        def flat(name):  # (page index, link struct) of each array entry
            lists = pages.column(name).combine_chunks()
            return (pc.list_parent_indices(lists).to_numpy(),
                    pc.list_flatten(lists))

        page, links = flat("same_links")
        if news:
            # news.go:239-247: robots gate at admission, the rules the
            # big round's robots UDF broadcasts
            from ..engine.robots import allowed_batch
            from ..engine.urlnorm import path_of
            self._refresh_robots(rnd)
            ok = allowed_batch(
                self.robots_rules, pc.struct_field(links, "host").to_pylist(),
                [path_of(u) for u in
                 pc.struct_field(links, "url").to_pylist()])
            page, links = page[ok], links.filter(pa.array(ok))
        cand_urls = pc.struct_field(links, "url")
        link_pos = pc.struct_field(links, "link_pos").to_numpy(
            zero_copy_only=False)
        n_c = len(cand_urls)
        # dfs markers: the unquarantined fetched pages (news.go never
        # marks the fetched page: none there), after the candidates
        marked = np.zeros(len(pos), dtype=bool) if news \
            else pc.is_null(pages.column("quarantined")).to_numpy()
        marked_urls = urls.filter(pa.array(marked))
        page_pos = pos[page]
        none_c, none_m = np.full(n_c, -1), np.full(len(marked_urls), -1)
        keep, h1, h2 = _admission_keep(
            pa.chunked_array([cand_urls, marked_urls]),
            np.r_[page_pos, none_m], np.r_[link_pos, none_m],
            np.r_[none_c, pos[marked]], news, self.seen.filter)
        win = np.flatnonzero(keep[:n_c])
        win = win[np.lexsort((link_pos[win], page_pos[win]))]
        n_adm = len(win)
        admitted = pa.table({
            "priority": np.zeros(n_adm, dtype=np.int32),
            "enqueue_round": np.full(n_adm, rnd, dtype=np.int32),
            "enqueue_seq": self.seq + np.arange(n_adm, dtype=np.int64),
            "url": cand_urls.take(win),
            "host": pc.struct_field(links, "host").take(win),
            "depth": (depth[page[win]] + 1).astype(np.int32),
            "origin": urls.take(page[win])})
        inserted = np.r_[win, np.arange(n_c, len(h1))]
        delta = self.seen.delta(h1[inserted], h2[inserted])
        seq0 = self.seq
        self.seq += n_adm
        if n_adm:
            self._append(admitted, n_adm)
        self._maybe_compact()

        if not news:
            spage, stash = flat("stash_links")
            if len(stash):
                key = _stash_key(rnd, pos[spage], pc.struct_field(
                    stash, "link_pos").to_numpy(zero_copy_only=False))
                self.url_store = self.url_store.unionByName(
                    self.spark.createDataFrame(pa.table({
                        "domain": pc.struct_field(stash, "domain"),
                        "url": pc.struct_field(stash, "url"),
                        "origin": urls.take(spage),
                        "stash_key": key,
                        "host": pc.struct_field(stash, "host")}),
                        _STORE_SCHEMA_W_HOST))
        n_enq = per_part(page[win])
        n_stash = np.zeros_like(n_enq) if news else per_part(spage)
        agg = {int(p): {"fetched": int(f), "deduped": int(d - e),
                        "enqueued": int(e), "stashed": int(s)}
               for p, f, d, e, s in zip(parts, np.bincount(part_of),
                                        per_part(page), n_enq, n_stash)}

        def replay_ops():
            return _seen_ops(
                news, list(zip(pos[marked].tolist(), marked_urls.to_pylist())),
                list(zip(page_pos[win].tolist(), range(seq0, seq0 + n_adm),
                         cand_urls.take(win).to_pylist())))

        self._close_round(rnd, batch_count, agg, tables, delta,
                          n_adm + len(marked_urls), replay_ops)

    def _close_round(self, rnd: int, batch_count: int, agg: dict,
                     tables: dict, delta, total_added: int, replay_ops):
        """Both plans' driver-side end of a round: the lineage table
        from the per-partition counters, the buffered artifacts, and the
        seen-set commit of the round's delta."""
        self.fetch_seq += batch_count
        tables["lineage"] = pa.Table.from_pylist(
            [{"round": rnd, "partition": part, **agg[part]}
             for part in sorted(agg)])
        for name, t in tables.items():
            if t.num_rows:
                self.buffers[name] = pa.concat_tables(
                    [self.buffers[name], t]) if name in self.buffers else t
        self.seen.commit(delta, total_added, replay_ops)

    def _order_job(self, extracted: DataFrame, rnd: int, fetch_seq0: int):
        """A big round's artifacts (:func:`_artifacts`), {partition_id:
        lineage counters} and the quarantined count, in one job; dfs
        lineage candidate counts are the sizes of the extractor's gated
        link arrays. Spark writes the artifacts into the part dirs of the
        snapshot round that will commit them (``rnd + 1``: an
        uncommitted round's parts stay invisible, see
        ``SnapshotStore``)."""
        news = self.mode == "news"
        cands = [] if news else ["same_links", "stash_links"]
        parts = extracted.groupBy("partition_id").agg(
            F.count("*").alias("count"),
            F.count("quarantined").alias("q_n"),
            *[F.sum(F.when(F.col(c).isNull(), 0).otherwise(F.size(c)))
              .alias(c) for c in cands]).collect()
        agg = {int(r["partition_id"]): {
                   "fetched": int(r["count"]),
                   "deduped": int(r["same_links"]) if cands else 0,
                   "enqueued": 0,
                   "stashed": int(r["stash_links"]) if cands else 0}
               for r in parts}
        q_total = sum(int(r["q_n"]) for r in parts)
        for name, art in _artifacts(rnd, fetch_seq0, news,
                                    self.collect_documents).items():
            if name != "quarantine" or q_total:
                _spark_artifact(extracted, *art).write \
                    .mode("overwrite").parquet(
                        self.store.state_dir(name, rnd + 1))
        return agg, q_total

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

    def _finish_round(self, extracted: DataFrame, batch_count: int,
                      rnd: int):
        """Post-extract work of a BIG round, as a concurrent job DAG (a
        small round finishes on the driver, :meth:`_finish_on_driver`).

        - the order job (:meth:`_order_job`, thread pool): per-round
          Spark writes of the artifact tables, per-partition
          fetched/quarantined counts and — dfs — the pages' candidate
          counts, the sizes of their gated link arrays. News runs one
          more count job: its robots gate is a pandas UDF over the
          exploded candidates;
        - the critical path: fused Arrow admission (:meth:`_admit`) over
          the exploded ``same_links`` (``extract.link_gates``) through
          the seen-set's probe plan, broadcast or shard files;
        - ONE seen-set pass over the round's inserts (non-quarantined
          fetched urls ∪ admitted ``(url, partition_id)``;
          ``seen.round_pass``): per-partition admitted counts
          plus the seen-set delta, one ``toArrow``, overlapping the
          stash union.

        All merges (lineage dict, seen-set commit) happen on the driver
        after the gather, so the result is bit-identical to the serial
        order (tests/test_crawl_spark.py test_big_g_path_matches_oracle
        pins this)."""
        from concurrent.futures import ThreadPoolExecutor

        news = self.mode == "news"
        def explode(name):
            return extracted.select(F.col("pos").alias("page_pos"),
                                F.col("url_canon").alias("page_url"),
                                F.col("depth").alias("page_depth"),
                                "partition_id", F.explode(name).alias("l"))

        # the proposing page's url (the eventual `origin`) is re-attached
        # AFTER admission by a broadcast join on page_pos, so it never
        # rides the admission shuffle
        same = explode("same_links").select(
            "page_pos", "page_depth", "partition_id",
            "l.link_pos", "l.url", "l.host")
        if news:
            # news.go:239-247 — unlike dfs, robots gate at ADMISSION
            self._refresh_robots(rnd)
            same = same.filter(self.robots_ok(F.col("host"), F.col("url")))
        # partitioning scaled to the round: toy rounds (unit tests forcing
        # this plan) run the SAME plan at 1 partition; big rounds get
        # full width
        par = max(self.spark.sparkContext.defaultParallelism, 4)
        n_parts = max(1, min(par, batch_count // 2000))

        pool = ThreadPoolExecutor(max_workers=4)
        probe = None
        try:
            fut_order = pool.submit(self._order_job, extracted, rnd,
                                    self.fetch_seq)
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
            visited = extracted.filter(F.col("quarantined").isNull())
            if not news:
                ins = (visited.select(F.col("url_canon").alias("url"),
                                    F.lit(None).cast("int")
                                    .alias("partition_id"))
                       .unionByName(ins))
            fut_seen = pool.submit(self.seen.round_pass, ins,
                                   min(par, batch_count // 10000 + 1))

            if not news:
                self.url_store = self.url_store.unionByName(
                    explode("stash_links").select(
                        "l.domain", "l.url", F.col("page_url").alias("origin"),
                        _stash_key(rnd, F.col("page_pos"),
                                   F.col("l.link_pos")).alias("stash_key"),
                        "l.host"))

            adm_counts, seen_delta = fut_seen.result()
            admitted_count = sum(adm_counts.values())
            self.seq += admitted_count
            # MOR append + maybe-compact instead of an O(frontier) rewrite
            self._append(admitted.drop("partition_id", "page_pos"),
                         admitted_count)
            self._maybe_compact()

            # ---- gather + driver-side merges -------------------------------
            agg, q_n = fut_order.result()
            if fut_cand is not None:
                for r in fut_cand.result():
                    agg[int(r["partition_id"])]["deduped"] += int(r["same_n"])
            for part, n in adm_counts.items():
                agg[part]["enqueued"] += n
                agg[part]["deduped"] -= n
            # quarantined rows never markVisited → not counted as inserts;
            # news mode marks ONLY admitted outlinks (no page inserts)
            self._close_round(
                rnd, batch_count, agg, {}, seen_delta,
                admitted_count if news
                else batch_count - q_n + admitted_count,
                lambda: _seen_ops(
                    news,
                    [] if news else [tuple(r) for r in visited.select(
                        "pos", "url_canon").collect()],
                    [tuple(r) for r in admitted.select(
                        "page_pos", "enqueue_seq", "url").collect()]))
        finally:
            if probe is not None:
                probe.release()
            pool.shutdown(wait=True)

    # ------------------------------------------------------------------- run
    def run(self, max_rounds: int | None = None, checkpoint_every: int = 0) -> dict:
        if self.frontier is None:
            self.seed()
        limit = self.max_rounds if max_rounds is None else max_rounds
        committed = None  # the round this run last committed
        while self.round < limit and self.run_round():
            if checkpoint_every and self.round % checkpoint_every == 0:
                self.checkpoint()
                committed = self.round
        if committed != self.round:
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
        rows = [dict(priority=0, enqueue_round=self.round,
                     enqueue_seq=self.seq + i, url=c, host=host_of(c),
                     depth=0, origin="readmit") for i, c in enumerate(canon)]
        self.seq += len(rows)
        if rows:
            self._append(pa.Table.from_pylist(rows, FRONTIER_ARROW),
                         len(rows))
        return len(rows)

    def readmit_df(self, urls_df: DataFrame) -> int:
        """Distributed :meth:`readmit` — the 10^10-frontier form, for
        recrawl sets that don't fit a driver list. ``urls_df`` is one
        string column of raw urls. One Arrow pass canonicalizes, hashes
        (murmur3-128) and derives the cuckoo (shard, i1, fp) rows on the
        executors; enqueue order is defined as ascending UNSIGNED
        (h1, h2) — deterministic and partition-invariant — with seqs
        assigned by the sharded global rank (no single-partition
        window). While the frontier is a driver table, the ranked rows
        and their derived rows come back in ONE ``toArrow`` and join
        the table (folding it into Spark only if they take it past the
        floor). Past the floor, URL strings never reach the driver: the
        frontier rows stay a checkpointed DataFrame delta, and only the
        24-byte derived rows are collected for the driver-resident
        filter's bucket edits (same G-bounded contract as the round
        commit). Equivalent to ``readmit(victims sorted by unsigned
        (h1, h2))`` — pinned in t:test_crawl_cuckoo. Returns the number
        re-enqueued (invalid/uncanonicalizable urls are dropped). Raises
        ValueError under the bloom seen-set."""
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
            "shard", "i1", "fp")
        n = st.get("total", 0)
        if n == 0:
            return 0
        keys = ["shard", "i1", "fp"]
        if isinstance(self.frontier, pa.Table):
            rows = rows.toArrow()
            self.seen.delete_rows(rows.select(keys))
            rows = rows.drop_columns(keys)
        else:
            rows = rows.localCheckpoint(eager=True)
            self.seen.delete_rows(rows.select(*keys).toArrow())
            rows = rows.drop(*keys)
        self._append(rows, n)
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
        """Commit the state as of ``self.round`` (the frontier, url_store
        and seen-set blob to the new commit's own paths), then re-base
        the engine on it. A driver frontier table is written with
        pyarrow and kept; a Spark frontier's view is written by Spark
        and the engine re-bases on the committed dir (:meth:`_rebase`
        reads it back on the driver if it is at or below the floor)."""
        commit = self.store.next_commit()
        fdir = self.store.commit_dir("frontier", commit)
        sdir = self.store.commit_dir("url_store", commit)
        # overwrite: a checkpoint that died may have left these uncommitted
        driver = isinstance(self.frontier, pa.Table)
        if driver:
            shutil.rmtree(fdir, ignore_errors=True)
            os.makedirs(fdir)
            pq.write_table(self.frontier, os.path.join(fdir, "part.parquet"))
        else:
            self._frontier_view().write.mode("overwrite").parquet(fdir)
        self.url_store.write.mode("overwrite").parquet(sdir)
        self.store.save_bloom(commit, self.seen.to_bytes())
        # the buffers flush into the part dirs of the round this manifest
        # commits (lineage is only ever buffered)
        for name, t in self.buffers.items():
            d = self.store.state_dir(name, self.round)
            os.makedirs(d, exist_ok=True)
            pq.write_table(t, os.path.join(d, "part.parquet"))
        self.buffers = {}
        manifest = {
            **{name: getattr(self, name) for name in _COUNTERS},
            "commit": commit,
            "seen_n": self.seen.n,  # informational: resume reads the blob
            "frontier_dir": fdir, "url_store_dir": sdir,
            "seq_orderable": self._seq_orderable,
            "engine": self.options,
        }
        self.store.commit(manifest)
        self.store.gc(commit)
        self._rebase(self.frontier if driver else fdir,
                     self._committed_store(manifest))

    def _committed_store(self, m: dict) -> DataFrame:
        """Manifest ``m``'s url_store: a lazy, schema-given parquet read,
        which launches no job."""
        return self.spark.read.schema(_STORE_SCHEMA_W_HOST) \
            .parquet(m["url_store_dir"])

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
        options = m["engine"]
        for name, value in (("n_partitions", n_partitions),
                            ("collect_documents", collect_documents)):
            if value is not None and options.setdefault(name, value) != value:
                raise ValueError(f"resume({name}={value!r}) contradicts the "
                                 f"snapshot's {name}={options[name]!r}")
        eng = cls(spark, corpus_dir, workdir, **options)
        for name in _COUNTERS:
            setattr(eng, name, m[name])
        eng._seq_orderable = m["seq_orderable"]
        # a dead run's uncommitted parts would land beside this run's
        # re-run rounds, under another name if the layout differs
        eng.store.drop_after(_PART_TABLES, eng.round)
        # the blob decides the filter (an unsynced shard manifest makes
        # the first sharded round re-sync every shard file from it)
        eng._seen = from_blob(eng.store.load_bloom(m["commit"]), eng.params,
                              workdir)
        eng._rebase(m["frontier_dir"], eng._committed_store(m))
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
