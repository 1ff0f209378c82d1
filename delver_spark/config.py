"""Config-driven pipeline assembly: a JSON document IS the program.

The reference's user-facing surface is a JSON config wiring resources
(queues, blooms, maps, object stores) into workers by name
(main.go:51-82 StartFromJsonConfig, main.go:188-317
CreateWorker/CreateResource/GetWorkerManager, config/app.go:8-34).
This module gives the Spark engine the same data-driven assembly: the
same JSON shape — ``{"config": ..., "resources": [...], "workers":
[...]}`` with the reference's type strings and parameter field names —
builds a :class:`~delver_spark.operators.crawl.CrawlEngine` instead of
goroutine pools.

Mapping (Spark analog per reference type):

resources (config/app.go:20-24; parameter keys match the reference's
json tags):
  - ``file_queue`` (queue/file.go:48-56, ``path``): the snapshot-store
    workdir — Spark absorbs the frontier/order/ack file queue into the
    MOR frontier + snapshot commit (operators/frontier.py).
  - ``filesystem_object_store`` (objectstore/filesystem.go:20-22,
    ``path``): the payload table directory (corpus dir — the parquet
    pages table scanned by sources/payload_scan.py).
  - ``rolling_bloom_filter`` (bloom/rolling_bloom.go:24-30,
    ``bloom_count``/``max_n``/``p``): the seen-set; parameters override
    the corpus defaults (engine/rolling_bloom.py).
  - ``bloom_filter`` (bloom/bloom.go:104-107, ``max_n``/``p``): fixed
    single-generation seen-set (bloom_count=1).
  - ``cuckoo_filter`` (NOT a reference type — the engine's own
    deletion-capable seen-set, engine/cuckoo.py; ``shards``/
    ``capacity``): selects ``CrawlEngine(seen_filter="cuckoo")``.
    Mutually exclusive with the bloom resources. The seen-set derives
    its probe plan (operators/seen.py): a ``probe`` parameter is ignored.
  - ``channel_queue``/``timer``/``persistent_map``/``multi_host_map``:
    accepted for config parity; Spark absorbs them (in-JVM exchanges,
    the round loop, broadcast maps), so they carry no parameters here.

workers (main.go:188-228; the accumulator picks the admission kernel):
  - ``dfs_basic_accumulator`` → ``CrawlEngine(mode="dfs")``; optional
    ``hot_host_threshold`` parameter → the salted dequeue guard.
  - ``news_accumulator`` → ``CrawlEngine(mode="news")``.
  - ``fixed_seed_publisher``/``rss_feed_publisher``/``http_fetcher``/
    ``composite_extractor``/``transformer``: accepted and validated
    (inbox/outbox wiring); their work is fused into the engine's round
    plan (S1/S2/S6/§2.8).

Worker manager semantics follow GetWorkerManager (main.go:231-262): a
worker whose ``manager`` is not ``"job"`` MUST name an existing inbox
resource; the outbox is optional.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

RESOURCE_TYPES = {
    "file_queue", "channel_queue", "timer", "bloom_filter",
    "rolling_bloom_filter", "cuckoo_filter", "persistent_map",
    "multi_host_map", "filesystem_object_store",
}

WORKER_TYPES = {
    "dfs_basic_accumulator", "news_accumulator", "composite_extractor",
    "http_fetcher", "dfs_basic_publisher", "rss_feed_publisher",
    "fixed_seed_publisher", "transformer",
}

_ACCUMULATOR_MODE = {"dfs_basic_accumulator": "dfs",
                     "news_accumulator": "news"}


@dataclass
class Resource:
    name: str
    type: str
    parameters: dict = field(default_factory=dict)


@dataclass
class Worker:
    name: str
    type: str
    manager: str = ""
    interval: int = 0
    parameters: dict = field(default_factory=dict)
    inbox: str = ""
    outbox: str = ""
    count: int = 0


@dataclass
class Application:
    config: dict = field(default_factory=dict)
    resources: list[Resource] = field(default_factory=list)
    workers: list[Worker] = field(default_factory=list)


class ConfigError(ValueError):
    """Invalid application config (the reference log.Fatals here)."""


def load_application(source: str | dict) -> Application:
    """Parse an application config from a JSON path or an already-loaded
    dict, validating resource/worker types and wiring."""
    if isinstance(source, str):
        with open(source) as f:
            raw = json.load(f)
    else:
        raw = source
    resources = [Resource(name=r.get("name", ""), type=r.get("type", ""),
                          parameters=r.get("parameters") or {})
                 for r in raw.get("resources", [])]
    workers = [Worker(name=w.get("name", ""), type=w.get("type", ""),
                      manager=w.get("manager", ""),
                      interval=w.get("interval", 0),
                      parameters=w.get("parameters") or {},
                      inbox=w.get("inbox", ""), outbox=w.get("outbox", ""),
                      count=w.get("count", 0))
               for w in raw.get("workers", [])]
    app = Application(config=raw.get("config") or {}, resources=resources,
                      workers=workers)
    validate(app)
    return app


def validate(app: Application) -> None:
    names = set()
    for r in app.resources:
        if r.type not in RESOURCE_TYPES:
            raise ConfigError(f"unknown resource {r.type}")  # main.go:316
        if not r.name or r.name in names:
            raise ConfigError(f"missing/duplicate resource name {r.name!r}")
        names.add(r.name)
    for w in app.workers:
        if w.type not in WORKER_TYPES:
            raise ConfigError(f"unknown worker type {w.type}")  # main.go:226
        # GetWorkerManager (main.go:233-240): non-job workers need an inbox
        if w.manager not in ("", "worker", "job"):
            raise ConfigError(f"unknown worker manager: {w.manager}")
        if w.manager != "job" and w.inbox not in names:
            raise ConfigError(
                f"worker {w.name} has no inbox {w.inbox!r}")
        if w.outbox and w.outbox not in names:
            # The reference TOLERATES dangling outboxes: the fatal check
            # in GetWorkerManager (main.go ~246) is commented out with a
            # TODO, so a reference-valid config must stay loadable here —
            # warn instead of raising (ADVICE r3).
            import warnings
            warnings.warn(
                f"worker {w.name} outbox {w.outbox!r} names no resource "
                "(tolerated for reference parity — main.go ~246 TODO)",
                stacklevel=2)
    accums = [w for w in app.workers if w.type in _ACCUMULATOR_MODE]
    if len(accums) > 1:
        raise ConfigError("multiple accumulators in one application")
    if not accums:
        # Without this, a config that forgot its accumulator silently
        # builds a dfs-mode engine with defaulted semantics (ADVICE r3).
        raise ConfigError(
            "no accumulator worker (dfs_basic_accumulator or "
            "news_accumulator) in application")


def build_engine(spark, app: Application | str | dict, *,
                 workdir: str | None = None,
                 corpus_dir: str | None = None, **engine_kwargs):
    """Assemble a CrawlEngine from an application config.

    ``workdir``/``corpus_dir`` default to the ``file_queue`` /
    ``filesystem_object_store`` resource paths; explicit arguments
    override (tests point the same config at per-run tmp dirs).
    Bloom resource parameters override the corpus params, so the config
    owns the seen-set sizing exactly like the reference's resource
    entries do."""
    from .operators.crawl import CrawlEngine

    if not isinstance(app, Application):
        app = load_application(app)
    else:
        validate(app)

    by_type: dict[str, list[Resource]] = {}
    for r in app.resources:
        by_type.setdefault(r.type, []).append(r)

    def _sole(rtype: str, purpose: str) -> Resource | None:
        rs = by_type.get(rtype, [])
        if len(rs) > 1:
            # first-of-type would silently pick the wrong one — the
            # caller must disambiguate with an explicit argument
            raise ConfigError(
                f"multiple {rtype} resources "
                f"({', '.join(r.name for r in rs)}): pass {purpose} "
                "explicitly to build_engine")
        return rs[0] if rs else None

    if workdir is None:
        fq = _sole("file_queue", "workdir=")
        workdir = fq.parameters.get("path") if fq else None
    if corpus_dir is None:
        store = _sole("filesystem_object_store", "corpus_dir=")
        corpus_dir = store.parameters.get("path") if store else None
    if not workdir or not corpus_dir:
        raise ConfigError("config must provide a file_queue path (workdir) "
                          "and a filesystem_object_store path (corpus)")

    blooms = (by_type.get("rolling_bloom_filter", [])
              + by_type.get("bloom_filter", []))
    cuckoos = by_type.get("cuckoo_filter", [])
    if len(blooms) + len(cuckoos) > 1:
        raise ConfigError(
            "multiple seen-set resources ("
            + ", ".join(r.name for r in blooms + cuckoos)
            + "): the engine wires exactly one seen-set")
    overrides: dict[str, Any] = {}
    if cuckoos:
        p = cuckoos[0].parameters
        if engine_kwargs.setdefault("seen_filter", "cuckoo") != "cuckoo":
            # silently dropping the resource would be the config-ambiguity
            # class the r3 rules say must RAISE
            raise ConfigError(
                f"cuckoo_filter resource {cuckoos[0].name} conflicts with "
                f"explicit seen_filter={engine_kwargs['seen_filter']!r}")
        if "shards" in p:
            if int(p["shards"]) < 1:
                raise ConfigError(
                    f"cuckoo_filter {cuckoos[0].name}: shards must be >= 1")
            overrides["cuckoo_shards"] = int(p["shards"])
        if "capacity" in p:
            if int(p["capacity"]) < 1:
                raise ConfigError(
                    f"cuckoo_filter {cuckoos[0].name}: capacity must be "
                    ">= 1")
            overrides["cuckoo_capacity"] = int(p["capacity"])
    if blooms:
        p = blooms[0].parameters
        if blooms[0].type == "bloom_filter":
            overrides["bloom_count"] = 1
        elif "bloom_count" in p:
            overrides["bloom_count"] = int(p["bloom_count"])
        if "max_n" in p:
            overrides["bloom_max_n"] = int(p["max_n"])
        if "p" in p:
            overrides["bloom_p"] = float(p["p"])

    mode = "dfs"
    for w in app.workers:
        m = _ACCUMULATOR_MODE.get(w.type)
        if m:
            mode = m
            if "hot_host_threshold" in w.parameters:
                engine_kwargs.setdefault(
                    "hot_host_threshold",
                    int(w.parameters["hot_host_threshold"]))

    # config.workers.worker_counts (config/config.go WorkerConfig) → the
    # engine's shuffle-partition analog
    wc = (app.config.get("workers") or {}).get("worker_counts")
    if wc:
        engine_kwargs.setdefault("n_partitions", int(wc))

    return CrawlEngine(spark, corpus_dir, os.path.abspath(workdir),
                       mode=mode, param_overrides=overrides or None,
                       **engine_kwargs)
