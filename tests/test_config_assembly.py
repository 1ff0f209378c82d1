"""Config-driven pipeline assembly (main.go:51-82, config/app.go:8-34):
a reference-shaped JSON application — resources wired into workers by
name — builds the dfs AND news engines, and each reproduces the existing
engine ≡ oracle equalities. Plus wiring validation (the cases main.go
log.Fatals on)."""

import json

import numpy as np
import pytest

from delver_spark.config import (ConfigError, build_engine,
                                 load_application)
from delver_spark.oracle.crawler import run_oracle


def _app_json(corpus_dir: str, workdir: str, accumulator: str,
              bloom_params: dict | None = None) -> dict:
    """A reference-shaped application document (cf. the CreateResource /
    CreateWorker type strings and json parameter tags)."""
    return {
        "config": {"workers": {"enabled": True, "worker_counts": 8}},
        "resources": [
            {"name": "frontier_queue", "type": "file_queue",
             "parameters": {"path": workdir, "resilient": True}},
            {"name": "transformer_queue", "type": "channel_queue"},
            {"name": "object_store", "type": "filesystem_object_store",
             "parameters": {"path": corpus_dir}},
            {"name": "seen_urls", "type": "rolling_bloom_filter",
             "parameters": bloom_params or {}},
            {"name": "visited_hosts", "type": "persistent_map",
             "parameters": {}},
        ],
        "workers": [
            {"name": "seeder", "type": "fixed_seed_publisher",
             "manager": "job", "interval": 1,
             "outbox": "frontier_queue", "parameters": {}},
            {"name": "fetcher", "type": "http_fetcher",
             "inbox": "frontier_queue", "outbox": "transformer_queue",
             "parameters": {}},
            {"name": "extractor", "type": "composite_extractor",
             "inbox": "transformer_queue", "parameters": {}},
            {"name": "accumulator", "type": accumulator,
             "inbox": "transformer_queue", "outbox": "frontier_queue",
             "parameters": {}},
        ],
    }


@pytest.fixture(scope="module")
def news_corpus(tmp_path_factory):
    from delver_spark.fixtures.gen import generate_corpus

    d = str(tmp_path_factory.mktemp("corpus_cfg_news"))
    generate_corpus(d, n_pages=150, n_hosts=8, seed=13, max_rounds=6,
                    path_style="news")
    return d


def _run_from_config(spark, corpus, workdir, accumulator, tmp_path):
    with open(f"{corpus}/params.json") as f:
        p = json.load(f)
    # the config OWNS the seen-set sizing (same values as the corpus →
    # the override path is exercised AND equality must hold)
    bloom = {"bloom_count": p.get("bloom_count", 1),
             "max_n": p["bloom_max_n"], "p": p["bloom_p"]}
    doc = _app_json(corpus, workdir, accumulator, bloom)
    cfg_path = tmp_path / f"{accumulator}.json"
    cfg_path.write_text(json.dumps(doc))
    eng = build_engine(spark, str(cfg_path))
    assert eng.mode == ("news" if accumulator == "news_accumulator"
                        else "dfs")
    assert eng.n_partitions == 8  # config.workers.worker_counts
    eng.run()
    return eng


def test_dfs_engine_from_config_matches_oracle(spark, unit_corpus,
                                               tmp_path):
    oracle = run_oracle(unit_corpus)
    eng = _run_from_config(spark, unit_corpus, str(tmp_path / "wd"),
                           "dfs_basic_accumulator", tmp_path)
    df = eng.crawl_order_df()
    got = list(df[["seq", "url_canon", "depth", "round", "success"]]
               .itertuples(index=False, name=None))
    want = [(r["seq"], r["url_canon"], r["depth"], r["round"],
             r["success"]) for r in oracle.crawl_order]
    assert got == want
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_news_engine_from_config_matches_oracle(spark, news_corpus,
                                                tmp_path):
    oracle = run_oracle(news_corpus, mode="news")
    eng = _run_from_config(spark, news_corpus, str(tmp_path / "wd"),
                           "news_accumulator", tmp_path)
    df = eng.crawl_order_df()
    got = list(df[["seq", "url_canon", "depth", "round", "success"]]
               .itertuples(index=False, name=None))
    want = [(r["seq"], r["url_canon"], r["depth"], r["round"],
             r["success"]) for r in oracle.crawl_order]
    assert got == want
    assert np.array_equal(oracle.bloom.bit_positions(),
                          eng.bloom.bit_positions())


def test_bloom_resource_overrides_corpus_params(spark, unit_corpus,
                                                tmp_path):
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator",
                    {"bloom_count": 3, "max_n": 1234, "p": 0.01})
    eng = build_engine(spark, doc)
    assert eng.params["bloom_count"] == 3
    assert eng.params["bloom_max_n"] == 1234
    assert eng.bloom.max_n == 1234


def test_validation_unknown_resource_type(tmp_path, unit_corpus):
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["resources"][0]["type"] = "quantum_queue"
    with pytest.raises(ConfigError, match="unknown resource"):
        load_application(doc)


def test_validation_missing_inbox(tmp_path, unit_corpus):
    """GetWorkerManager: a non-job worker must name an existing inbox."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["workers"][1]["inbox"] = "nonexistent_queue"
    with pytest.raises(ConfigError, match="has no inbox"):
        load_application(doc)


def test_validation_dangling_outbox_warns_not_raises(tmp_path, unit_corpus):
    """The reference tolerates dangling outboxes (the fatal check in
    GetWorkerManager, main.go ~246, is commented out with a TODO), so a
    reference-valid config must load — with a warning (ADVICE r3)."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["workers"][1]["outbox"] = "nonexistent_queue"
    with pytest.warns(UserWarning, match="outbox 'nonexistent_queue'"):
        app = load_application(doc)
    assert app.workers[1].outbox == "nonexistent_queue"


def test_validation_missing_accumulator_rejected(tmp_path, unit_corpus):
    """A config with no accumulator worker would silently run with
    defaulted dfs semantics — fail loudly instead (ADVICE r3)."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["workers"] = [w for w in doc["workers"]
                      if w["type"] != "dfs_basic_accumulator"]
    with pytest.raises(ConfigError, match="no accumulator worker"):
        load_application(doc)


def test_validation_unknown_worker_type(tmp_path, unit_corpus):
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["workers"][0]["type"] = "teleporter"
    with pytest.raises(ConfigError, match="unknown worker type"):
        load_application(doc)


def test_cli_main_runs_config(spark, unit_corpus, tmp_path, capsys):
    """The reference's program surface (main.go:43-49): ``python -m
    delver_spark <config.json>`` runs the application and prints a
    one-line JSON summary."""
    from delver_spark.__main__ import main

    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    cfg = tmp_path / "app.json"
    cfg.write_text(json.dumps(doc))
    rc = main([str(cfg)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "dfs"
    assert out["rounds"] >= 2 and out["fetched"] > 0
    assert out["workdir"].endswith("wd")


def test_cli_main_requires_config_path(capsys):
    from delver_spark.__main__ import main

    assert main([]) == 2
    assert "Config path" in capsys.readouterr().err


def test_ambiguous_resource_types_rejected(spark, unit_corpus, tmp_path):
    """Two resources of the same assembly-relevant type must error
    instead of silently picking the first (review fix)."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["resources"].append({"name": "archive_store",
                             "type": "filesystem_object_store",
                             "parameters": {"path": "/tmp/elsewhere"}})
    with pytest.raises(ConfigError, match="multiple filesystem_object_store"):
        build_engine(spark, doc)
    # an explicit corpus_dir argument disambiguates
    eng = build_engine(spark, doc, corpus_dir=unit_corpus)
    assert eng.corpus_dir == unit_corpus


def test_example_configs_load_and_assemble(spark, unit_corpus, tmp_path):
    """The shipped example applications (examples/app_*.json) validate
    and assemble; explicit corpus/workdir args point them at test data."""
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "examples")
    for name in ("app_dfs.json", "app_news.json"):
        app = load_application(os.path.join(root, name))
        assert len(app.workers) == 4 and len(app.resources) == 4
    eng = build_engine(spark, os.path.join(root, "app_dfs.json"),
                       corpus_dir=unit_corpus,
                       workdir=str(tmp_path / "wd"))
    assert eng.mode == "dfs"
    assert eng.params["bloom_max_n"] == 100000  # config owns sizing
    eng2 = build_engine(spark, os.path.join(root, "app_news.json"),
                        corpus_dir=unit_corpus,
                        workdir=str(tmp_path / "wd2"))
    assert eng2.mode == "news" and eng2.params["bloom_count"] == 3


def test_job_manager_needs_no_inbox(unit_corpus, tmp_path):
    """Publishers run under the job manager with only an outbox —
    exactly the reference's seeder wiring (main.go:233-236)."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    app = load_application(doc)
    seeder = [w for w in app.workers if w.name == "seeder"][0]
    assert seeder.manager == "job" and seeder.inbox == ""


def test_cuckoo_resource_builds_cuckoo_engine(spark, unit_corpus,
                                              tmp_path):
    """A cuckoo_filter resource (the engine's own seen-set type, not a
    reference one) selects seen_filter="cuckoo" with its shards/capacity
    as param overrides, and the config-built engine reproduces the
    cuckoo-mode oracle exactly."""
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["resources"] = [r for r in doc["resources"]
                        if r["type"] != "rolling_bloom_filter"]
    with open(f"{unit_corpus}/params.json") as f:
        p = json.load(f)
    doc["resources"].append(
        {"name": "seen_urls", "type": "cuckoo_filter",
         "parameters": {"shards": 4, "capacity": p["bloom_max_n"]}})
    eng = build_engine(spark, doc)
    assert eng.seen_filter == "cuckoo"
    assert eng.cuckoo.shards == 4
    eng.run()
    oracle = run_oracle(unit_corpus, seen_filter="cuckoo")
    df = eng.crawl_order_df()
    got = list(df[["seq", "url_canon", "depth", "round", "success"]]
               .itertuples(index=False, name=None))
    want = [(r["seq"], r["url_canon"], r["depth"], r["round"],
             r["success"]) for r in oracle.crawl_order]
    assert got == want
    assert eng.cuckoo.to_bytes() == oracle.cuckoo.to_bytes()


def test_cuckoo_plus_bloom_resources_rejected(tmp_path, unit_corpus):
    doc = _app_json(unit_corpus, str(tmp_path / "wd"),
                    "dfs_basic_accumulator")
    doc["resources"].append(
        {"name": "seen_urls_ck", "type": "cuckoo_filter",
         "parameters": {"shards": 4}})
    with pytest.raises(ConfigError, match="seen-set"):
        build_engine(None, doc)


def test_cuckoo_resource_validation():
    from delver_spark.config import Resource  # noqa: F401  (shape check)

    def doc(params, **kw):
        d = _app_json("/tmp/c", "/tmp/w", "dfs_basic_accumulator")
        d["resources"] = [r for r in d["resources"]
                          if r["type"] != "rolling_bloom_filter"]
        d["resources"].append({"name": "seen_ck", "type": "cuckoo_filter",
                               "parameters": params})
        return d

    with pytest.raises(ConfigError, match="shards"):
        build_engine(None, doc({"shards": 0}))
    with pytest.raises(ConfigError, match="capacity"):
        build_engine(None, doc({"capacity": 0}))
    # explicit bloom request + cuckoo resource = ambiguity -> raise,
    # never silently drop the resource
    with pytest.raises(ConfigError, match="conflicts"):
        build_engine(None, doc({"shards": 4}), seen_filter="bloom")
