#!/usr/bin/env python
"""Capstone demo: the two graft axes end to end — a politeness-governed
CRAWL decides which image+caption pages exist, and the image
training-data chain turns exactly that fetched set into packed training
shards:

  synth web corpus (link graph + robots + image/caption payloads)
    → CrawlEngine (frontier, politeness budget, robots, bloom seen-set)
    → fetched set (crawl-order artifact, successes only)
    → curate_image_caption over fetched METADATA (payloads untouched)
    → write_curation_verdict  (kept = crawled AND curated; the
      corpus-scale kept-set table — no driver id broadcast)
    → resize_images_direct(verdict_dir=, out_dir=)  (task-local
      row-group scans + in-task shard writes; only a manifest returns)
    → aspect_bucket_batches + pack_shards, ordered by CRAWL SEQUENCE

Usage: ``python examples/crawl_to_training.py [n_pages]`` (default
2000). Everything is written under a temp dir and deleted on exit;
prints per-stage rows + timings. At cluster scale the corpus is an
Iceberg/parquet table of (image_id, bytes, w, h, fmt, caption, phash)
pages, the crawl-order artifact is the engine's distributed parquet
write (rounds above crawl.BIG_ROUND_FLOOR), and out_dir is an
object-store prefix —
no stage here holds payload bytes on the driver or shuffles them.
"""

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                os.pardir))


def main(n_pages: int = 2000) -> None:
    from pyspark.sql import functions as F

    from delver_spark.fixtures.gen import generate_corpus
    from delver_spark.operators.assemble import pack_shards
    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.operators.multimodal import (aspect_bucket_batches,
                                                   curate_image_caption,
                                                   resize_images_direct,
                                                   write_curation_verdict)
    from delver_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="crawl_to_training_")
    corpus = os.path.join(work, "corpus")
    crawl_wd = os.path.join(work, "crawl")
    verdict = os.path.join(work, "verdict")
    out_dir = os.path.join(work, "resized")

    # budgets chosen so the crawl reaches only PART of the corpus — the
    # point of the demo: training-set membership is decided by the
    # frontier (politeness + budgets + robots + seen-set), not by a
    # directory listing
    generate_corpus(corpus, n_pages=n_pages, n_hosts=24, seed=11,
                    n_seeds=6, max_depth=4, per_host_budget=48,
                    global_budget=max(64, (n_pages * 6) // 10),
                    max_rounds=12, golden_pixel_cap=0, sizes=(48, 64, 96))

    spark = get_spark("crawl_to_training_demo")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t0 = time.time()
        eng = CrawlEngine(spark, corpus, crawl_wd)
        stats = eng.run()
        order = spark.createDataFrame(eng.crawl_order_df())
        fetched = (order.filter("success")
                   .select("url_canon", "seq").localCheckpoint(eager=True))
        t1 = time.time()
        print(f"[1 crawl    {t1 - t0:7.2f}s] rounds={stats['rounds']} "
              f"fetched={stats['fetched']} of {n_pages} pages "
              f"(politeness+budget bounded), frontier_ops={stats['frontier_ops']}")

        # curation sees METADATA only; bytes stay in the payload table
        pages_meta = (spark.read.parquet(os.path.join(corpus, "pages.parquet"))
                      .select("url_canon", "image_id", "w", "h",
                              "caption", "phash"))
        crawled = pages_meta.join(fetched, "url_canon")
        curated = curate_image_caption(
            crawled.select("image_id", "w", "h", "caption", "phash"),
            min_side=56, min_caption_tokens=3, max_caption_tokens=60)
        reasons = {r["drop_reason"]: r["n"] for r in
                   curated.groupBy("drop_reason")
                   .agg(F.count("*").alias("n")).collect()}
        t2 = time.time()
        print(f"[2 curate   {t2 - t1:7.2f}s] drop reasons: {reasons}")

        # kept = crawled AND curated, materialized as the range-sorted
        # kept-partitioned verdict table — ids absent from the verdict
        # (never crawled) are not kept, so the crawl IS the outer gate
        write_curation_verdict(curated, verdict)
        manifest = resize_images_direct(
            spark, os.path.join(corpus, "pages.parquet"),
            verdict_dir=verdict, out_dir=out_dir,
            carry_cols=["caption"]).localCheckpoint(eager=True)
        n_resized = manifest.count()
        n_shards = manifest.select("shard_path").distinct().count()
        t3 = time.time()
        print(f"[3 resize   {t3 - t2:7.2f}s] {n_resized} images "
              f"→ {n_shards} payload shards (task-local scan+write)")

        # training order = crawl order: the frontier's fetch sequence is
        # the deterministic, resumable order key for batch dealing
        with_seq = (manifest.join(
            pages_meta.select("image_id", "url_canon"), "image_id")
            .join(fetched, "url_canon")
            .select("image_id", "w", "h", "nbytes", "seq"))
        batches = aspect_bucket_batches(with_seq, batch_size=8,
                                        order_col="seq")
        per_bucket = {r["bucket_id"]: r["n"] for r in
                      batches.groupBy("bucket_id")
                      .agg(F.countDistinct("batch_idx").alias("n"))
                      .orderBy("bucket_id").collect()}
        # resized rows are bucket-resolution (~1-3 MB each with the demo
        # codec) — 16 MB shards keep the fixed-range rule meaningful
        packed = pack_shards(with_seq.select("image_id", "seq", "nbytes"),
                             "nbytes", "seq", 1 << 24)
        pack_row = packed.agg(
            (F.max("shard_id") + 1).alias("n_shards"),
            F.sum("nbytes").alias("bytes")).collect()[0].asDict()
        t4 = time.time()
        print(f"[4 pack     {t4 - t3:7.2f}s] batches/bucket={per_bucket} "
              f"pack={pack_row}")

        # 5. the artifact trainers consume: WebDataset tar shards of the
        # crawled, curated, resized image+caption pairs — tasks write
        # tar fragments from their own splits; payload never shuffles
        from delver_spark.operators.webdataset import export_webdataset
        from pyspark.sql import functions as _F
        wds_dir = os.path.join(work, "wds")
        wrow = (export_webdataset(spark, out_dir, wds_dir, 1 << 24)
                .agg(_F.count("*").alias("tars"),
                     _F.sum("n_items").alias("pairs"),
                     _F.sum("tar_bytes").alias("bytes"))
                .collect()[0].asDict())
        t5 = time.time()
        print(f"[5 wds      {t5 - t4:7.2f}s] {wrow}")
        print(f"[total      {t5 - t0:7.2f}s] crawl→curate→resize→pack→tar, "
              f"{stats['fetched']} fetched → {n_resized} training images")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000)
