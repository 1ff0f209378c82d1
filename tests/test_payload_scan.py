"""Direct payload scan (big-G fetch path): hit coverage and duplicate
dequeues of the same url (frontier can hold a url twice — reference
same-page duplicate admission quirk)."""

import os

import pyarrow as pa


def _keys(rows):
    return pa.table({
        "url": [r[0] for r in rows],
        "pos": pa.array([r[1] for r in rows], pa.int64()),
        "depth": pa.array([r[2] for r in rows], pa.int32()),
        "host": [r[3] for r in rows],
    })


def test_direct_scan_duplicate_keys(spark, unit_corpus):
    import pyarrow.parquet as pq

    from delver_spark.engine.urlnorm import host_of
    from delver_spark.sources.payload_scan import fetch_extract_direct

    pages = pq.read_table(os.path.join(unit_corpus, "pages.parquet"),
                          columns=["url_canon"])
    urls = sorted(pages.column("url_canon").to_pylist())[:3]
    # u0 dequeued TWICE (pos 0 and 2), u1/u2 once
    rows = [(urls[0], 0, 0, host_of(urls[0])),
            (urls[1], 1, 0, host_of(urls[1])),
            (urls[0], 2, 1, host_of(urls[0])),
            (urls[2], 3, 0, host_of(urls[2]))]
    df, bc = fetch_extract_direct(
        spark, os.path.join(unit_corpus, "pages.parquet"), _keys(rows), 8)
    got = sorted((r["pos"], r["url_canon"], r["depth"])
                 for r in df.select("pos", "url_canon", "depth").collect())
    bc.destroy()
    assert got == [(0, urls[0], 0), (1, urls[1], 0),
                   (2, urls[0], 1), (3, urls[2], 0)]


def test_direct_scan_passes_golden_pixels_to_duplicates(spark, unit_corpus,
                                                        tmp_path):
    """Golden pixels ride the keys table: the engine attaches them on the
    driver (``CrawlEngine._with_golden``), every occurrence of a url
    dequeued twice gets them, and the direct scan hands them to the
    extract, whose lossy-payload check then scores each row's PSNR."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from delver_spark.engine.urlnorm import host_of
    from delver_spark.operators.crawl import CrawlEngine
    from delver_spark.sources.payload_scan import fetch_extract_direct

    pages = pq.read_table(os.path.join(unit_corpus, "pages.parquet"),
                          columns=["url_canon", "fmt"])
    lossy = pages.filter(pc.equal(pages.column("fmt"), "qjpg"))
    urls = sorted(lossy.column("url_canon").to_pylist())[:2]
    rows = [(urls[0], 0, 0, host_of(urls[0])),
            (urls[1], 1, 0, host_of(urls[1])),
            (urls[0], 2, 1, host_of(urls[0]))]
    keys = CrawlEngine(spark, unit_corpus, str(tmp_path))._with_golden(
        _keys(rows))
    assert keys.column("golden_pixels").null_count == 0
    df, bc = fetch_extract_direct(
        spark, os.path.join(unit_corpus, "pages.parquet"), keys, 8)
    got = sorted(df.select("pos", "psnr", "payload_ok").collect())
    bc.destroy()
    assert [r["pos"] for r in got] == [0, 1, 2]
    assert all(r["psnr"] >= 40.0 and r["payload_ok"] for r in got)
    assert got[0]["psnr"] == got[2]["psnr"]


def test_driver_fetch_duplicates_and_misses(spark, unit_corpus, tmp_path):
    """A small round's fetch on the driver (``CrawlEngine.
    _fetch_on_driver``), with no Spark job: a url dequeued twice gets
    its payload and its golden pixels at both positions, and a url with
    no payload row extracts as a failed fetch (``success`` False, no
    content), as the big plan's misses do. Rows come back in ``pos``
    order."""
    import hashlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from delver_spark.engine.urlnorm import host_of
    from delver_spark.operators.crawl import CrawlEngine

    pages = pq.read_table(os.path.join(unit_corpus, "pages.parquet"),
                          columns=["url_canon", "fmt", "bytes"])
    md5 = {u: hashlib.md5(b).hexdigest() for u, b in zip(
        pages.column("url_canon").to_pylist(),
        pages.column("bytes").to_pylist())}
    lossy = sorted(pages.filter(pc.equal(pages.column("fmt"), "qjpg"))
                   .column("url_canon").to_pylist())[0]
    other = sorted(pages.filter(pc.equal(pages.column("fmt"), "ppm"))
                   .column("url_canon").to_pylist())[0]
    missing = "http://missing.test/none"
    rows = [(lossy, 3, 1, host_of(lossy)), (other, 1, 0, host_of(other)),
            (missing, 2, 0, "missing.test"), (lossy, 0, 0, host_of(lossy))]
    eng = CrawlEngine(spark, unit_corpus, str(tmp_path))
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    got = eng._fetch_on_driver(_keys(rows)).to_pydict()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    assert got["pos"] == [0, 1, 2, 3]
    assert got["url_canon"] == [lossy, other, missing, lossy]
    assert got["success"] == [True, True, False, True]
    assert got["content_md5"] == [md5[lossy], md5[other], None, md5[lossy]]
    assert got["psnr"][0] == got["psnr"][3] >= 40.0
    assert got["payload_ok"] == [True, True, None, True]
    assert got["outlinks"][2] is None and got["same_links"][2] is None
