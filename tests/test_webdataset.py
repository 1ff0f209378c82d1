"""WebDataset tar-shard export/ingest pins.

The export's contract: byte-identical shard-%06d.tar files to an
independently-written stdlib ``tarfile`` reference (same members, same
fixed-range shard rule computed sequentially), regardless of parquet
row-group layout or task count; round-trip ingest equality; manifest
arithmetic exact (tar_bytes from real file sizes == the integer
formula the DuckDB gate twin uses); shard assignment consistent with
``assemble.pack_shards`` (same rule, shared fate)."""

import io
import os
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delver_spark.fixtures.codecs import encode
from delver_spark.operators.webdataset import (export_webdataset,
                                               member_bytes_of,
                                               read_webdataset)

TARGET = 64 * 1024


def _pair_table(n=57, seed=7, null_caption_every=9, null_data_at=(13,)):
    rng = np.random.default_rng(seed)
    ids, blobs, fmts, caps = [], [], [], []
    for i in range(n):
        w = int(rng.integers(8, 64))
        h = int(rng.integers(8, 64))
        fmt = "ppm" if i % 2 else "qjpg"
        ids.append(f"img-{i:05d}")
        blobs.append(None if i in null_data_at else
                     encode(rng.integers(0, 256, (h, w, 3),
                                         dtype=np.uint8), fmt))
        fmts.append(fmt)
        caps.append(None if i % null_caption_every == 0
                    else f"caption {i} é中")  # non-ASCII: octet≠char
    return pa.table({"image_id": pa.array(ids),
                     "bytes": pa.array(blobs, pa.binary()),
                     "fmt": pa.array(fmts),
                     "caption": pa.array(caps, pa.string())})


def _write(t, d, row_group_size=8, files=2):
    os.makedirs(d, exist_ok=True)
    cut = len(t) // files
    for k in range(files):
        sl = t.slice(k * cut, cut if k < files - 1 else len(t) - k * cut)
        pq.write_table(sl, os.path.join(d, f"{chr(97 + k)}.parquet"),
                       row_group_size=row_group_size)


def _reference_tars(t, target):
    """Independent sequential reference: stdlib tarfile writer, same
    member convention and fixed-range rule."""
    shards: dict[int, tarfile.TarFile] = {}
    bios: dict[int, io.BytesIO] = {}
    stats: dict[int, list] = {}
    off = 0
    for i in range(len(t)):
        blob = t.column("bytes")[i].as_py()
        if blob is None:
            continue
        cap = t.column("caption")[i].as_py()
        capb = None if cap is None else cap.encode("utf-8")
        size = int(member_bytes_of([len(blob)],
                                   [-1 if capb is None else len(capb)])[0])
        s = off // target
        off += size
        if s not in shards:
            bios[s] = io.BytesIO()
            shards[s] = tarfile.open(fileobj=bios[s], mode="w",
                                     format=tarfile.USTAR_FORMAT)
            stats[s] = [0, 0]
        key = t.column("image_id")[i].as_py()
        fmt = t.column("fmt")[i].as_py()
        ti = tarfile.TarInfo(f"{key}.{fmt}")
        ti.size = len(blob)
        shards[s].addfile(ti, io.BytesIO(blob))
        if capb is not None:
            ti = tarfile.TarInfo(f"{key}.txt")
            ti.size = len(capb)
            shards[s].addfile(ti, io.BytesIO(capb))
        stats[s][0] += 1
        stats[s][1] += len(blob)
    out = {}
    for s, tf in shards.items():
        tf.close()
        out[s] = (bios[s].getvalue(), stats[s][0], stats[s][1])
    return out


def test_export_matches_stdlib_reference_and_manifest(spark, tmp_path):
    t = _pair_table()
    src = tmp_path / "src"
    _write(t, str(src), row_group_size=8)
    out = tmp_path / "wds"
    man = export_webdataset(spark, str(src), str(out), TARGET).collect()
    ref = _reference_tars(t, TARGET)

    assert sorted(r.shard_id for r in man) == sorted(ref)
    for r in man:
        blob = open(out / r.path, "rb").read()
        exp, n_items, payload = ref[r.shard_id]
        assert blob == exp, f"shard {r.shard_id} bytes differ"
        assert r.n_items == n_items and r.payload_bytes == payload
        assert r.tar_bytes == len(blob) == os.path.getsize(out / r.path)
    # the SQL-twin integer formula reproduces the real file sizes:
    # content member sum -> padded archive size
    dl = [len(b.as_py()) if b.as_py() is not None else -1
          for b in t.column("bytes")]
    cl = [-1 if c.as_py() is None else len(c.as_py().encode("utf-8"))
          for c in t.column("caption")]
    mb = member_bytes_of(dl, cl)
    mb[np.asarray(dl) < 0] = 0
    starts = np.concatenate(([0], np.cumsum(mb)[:-1]))
    for r in man:
        c = int(mb[(starts // TARGET == r.shard_id) & (mb > 0)].sum())
        assert r.tar_bytes == (c + 1024 + 10239) // 10240 * 10240


def test_row_group_layout_invariance(spark, tmp_path):
    """Different parquet row grouping / file split => byte-identical
    tars (offsets are global; fragments concatenate in split order)."""
    t = _pair_table()
    a, b = tmp_path / "a", tmp_path / "b"
    _write(t, str(a), row_group_size=5, files=3)
    _write(t, str(b), row_group_size=31, files=1)
    oa, ob = tmp_path / "wa", tmp_path / "wb"
    ma = {r.shard_id: r for r in
          export_webdataset(spark, str(a), str(oa), TARGET).collect()}
    mb = {r.shard_id: r for r in
          export_webdataset(spark, str(b), str(ob), TARGET).collect()}
    assert ma.keys() == mb.keys()
    for s in ma:
        assert open(oa / ma[s].path, "rb").read() == \
            open(ob / mb[s].path, "rb").read()
        assert (ma[s].n_items, ma[s].payload_bytes) == \
            (mb[s].n_items, mb[s].payload_bytes)
    assert not (oa / ".frag").exists()


def test_round_trip_read(spark, tmp_path):
    t = _pair_table()
    src, out = tmp_path / "src", tmp_path / "wds"
    _write(t, str(src))
    export_webdataset(spark, str(src), str(out), TARGET)
    got = sorted((r.image_id, bytes(r.bytes), r.fmt, r.caption)
                 for r in read_webdataset(spark, str(out)).collect())
    exp = sorted((t.column("image_id")[i].as_py(),
                  t.column("bytes")[i].as_py(),
                  t.column("fmt")[i].as_py(),
                  t.column("caption")[i].as_py())
                 for i in range(len(t))
                 if t.column("bytes")[i].as_py() is not None)
    assert got == exp


def test_shard_rule_matches_pack_shards(spark, tmp_path):
    """Same fixed-range rule as assemble.pack_shards: exporting with
    per-row tar member sizes as the size column reproduces the export's
    per-shard item counts."""
    from pyspark.sql import functions as F

    from delver_spark.operators.assemble import pack_shards

    t = _pair_table(null_data_at=())
    src, out = tmp_path / "src", tmp_path / "wds"
    _write(t, str(src))
    man = export_webdataset(spark, str(src), str(out), TARGET).collect()

    df = spark.createDataFrame(t.to_pandas())
    df = df.withColumn("caplen", F.when(F.col("caption").isNull(),
                                        F.lit(-1))
                       .otherwise(F.octet_length("caption")))
    # integer member arithmetic, mirrored from member_bytes_of
    df = df.withColumn(
        "msize",
        (F.lit(512) + F.expr("(length(bytes) + 511) DIV 512 * 512")
         + F.when(F.col("caplen") >= 0,
                  F.lit(512) + F.expr("(caplen + 511) DIV 512 * 512"))
         .otherwise(F.lit(0))).cast("long"))
    packed = pack_shards(df.withColumn("ord", F.expr(
        "CAST(substr(image_id, 5) AS LONG)")),
        "msize", "ord", TARGET)
    counts = {r.shard_id: r.n for r in
              packed.groupBy("shard_id").agg(
                  F.count("*").alias("n")).collect()}
    assert counts == {r.shard_id: r.n_items for r in man}


def test_text_mode_and_errors(spark, tmp_path):
    """String payload column + literal ext (the documents gate shape);
    exactly-one-of fmt_col/ext enforced; >100-byte names raise."""
    t = pa.table({"doc_id": pa.array([f"{i}" for i in range(9)]),
                  "text": pa.array([f"doc {i} body ☃" * (i + 1)
                                    for i in range(9)])})
    src, out = tmp_path / "src", tmp_path / "wds"
    _write(t, str(src), row_group_size=4, files=1)
    man = export_webdataset(spark, str(src), str(out), 4096,
                            key_col="doc_id", data_col="text",
                            fmt_col=None, ext="txt",
                            caption_col=None).collect()
    assert sum(r.n_items for r in man) == 9
    got = {r.doc_id: bytes(r.bytes).decode("utf-8") for r in
           read_webdataset(spark, str(out), key_col="doc_id",
                           caption=False).collect()}
    assert got == {f"{i}": f"doc {i} body ☃" * (i + 1)
                   for i in range(9)}

    with pytest.raises(ValueError, match="exactly one"):
        export_webdataset(spark, str(src), str(out), 4096,
                          key_col="doc_id", data_col="text",
                          fmt_col="fmt", ext="txt", caption_col=None)
    t2 = pa.table({"doc_id": pa.array(["x" * 120]),
                   "text": pa.array(["hi"])})
    src2 = tmp_path / "src2"
    _write(t2, str(src2), files=1)
    with pytest.raises(Exception, match="100-byte"):
        export_webdataset(spark, str(src2), str(tmp_path / "w2"), 4096,
                          key_col="doc_id", data_col="text",
                          fmt_col=None, ext="txt",
                          caption_col=None).collect()


def test_review_fixes_r5s9(spark, tmp_path):
    """r5-s9 review sweep pins: (a) a lying size_col fails LOUDLY
    instead of silently shifting shard boundaries; (b) NULL fmt with a
    payload raises instead of writing a '.None' member; (c)
    caption=False DROPS matching .txt members (never emits them as
    payload rows); (d) bounded output batches round-trip identically."""
    import pyarrow.compute as pc

    t = _pair_table()
    src, out = tmp_path / "src", tmp_path / "wds"
    _write(t, str(src))
    export_webdataset(spark, str(src), str(out), TARGET)

    # (c) + (d): captioned tar read with caption=False — payload rows
    # only, same count/bytes as caption=True; tiny batch_bytes forces
    # many output chunks and must not change the result
    with_cap = sorted((r.image_id, bytes(r.bytes), r.fmt) for r in
                      read_webdataset(spark, str(out)).collect())
    no_cap = sorted((r.image_id, bytes(r.bytes), r.fmt) for r in
                    read_webdataset(spark, str(out),
                                    caption=False).collect())
    chunked = sorted((r.image_id, bytes(r.bytes), r.fmt) for r in
                     read_webdataset(spark, str(out),
                                     batch_bytes=1024).collect())
    assert no_cap == with_cap == chunked

    # (a) stale size_col: one row's nbytes off by a pad block (+1 might
    # not cross a 512-byte padding boundary and thus legitimately not
    # change the tar layout)
    nb = pc.fill_null(pc.binary_length(t.column("bytes"))
                      .cast("int64"), -1).to_pylist()
    nb[3] += 512
    t2 = t.append_column("nbytes", pa.array(nb, pa.int64()))
    src2 = tmp_path / "src2"
    _write(t2, str(src2))
    with pytest.raises(Exception, match="disagrees"):
        export_webdataset(spark, str(src2), str(tmp_path / "w2"),
                          TARGET, size_col="nbytes").collect()

    # (b) NULL fmt with non-NULL payload
    t3 = t.set_column(t.schema.get_field_index("fmt"), "fmt",
                      pa.array([None] * len(t), pa.string()))
    src3 = tmp_path / "src3"
    _write(t3, str(src3))
    with pytest.raises(Exception, match="NULL fmt"):
        export_webdataset(spark, str(src3), str(tmp_path / "w3"),
                          TARGET).collect()


def test_size_col_skips_payload_read(spark, tmp_path):
    """Precomputed size column gives identical output (the no-extra-
    payload-read path for tables that carry nbytes)."""
    import pyarrow.compute as pc

    t = _pair_table()
    t = t.append_column("nbytes", pc.fill_null(
        pc.binary_length(t.column("bytes")).cast("int64"), -1))
    src = tmp_path / "src"
    _write(t, str(src))
    oa, ob = tmp_path / "wa", tmp_path / "wb"
    export_webdataset(spark, str(src), str(oa), TARGET)
    export_webdataset(spark, str(src), str(ob), TARGET,
                      size_col="nbytes")
    for f in sorted(os.listdir(oa)):
        if f.endswith(".tar"):
            assert open(oa / f, "rb").read() == open(ob / f, "rb").read()


def test_read_batches_bound_counts_caption_bytes(tmp_path):
    """Caption-heavy shard: every batch the tar scan emits holds at most
    ``batch_bytes`` of payload PLUS caption bytes (or one oversized
    row), and the batches concatenate to every sample in member order.
    Payload alone is tiny here, so a payload-only bound would pack the
    whole shard into one batch over 20x the bound."""
    from delver_spark.operators.webdataset import _tar_row_batches

    path = str(tmp_path / "shard-000000.tar")
    want = []
    with tarfile.open(path, "w") as tf:
        for i in range(200):
            key, data = f"img-{i:05d}", bytes([i % 256]) * 8
            cap = ("é" * (300 + i % 17)) if i % 5 else None
            for name, blob in ((f"{key}.ppm", data),
                               *(((f"{key}.txt", cap.encode()),)
                                 if cap is not None else ())):
                info = tarfile.TarInfo(name)
                info.size = len(blob)
                tf.addfile(info, io.BytesIO(blob))
            want.append((key, data, "ppm", cap))

    bound = 4096
    batches = list(_tar_row_batches(path, bound, caption=True))
    assert len(batches) > 1
    for b in batches:
        size = sum(len(d) for d in b["bytes"]) + sum(
            len(c.encode()) for c in b["cap"] if c is not None)
        assert size <= bound or len(b["key"]) == 1
    got = [row for b in batches
           for row in zip(b["key"], b["bytes"], b["fmt"], b["cap"])]
    assert got == want
    # caption=False drops the .txt members, so only payload counts
    plain = list(_tar_row_batches(path, bound, caption=False))
    assert len(plain) == 1 and plain[0]["cap"] == [None] * 200
