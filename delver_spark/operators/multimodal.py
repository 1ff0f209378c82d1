"""Multimodal payload operators: opaque ``binary`` columns with typed
metadata, processed in ``mapInArrow`` passes over zero-copy views of
the Arrow buffers (``extract._binary_views`` — per-row ``bytes()``
copies of big BINARY payloads anti-scale with python worker count,
CLAUDE.md r1 / BENCH r4-s5).

The image path is fully real (numpy codecs from fixtures.codecs). Audio
and video decode are STUBBED — this container has no AV libraries — but
the Spark-side plumbing (schemas, UDF signatures, batch shapes,
partitioning expectations) is real and tested: swap ``_decode_audio`` /
``_video_frames`` for soundfile/PyAV on a real cluster and nothing else
changes.

Scale notes: payload bytes must never be shuffled — these operators are
narrow maps over the storage scan (same rule as the crawl fetch stage);
outputs carry features only.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from ..fixtures.codecs import decode as _decode_image
from ..fixtures.codecs import encode as _encode_image

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("thumb", T.BinaryType()),       # resized RGB (th*tw*3)
    T.StructField("thumb_w", T.IntegerType()),
    T.StructField("thumb_h", T.IntegerType()),
])


def _resize_nn(pix: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy."""
    h, w, _ = pix.shape
    ys = (np.arange(th) * h // th)
    xs = (np.arange(tw) * w // tw)
    return pix[ys][:, xs]


def image_features(df: DataFrame, thumb: tuple[int, int] = (8, 8)) -> DataFrame:
    """Decode + feature-extract + resize over (image_id, bytes, fmt).

    mapInArrow + zero-copy ``_binary_views`` (r5, VERDICT r4 'what's
    wrong' #2): the previous mapInPandas pass paid a per-row
    ``bytes(blob)`` PyBytes copy — the exact Arrow→pandas big-BINARY
    pattern this repo measured ANTI-scaling with python worker count
    (CLAUDE.md r1; BENCH r4-s5 socket-plan rows) and designed out of
    ``resize_to_bucket``. Decode now reads the Arrow buffers in place;
    only the (small) feature outputs are materialized."""
    import pyarrow as pa

    from .extract import _binary_views

    th, tw = thumb

    def run(batches):
        for rb in batches:
            names = rb.schema.names
            ids = rb.column(names.index("image_id"))
            fmts = rb.column(names.index("fmt")).to_pylist()
            views = _binary_views(rb.column(names.index("bytes")))
            ws, hs, mr, mg, mb, thumbs = [], [], [], [], [], []
            for blob, fmt in zip(views, fmts):
                pix = _decode_image(blob, fmt)
                means = pix.reshape(-1, 3).mean(axis=0)
                t = _resize_nn(pix, th, tw)
                ws.append(pix.shape[1])
                hs.append(pix.shape[0])
                mr.append(float(means[0]))
                mg.append(float(means[1]))
                mb.append(float(means[2]))
                thumbs.append(t.tobytes())
            n = len(fmts)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(ws, pa.int32()), pa.array(hs, pa.int32()),
                 pa.array(mr, pa.float64()), pa.array(mg, pa.float64()),
                 pa.array(mb, pa.float64()), pa.array(thumbs, pa.binary()),
                 pa.array([tw] * n, pa.int32()),
                 pa.array([th] * n, pa.int32())],
                names=[f.name for f in IMAGE_FEATURES_SCHEMA])

    return df.select("image_id", "bytes", "fmt").mapInArrow(
        run, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("rms_milli", T.LongType()),
])


def _decode_audio(blob: bytes, fmt: str) -> tuple[np.ndarray, int]:
    """STUB: no audio codec in this container. ``fake-pcm16`` is a
    deterministic fake (little-endian int16 + 4-byte rate header) so the
    plumbing is testable offline; real formats raise."""
    if fmt == "fake-pcm16":
        # bytes() only the 4-byte header — ``blob`` may be a zero-copy
        # numpy view of the Arrow buffer (image_features idiom) and the
        # payload must not be copied per row
        rate = int.from_bytes(bytes(blob[:4]), "little")
        samples = np.frombuffer(blob, dtype="<i2", offset=4)
        return samples, rate
    raise NotImplementedError(
        f"audio codec {fmt!r} requires soundfile/librosa (not in this env); "
        "swap _decode_audio on a real cluster")


def audio_features(df: DataFrame) -> DataFrame:
    """RMS energy over (audio_id, bytes, fmt) — mapInArrow + zero-copy
    payload views (r5 migration, same rationale as image_features)."""
    import pyarrow as pa

    from .extract import _binary_views

    def run(batches):
        for rb in batches:
            names = rb.schema.names
            ids = rb.column(names.index("audio_id"))
            fmts = rb.column(names.index("fmt")).to_pylist()
            views = _binary_views(rb.column(names.index("bytes")))
            ns, rates, rmss = [], [], []
            for blob, fmt in zip(views, fmts):
                samples, rate = _decode_audio(blob, fmt)
                rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2)))
                ns.append(len(samples))
                rates.append(rate)
                rmss.append(int(round(rms * 1000)))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(ns, pa.int64()), pa.array(rates, pa.int32()),
                 pa.array(rmss, pa.int64())],
                names=[f.name for f in AUDIO_FEATURES_SCHEMA])

    return df.select("audio_id", "bytes", "fmt").mapInArrow(
        run, AUDIO_FEATURES_SCHEMA)


VIDEO_FRAMES_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])


def _video_frames(blob: bytes, fmt: str, every_n: int):
    """STUB: no video codec here. ``fake-rawrgb`` packs (w,h,n) int32
    header + n raw RGB frames; real formats raise."""
    if fmt == "fake-rawrgb":
        w = int.from_bytes(blob[0:4], "little")
        h = int.from_bytes(blob[4:8], "little")
        n = int.from_bytes(blob[8:12], "little")
        sz = w * h * 3
        for i in range(0, n, every_n):
            yield i, blob[12 + i * sz: 12 + (i + 1) * sz], w, h
        return
    raise NotImplementedError(
        f"video codec {fmt!r} requires PyAV/ffmpeg (not in this env); "
        "swap _video_frames on a real cluster")


def video_frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over (video_id, bytes, fmt): one output row per
    sampled frame (a flatMap shape — the UDF yields more rows than in).
    mapInArrow + zero-copy views (r5 migration): input payloads are
    never PyBytes-copied; emitted frames are materialized once, into
    the output array (that copy IS the output)."""
    import pyarrow as pa

    from .extract import _binary_views

    def run(batches):
        for rb in batches:
            names = rb.schema.names
            vids = rb.column(names.index("video_id")).to_pylist()
            fmts = rb.column(names.index("fmt")).to_pylist()
            views = _binary_views(rb.column(names.index("bytes")))
            out_v, out_i, out_f, out_w, out_h = [], [], [], [], []
            for vid, blob, fmt in zip(vids, views, fmts):
                for idx, frame, w, h in _video_frames(blob, fmt, every_n):
                    out_v.append(vid)
                    out_i.append(idx)
                    out_f.append(bytes(frame))
                    out_w.append(w)
                    out_h.append(h)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_v, pa.string()), pa.array(out_i, pa.int32()),
                 pa.array(out_f, pa.binary()), pa.array(out_w, pa.int32()),
                 pa.array(out_h, pa.int32())],
                names=[f.name for f in VIDEO_FRAMES_SCHEMA])

    return df.select("video_id", "bytes", "fmt").mapInArrow(
        run, VIDEO_FRAMES_SCHEMA)


# canonical home: session.scoped_arrow_batch (one copy of the
# load-bearing 256-row payload-batch rule); re-exported here because the
# image payload operators are its second user
from ..session import scoped_arrow_batch  # noqa: F401,E402


def _cover_crop(pix: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Nearest-neighbor cover-resize + center-crop to exactly (bh, bw, 3).

    Integer-exact: the binding side is chosen by cross-multiplication
    (``bw*h >= bh*w`` → width binds), the covered size floors to at
    least the target (floor(h*bw/w) >= bh exactly when bw*h >= bh*w),
    and the crop offset is the floor midpoint — no float scale factor,
    so results are bit-identical on any platform."""
    h, w, _ = pix.shape
    if bw * h >= bh * w:
        rw, rh = bw, h * bw // w
    else:
        rw, rh = w * bh // h, bh
    r = _resize_nn(pix, rh, rw)
    top, left = (rh - bh) // 2, (rw - bw) // 2
    return r[top:top + bh, left:left + bw]


def resize_to_bucket(df: DataFrame, out_fmt: str | None = None) -> DataFrame:
    """Decode → cover-resize → center-crop → re-encode every image to its
    row's (bucket_w, bucket_h) target — the materialization step between
    aspect-bucket assignment and shard packing: compose
    ``aspect_bucket_dims`` (the NARROW bucket assignment — the whole
    chain then stays a shuffle-free map over the scan) → this → pack
    shards; batch dealing (``aspect_bucket_batches``) runs on metadata
    separately.

    Input columns: image_id, bytes, fmt, bucket_w, bucket_h. Output:
    (image_id, bytes, w, h, fmt) with w/h == the bucket target and
    ``fmt`` = ``out_fmt`` (default: keep each row's input format).

    Scale shape: a narrow ``mapInArrow`` over the scan — payload bytes
    never shuffle and never convert through pandas PyBytes (the
    Arrow→pandas big-BINARY path anti-scales with python worker count;
    decode reads zero-copy views of the Arrow buffers, same idiom as
    the crawl extract stage)."""
    import pyarrow as pa

    from .extract import _binary_views

    def run(batches):
        for rb in batches:
            names = rb.schema.names
            ids = rb.column(names.index("image_id")).to_pylist()
            fmts = rb.column(names.index("fmt")).to_pylist()
            bws = rb.column(names.index("bucket_w")).to_pylist()
            bhs = rb.column(names.index("bucket_h")).to_pylist()
            views = _binary_views(rb.column(names.index("bytes")))
            out_bytes, out_fmts = [], []
            for blob, fmt, bw, bh in zip(views, fmts, bws, bhs):
                pix = _decode_image(blob, fmt)
                f = out_fmt or fmt
                out_bytes.append(_encode_image(_cover_crop(pix, bw, bh), f))
                out_fmts.append(f)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.string()),
                 pa.array(out_bytes, pa.binary()),
                 pa.array([int(b) for b in bws], pa.int32()),
                 pa.array([int(b) for b in bhs], pa.int32()),
                 pa.array(out_fmts, pa.string())],
                names=["image_id", "bytes", "w", "h", "fmt"])

    return (df.select("image_id", "bytes", "fmt", "bucket_w", "bucket_h")
            .mapInArrow(run, "image_id string, bytes binary, w int, "
                             "h int, fmt string"))


VIDEO_KEYFRAMES_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("phash", T.LongType()),
])


def video_keyframes(df: DataFrame, every_n: int = 1,
                    hamming_max: int = 6) -> DataFrame:
    """Scene-change keyframe selection — the frame-level dedup of a
    video training pipeline: decode every ``every_n``-th frame, phash64
    it, and keep a frame only when its Hamming distance to the LAST
    KEPT frame exceeds ``hamming_max`` (static spans collapse to their
    first frame; the first sampled frame is always kept).

    The keep-decision is sequential per video, which is exactly why it
    lives INSIDE the decode task (one video's frames never span tasks —
    a narrow map over the scan, same shape as video_frame_sample) and
    not in a window function. Codec is the declared stub
    (`_video_frames`); swap PyAV in and nothing else changes.
    mapInArrow + zero-copy payload views (r5 migration)."""
    import pyarrow as pa

    from .extract import _binary_views

    def run(batches):
        from ..fixtures.codecs import phash64

        for rb in batches:
            names = rb.schema.names
            vids = rb.column(names.index("video_id")).to_pylist()
            fmts = rb.column(names.index("fmt")).to_pylist()
            views = _binary_views(rb.column(names.index("bytes")))
            out = {f.name: [] for f in VIDEO_KEYFRAMES_SCHEMA}
            for vid, blob, fmt in zip(vids, views, fmts):
                last = None
                for idx, frame, w, h in _video_frames(blob, fmt, every_n):
                    pix = np.frombuffer(frame, np.uint8).reshape(h, w, 3)
                    ph = phash64(pix)
                    if last is not None \
                            and bin((ph ^ last) & ((1 << 64) - 1)) \
                            .count("1") <= hamming_max:
                        continue
                    last = ph
                    out["video_id"].append(vid)
                    out["frame_idx"].append(idx)
                    out["frame"].append(bytes(frame))
                    out["w"].append(w)
                    out["h"].append(h)
                    out["phash"].append(ph)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out["video_id"], pa.string()),
                 pa.array(out["frame_idx"], pa.int32()),
                 pa.array(out["frame"], pa.binary()),
                 pa.array(out["w"], pa.int32()),
                 pa.array(out["h"], pa.int32()),
                 pa.array(out["phash"], pa.int64())],
                names=[f.name for f in VIDEO_KEYFRAMES_SCHEMA])

    return df.select("video_id", "bytes", "fmt").mapInArrow(
        run, VIDEO_KEYFRAMES_SCHEMA)


def caption_alignment_filter(df: DataFrame, threshold_milli: int = 280,
                             img_col: str = "img_emb",
                             txt_col: str = "txt_emb",
                             out_col: str = "aligned") -> DataFrame:
    """CLIP-score-style image-caption alignment gate (the LAION recipe:
    keep pairs with cosine(image_emb, text_emb) >= ~0.28) over two
    ``array<float>`` embedding columns — pure column expressions, JVM
    whole-stage codegen, no UDF.

    Exactness: embeddings are int-milli quantized
    (similarity.quantize_milli) and the threshold test is
    cross-multiplied so the gate is integer-exact and engine-portable
    rather than float-ULP-dependent:
    cos >= t  ⟺  dot > 0  AND  (dot*1000)² >= t_milli² * |a|²*|b|²
    (for t > 0; squared through DECIMAL(38,0) — (dot*1000)² reaches
    ~10^18 for L2-normalized inputs, a digit from int64 overflow).
    Adds ``align_milli2`` (the exact integer dot in milli² scale) and
    ``out_col`` (the gate). Embedding columns come from upstream
    encoders (not in this env); the operator is the gate itself."""
    from pyspark.sql import functions as F

    from .similarity import _dot, quantize_milli

    q = [quantize_milli(c) for c in (img_col, txt_col)]
    dot = _dot(q[0], q[1])
    n2 = [_dot(qq, qq) for qq in q]
    dec = "decimal(38,0)"
    lhs = (dot * 1000).cast(dec) * (dot * 1000).cast(dec)
    rhs = (F.lit(threshold_milli * threshold_milli).cast(dec)
           * n2[0].cast(dec) * n2[1].cast(dec))
    return (df.withColumn("align_milli2", dot)
            .withColumn(out_col, (dot > 0) & (lhs >= rhs)))


def write_curation_verdict(curated: DataFrame, path: str,
                           n_ranges: int = 32) -> None:
    """Materialize a curation verdict as a parquet table laid out for
    CORPUS-SCALE kept-set filtering (the production alternative to the
    ``kept_ids`` broadcast — VERDICT r4 'what's wrong' #3): hive-
    partitioned by ``kept`` (partition pruning drops the dropped side
    unread) and RANGE-SORTED by image_id within (row-group statistics
    bound any id-interval probe to a few row groups, so a resize task
    reads only the verdict rows overlapping its OWN payload row group —
    per-task memory is bounded by the row-group id span, not the
    corpus).

    Input: ``curate_image_caption`` output (image_id, drop_reason,
    null = kept) or any (image_id, kept boolean) frame. At 100 TB this
    write is one metadata-only pass (image_id + flag — bytes never
    move) appended to the curation job itself."""
    from pyspark.sql import functions as F

    cols = set(curated.columns)
    kept = (F.col("kept") if "kept" in cols
            else F.col("drop_reason").isNull())
    # partition value as an explicit 'true'/'false' STRING: hive
    # directory keys are untyped text and pyarrow's dataset inference
    # reads them back as strings — an explicit string column makes the
    # reader-side filter ('kept','=','true') a declared contract
    # instead of an inference accident
    (curated.select("image_id", kept.cast("string").alias("kept"))
     .repartitionByRange(n_ranges, "image_id")
     .sortWithinPartitions("image_id")
     .write.partitionBy("kept").mode("overwrite").parquet(path))


def resize_images_direct(spark, path: str, buckets=None,
                         out_fmt: str | None = None,
                         kept_ids=None,
                         verdict_dir: str | None = None,
                         out_dir: str | None = None,
                         carry_cols: list[str] | None = None) -> DataFrame:
    """Task-local-scan variant of ``aspect_bucket_dims`` →
    ``resize_to_bucket`` over a parquet payload table: each task reads
    its own row-group split with pyarrow (memory-mapped, zero-copy) and
    decodes → cover-crops → re-encodes in place, so payload bytes never
    cross the JVM↔Python Arrow socket at all — the same design as the
    crawl fetch (`sources/payload_scan.py`): the socket path tops out at
    ~40-90 MB/s aggregate REGARDLESS of core count (measured again on
    this operator: 40k×≤384px images, single-core python compute floor
    2841 img/s, socket plan 284 img/s at local[2] and ANTI-scaling to
    252 img/s at local[8]; see BENCH/BASELINE.md r4-s5).

    ``kept_ids``: optional iterable of image_ids to resize (the
    curation output — broadcast to the workers and probed with
    Arrow-native ``pc.is_in`` per row group: a pandas-Index probe costs
    one PyUnicode object per row, which both adds ~0.14 ms/row and
    contends on the CPython allocator across worker processes). The
    list must fit in a driver/executor broadcast — same contract as the
    crawl fetch's dequeued batch (bounded by G).

    ``verdict_dir``: the CORPUS-SCALE kept-set path (r5 — the
    production shape the r4 docstring only described): a verdict table
    written by ``write_curation_verdict`` (hive-partitioned by ``kept``,
    range-sorted by image_id). Each task reads its payload row group's
    image_id column FIRST (bytes untouched), takes the id min/max, and
    fetches only the verdict rows in that interval from the kept=true
    partition — partition pruning drops the dropped side, row-group
    statistics bound the interval read, and per-task memory is the
    row-group id span, never the corpus. Row groups with no kept ids
    skip the payload read entirely. Equality vs the ``kept_ids`` path
    is pinned in tests/test_multimodal.py. Output:
    (image_id, bytes, w, h, fmt) with w/h = the bucket target.

    ``out_dir``: when set, each task also WRITES its resized payloads as
    a parquet file under out_dir (one per input split, deterministic
    name) and the returned DataFrame carries only the manifest
    (image_id, w, h, fmt, nbytes, shard_path) — payload bytes then
    cross no process boundary in EITHER direction (the return leg of
    the socket measured ~5-10 s for 430 MB of resized rows on this
    host). This is the production shape: tasks read their own input
    files and write their own output shards; the manifest is what flows
    through the engine.

    ``carry_cols``: extra input columns copied through UNCHANGED into
    the written payload shards (out_dir mode only — e.g. ``caption`` so
    the resized table stays a self-contained image+caption pair table
    that ``webdataset.export_webdataset`` can shard directly). The
    returned manifest schema is unchanged.

    At 100 TB this is "tasks read their own files from object storage";
    the split list stands in for the Iceberg manifest. Output equality
    vs the socket plan is pinned in tests/test_multimodal.py."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..sources.payload_scan import payload_splits
    from .extract import _binary_views

    if kept_ids is not None and verdict_dir is not None:
        raise ValueError("pass kept_ids OR verdict_dir, not both")
    if carry_cols and out_dir is None:
        raise ValueError("carry_cols requires out_dir (written shards)")
    carry = list(carry_cols or [])
    clash = set(carry) & {"image_id", "bytes", "w", "h", "fmt"}
    if clash:
        # a carried column would silently OVERWRITE the resized values
        # in the written shards (e.g. carry 'fmt' shipping the original
        # format label over re-encoded bytes) — r5-s9 review finding
        raise ValueError(f"carry_cols may not shadow output columns: "
                         f"{sorted(clash)}")
    base_cols = ["image_id", "bytes", "w", "h", "fmt"] + carry
    if buckets is None:
        buckets = SDXL_BUCKETS
    bnds = np.array(bucket_boundaries_milli(buckets), dtype=np.int64)
    bws = np.array([w for w, _ in buckets], dtype=np.int64)
    bhs = np.array([h for _, h in buckets], dtype=np.int64)
    splits = payload_splits(path)
    key_bc = spark.sparkContext.broadcast(
        None if kept_ids is None else list(kept_ids))
    if out_dir is not None:
        import os
        os.makedirs(out_dir, exist_ok=True)

    def scan_resize(it):
        kept = key_bc.value
        kept_arr = None if kept is None else pa.array(kept, pa.string())
        for rb in it:
            names = rb.schema.names
            paths = rb.column(names.index("path")).to_pylist()
            rgs = rb.column(names.index("rg")).to_pylist()
            for p, rg in zip(paths, rgs):
                pf = pq.ParquetFile(p, memory_map=True)
                if verdict_dir is not None:
                    # ids first — payload bytes stay unread unless some
                    # id in this row group is kept
                    ids_only = pf.read_row_group(int(rg),
                                                 columns=["image_id"])
                    mm = pc.min_max(ids_only.column("image_id"))
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is None:
                        continue
                    vslice = pq.read_table(
                        verdict_dir, columns=["image_id"],
                        filters=[("kept", "=", "true"),
                                 ("image_id", ">=", lo),
                                 ("image_id", "<=", hi)])
                    hit = pc.is_in(ids_only.column("image_id"),
                                   value_set=vslice.column("image_id")
                                   .combine_chunks())
                    if not pc.any(hit).as_py():
                        continue
                    tbl = pf.read_row_group(
                        int(rg), columns=base_cols).filter(hit)
                else:
                    tbl = pf.read_row_group(int(rg), columns=base_cols)
                if kept_arr is not None:
                    hit = pc.is_in(tbl.column("image_id"),
                                   value_set=kept_arr)
                    if not pc.any(hit).as_py():
                        continue
                    tbl = tbl.filter(hit)
                ids = tbl.column("image_id").combine_chunks()
                w = tbl.column("w").to_numpy().astype(np.int64)
                h = tbl.column("h").to_numpy().astype(np.int64)
                b = np.searchsorted(bnds, w * 1000 // h, side="right")
                views = _binary_views(tbl.column("bytes").combine_chunks())
                fmts = tbl.column("fmt").to_pylist()
                out_bytes, out_fmts = [], []
                for blob, fmt, bi in zip(views, fmts, b):
                    pix = _decode_image(blob, fmt)
                    f = out_fmt or fmt
                    out_bytes.append(_encode_image(
                        _cover_crop(pix, int(bws[bi]), int(bhs[bi])), f))
                    out_fmts.append(f)
                if out_dir is None:
                    yield pa.RecordBatch.from_arrays(
                        [ids,
                         pa.array(out_bytes, pa.binary()),
                         pa.array(bws[b], pa.int32()),
                         pa.array(bhs[b], pa.int32()),
                         pa.array(out_fmts, pa.string())],
                        names=["image_id", "bytes", "w", "h", "fmt"])
                else:
                    import os
                    shard = os.path.join(
                        out_dir, "%s-rg%05d.parquet"
                        % (os.path.splitext(os.path.basename(p))[0],
                           int(rg)))
                    cols = {
                        "image_id": ids,
                        "bytes": pa.array(out_bytes, pa.binary()),
                        "w": pa.array(bws[b], pa.int32()),
                        "h": pa.array(bhs[b], pa.int32()),
                        "fmt": pa.array(out_fmts, pa.string()),
                    }
                    for c in carry:
                        cols[c] = tbl.column(c)
                    pq.write_table(pa.table(cols), shard,
                                   row_group_size=2048)
                    yield pa.RecordBatch.from_arrays(
                        [ids,
                         pa.array(bws[b], pa.int32()),
                         pa.array(bhs[b], pa.int32()),
                         pa.array(out_fmts, pa.string()),
                         pa.array([len(x) for x in out_bytes], pa.int64()),
                         pa.array([shard] * len(out_bytes), pa.string())],
                        names=["image_id", "w", "h", "fmt", "nbytes",
                               "shard_path"])

    sdf = spark.createDataFrame(splits, "path string, rg int") \
        .repartition(len(splits))
    if out_dir is None:
        return sdf.mapInArrow(scan_resize,
                              "image_id string, bytes binary, "
                              "w int, h int, fmt string")
    return sdf.mapInArrow(scan_resize,
                          "image_id string, w int, h int, fmt string, "
                          "nbytes long, shard_path string")


def curation_gate(min_side: int = 64, max_aspect_milli: int = 3000,
                  min_caption_tokens: int = 3,
                  max_caption_tokens: int = 77):
    """The LAION-style metadata gate as a reusable Column over
    (w, h, caption): the first failing gate's name, null = pass.
    Stateless per-row integer arithmetic, so the SAME expression serves
    the batch operator and the streaming twin (stream_image_curation).

    A leading ``missing_meta`` branch catches NULL w/h/caption
    explicitly (ADVICE r4): without it every when-condition evaluates
    NULL for such rows, so decode/metadata failures would silently PASS
    all gates and enter phash dedup — where all NULL-phash passers
    collapse to one arbitrary keeper mislabeled ``phash_dup``."""
    from pyspark.sql import functions as F

    n_tokens = F.size(F.filter(F.split(F.col("caption"), " "),
                               lambda x: x != ""))
    return (F.when(F.col("w").isNull() | F.col("h").isNull()
                   | F.col("caption").isNull(), "missing_meta")
            .when(F.least("w", "h") < min_side, "too_small")
            .when(F.greatest("w", "h") * 1000
                  > F.lit(max_aspect_milli) * F.least("w", "h"), "aspect")
            .when((n_tokens < min_caption_tokens)
                  | (n_tokens > max_caption_tokens), "caption_len"))


def curate_image_caption(df: DataFrame, min_side: int = 64,
                         max_aspect_milli: int = 3000,
                         min_caption_tokens: int = 3,
                         max_caption_tokens: int = 77,
                         skew_safe: bool = False) -> DataFrame:
    """LAION-style image+caption curation over the canonical pair table
    (image_id, bytes, w, h, fmt, caption, phash): metadata gates + exact
    perceptual-hash dedup, emitting every input row with a
    ``drop_reason`` (null = kept) so pipeline loss is observable per
    stage. Near-dup clustering composes separately: feed the kept rows
    to dedup.phash_hamming_pairs -> connected_components ->
    resolve_canonical.

    Gates (integer arithmetic only, whole-stage codegen; first failing
    gate names the reason):
      too_small    min(w, h) < min_side
      aspect       max(w,h)*1000 > max_aspect_milli*min(w,h)
      caption_len  whitespace token count outside
                   [min_caption_tokens, max_caption_tokens]
      phash_dup    another gate-passing row with the SAME phash has more
                   pixels (ties: smaller image_id wins)

    The dedup is one hash-shuffle window on phash over gate-passing rows
    only — payload bytes are carried through the shuffle ONLY if the
    caller selected them; curation needs just the metadata columns, so
    select (image_id, w, h, caption, phash) upstream and join bytes back
    by image_id at the end (the crawl engine's never-shuffle-payloads
    rule).

    ``skew_safe=True``: a window partition is ONE task, so a
    mass-duplicated phash (a blank/placeholder image repeated 10^8
    times) stragglers the default plan — the same failure mode as
    duplicate_spans. The swap-in computes the keeper per (phash, pass)
    with ``max_by`` (a full map-side-combinable aggregation: partial
    keepers merge associatively, so no task ever sees a whole group)
    and flags keep = "my id is the keeper id" via a join that AQE
    skew-splits. Output equality is pinned in tests/test_multimodal.py;
    the default stays the window (one shuffle, no join) because dedup
    only needs rank==1, not full ranks."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    gate = curation_gate(min_side, max_aspect_milli,
                         min_caption_tokens, max_caption_tokens)
    d = (df.withColumn("_gate", gate)
         .withColumn("_pass", gate.isNull()))
    if skew_safe:
        # keeper per (phash, pass) via min_by on (null-flag, -pixels,
        # id): the window's (pixels DESC NULLS LAST, id ASC) order as
        # one associative aggregate. Join keys are null-SAFE — a plain
        # equi-join on phash silently drops null-phash rows (upstream
        # decode failures), breaking the every-row-returned contract
        # (code-review r4-s5); (isnull, coalesce) as two columns keeps
        # the join a plain AQE-splittable equi-join with no sentinel
        # collision.
        px = F.col("w").cast("long") * F.col("h")
        d = (d.withColumn("_phq", F.col("phash").isNull())
             .withColumn("_phn", F.coalesce("phash", F.lit(0))))
        keepers = d.groupBy("_phq", "_phn", "_pass").agg(
            F.min_by("image_id",
                     F.struct(px.isNull().cast("int").alias("pnull"),
                              (-F.coalesce(px, F.lit(0))).alias("npx"),
                              F.col("image_id"))).alias("_keeper"))
        ranked = (d.join(keepers, ["_phq", "_phn", "_pass"])
                  .withColumn("_rn",
                              F.when(F.col("image_id") == F.col("_keeper"),
                                     1).otherwise(2))
                  .drop("_keeper", "_phq", "_phn"))
    else:
        # rank only among gate-PASSING rows of a phash (partitioning by
        # the pass flag keeps a failing row from stealing rank 1)
        win = Window.partitionBy("phash", "_pass").orderBy(
            F.desc(F.col("w").cast("long") * F.col("h")),
            F.asc("image_id"))
        ranked = d.withColumn("_rn", F.row_number().over(win))
    reason = F.coalesce(
        F.col("_gate"),
        F.when(F.col("_rn") > 1, F.lit("phash_dup")))
    return (ranked.withColumn("drop_reason", reason)
            .withColumn("keep", F.col("drop_reason").isNull())
            .drop("_gate", "_pass", "_rn"))


# SDXL-shaped default bucket list (w, h), ratio-ascending — the standard
# multiples-of-64 ladder around a 1024x1024 budget. Public knowledge
# (the NovelAI/SDXL aspect-bucketing recipe); pass your own list for a
# different resolution budget.
SDXL_BUCKETS: list[tuple[int, int]] = [
    (512, 2048), (576, 1792), (640, 1536), (704, 1408), (768, 1344),
    (832, 1216), (896, 1152), (960, 1088), (1024, 1024), (1088, 960),
    (1152, 896), (1216, 832), (1344, 768), (1408, 704), (1536, 640),
    (1792, 576), (2048, 512),
]


def bucket_boundaries_milli(buckets: list[tuple[int, int]]) -> list[int]:
    """Milli-aspect decision boundaries between ratio-sorted buckets.

    ``r_i = bw*1000 DIV bh`` (exact integer milli-ratio); the boundary
    between bucket i and i+1 is the rounded-up midpoint
    ``(r_i + r_{i+1} + 1) DIV 2`` — an image lands in bucket
    ``#{boundaries <= its own milli-ratio}``. Quantizing the nearest-
    aspect rule to integer milli keeps assignment bit-identical across
    engines (float log-ratio argmin is the usual formulation but its
    ties are ULP-dependent). Buckets must be strictly ratio-ascending.
    """
    r = [bw * 1000 // bh for bw, bh in buckets]
    if any(b >= a for b, a in zip(r, r[1:])):
        raise ValueError(f"bucket list must be strictly ratio-ascending: {r}")
    return [(a + b + 1) // 2 for a, b in zip(r, r[1:])]


def aspect_bucket_dims(df: DataFrame, buckets=None,
                       w_col: str = "w", h_col: str = "h") -> DataFrame:
    """The NARROW half of aspect bucketing: add bucket_id/bucket_w/
    bucket_h as pure per-row integer expressions of (w, h) — no shuffle,
    so it is safe to run over payload-carrying rows (compose directly
    with resize_to_bucket over the scan). Batch dealing
    (aspect_bucket_batches) needs a rank shuffle and must therefore run
    on METADATA ONLY — never send bytes through it."""
    from pyspark.sql import functions as F

    if buckets is None:
        buckets = SDXL_BUCKETS
    bnds = bucket_boundaries_milli(buckets)
    aspect = F.expr(f"CAST({w_col} AS BIGINT) * 1000 DIV {h_col}")
    bucket = F.lit(0)
    for b in bnds:
        bucket = bucket + (aspect >= F.lit(b)).cast("int")
    bw = F.element_at(F.array(*[F.lit(w) for w, _ in buckets]),
                      bucket + 1)
    bh = F.element_at(F.array(*[F.lit(h) for _, h in buckets]),
                      bucket + 1)
    return (df.withColumn("bucket_id", bucket)
            .withColumn("bucket_w", bw)
            .withColumn("bucket_h", bh))


def aspect_bucket_batches(df: DataFrame, buckets=None, batch_size: int = 32,
                          order_col: str = "image_id",
                          w_col: str = "w", h_col: str = "h",
                          scale_safe: bool = False,
                          chunk: int = 65536) -> DataFrame:
    """Aspect-ratio bucketed batch assignment — the packing step of an
    image-model training pipeline (SDXL-style): map every image to the
    nearest-aspect target resolution bucket, then deal each bucket's
    images into fixed-size batches in a deterministic order, so one
    training batch always shares a resolution.

    Adds columns: ``bucket_id`` (index into ``buckets``), ``bucket_w``/
    ``bucket_h`` (target resolution), ``batch_idx`` (0-based within
    bucket), ``slot`` (0..batch_size-1). Tail batches are short;
    filter ``slot``-complete batches downstream if the trainer can't
    pad. All arithmetic is integer (DIV / %), so a DuckDB window twin
    is bit-identical.

    Plans (output-equality pinned in tests/test_multimodal.py):
    - default: one ``row_number`` window per bucket — correct, but a
      window partition is ONE task, so at 10^10 images a ~17-bucket
      list funnels the corpus through 17 tasks.
    - ``scale_safe=True``: the frontier's sharded two-phase ranking
      (``frontier.assign_global_rank``) over (bucket_id, order_col) —
      rows shuffle on ``bucket_id * 2^40 + order DIV chunk`` (monotone
      in the sort order, so per-shard offsets from one tiny collect
      reconstruct the exact global rank), then per-bucket start offsets
      (a ~len(buckets)-row agg, broadcast back) convert global rank to
      rank-in-bucket. Parallelism = #shards, not #buckets. Requires a
      non-negative NUMERIC ``order_col`` (at ingest scale use the
      image's sequence id; string ids need a numeric key first).

    Both plans SHUFFLE the input rows — run this on metadata only
    (never-shuffle-payloads rule). When composing with
    ``resize_to_bucket``, use :func:`aspect_bucket_dims` (the narrow
    bucket assignment, no shuffle) on the payload-carrying side and
    this function on the metadata side.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = aspect_bucket_dims(df, buckets, w_col=w_col, h_col=h_col)
    if scale_safe:
        from .frontier import assign_global_rank
        pid = (F.col("bucket_id").cast("long") * (1 << 40)
               + F.expr(f"CAST({order_col} AS BIGINT) DIV {chunk}"))
        ranked = assign_global_rank(d, ["bucket_id", order_col], pid,
                                    out_col="_grn")
        offs = ranked.groupBy("bucket_id").agg(F.min("_grn").alias("_b0"))
        d = (ranked.join(F.broadcast(offs), "bucket_id")
             .withColumn("_rk", F.col("_grn") - F.col("_b0"))
             .drop("_grn", "_b0"))
    else:
        win = Window.partitionBy("bucket_id").orderBy(order_col)
        d = d.withColumn("_rk", F.row_number().over(win) - 1)
    return (d.withColumn("batch_idx",
                         F.expr(f"_rk DIV {batch_size}").cast("long"))
            .withColumn("slot", (F.col("_rk") % batch_size).cast("long"))
            .drop("_rk"))
