"""WebDataset tar-shard export/ingest: the last-mile sink of the image
training pipeline — the step AFTER ``assemble.pack_shards`` decides the
shard ids, this writes the actual ``shard-%06d.tar`` artifacts that
image-caption trainers consume (WebDataset convention: members grouped
by basename key, ``{key}.{fmt}`` for the payload + ``{key}.txt`` for
the caption), plus the matching task-local ingest.

Reference scope: the reference engine has no training-shard sink (its
sinks are search/parquet appends, worker/publisher/*); this implements
the public WebDataset layout (webdataset/webdataset README; tar layout
is POSIX ustar) as part of the brief's training-data-pipeline axis.

Scale design (the same no-shuffle rules as ``sources/payload_scan.py``
and ``multimodal.resize_images_direct``):

- Shard assignment is the ``pack_shards`` fixed-range rule — ``shard =
  exclusive_prefix_sum(member_bytes) DIV target_bytes`` over STORAGE
  order — so a shard is a CONTIGUOUS range of the input stream and the
  whole export distributes without shuffling a single payload byte:

  * phase A (sizes): each task reads only what sizing needs from its
    own row-group split (lengths via Arrow ``binary_length``; pass
    ``size_col=`` to skip even that payload read when the table
    already carries byte sizes, e.g. the resize manifest's nbytes)
    and returns ONE row per split — the driver computes the per-split
    exclusive carries (O(#splits), the Iceberg-manifest analog).
  * phase B (write): each task re-reads its split zero-copy
    (``_binary_views``), turns rows into deterministic ustar member
    blocks, and appends them to per-(shard, split) FRAGMENT files —
    payload bytes go parquet → local tar fragment without crossing
    any process boundary.
  * phase C (finalize): one task per shard concatenates its fragments
    in split order and appends the end-of-archive blocks. Tar member
    blocks are self-delimiting, so fragment concatenation IS the
    archive — sequential local IO, no shuffle. A shard interior to
    one split has exactly one fragment (rename-cheap); boundary
    shards have one fragment per split they touch.

- Determinism: member headers are ``TarInfo.tobuf(USTAR_FORMAT)`` with
  the TarInfo defaults (mtime=0, uid=gid=0, mode=0o644, empty
  uname/gname), member order is storage order (payload member, then
  caption member), and shard boundaries depend only on global byte
  offsets — so the output tars are byte-identical regardless of
  row-group layout, task count, or core count (pinned in
  tests/test_webdataset.py, including vs an independent stdlib
  ``tarfile``-written reference).

Total IO at corpus scale: payload bytes are read twice (size pass +
write pass; once with ``size_col=``) and written twice (fragment +
finalize concat; once for interior shards if the rename fast path is
taken) — all sequential and task-local. The alternative — repartition
by shard_id and write per group — moves every payload byte through a
Spark shuffle (disk + network + Arrow socket), the measured ~40-90 MB/s
aggregate ceiling on this host.
"""

from __future__ import annotations

import os
import tarfile

import numpy as np

RECORDSIZE = 10240  # tarfile blocking factor 20 — matches stdlib writer

_MANIFEST_SCHEMA = ("shard_id long, path string, n_items long, "
                    "payload_bytes long, tar_bytes long")


def _pad512(n: int) -> int:
    return (int(n) + 511) // 512 * 512


def member_bytes_of(data_len, caption_len=None):
    """Exact tar byte contribution of one row (vectorized): 512-byte
    ustar header + data padded to 512 per member; a NULL caption
    (``caption_len < 0`` in the vectorized form) contributes nothing.
    This arithmetic is the SQL-twin contract — the DuckDB twin of the
    driver gate recomputes it with integer division."""
    d = np.asarray(data_len, dtype=np.int64)
    total = 512 + (d + 511) // 512 * 512
    if caption_len is not None:
        c = np.asarray(caption_len, dtype=np.int64)
        total = total + np.where(c >= 0, 512 + (c + 511) // 512 * 512, 0)
    return total


def _member_header(name: str, size: int) -> bytes:
    if len(name.encode("utf-8")) > 100:
        raise ValueError(
            f"webdataset member name exceeds the 100-byte ustar limit: "
            f"{name!r}")
    ti = tarfile.TarInfo(name)
    ti.size = int(size)
    return ti.tobuf(tarfile.USTAR_FORMAT, "utf-8", "surrogateescape")


def _end_blocks(content_bytes: int) -> bytes:
    """End-of-archive: two zero blocks, then pad the archive to a
    RECORDSIZE multiple — byte-identical to stdlib tarfile's close()."""
    total = content_bytes + 1024
    pad = -total % RECORDSIZE
    return b"\0" * (1024 + pad)


def _lengths(col):
    """Per-row byte lengths of an Arrow binary/string column; NULL → -1
    (the vectorized sentinel ``member_bytes_of`` understands)."""
    import pyarrow.compute as pc

    ln = pc.binary_length(col).cast("int64")
    return pc.fill_null(ln, -1).to_numpy(zero_copy_only=False)


def export_webdataset(spark, path: str, out_dir: str, target_bytes: int,
                      *, key_col: str = "image_id",
                      data_col: str = "bytes", fmt_col: str | None = "fmt",
                      ext: str | None = None,
                      caption_col: str | None = "caption",
                      size_col: str | None = None):
    """Export a parquet pair table as WebDataset tar shards; returns the
    manifest DataFrame (shard_id, path, n_items, payload_bytes,
    tar_bytes) with ``path`` relative to ``out_dir`` (deterministic
    ``shard-%06d.tar`` names). Runs EAGERLY (the write is the effect;
    the manifest is tiny and collected once — lazy re-execution after
    fragment cleanup would be wrong).

    Rows whose ``data_col`` is NULL are skipped (no payload, no member);
    a NULL caption just omits the ``.txt`` member. Member extension
    comes from ``fmt_col`` per row or the ``ext`` literal (exactly one).
    ``size_col``: optional precomputed payload byte sizes — lets the
    size pass skip reading payload bytes entirely.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..sources.payload_scan import payload_splits
    from .extract import _binary_views

    if (fmt_col is None) == (ext is None):
        raise ValueError("pass exactly one of fmt_col / ext")
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    splits = payload_splits(path)
    os.makedirs(out_dir, exist_ok=True)
    frag_dir = os.path.join(out_dir, ".frag")
    os.makedirs(frag_dir, exist_ok=True)
    sdf = (spark.createDataFrame(
        [(i, p, rg) for i, (p, rg) in enumerate(splits)],
        "split_idx int, path string, rg int")
        .repartition(max(1, len(splits))))

    size_read = [size_col or data_col] + (
        [caption_col] if caption_col else [])

    def scan_sizes(it):
        for rb in it:
            names = rb.schema.names
            sidx = rb.column(names.index("split_idx")).to_pylist()
            paths = rb.column(names.index("path")).to_pylist()
            rgs = rb.column(names.index("rg")).to_pylist()
            out_i, out_t, out_n, out_p = [], [], [], []
            for si, p, rg in zip(sidx, paths, rgs):
                tbl = pq.ParquetFile(p, memory_map=True).read_row_group(
                    int(rg), columns=size_read)
                if size_col is not None:
                    dl = tbl.column(size_col).cast("int64") \
                        .fill_null(-1).to_numpy(zero_copy_only=False)
                else:
                    dl = _lengths(tbl.column(data_col))
                cl = (_lengths(tbl.column(caption_col))
                      if caption_col else None)
                kept = dl >= 0
                mb = member_bytes_of(dl, cl)
                out_i.append(si)
                out_t.append(int(mb[kept].sum()))
                out_n.append(int(kept.sum()))
                out_p.append(int(dl[kept].sum()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_i, pa.int32()), pa.array(out_t, pa.int64()),
                 pa.array(out_n, pa.int64()), pa.array(out_p, pa.int64())],
                names=["split_idx", "tar_bytes", "n_rows", "payload_bytes"])

    totals = sorted(sdf.mapInArrow(
        scan_sizes, "split_idx int, tar_bytes long, n_rows long, "
        "payload_bytes long").collect())
    carries = {}
    split_tar_bytes = {}
    acc = 0
    for r in totals:
        carries[r.split_idx] = acc
        split_tar_bytes[r.split_idx] = r.tar_bytes
        acc += r.tar_bytes

    read_cols = [key_col, data_col] + ([fmt_col] if fmt_col else []) + (
        [caption_col] if caption_col else [])

    def scan_write(it):
        for rb in it:
            names = rb.schema.names
            sidx = rb.column(names.index("split_idx")).to_pylist()
            paths = rb.column(names.index("path")).to_pylist()
            rgs = rb.column(names.index("rg")).to_pylist()
            frows = {"shard_id": [], "split_idx": [], "n_items": [],
                     "payload_bytes": [], "frag_bytes": [], "frag": []}
            for si, p, rg in zip(sidx, paths, rgs):
                tbl = pq.ParquetFile(p, memory_map=True).read_row_group(
                    int(rg), columns=read_cols)
                dl = _lengths(tbl.column(data_col))
                cl = (_lengths(tbl.column(caption_col))
                      if caption_col else None)
                kept = dl >= 0
                mb = member_bytes_of(dl, cl)
                mb[~kept] = 0
                # fail LOUDLY if a size_col lied in phase A: stale or
                # inconsistent precomputed sizes would otherwise shift
                # every later shard boundary while the members are
                # written at the real lengths — silent corruption of
                # the whole export (r5-s9 review finding)
                if int(mb.sum()) != split_tar_bytes[si]:
                    raise ValueError(
                        f"split {si} ({p} rg {rg}): size pass said "
                        f"{split_tar_bytes[si]} tar bytes but payload "
                        f"lengths sum to {int(mb.sum())} — size_col "
                        f"disagrees with the actual data")
                starts = carries[si] + np.concatenate(
                    ([0], np.cumsum(mb)[:-1]))
                keys = tbl.column(key_col).to_pylist()
                data = _binary_views(tbl.column(data_col))
                caps = (_binary_views(tbl.column(caption_col))
                        if caption_col else None)
                fmts = (tbl.column(fmt_col).to_pylist() if fmt_col
                        else None)
                shard = (starts // target_bytes).astype(np.int64)
                # reset per SPLIT: a task may hold non-consecutive
                # splits, and appending a later split's rows into an
                # earlier split's fragment would corrupt the global
                # member order for shards spanning both
                f = cur = None
                stats = None
                for i in range(len(keys)):
                    if not kept[i]:
                        continue
                    s = int(shard[i])
                    if s != cur:
                        if f is not None:
                            f.close()
                        cur = s
                        frag = os.path.join(
                            frag_dir, "shard-%06d.split-%06d.part"
                            % (s, si))
                        f = open(frag, "wb")
                        stats = [0, 0]
                        frows["shard_id"].append(s)
                        frows["split_idx"].append(si)
                        frows["frag"].append(frag)
                        frows["n_items"].append(stats)  # patched below
                        frows["payload_bytes"].append(stats)
                    e = fmts[i] if fmts is not None else ext
                    if e is None:
                        raise ValueError(
                            f"row {keys[i]!r}: NULL {fmt_col} with "
                            f"non-NULL payload — member extension "
                            f"required")
                    f.write(_member_header(f"{keys[i]}.{e}", dl[i]))
                    f.write(memoryview(data[i]))
                    f.write(b"\0" * (_pad512(dl[i]) - dl[i]))
                    if caps is not None and cl[i] >= 0:
                        f.write(_member_header(f"{keys[i]}.txt", cl[i]))
                        f.write(memoryview(caps[i]))
                        f.write(b"\0" * (_pad512(cl[i]) - cl[i]))
                    stats[0] += 1
                    stats[1] += int(dl[i])
                if f is not None:
                    f.close()
            frows["n_items"] = [s[0] for s in frows["n_items"]]
            frows["payload_bytes"] = [s[1] for s in frows["payload_bytes"]]
            frows["frag_bytes"] = [os.path.getsize(p)
                                   for p in frows["frag"]]
            yield pa.RecordBatch.from_arrays(
                [pa.array(frows["shard_id"], pa.int64()),
                 pa.array(frows["split_idx"], pa.int32()),
                 pa.array(frows["n_items"], pa.int64()),
                 pa.array(frows["payload_bytes"], pa.int64()),
                 pa.array(frows["frag_bytes"], pa.int64()),
                 pa.array(frows["frag"], pa.string())],
                names=["shard_id", "split_idx", "n_items",
                       "payload_bytes", "frag_bytes", "frag"])

    frags = sdf.mapInArrow(
        scan_write, "shard_id long, split_idx int, n_items long, "
        "payload_bytes long, frag_bytes long, frag string").collect()

    by_shard: dict[int, list] = {}
    for r in frags:
        by_shard.setdefault(r.shard_id, []).append(r)
    shard_rows = []
    for s, rows in sorted(by_shard.items()):
        rows.sort(key=lambda r: r.split_idx)
        shard_rows.append((s, [r.frag for r in rows],
                           int(sum(r.n_items for r in rows)),
                           int(sum(r.payload_bytes for r in rows)),
                           int(sum(r.frag_bytes for r in rows))))

    def finalize(pdfs):
        import pandas as pd

        for pdf in pdfs:
            out = {"shard_id": [], "path": [], "n_items": [],
                   "payload_bytes": [], "tar_bytes": []}
            for s, fr, ni, pb, cb in zip(
                    pdf["shard_id"], pdf["frags"], pdf["n_items"],
                    pdf["payload_bytes"], pdf["content_bytes"]):
                rel = "shard-%06d.tar" % int(s)
                final = os.path.join(out_dir, rel)
                if len(fr) == 1:
                    # interior shard (one fragment): rename + append the
                    # end blocks — the common case when splits ≫ shards,
                    # halving the finalize write amplification
                    os.replace(fr[0], final)
                    with open(final, "ab") as dst:
                        dst.write(_end_blocks(int(cb)))
                else:
                    with open(final, "wb") as dst:
                        for frag in fr:
                            with open(frag, "rb") as src:
                                while True:
                                    chunk = src.read(1 << 22)
                                    if not chunk:
                                        break
                                    dst.write(chunk)
                        dst.write(_end_blocks(int(cb)))
                    for frag in fr:
                        os.unlink(frag)
                out["shard_id"].append(int(s))
                out["path"].append(rel)
                out["n_items"].append(int(ni))
                out["payload_bytes"].append(int(pb))
                out["tar_bytes"].append(os.path.getsize(final))
            yield pd.DataFrame(out)

    if shard_rows:
        manifest = (spark.createDataFrame(
            shard_rows, "shard_id long, frags array<string>, n_items long,"
            " payload_bytes long, content_bytes long")
            .repartition(max(1, len(shard_rows)))
            .mapInPandas(finalize, _MANIFEST_SCHEMA).collect())
    else:
        manifest = []
    try:
        os.rmdir(frag_dir)
    except OSError:
        pass  # leftover fragments only on task retry; harmless
    return spark.createDataFrame(manifest, _MANIFEST_SCHEMA) \
        .orderBy("shard_id")


def _tar_samples(path: str, caption: bool):
    """``(key, data, fmt, caption-or-None)`` per sample of one tar shard:
    same-key members are adjacent (payload first, optional ``.txt``
    caption second), and a matching ``.txt`` is always consumed."""
    with tarfile.open(path, "r") as tf:
        pend = None
        for m in tf:
            base, e = os.path.splitext(m.name)
            blob = tf.extractfile(m).read()
            if e == ".txt" and pend is not None and pend[0] == base:
                if caption:
                    pend[3] = blob.decode("utf-8")
                continue
            if pend is not None:
                yield pend
            pend = [base, blob, e.lstrip("."), None]
        if pend is not None:
            yield pend


def _tar_row_batches(path: str, batch_bytes: int, caption: bool):
    """One tar shard's rows as column dicts ``{key, bytes, fmt, cap}``,
    each holding at most ``batch_bytes`` of payload plus caption (utf-8)
    bytes — or one row, when that row alone is larger."""
    cols = ("key", "bytes", "fmt", "cap")
    rows, nbytes = {c: [] for c in cols}, 0
    for sample in _tar_samples(path, caption):
        n = len(sample[1]) + (len(sample[3].encode())
                              if sample[3] is not None else 0)
        if rows["key"] and nbytes + n > batch_bytes:
            yield rows
            rows, nbytes = {c: [] for c in cols}, 0
        for c, v in zip(cols, sample):
            rows[c].append(v)
        nbytes += n
    if rows["key"]:
        yield rows


def read_webdataset(spark, wds_dir: str, *, key_col: str = "image_id",
                    caption: bool = True,
                    batch_bytes: int = 8 << 20):
    """Task-local WebDataset ingest: one task per tar shard, streaming
    ``tarfile`` read, members re-grouped by basename key (same-key
    members are adjacent by the export's construction — payload member
    first, optional ``.txt`` caption second). Returns (key, bytes, fmt
    [, caption]) rows in shard/member order within each task.

    A ``.txt`` member whose base matches the pending payload key is
    ALWAYS consumed as that row's caption — with ``caption=False`` it
    is dropped, never emitted as a spurious payload row (r5-s9 review
    finding). Output batches are bounded by ``batch_bytes`` of payload
    and caption bytes (:func:`_tar_row_batches`), NOT one-batch-per-tar:
    a 1 GB production shard as a single Arrow
    batch is the humongous-allocation regime this repo measured
    collapsing the python→JVM leg (CLAUDE.md r1/s5)."""
    import pandas as pd

    tars = sorted(f for f in os.listdir(wds_dir) if f.endswith(".tar"))
    schema = (f"{key_col} string, bytes binary, fmt string"
              + (", caption string" if caption else ""))

    def scan(pdfs):
        for pdf in pdfs:
            for p in pdf["path"]:
                for rows in _tar_row_batches(p, batch_bytes, caption):
                    out = {key_col: rows["key"], "bytes": rows["bytes"],
                           "fmt": rows["fmt"]}
                    if caption:
                        out["caption"] = rows["cap"]
                    yield pd.DataFrame(out)

    return (spark.createDataFrame([(os.path.join(wds_dir, t),)
                                   for t in tars], "path string")
            .repartition(max(1, len(tars)))
            .mapInPandas(scan, schema))
