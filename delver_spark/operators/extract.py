"""Fetch-decode-extract stage: Arrow-batched ``mapInPandas`` over the
scheduled batch joined to the payload table (SURVEY §2.7 X1-X11, §2.8).

The extractor DAG of the reference (composite extractor waves,
worker/extractor/composite.go:49-131) is resolved at plan time: every
feature is computed from its input columns inside ONE vectorized pass —
no per-row Python UDF, no JSON envelopes. Payload decode implements the
BASELINE.json per-row invariant: decoded-pixel exactness for lossless
``ppm`` (md5 equality == allclose), PSNR >= 40 dB for lossy ``qjpg`` when
golden pixels are joined in, pHash equality always.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.types as T

from ..engine.extract_ref import (
    adversarial,
    detect_language,
    extract_outlinks,
    extract_text,
    extract_title,
    match_companies,
    match_countries,
    sentiment_binary,
)
from ..engine.urlnorm import canonicalize, host_of, path_of, sld_tld
from ..fixtures.codecs import decode, phash64, psnr
from ..oracle.crawler import partition_of

# a page's outlinks, and its gated admission candidates (link_gates)
OUTLINK_TYPE = T.ArrayType(T.StructType([
    T.StructField("link_pos", T.IntegerType()),
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
]))
# a stash candidate carries its registrable domain, the url_store's key.
# The gate kernel computes it with one python sld_tld per outlink:
# ~0.36 us a call on a 4-core box (timeit, 4 host shapes), against
# ~0.4 ms of decode and extract per page (a 20k-page round in-process)
STASH_LINK_TYPE = T.ArrayType(T.StructType(
    OUTLINK_TYPE.elementType.fields
    + [T.StructField("domain", T.StringType())]))

EXTRACT_SCHEMA = T.StructType([
    T.StructField("pos", T.LongType()),
    T.StructField("url_canon", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("host", T.StringType()),
    T.StructField("domain", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("success", T.BooleanType()),
    T.StructField("http_code", T.IntegerType()),
    T.StructField("content_md5", T.StringType()),
    T.StructField("payload_ok", T.BooleanType()),
    T.StructField("phash_ok", T.BooleanType()),
    T.StructField("psnr", T.DoubleType()),
    T.StructField("title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("text_len", T.IntegerType()),
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("sentiment", T.IntegerType()),
    T.StructField("countries", T.ArrayType(T.StringType())),
    T.StructField("companies", T.ArrayType(T.StringType())),
    T.StructField("enumeration", T.BooleanType()),
    T.StructField("subdomain_explosion", T.BooleanType()),
    T.StructField("outlinks", OUTLINK_TYPE),
    # the crawl's admission candidates (link_gates); NULL without gates
    T.StructField("same_links", OUTLINK_TYPE),
    T.StructField("stash_links", STASH_LINK_TYPE),
    # DLQ (T8, queue/file.go:167-204): non-null = the decode/extract
    # exception for this row; the row is quarantined instead of failing
    # the whole stage, and the engine routes it to the quarantine artifact
    T.StructField("quarantined", T.StringType()),
])


def make_extractor_arrow(n_partitions: int = 8, emit_text: bool = True,
                         gates=None):
    """mapInArrow variant: converts each RecordBatch to pandas with the
    binary payload column REPLACED by zero-copy numpy views into the Arrow
    data buffer. Measured on this host: the stock Arrow→pandas conversion
    of large binary columns anti-scales with worker count (per-element
    PyBytes allocation → allocator/page-fault contention); the zero-copy
    path restores linear scaling of the decode stage. ``gates``: the
    crawl's :func:`link_gates` kernel (None: the link columns NULL)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(EXTRACT_SCHEMA)

    def extract_batches(it):
        for rb in it:
            names = rb.schema.names
            cols = {}
            blob_views = None
            golden_views = None
            for name in names:
                arr = rb.column(names.index(name))
                if name in ("bytes", "golden_pixels"):
                    views = _binary_views(arr)
                    if name == "bytes":
                        blob_views = views
                    else:
                        golden_views = views
                else:
                    cols[name] = arr.to_pandas()
            pdf = pd.DataFrame(cols)
            pdf["bytes"] = pd.Series(blob_views, dtype=object) \
                if blob_views is not None else None
            if "golden_pixels" in names:
                pdf["golden_pixels"] = pd.Series(golden_views, dtype=object)
            for out in _extract(iter([pdf]), n_partitions, gates):
                if not emit_text:
                    # features computed; the raw text payload itself is only
                    # needed when documents are collected
                    out["text"] = None
                yield pa.RecordBatch.from_pandas(out, schema=arrow_schema,
                                                 preserve_index=False)

    return extract_batches


def col_simple_type(df, col: str) -> str:
    """``simpleString`` of one column's Catalyst type — the shared
    lookup for mapInArrow operators that carry an id column through to
    their output schema (bpe.token_counts, dedup._grams_arrow,
    textstats.ngram_decontaminate, similarity._assign_cells). One
    helper so the idiom can't drift per call site (r5 review)."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return types[col]


def _binary_views(arr):
    """Zero-copy per-row numpy views of an Arrow binary array (or None)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count == n:
        return [None] * n
    nulls = pc.is_null(arr).to_numpy(zero_copy_only=False)
    bufs = arr.buffers()
    offsets_buf, data_buf = bufs[1], bufs[2]
    offsets = np.frombuffer(offsets_buf, dtype=np.int32,
                            count=n + 1 + arr.offset)[arr.offset:]
    data = np.frombuffer(data_buf, dtype=np.uint8)
    return [None if nulls[i] else data[offsets[i]:offsets[i + 1]]
            for i in range(n)]


def link_gates(news: bool, max_depth: int):
    """The crawl's admission gates as one per-page kernel, which
    :func:`_extract` runs on every successful, unquarantined page in
    both round plans: ``gate(outlinks, host, domain, depth) ->
    (same_links, stash_links)``. ``same_links``: the links the seen-set
    admission considers — dfs, those whose registrable domain
    (``urlnorm.sld_tld``) is the page's, under the depth gate; news,
    urlAllowed's exact-host, extension, article and ':'+'=' gates
    (``functions.news.path_allowed_py`` over ``urlnorm.path_of``, as the
    oracle) under maxDepth=1, robots left to the caller. ``stash_links``
    (dfs): the cross-domain links, each with its ``domain``. NULL
    outlinks, a page past the depth gate (``same_links``) and news
    (``stash_links``) give NULL; a link with a NULL host fails both."""
    if news:
        from ..functions.news import NEWS_MAX_DEPTH, path_allowed_py

        def gate(links, host, domain, depth):
            if links is None or depth >= NEWS_MAX_DEPTH:
                return None, None
            return [link for link in links if link["host"] == host
                    and path_allowed_py(path_of(link["url"]))], None
        return gate

    def gate(links, host, domain, depth):
        if links is None:
            return None, None
        linked = [(link, sld_tld(link["host"])) for link in links
                  if link["host"] is not None]
        return ([link for link, d in linked if d == domain]
                if depth < max_depth else None,
                [{**link, "domain": d} for link, d in linked if d != domain])
    return gate


def _extract(it: Iterator[pd.DataFrame], n_partitions: int,
             gates=None) -> Iterator[pd.DataFrame]:
    """Input batch columns: pos, url_canon, depth, host, bytes, fmt,
    caption, phash, pix_md5 [, golden_pixels].  Rows with null ``caption``
    are fetch misses (reference fetcher emits the error row,
    worker/fetcher/http.go:37-100). ``gates``: :func:`link_gates`'s
    kernel, run on each successful, unquarantined page."""
    for pdf in it:
        n = len(pdf)
        out = {k: [None] * n for k in (
            "content_md5", "payload_ok", "phash_ok", "psnr", "title", "text",
            "text_len", "lang", "lang_conf", "sentiment", "countries",
            "companies", "enumeration", "subdomain_explosion", "outlinks",
            "same_links", "stash_links", "quarantined")}
        success = pdf["caption"].notna().to_numpy()
        has_golden = "golden_pixels" in pdf.columns
        hosts = pdf["host"].tolist()
        domains = [sld_tld(h) for h in hosts]
        depths = pdf["depth"].tolist()
        for i in range(n):
            if not success[i]:
                continue
            try:
                _extract_one(pdf, i, out, has_golden)
            except Exception as ex:  # poison payload → quarantine the ROW
                # (reference: a message whose handler errors goes to the
                # DLQ dir, queue/file.go:167-204 — it never reaches the
                # accumulator, so no features, no outlinks, no markVisited)
                for k in out:
                    out[k][i] = None
                out["quarantined"][i] = f"{type(ex).__name__}: {ex}"
                continue
            if gates is not None:
                out["same_links"][i], out["stash_links"][i] = gates(
                    out["outlinks"][i], hosts[i], domains[i], depths[i])

        yield pd.DataFrame({
            "pos": pdf["pos"].astype("int64"),
            "url_canon": pdf["url_canon"],
            "depth": pdf["depth"].astype("int32"),
            "host": pdf["host"],
            "domain": domains,
            "partition_id": np.int32([partition_of(h, n_partitions) for h in hosts]),
            "success": success,
            "http_code": np.where(success, 200, 404).astype("int32"),
            **{k: pd.Series(v, dtype=object) for k, v in out.items()},
        })


def _extract_one(pdf: pd.DataFrame, i: int, out: dict, has_golden: bool):
    """Decode + extract one successful row into ``out`` (split out so a
    poison payload can be quarantined per-row)."""
    url = pdf["url_canon"].iat[i]
    caption = pdf["caption"].iat[i]
    blob = pdf["bytes"].iat[i]
    fmt = pdf["fmt"].iat[i]
    # --- payload invariant (BASELINE.json input_hint) -------------
    out["content_md5"][i] = hashlib.md5(blob).hexdigest()
    pix = decode(blob, fmt)  # np-view aware, zero-copy body
    ph_ok = phash64(pix) == pdf["phash"].iat[i]
    out["phash_ok"][i] = bool(ph_ok)
    if fmt == "ppm":
        ok = hashlib.md5(pix.tobytes()).hexdigest() == pdf["pix_md5"].iat[i]
        out["payload_ok"][i] = bool(ok)  # lossless: exact == allclose
    elif has_golden and pdf["golden_pixels"].iat[i] is not None:
        orig = np.frombuffer(pdf["golden_pixels"].iat[i], np.uint8) \
            .reshape(pix.shape)
        p = psnr(orig, pix)
        out["psnr"][i] = float(p)
        out["payload_ok"][i] = bool(p >= 40.0 and ph_ok)
    else:
        out["payload_ok"][i] = bool(ph_ok)
    # --- feature extraction (X1-X10) --------------------------------
    cap_bytes = caption.encode("utf-8")
    title = extract_title(cap_bytes)
    text_b = extract_text(cap_bytes)
    text = text_b.decode("utf-8", "replace") if text_b else None
    out["title"][i] = title
    out["text"][i] = text
    out["text_len"][i] = len(text_b) if text_b else None
    if text:
        lang, conf = detect_language(text)
        out["lang"][i] = lang
        out["lang_conf"][i] = float(conf)
        if lang == "en" and title:
            out["sentiment"][i] = sentiment_binary(title)
        out["countries"][i] = match_countries(text)
        out["companies"][i] = match_companies(text)
    links = extract_outlinks(url, cap_bytes)
    enum, boom = adversarial(url, links)
    out["enumeration"][i] = bool(enum)
    out["subdomain_explosion"][i] = bool(boom)
    ol = []
    for lp, raw in enumerate(links):
        lc = canonicalize(raw)
        if lc is None:
            continue
        lh = host_of(lc)
        ol.append({"link_pos": lp, "url": lc, "host": lh})
    out["outlinks"][i] = ol
