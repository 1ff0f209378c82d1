"""End-to-end training-set assembly: the capstone composition of the
corpus-hygiene, dedup, decontamination, and sampling operators into ONE
declarative plan with per-document drop observability.

Stage order (the standard web-corpus pipeline: filter cheap before
shuffling expensive):

  1. repetition   Gopher repetition filters (textstats.repetition_stats)
                  — pure projection, no shuffle
  2. exact_dup    exact dedup: one keeper per md5(text) fingerprint by
                  (quality desc, id) — one hash-shuffle window over
                  stage-1 survivors only
  3. contaminated word-n-gram benchmark decontamination
                  (textstats.ngram_decontaminate) — one narrow pass
                  with the bench gram set in the UDF closure, hits
                  broadcast-joined back, corpus never shuffled
  4. quota        per-language top-N balancing — one window over
                  survivors (salt the dominant language upstream with
                  textstats.language_quota for skewed corpora)
  5. sample       deterministic md5 hash-rate down-sampling — stateless
                  filter, partition-invariant

Every input row comes back with ``drop_stage`` (null = kept in the
final set), so corpus loss is auditable per stage with one
``groupBy("drop_stage").count()`` (see ``assembly_report``). Stages
apply in order: a doc dropped at stage k is invisible to stages > k
(the window-partition pass-flag trick keeps that exact while remaining
a single plan — no intermediate materializations, two window shuffles +
one broadcast join total at any corpus size).

PII is deliberately counted, not dropped (redaction, not removal, is
the training-pipeline norm): compose textstats.pii_scrub /
scrubbed_text on the kept set to rewrite the text. Substring-level
dedup likewise composes as a PRE-step (it rewrites text instead of
dropping docs): dedup.duplicate_spans -> dedup.cut_spans before
assembly, so the repetition/dedup stages here see the cut text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import textstats as _txt

DROP_STAGES = ("repetition", "exact_dup", "contaminated", "quota", "sample",
               "invalid")


def assemble_training_set(docs: DataFrame, bench: DataFrame | None = None,
                          *, per_lang: int | None = None,
                          rate_milli: int | None = None,
                          ngram_n: int = 5,
                          id_col: str = "doc_id", text_col: str = "text",
                          lang_col: str = "lang",
                          quality_col: str = "n_chars",
                          skew_safe: bool = False) -> DataFrame:
    """Run the 5-stage assembly; returns every input row + ``drop_stage``
    (null = kept). ``bench``/``per_lang``/``rate_milli`` are optional —
    omitted stages pass everything through.

    ``skew_safe=True`` swaps the stage-2 exact-dup keeper window for a
    map-side-combinable ``min_by`` aggregate + join (same pattern and
    rationale as ``multimodal.curate_image_caption(skew_safe=)``: a
    text duplicated 10^8 times is exactly what the exact-dup stage
    exists to catch, and a window partition is one task). For skewed
    dominant languages in stage 4, pre-cut upstream with
    textstats.language_quota's salted path. Output equality pinned in
    tests/test_quality_ops.py."""
    d = _txt.repetition_stats(docs, id_col=id_col, text_col=text_col,
                              append=True)
    d = d.withColumn("_s1", F.col("keep"))

    # stage 2: exact-dup keeper among stage-1 survivors; partitioning by
    # (_s1, fingerprint) keeps dropped rows out of the ranking
    if skew_safe:
        # null-safe join key: md5(NULL) is NULL and a plain equi-join
        # would DROP null-text rows the window plan keeps (code-review
        # r4-s5); "" is not a producible md5 hex digest, so coalescing
        # to it adds no collision. Keeper order mirrors the window's
        # (quality DESC NULLS LAST, id ASC) via an explicit null flag.
        # _s1 is NULL (not False) for null-text rows — null propagates
        # through the repetition flags — and the window plan keeps that
        # group distinct from the False group, so the join key needs
        # the same (isnull, coalesce) split as _fp
        q = F.col(quality_col).cast("long")
        d = (d.withColumn("_fp", F.coalesce(F.md5(F.col(text_col)),
                                            F.lit("")))
             .withColumn("_s1q", F.col("_s1").isNull())
             .withColumn("_s1n", F.coalesce(F.col("_s1"), F.lit(False))))
        k2 = d.groupBy("_s1q", "_s1n", "_fp").agg(
            F.min_by(F.col(id_col),
                     F.struct(q.isNull().cast("int").alias("qnull"),
                              (-F.coalesce(q, F.lit(0))).alias("nq"),
                              F.col(id_col))).alias("_k2"))
        d = (d.join(k2, ["_s1q", "_s1n", "_fp"])
             .withColumn("_s2", F.col("_s1")
                         & (F.col(id_col) == F.col("_k2")))
             .drop("_fp", "_k2", "_s1q", "_s1n"))
    else:
        w2 = Window.partitionBy("_s1", F.md5(F.col(text_col))).orderBy(
            F.desc(quality_col), F.asc(id_col))
        d = d.withColumn("_s2", F.col("_s1")
                         & (F.row_number().over(w2) == 1))

    # stage 3: contaminated ids arrive as a broadcast-joined flag
    if bench is not None:
        hits = (_txt.ngram_decontaminate(docs, bench, n=ngram_n,
                                         id_col=id_col, text_col=text_col)
                .filter("contaminated").select(id_col, "contaminated"))
        d = (d.join(F.broadcast(hits), id_col, "left")
             .withColumn("_s3", F.col("_s2")
                         & F.col("contaminated").isNull())
             .drop("contaminated"))
    else:
        d = d.withColumn("_s3", F.col("_s2"))

    if per_lang is not None:
        w4 = Window.partitionBy("_s3", lang_col).orderBy(
            F.desc(quality_col), F.asc(id_col))
        d = d.withColumn("_s4", F.col("_s3")
                         & (F.row_number().over(w4) <= per_lang))
    else:
        d = d.withColumn("_s4", F.col("_s3"))

    if rate_milli is not None:
        bucket = _txt._md5_bucket(id_col)
        d = d.withColumn("_s5", F.col("_s4")
                         & (bucket * 1000 < F.lit(rate_milli) * (1 << 32)))
    else:
        d = d.withColumn("_s5", F.col("_s4"))

    # NULL text propagates NULL through every _sk flag, so all the ~_sk
    # branches are skipped — without the final branch such rows would be
    # silently reported as KEPT (ADVICE r4). NULL-ness collapses to _s5:
    # each later flag is _s(k-1) & <never-null predicate>, so _s5 is NULL
    # iff _s1 was. The expression is shared by the skew_safe and window
    # plans, keeping them identical.
    stage = (F.when(~F.col("_s1"), "repetition")
             .when(~F.col("_s2"), "exact_dup")
             .when(~F.col("_s3"), "contaminated")
             .when(~F.col("_s4"), "quota")
             .when(~F.col("_s5"), "sample")
             .when(F.col("_s5").isNull(), "invalid"))
    keep_cols = [c for c in d.columns if not c.startswith("_")]
    return d.select(*keep_cols, stage.alias("drop_stage"))


def pack_sequences(df: DataFrame, tokens_col: str, order_col: str,
                   context_len: int, scale_safe: bool = False,
                   chunk: int = 65536) -> DataFrame:
    """Token-level sequence packing — the step after real BPE
    tokenization (functions/bpe.py) that pack_shards solves byte-wise:
    concatenate documents in ``order_col`` order into one token stream
    and cut fixed ``context_len`` training samples. A document's tokens
    occupy stream positions [p, p + n) where p = exclusive prefix sum
    of ``tokens_col``; the emitted columns are

      seq_first      = p DIV context_len        (sample holding token 0)
      seq_last       = (p + max(n,1) - 1) DIV context_len
      offset_in_seq  = p MOD context_len        (position of token 0)

    so a downstream writer knows exactly which samples a document spans
    and where it starts — zero-token documents get the degenerate
    seq_first == seq_last at their stream position. Fixed-range
    cutting, same rationale as pack_shards: boundary-independent, so
    it is ONE prefix sum (distributable) instead of a sequential scan,
    and append-stable — adding documents after the last order key
    never changes existing rows. All arithmetic int64.

    Plans (output-equality pinned in tests/test_bpe.py): default =
    one global window (single task — fine below ~10^7 docs);
    ``scale_safe=True`` = frontier.assign_global_prefix_sum sharded on
    ``order DIV chunk`` (monotone pid, exact, parallel). Requires a
    non-negative NUMERIC unique ``order_col``."""
    if scale_safe:
        from .frontier import assign_global_prefix_sum
        pid = F.expr(f"CAST({order_col} AS BIGINT) DIV {chunk}")
        d = assign_global_prefix_sum(df, [order_col], pid, tokens_col,
                                     out_col="_c")
    else:
        w = (Window.orderBy(order_col)
             .rowsBetween(Window.unboundedPreceding, -1))
        d = df.withColumn("_c", F.coalesce(
            F.sum(F.col(tokens_col).cast("long")).over(w), F.lit(0)))
    return (d.withColumn("seq_first",
                         F.expr(f"_c DIV {context_len}").cast("long"))
            .withColumn("seq_last",
                        F.expr(f"(_c + greatest(CAST({tokens_col} AS BIGINT)"
                               f", 1) - 1) DIV {context_len}").cast("long"))
            .withColumn("offset_in_seq",
                        (F.col("_c") % context_len).cast("long"))
            .drop("_c"))


def shuffle_order(df: DataFrame, id_col: str = "doc_id", seed: int = 0,
                  out_col: str = "shuffle_rank") -> DataFrame:
    """Deterministic global shuffle order — the step BEFORE sequence
    packing that real training pipelines need: pack_sequences
    concatenates documents in ``order_col`` order, and feeding it
    ingestion order (doc_id) puts every document next to its crawl
    neighbors, correlating adjacent training samples. This assigns each
    row its dense 0-based position in the seeded pseudorandom
    permutation ``sort by (md5(seed || ':' || id), id)`` — a
    reproducible shuffle that is partition-invariant (the hash is a
    pure function of the row, the rank comes from
    frontier.assign_global_rank: hash-shuffle on the first hash byte —
    a monotone pid — + one tiny offsets collect; no single-partition
    window, no rand(seed), which Spark seeds PER PARTITION). Different
    ``seed`` values give independent permutations (epoch reshuffling).

    ``id_col`` must be unique and non-null: NULL ids all hash to
    md5(seed) and tie-break on a NULL key, making their relative order
    ill-defined. Output ranks are exactly 0..n-1, so ``out_col`` feeds
    ``pack_sequences(order_col=...)`` (non-negative numeric unique)
    directly; for upsampled mixes shuffle AFTER mixture_upsample with
    a composite id (e.g. id*8+epoch) so copies scatter too."""
    from .frontier import assign_global_rank

    h = F.md5(F.concat(F.lit(f"{int(seed)}:"),
                       F.col(id_col).cast("string")))
    d = df.withColumn("_sh", h)
    pid = F.conv(F.substring("_sh", 1, 2), 16, 10)
    return assign_global_rank(d, ["_sh", id_col], pid,
                              out_col=out_col).drop("_sh")


def assembly_report(assembled: DataFrame) -> DataFrame:
    """Per-stage loss accounting over assemble_training_set output:
    (drop_stage, n) with null = the final kept count."""
    return (assembled.groupBy("drop_stage")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("drop_stage").asc_nulls_first()))


def pack_shards(df: DataFrame, size_col: str, order_col: str,
                target_bytes: int, scale_safe: bool = False,
                chunk: int = 65536) -> DataFrame:
    """Deterministic training-shard packing (the WebDataset step after
    assembly/curation): cut the concatenated byte stream (rows in
    ``order_col`` order) at exact multiples of ``target_bytes``; a row
    belongs to the shard its FIRST byte falls in —
    ``shard_id = exclusive_prefix_sum(size) DIV target_bytes``.

    Fixed-range sharding, NOT greedy close-at-cap: greedy resets its
    counter at every shard close, so each boundary depends on the
    previous one — an inherently sequential scan. The fixed-range rule
    is boundary-independent, which is what makes it a prefix sum
    (distributable) and one SQL window for an engine twin. The cost is
    a weaker size guarantee: every shard's byte total lies within
    ±max_row_bytes of target (with rows larger than the target, shard
    ids can even be skipped). For training shards where a sample is
    ≪ the shard target, the difference is noise. All arithmetic int64.

    Adds: ``shard_id``, ``sample_idx`` (0-based position in shard),
    ``offset_in_shard`` (byte offset of the row in its shard's stream).

    Plans (output-equality pinned in tests/test_quality_ops.py):
    - default: one global unpartitioned window — correct, single-task;
      fine below ~10^7 rows.
    - ``scale_safe=True``: frontier.assign_global_prefix_sum sharded on
      ``order DIV chunk`` (monotone pid → exact global cumsum from one
      tiny per-shard-totals collect). Parallelism = #shards. Requires a
      non-negative NUMERIC unique ``order_col``.
    The per-shard ``sample_idx``/``offset_in_shard`` window afterwards
    shuffles on shard_id — high-cardinality, and a shard holds at most
    target_bytes/min_row_size rows, so no partition can exceed that
    bound regardless of corpus size."""
    if scale_safe:
        from .frontier import assign_global_prefix_sum
        pid = F.expr(f"CAST({order_col} AS BIGINT) DIV {chunk}")
        d = assign_global_prefix_sum(df, [order_col], pid, size_col,
                                     out_col="_c")
    else:
        w = (Window.orderBy(order_col)
             .rowsBetween(Window.unboundedPreceding, -1))
        d = df.withColumn("_c", F.coalesce(
            F.sum(F.col(size_col).cast("long")).over(w), F.lit(0)))
    d = d.withColumn("shard_id",
                     F.expr(f"_c DIV {target_bytes}").cast("long"))
    ws = Window.partitionBy("shard_id").orderBy(order_col)
    return (d.withColumn("sample_idx",
                         (F.row_number().over(ws) - 1).cast("long"))
            .withColumn("offset_in_shard",
                        F.col("_c") - F.min("_c").over(ws))
            .drop("_c"))
