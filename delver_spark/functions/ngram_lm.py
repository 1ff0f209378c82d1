"""N-gram language-model quality scoring for training corpora — the
CCNet shape (Wenzek et al. 2020: score web documents against an n-gram
LM; keep the head of the score distribution), with Stupid Backoff
smoothing (Brants et al. 2007 — the published WEB-SCALE choice: scores
are raw count ratios with a constant 0.4 back-off multiplier, no
normalization pass, so training is nothing but n-gram counting).

No reference analog (the reference has no language model; nearest is
n-gram tokenize, extractors/ngram.go:50-91) — this is a
training-pipeline first-class op per the builder's brief, completing
the text-quality stack (heuristic ratios in operators/textstats.py →
model-based scoring here).

Design for 100 TB:

- **Training** is ONE corpus pass: a mapInArrow partial-count pass
  (per-batch Counter over all orders — the map-side combine) followed
  by one groupBy(k, gram).sum shuffle whose output is bounded by the
  DISTINCT gram count, not corpus size. At 100 TB, train on a
  deterministic hash-sample (textstats.deterministic_sample — CCNet
  itself trains on a Wikipedia-sized slice, not the corpus) and prune
  with ``min_count``; pruning preserves the denominator invariant
  (a surviving k-gram's (k-1)-gram context count >= its own count, so
  the context always survives too).
- **Scoring** ships the pruned count table to tasks in the UDF closure
  and runs ONE narrow zero-shuffle pass over the corpus. This is
  exactly how CCNet deploys KenLM: model file resident per worker,
  stream the corpus through it; ``min_count`` (and training on a
  sample) is the lever that keeps the model within worker memory.

Exactness (the cross-engine gate contract): all outputs are integers.
Each token's Stupid-Backoff score S = 0.4^b * c_hit/c_ctx (b = back-off
steps taken below the highest order the position allows) is quantized
to micro-units with PURE INTEGER arithmetic::

    q = (c_hit * 1_000_000 * 2**b) // (c_ctx * 5**b)      # 0.4 == 2/5

so Python, Spark (``div``), and DuckDB (``//``) agree bit-for-bit —
the same int-milli rule every float-adjacent gate in this repo uses.
``score_q`` (the per-doc sum of q) is a monotone quality signal:
``score_q / (n_tokens * 1e6)`` is the document's mean quantized token
probability; CCNet's head/middle/tail split is a percentile cut over
any monotone transform of it. Int64 bound: q products are
``c * 4_000_000`` — safe below ~2.3e12 occurrences of a single gram
(document-scale corpora; far beyond that, swap the literals to
DECIMAL).

Tokenization: ``[A-Za-z0-9]+`` runs, each token ASCII-lowercased
AFTER extraction. Lowercasing only ever sees ASCII (the class
guarantees it), so Python ``str.lower`` and the DuckDB twin's
``lower`` agree by construction — full-string ``lower()`` would hit
Unicode edge cases (U+0130 expands to i + combining dot and SPLITS a
token run differently per engine).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_PATTERN = "[A-Za-z0-9]+"
_TOKEN_RE = re.compile(TOKEN_PATTERN)

#: quantization scale for token scores (micro-probability units)
SCALE = 1_000_000
#: Stupid Backoff multiplier 0.4 as the exact rational (2, 5)
BACKOFF_NUM, BACKOFF_DEN = 2, 5

_COUNT_SCHEMA = "k int, gram string, n long"
_SCORE_COLS = ["n_tokens", "hits3", "hits2", "hits1", "oov", "score_q"]


def _py_tokens(text: str | None) -> list[str]:
    if text is None:
        return []
    return [t.lower() for t in _TOKEN_RE.findall(text)]


def train_ngram_lm(df: DataFrame, order: int = 3,
                   text_col: str = "text") -> DataFrame:
    """Count all 1..``order``-grams of the token stream; returns
    ``(k, gram, n)`` (gram = space-joined lowercased tokens). NULL
    texts contribute nothing. ``order`` is capped at 3 (the CCNet/
    Stupid-Backoff regime this module quantizes exactly).

    Per-batch Counter → one groupBy sum — ONE corpus pass for all
    orders."""
    import pyarrow as pa

    if not 1 <= order <= 3:
        raise ValueError("order must be 1..3")

    def count(batches):
        from collections import Counter
        for rb in batches:
            cnt: Counter = Counter()
            for t in rb.column(0).to_pylist():
                ws = _py_tokens(t)
                for i, w in enumerate(ws):
                    cnt[(1, w)] += 1
                    if order >= 2 and i >= 1:
                        cnt[(2, ws[i - 1] + " " + w)] += 1
                    if order >= 3 and i >= 2:
                        cnt[(3, ws[i - 2] + " " + ws[i - 1]
                             + " " + w)] += 1
            ks = [k for (k, _) in cnt]
            gs = [g for (_, g) in cnt]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ks, pa.int32()), pa.array(gs, pa.string()),
                 pa.array([cnt[kg] for kg in cnt], pa.int64())],
                names=["k", "gram", "n"])

    partial = df.select(text_col).mapInArrow(count, _COUNT_SCHEMA)
    return partial.groupBy("k", "gram") \
        .agg(F.sum("n").cast("long").alias("n"))


def _score_doc(ws: list[str], order: int, c, total: int):
    """Pure-integer Stupid-Backoff scoring of one tokenized doc against
    count dicts ``c[k]``; returns (hits-by-level desc ..., oov, q-sum).
    The back-off penalty b counts steps below the HIGHEST order this
    position allows (min(i, order-1) context tokens) — position 1 of a
    doc is a penalty-free unigram, not a backed-off trigram."""
    hits = [0] * (order + 1)  # hits[k]; hits[0] = oov
    q = 0
    for i, w in enumerate(ws):
        top = min(i, order - 1) + 1
        for k in range(top, 0, -1):
            gram = " ".join(ws[i - k + 1:i + 1])
            n = c[k].get(gram)
            if n is None:
                continue
            den = c[k - 1][" ".join(ws[i - k + 1:i])] if k > 1 else total
            b = top - k
            q += (n * SCALE * BACKOFF_NUM ** b) \
                // (den * BACKOFF_DEN ** b)
            hits[k] += 1
            break
        else:
            hits[0] += 1
    return hits, q


def lm_score(docs: DataFrame, counts: DataFrame, order: int = 3,
             min_count: int = 1, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Score every doc against the count table: returns ``(id, n_tokens,
    hits3, hits2, hits1, oov, score_q)`` — all int64, ordered by id.
    ``hitsK`` counts tokens resolved at order K; ``oov`` counts tokens
    absent even as unigrams; ``score_q`` sums the quantized token
    scores (see module docstring). NULL/empty texts yield all-zero rows.
    Every input row is scored on its own, so NULL and repeated ids are
    passed through as they are.

    ``min_count`` prunes grams with n < min_count before scoring (the
    CCNet model-size lever); the total-token normalizer N is the
    UNPRUNED unigram mass, so pruning only moves tokens to lower
    orders, never inflates survivors' scores.

    The pruned counts are collected once and ride the UDF closure — one
    zero-shuffle corpus pass; bound: the pruned model must fit per
    worker (CCNet's own deployment shape)."""
    import pyarrow as pa

    from delver_spark.operators.extract import col_simple_type

    if not 1 <= order <= 3:
        raise ValueError("order must be 1..3")
    # ONE collect job: gather counts, derive the unpruned normalizer
    # N and the pruned dicts in-process (three serial Spark jobs
    # here were 2-3 s of the score stage's wall clock at any corpus
    # size — scale-invariant serial cost, bench_lm.py). The filter
    # keeps ALL unigrams (N must be the unpruned unigram mass) but
    # drops pruned higher-order grams BEFORE the collect — on a
    # Zipf corpus the singleton bi/trigrams are the majority of
    # distinct grams, and shipping them out of the cluster just to
    # discard them would defeat min_count as the model-size lever.
    c: dict[int, dict[str, int]] = {k: {} for k in range(1, order + 1)}
    total = 0
    rows = counts.filter((F.col("k") == 1)
                         | (F.col("n") >= min_count)).collect()
    for r in rows:
        if r.k == 1:
            total += r.n
        if r.k <= order and r.n >= min_count:
            c[r.k][r.gram] = r.n
    if total <= 0:
        raise ValueError("empty model: no unigram mass in counts")
    id_type = col_simple_type(docs, id_col)
    schema = f"{id_col} {id_type}, " + ", ".join(
        f"{s} long" for s in _SCORE_COLS)

    def run(batches):
        for rb in batches:
            texts = rb.column(1).to_pylist()
            rows = [[] for _ in range(6)]
            for t in texts:
                ws = _py_tokens(t)
                hits, q = _score_doc(ws, order, c, total)
                vals = [len(ws), hits[3] if order >= 3 else 0,
                        hits[2] if order >= 2 else 0, hits[1],
                        hits[0], q]
                for j, v in enumerate(vals):
                    rows[j].append(v)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0)] + [pa.array(r, pa.int64())
                                  for r in rows],
                names=[id_col] + _SCORE_COLS)

    return (docs.select(id_col, text_col).mapInArrow(run, schema)
            .orderBy(id_col))


def lm_partition(scored: DataFrame, milli_bounds=(333, 667),
                 id_col: str = "doc_id",
                 out_col: str = "lm_bucket") -> DataFrame:
    """CCNet's head/middle/tail split as a RANK cut, not a value cut:
    label the top ``milli_bounds[0]``/1000 of docs by mean quantized
    token probability (``score_q div n_tokens``, ties on id) ``head``,
    the next slice ``middle``, the rest ``tail``. Zero-token docs have
    mean 0 and sink to the tail deterministically.

    Rank-based because it's EXACT at any scale: Spark's exact
    ``percentile`` materializes every value in one aggregation buffer
    and ``approx_percentile``'s cut value changes with partitioning —
    whereas the global rank (frontier.assign_global_rank, the crawl
    dequeue machinery: hash-shuffle on a monotone pid + one tiny
    offsets collect) is partition-invariant and distributes. The pid
    bins the [0, 10⁶] mean-probability range uniformly; a
    pathologically score-concentrated corpus degrades parallelism,
    never correctness (the aspect-bucket scale_safe contract)."""
    from delver_spark.operators.frontier import assign_global_rank

    lo, hi = milli_bounds
    if not 0 <= lo <= hi <= 1000:
        raise ValueError("milli_bounds must satisfy 0 <= lo <= hi <= 1000")
    d = scored.withColumn(
        "_negq", -F.expr("score_q div greatest(n_tokens, 1)"))
    stats: dict = {}
    spark = scored.sparkSession
    parts = max(spark.sparkContext.defaultParallelism, 4)
    chunk = max(SCALE // parts, 1)
    ranked = assign_global_rank(
        d, ["_negq", id_col], F.floor(F.col("_negq") / chunk),
        out_col="_r", out_stats=stats)
    n = stats["total"]
    bucket = (F.when(F.col("_r") * 1000 < F.lit(lo * n), "head")
              .when(F.col("_r") * 1000 < F.lit(hi * n), "middle")
              .otherwise("tail"))
    return ranked.withColumn(out_col, bucket).drop("_negq", "_r")

