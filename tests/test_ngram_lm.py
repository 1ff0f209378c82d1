"""N-gram LM quality scoring (functions/ngram_lm.py): train counts vs a
brute-force Counter, scores vs an INDEPENDENT pure-python
Stupid-Backoff reference (fractions-based — no
shared quantization code), hand-computed golden values, OOV / empty /
NULL / short docs, min_count pruning, partition invariance."""

import re
from fractions import Fraction

import pytest

from delver_spark.functions import ngram_lm


def _ref_tokens(t):
    return [w.lower() for w in re.findall("[A-Za-z0-9]+", t)] \
        if t is not None else []


def _ref_counts(texts, order):
    from collections import Counter

    c = {k: Counter() for k in range(1, order + 1)}
    for t in texts:
        ws = _ref_tokens(t)
        for i in range(len(ws)):
            for k in range(1, order + 1):
                if i - k + 1 >= 0:
                    c[k][" ".join(ws[i - k + 1:i + 1])] += 1
    return c


def _ref_score(text, counts, order, total, min_count=1):
    """Independent reference: exact Fraction arithmetic for the
    UNQUANTIZED Stupid-Backoff score, quantized only at the end of each
    token via floor(SCALE * 2^b/5^b * hit/ctx) — floor of an exact
    rational, which must equal the module's pure-integer division."""
    import math

    ws = _ref_tokens(text)
    hits = {3: 0, 2: 0, 1: 0, 0: 0}
    q = 0
    for i in range(len(ws)):
        top = min(i, order - 1) + 1
        level = 0
        for k in range(top, 0, -1):
            g = " ".join(ws[i - k + 1:i + 1])
            n = counts[k].get(g, 0)
            if n < max(min_count, 1):
                continue
            den = (counts[k - 1][" ".join(ws[i - k + 1:i])]
                   if k > 1 else total)
            frac = Fraction(n, den) * Fraction(2, 5) ** (top - k)
            q += math.floor(frac * ngram_lm.SCALE)
            level = k
            break
        hits[level] += 1
    return {"n_tokens": len(ws), "hits3": hits[3], "hits2": hits[2],
            "hits1": hits[1], "oov": hits[0], "score_q": q}


TRAIN = [
    "the cat sat on the mat",
    "the cat sat on the hat",
    "a cat ran",
    None,
    "",
]
SCORE = [
    (1, "the cat sat on the mat"),     # all-hit, trigrams everywhere
    (2, "the cat ran"),                # novel trigram -> backoff mix
    (3, "cat"),                        # 1 token: penalty-free unigram
    (4, "mat cat"),                    # novel bigram at pos 2
    (5, "zebra"),                      # pure OOV
    (6, "the cat zebra sat"),          # OOV mid-doc resets contexts
    (7, ""),                           # zero tokens
    (8, None),                         # NULL text
    (9, "The CAT sat"),                # case folding
]


@pytest.fixture(scope="module")
def frames(spark):
    train = spark.createDataFrame([(t,) for t in TRAIN], "text string")
    docs = spark.createDataFrame(SCORE, "doc_id long, text string")
    return train, docs


def test_train_counts_match_bruteforce(spark, frames):
    train, _ = frames
    got = {(r.k, r.gram): r.n
           for r in ngram_lm.train_ngram_lm(train).collect()}
    ref = _ref_counts(TRAIN, 3)
    want = {(k, g): n for k in ref for g, n in ref[k].items()}
    assert got == want


def _score_rows(spark, frames, **kw):
    train, docs = frames
    counts = ngram_lm.train_ngram_lm(train)
    return {r.doc_id: r.asDict()
            for r in ngram_lm.lm_score(docs, counts, **kw).collect()}


def test_score_matches_reference(spark, frames):
    got = _score_rows(spark, frames)
    ref_c = _ref_counts(TRAIN, 3)
    total = sum(ref_c[1].values())
    for doc_id, text in SCORE:
        want = _ref_score(text, ref_c, 3, total)
        row = got[doc_id]
        assert {k: row[k] for k in want} == want, (doc_id, text)


def test_score_golden_hand_computed(spark, frames):
    """Hand check of every backoff branch on doc 2 = 'the cat ran'.
    Train unigrams: the=4 cat=3 sat=2 on=2 mat=1 hat=1 a=1 ran=1, N=15.
    pos1 'the': unigram, no penalty -> 1000000*4 // 15 = 266666.
    pos2 'cat': bigram 'the cat'=2 / 'the'=4 -> 500000.
    pos3 'ran': trigram 'the cat ran' absent; bigram 'cat ran' absent
      ('a cat ran' has bigram 'cat ran'! count 1) -> hit: b=1:
      (1 * 1000000 * 2) // (3 * 5) = 2000000 // 15 = 133333.
    """
    got = _score_rows(spark, frames)[2]
    assert got["n_tokens"] == 3
    assert (got["hits3"], got["hits2"], got["hits1"], got["oov"]) \
        == (0, 2, 1, 0)
    # pos2 full bigram hit (no penalty); pos3 backed-off bigram hit
    assert got["score_q"] == 266666 + 500000 + 133333


def test_all_hit_doc_is_all_trigrams(spark, frames):
    got = _score_rows(spark, frames)[1]
    assert got["n_tokens"] == 6
    # pos1 unigram, pos2 bigram, pos3..6 trigram — scoring the train
    # set itself always resolves at the max order each position allows
    assert (got["hits3"], got["hits2"], got["hits1"], got["oov"]) \
        == (4, 1, 1, 0)


def test_oov_and_empty_and_null(spark, frames):
    got = _score_rows(spark, frames)
    assert got[5] == {"doc_id": 5, "n_tokens": 1, "hits3": 0, "hits2": 0,
                      "hits1": 0, "oov": 1, "score_q": 0}
    for d in (7, 8):
        assert got[d]["n_tokens"] == 0 and got[d]["score_q"] == 0


def test_case_folding(spark, frames):
    got = _score_rows(spark, frames)
    ref_c = _ref_counts(TRAIN, 3)
    total = sum(ref_c[1].values())
    assert got[9]["score_q"] == \
        _ref_score("the cat sat", ref_c, 3, total)["score_q"]


def test_min_count_prune(spark, frames):
    got = _score_rows(spark, frames, min_count=2)
    ref_c = _ref_counts(TRAIN, 3)
    total = sum(ref_c[1].values())  # N stays the UNPRUNED unigram mass
    for doc_id, text in SCORE:
        want = _ref_score(text, ref_c, 3, total, min_count=2)
        row = got[doc_id]
        assert {k: row[k] for k in want} == want, (doc_id, text)
    # the prune must actually bite: 'mat' has count 1 -> OOV now
    assert got[4]["oov"] >= 1


def test_partition_invariance(spark, frames):
    train, docs = frames
    counts = ngram_lm.train_ngram_lm(train.repartition(7))
    a = ngram_lm.lm_score(docs.repartition(5), counts).collect()
    b = ngram_lm.lm_score(docs.coalesce(1), counts).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_order_2(spark, frames):
    train, docs = frames
    counts = ngram_lm.train_ngram_lm(train, order=2)
    got = {r.doc_id: r.asDict()
           for r in ngram_lm.lm_score(docs, counts, order=2).collect()}
    ref_c = _ref_counts(TRAIN, 2)
    total = sum(ref_c[1].values())
    for doc_id, text in SCORE:
        want = _ref_score(text, ref_c, 2, total)
        row = got[doc_id]
        assert {k: row[k] for k in want if k != "hits3"} == \
            {k: v for k, v in want.items() if k != "hits3"}
        assert row["hits3"] == 0


def test_null_id_row_scored_in_both_plans(spark, frames):
    """r5-s9 review pin: a NULL-id doc with real text gets its true
    score (the reference's), the same as a non-NULL-id doc with the
    same text — it is never zeroed out by a per-id join."""
    train, _ = frames
    counts = ngram_lm.train_ngram_lm(train)
    docs = spark.createDataFrame(
        [(None, "the cat ran"), (1, "the cat ran")],
        "doc_id long, text string")
    got = {r.doc_id: r.asDict()
           for r in ngram_lm.lm_score(docs, counts).collect()}
    ref_c = _ref_counts(TRAIN, 3)
    want = _ref_score("the cat ran", ref_c, 3, sum(ref_c[1].values()))
    for doc_id in (None, 1):
        assert {k: got[doc_id][k] for k in want} == want, doc_id
    assert want["score_q"] > 0


def test_duplicate_ids_scored_per_row(spark, frames):
    """Rows sharing an id are scored independently: each keeps the
    reference score of its own text (nothing is aggregated per id)."""
    train, _ = frames
    counts = ngram_lm.train_ngram_lm(train)
    texts = ["the cat sat on the mat", "zebra the cat"]
    docs = spark.createDataFrame([(7, t) for t in texts],
                                 "doc_id long, text string")
    rows = ngram_lm.lm_score(docs, counts).collect()
    ref_c = _ref_counts(TRAIN, 3)
    total = sum(ref_c[1].values())
    want = sorted(tuple(_ref_score(t, ref_c, 3, total).values())
                  for t in texts)
    assert want[0] != want[1]
    got = sorted(tuple(r[1:]) for r in rows)
    assert [r.doc_id for r in rows] == [7, 7]
    assert got == want


def test_lm_partition_rank_cut(spark, frames):
    """head/middle/tail by GLOBAL RANK of mean token probability:
    matches a locally-sorted reference exactly, partition-invariant,
    zero-token docs in the tail."""
    train, _ = frames
    counts = ngram_lm.train_ngram_lm(train)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "the cat sat", "a cat ran",
             "mat the cat", "zebra quux", "cat", "", "on the mat",
             "the mat", None, "sat on the", "ran"])],
        "doc_id long, text string")
    scored = ngram_lm.lm_score(docs, counts)
    out = {r.doc_id: r.lm_bucket
           for r in ngram_lm.lm_partition(scored).collect()}
    # local reference: sort by (mean desc, id asc), cut at floor ranks
    rows = scored.collect()
    order = sorted(rows, key=lambda r: (-(r.score_q // max(r.n_tokens, 1)),
                                        r.doc_id))
    n = len(order)
    want = {}
    for rank, r in enumerate(order):
        want[r.doc_id] = ("head" if rank * 1000 < 333 * n else
                          "middle" if rank * 1000 < 667 * n else "tail")
    assert out == want
    # partition invariance
    out2 = {r.doc_id: r.lm_bucket for r in
            ngram_lm.lm_partition(scored.repartition(7)).collect()}
    assert out2 == out
    # zero-token/NULL docs sink to the tail
    assert out[6] == "tail" and out[9] == "tail"
    import pytest as _pt
    with _pt.raises(ValueError):
        ngram_lm.lm_partition(scored, milli_bounds=(700, 600))


def test_bad_order_raises(spark, frames):
    train, docs = frames
    with pytest.raises(ValueError):
        ngram_lm.train_ngram_lm(train, order=4)
    with pytest.raises(ValueError):
        ngram_lm.lm_score(docs, ngram_lm.train_ngram_lm(train), order=0)
