"""Pins for the round-4 training-data quality operators: Gopher-style
repetition filters, PII scrubbing, and n-gram benchmark decontamination
(operators/textstats.py). Hand-computed expected values on crafted docs;
the cross-engine (DuckDB-twin) equality is pinned separately by
test_entry_contract.py on the sf0.01 tables + planted docs."""

import hashlib
from decimal import Decimal

import pytest

from delver_spark.operators import textstats as T


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta\nalpha beta\ngamma delta\nalpha beta"),
         (2, "spam spam spam spam ham"),
         (3, "one two three four five six seven"),
         (4, ""),
         (5, "contact alice.smith@example.test or call 555-123-4567 now"),
         (6, "dual 123.456.7890@x.test plus 321-654-0987")],
        "doc_id long, text string")


def test_repetition_stats_exact(docs):
    rows = {r["doc_id"]: r for r in T.repetition_stats(docs).collect()}
    # doc 1: 4 lines, "alpha beta" x3 -> 2 dup lines (>30% -> flag);
    # 8 words, top word "alpha" x3 (3*5 > 8 -> flag); 4 dup words (<=70%).
    r = rows[1]
    assert (r["n_lines"], r["n_dup_lines"]) == (4, 2)
    assert (r["n_words"], r["n_dup_words"], r["top_word_count"]) == (8, 4, 3)
    assert r["flag_dup_lines"] and r["flag_top_word"]
    assert not r["flag_dup_words"] and not r["keep"]
    # doc 2: top word 4/5 -> flag_top_word; dup words 3/5 (<=70% -> no flag)
    r = rows[2]
    assert r["top_word_count"] == 4 and r["flag_top_word"]
    assert not r["flag_dup_words"]
    # doc 3: 7 distinct words, one line -> clean keep
    assert rows[3]["keep"] and rows[3]["top_word_count"] == 1
    # doc 4: empty text -> all zero counts, keep (vacuously clean)
    r = rows[4]
    assert (r["n_lines"], r["n_words"], r["top_word_count"]) == (0, 0, 0)
    assert r["keep"]


def test_repetition_dup_words_flag(spark):
    # boundary pins: top word at exactly 20% does NOT flag (strict >);
    # 75% duplicate words with top word at exactly 20% fires ONLY the
    # dup-words flag.
    d = spark.createDataFrame(
        [(1, "a a b b c c d d e e"),  # top=2: 2*5 = 10 words, not >
         (2, "a a a a b b b b c c c c d d d d e e e e")],
        # 20 words, 5 distinct -> 15 dup (75% > 70%); top=4: 4*5=20, not >
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in T.repetition_stats(d).collect()}
    assert rows[1]["n_dup_words"] == 5 and not rows[1]["flag_top_word"]
    r = rows[2]
    assert (r["n_dup_words"], r["top_word_count"]) == (15, 4)
    assert r["flag_dup_words"] and not r["flag_top_word"] and not r["keep"]


def test_pii_scrub_counts_and_redaction(docs):
    rows = {r["doc_id"]: r for r in T.pii_scrub(docs).collect()}
    assert rows[3]["has_pii"] is False
    assert (rows[5]["n_emails"], rows[5]["n_phones"]) == (1, 1)
    expected5 = "contact <EMAIL> or call <PHONE> now"
    assert rows[5]["scrubbed_md5"] == hashlib.md5(
        expected5.encode()).hexdigest()
    assert rows[5]["n_chars_scrubbed"] == len(expected5)
    # phone-shaped local part is consumed by the email redaction and
    # counted exactly once (as an email); the standalone phone separately
    r = rows[6]
    assert (r["n_emails"], r["n_phones"]) == (1, 1)
    assert r["scrubbed_md5"] == hashlib.md5(
        b"dual <EMAIL> plus <PHONE>").hexdigest()


def test_pii_scrub_multiple_hits(spark):
    d = spark.createDataFrame(
        [(1, "a@b.test c@d.test 111-222-3333 444.555.6666")],
        "doc_id long, text string")
    r = T.pii_scrub(d).collect()[0]
    assert (r["n_emails"], r["n_phones"]) == (2, 2)
    assert r["scrubbed_md5"] == hashlib.md5(
        b"<EMAIL> <EMAIL> <PHONE> <PHONE>").hexdigest()


def test_decontaminate_hits_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six"),   # grams at 1,2 hit bench
         (2, "ONE Two THREE four FIVE"),       # lowercased -> exact bench doc
         (3, "totally different words here now"),
         (4, "one two three four"),            # < 5 words: no grams
         (5, "one two three four five one two three four five")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(99, "one two three four five")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            T.ngram_decontaminate(docs, bench, n=5).collect()}
    assert rows[1]["n_hits"] == 1 and rows[1]["contaminated"]
    assert rows[2]["n_hits"] == 1 and rows[2]["contaminated"]
    assert rows[3]["n_hits"] == 0 and not rows[3]["contaminated"]
    assert rows[4]["n_hits"] == 0 and not rows[4]["contaminated"]
    # duplicated grams in one doc each count (6 windows of 10 words
    # contain the bench gram at offsets 1 and 6)
    assert rows[5]["n_hits"] == 2


def test_plan_shapes(spark, docs):
    # repetition/pii are single-scan projections: the ONLY exchange in
    # the plan is the caller-facing orderBy (range partitioning) — no
    # hash shuffle at any corpus size
    for op in (T.repetition_stats, T.pii_scrub):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, plan
    # decontamination: ONE narrow mapInArrow pass — no join, no hash
    # shuffle; the only exchange is the orderBy
    bench = docs.limit(1)
    plan = T.ngram_decontaminate(docs, bench)._jdf \
        .queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_decontaminate_bench_dedup(spark):
    # the benchmark side is distinct-ed: the same gram in two bench docs
    # must not double-count corpus hits
    docs = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(98, "one two three four five"), (99, "one two three four five")],
        "doc_id long, text string")
    r = T.ngram_decontaminate(docs, bench, n=5).collect()[0]
    assert r["n_hits"] == 1


def test_assemble_training_set_stages(spark):
    from delver_spark.operators.assemble import (
        assemble_training_set,
        assembly_report,
    )

    rows = [
        # (doc_id, text, lang, n_chars)
        (1, "a a a a a", "en", 10),                   # repetition flag
        (2, "good solid text one", "en", 100),        # dup keeper (quality)
        (3, "good solid text one", "en", 50),         # exact_dup drop
        (4, "completely different words here", "en", 80),
        (5, "one two three four five six", "en", 70), # contaminated
        (6, "primero texto unico aqui", "es", 90),
        (7, "segundo texto distinto aca", "es", 60),
        (8, "tercero texto sobrante mas", "es", 30),  # quota (per_lang=2)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    bench = spark.createDataFrame(
        [(99, "one two three four five")], "doc_id long, text string")
    out = assemble_training_set(docs, bench, per_lang=2)
    got = {r["doc_id"]: r["drop_stage"] for r in out.collect()}
    assert got == {1: "repetition", 2: None, 3: "exact_dup", 4: None,
                   5: "contaminated", 6: None, 7: None, 8: "quota"}
    rep = {r["drop_stage"]: r["n"] for r in
           assembly_report(out).collect()}
    assert rep == {None: 4, "repetition": 1, "exact_dup": 1,
                   "contaminated": 1, "quota": 1}
    # deterministic: a second run over a different partitioning agrees
    got2 = {r["doc_id"]: r["drop_stage"]
            for r in assemble_training_set(
                docs.repartition(7), bench, per_lang=2).collect()}
    assert got2 == got
    # single composed plan: no sort-merge join anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan


def test_assemble_sample_stage(spark):
    import hashlib

    from delver_spark.operators.assemble import assemble_training_set

    docs = spark.createDataFrame(
        [(i, f"unique text number {i} here", "en", 50 + i)
         for i in range(100)],
        "doc_id long, text string, lang string, n_chars long")
    out = assemble_training_set(docs, rate_milli=500)
    got = {r["doc_id"]: r["drop_stage"] for r in out.collect()}
    expected_kept = {
        i for i in range(100)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) * 1000
        < 500 * (1 << 32)}
    assert {i for i, s in got.items() if s is None} == expected_kept
    assert all(s in (None, "sample") for s in got.values())


def test_scrubbed_text_column(spark):
    d = spark.createDataFrame(
        [(1, "mail x@y.test or dial 555-123-4567")],
        "doc_id long, text string")
    r = d.withColumn("clean", T.scrubbed_text()).collect()[0]
    assert r["clean"] == "mail <EMAIL> or dial <PHONE>"


def test_duplicate_spans_exact(spark):
    from delver_spark.operators.dedup import duplicate_spans

    P = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    docs = spark.createDataFrame(
        [(1, "intro words here " + P + " closing remarks now"),
         (2, "different opening stanza " + P + " and another tail"),
         (3, "clean document with no repeated passages at all whatsoever"),
         (4, "loop alpha beta gamma delta epsilon zeta eta theta"
             " loop alpha beta gamma delta epsilon zeta eta theta"),
         (5, "short text")],  # < window words: no grams
        "doc_id long, text string")
    got = sorted((r["doc_id"], r["span_start"], r["span_end"])
                 for r in duplicate_spans(docs, window=8).collect())
    # docs 1/2 share the 10-word passage at word offsets 4-13; doc 4 is
    # an intra-doc repeat of a 9-word phrase (seeds at 1,2 and 10,11 ->
    # two maximal spans; the unique boundary-crossing windows split them)
    assert got == [(1, 4, 13), (2, 4, 13), (4, 1, 9), (4, 10, 18)]
    # the skew-safe plan (groupBy+join, no gram shuffle by fingerprint)
    # must be output-identical to the default window plan
    safe = sorted((r["doc_id"], r["span_start"], r["span_end"])
                  for r in duplicate_spans(docs, window=8,
                                           skew_safe=True).collect())
    assert safe == got


def test_cut_spans_rewrite(spark):
    from delver_spark.operators.dedup import cut_spans, duplicate_spans

    P = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    docs = spark.createDataFrame(
        [(1, "intro words here " + P + " closing remarks now"),
         (2, "different opening stanza " + P + " and another tail"),
         (3, "clean document with no repeated passages at all whatsoever"),
         (4, "loop alpha beta gamma delta epsilon zeta eta theta"
             " loop alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    spans = duplicate_spans(docs, window=8)
    got = {r["doc_id"]: r["text"]
           for r in cut_spans(docs, spans).collect()}
    # the shared passage is cut from BOTH docs (cut-all semantics);
    # non-span words survive, spacing normalized
    assert got[1] == "intro words here closing remarks now"
    assert got[2] == "different opening stanza and another tail"
    assert got[3] == "clean document with no repeated passages at all whatsoever"
    assert got[4] == ""  # both copies of the intra-doc repeat removed


def test_pack_shards_semantics(spark):
    from delver_spark.operators.assemble import pack_shards

    # target 100, fixed-range rule: shard = exclusive cumsum DIV 100.
    # sizes 60,60,150,30,30,50,10 -> starts 0,60,120,270,300,330,380:
    # {1,2} shard 0; {3} shard 1 (overshoots into [200,300));
    # {4} shard 2 (start 270); {5,6,7} shard 3
    rows = [(1, 60), (2, 60), (3, 150), (4, 30), (5, 30), (6, 50), (7, 10)]
    df = spark.createDataFrame(rows, "doc_id long, nbytes long")
    out = {r["doc_id"]: r for r in pack_shards(
        df, "nbytes", "doc_id", 100).collect()}
    want = {1: (0, 0, 0), 2: (0, 1, 60), 3: (1, 0, 0), 4: (2, 0, 0),
            5: (3, 0, 0), 6: (3, 1, 30), 7: (3, 2, 80)}
    got = {k: (v["shard_id"], v["sample_idx"], v["offset_in_shard"])
           for k, v in out.items()}
    assert got == want


def test_shuffle_order_semantics(spark):
    """Seeded deterministic global shuffle: ranks equal the local
    reference permutation sort-by-(md5(seed:id), id), are exactly
    0..n-1, partition-invariant, and seed-dependent."""
    import hashlib

    from delver_spark.operators.assemble import shuffle_order

    df = spark.range(500).selectExpr("id * 13 AS doc_id",
                                     "CAST(id % 7 AS LONG) AS payload")
    got = {r.doc_id: r.shuffle_rank
           for r in shuffle_order(df, seed=3).collect()}
    ids = [i * 13 for i in range(500)]
    order = sorted(ids, key=lambda i: (
        hashlib.md5(f"3:{i}".encode()).hexdigest(), i))
    want = {i: rank for rank, i in enumerate(order)}
    assert got == want
    assert sorted(got.values()) == list(range(500))
    # partition-invariant
    again = {r.doc_id: r.shuffle_rank
             for r in shuffle_order(df.repartition(11), seed=3).collect()}
    assert again == got
    # a different seed gives a different permutation, same rank set
    other = {r.doc_id: r.shuffle_rank
             for r in shuffle_order(df, seed=4).collect()}
    assert other != got
    assert sorted(other.values()) == list(range(500))
    # payload columns ride along untouched
    row = shuffle_order(df, seed=3).filter("doc_id = 26").collect()[0]
    assert row.payload == 2


def test_pack_shards_scale_safe_equal(spark):
    from delver_spark.operators.assemble import pack_shards

    # non-contiguous ids over many pid shards, zero-size rows included
    df = spark.range(2000).selectExpr(
        "id * 37 AS doc_id",
        "CAST((id * 7919) % 997 AS BIGINT) AS nbytes")
    cols = ["doc_id", "shard_id", "sample_idx", "offset_in_shard"]
    naive = sorted(tuple(r) for r in pack_shards(
        df, "nbytes", "doc_id", 4096).select(*cols).collect())
    safe = sorted(tuple(r) for r in pack_shards(
        df, "nbytes", "doc_id", 4096, scale_safe=True, chunk=1024)
        .select(*cols).collect())
    assert naive == safe
    # fixed-range size bound: non-final shard totals within target ±
    # max row size (996 here), and no shard-id gaps since max row < target
    from collections import defaultdict
    tot = defaultdict(int)
    sizes = {r[0]: r[1] for r in df.collect()}
    for doc_id, shard, _, _ in naive:
        tot[shard] += sizes[doc_id]
    last = max(tot)
    assert set(tot) == set(range(last + 1))
    assert all(4096 - 996 < t < 4096 + 996
               for s, t in tot.items() if s != last)


def test_assign_global_prefix_sum_exact(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from delver_spark.operators.frontier import assign_global_prefix_sum

    df = spark.range(5000).selectExpr(
        "id AS k", "CAST((id * 31) % 113 AS BIGINT) AS w")
    out = assign_global_prefix_sum(
        df, ["k"], F.expr("k DIV 256"), "w", out_col="c")
    got = np.array([r["c"] for r in out.orderBy("k").collect()])
    w = (np.arange(5000, dtype=np.int64) * 31) % 113
    want = np.concatenate(([0], np.cumsum(w[:-1])))
    assert (got == want).all()


def test_pack_shards_append_stable(spark):
    """Fixed-range sharding is append-incremental: adding rows whose
    order keys are all HIGHER leaves every existing row's shard_id,
    sample_idx and offset untouched (their prefix sums don't change) —
    greedy close-at-cap would too, but fixed-range makes it provable
    from boundary-independence. This is what lets ingest pack shards
    incrementally without rewriting the manifest."""
    from delver_spark.operators.assemble import pack_shards

    a = spark.range(500).selectExpr(
        "id AS doc_id", "CAST((id * 131) % 700 + 1 AS BIGINT) AS nbytes")
    b = spark.range(500, 800).selectExpr(
        "id AS doc_id", "CAST((id * 17) % 900 + 1 AS BIGINT) AS nbytes")
    cols = ["doc_id", "shard_id", "sample_idx", "offset_in_shard"]
    only_a = sorted(tuple(r) for r in pack_shards(
        a, "nbytes", "doc_id", 4096).select(*cols).collect())
    both = sorted(tuple(r) for r in pack_shards(
        a.unionByName(b), "nbytes", "doc_id", 4096)
        .select(*cols).collect())
    assert both[:len(only_a)] == only_a


def test_assemble_skew_safe_equal(spark):
    """skew_safe stage-2 (min_by keeper + join) == the window plan,
    incl. a mass-duplicated text and quota/sample stages downstream."""
    from delver_spark.operators.assemble import assemble_training_set

    rows = [(i, "the same exact boilerplate text", "en", 10 + i % 5)
            for i in range(300)]
    rows += [(1000 + i, f"unique document number {i}", "en", 50 + i)
             for i in range(20)]
    rows += [(2000, "texto en otra lengua", "es", 40),
             # null text + null quality must survive both plans
             # identically (code-review r4-s5: the equi-join on
             # md5(NULL) dropped the null-text rows)
             (3000, None, "en", 10),
             (3001, None, "en", 20),
             (3002, "quality is null here", "en", None),
             (3003, "quality is null here", "en", 30)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    bench = spark.createDataFrame(
        [(99, "unique document number 7 and more words")],
        "doc_id long, text string")
    a = sorted((r["doc_id"], r["drop_stage"]) for r in
               assemble_training_set(docs, bench, per_lang=10,
                                     rate_milli=900).collect())
    b = sorted((r["doc_id"], r["drop_stage"]) for r in
               assemble_training_set(docs, bench, per_lang=10,
                                     rate_milli=900,
                                     skew_safe=True).collect())
    assert a == b
    # the boilerplate block keeps exactly one row at stage 2: highest
    # quality (n_chars 14 -> i%5==4), smallest id among those (doc_id 4);
    # plus: the null-text pair keeps 3001 (higher quality, 3000 dups) and
    # the null-quality row 3002 loses to 3003 (NULL quality ranks last in
    # both plans)
    stage2 = {i for i, s in a if s == "exact_dup"}
    assert len(stage2) == 301 and 4 not in stage2
    assert 3000 in stage2 and 3002 in stage2
    assert 3001 not in stage2 and 3003 not in stage2
    # the surviving null-text row is an explicit "invalid" drop, not a
    # silent keep (ADVICE r4: NULL text propagates NULL through every
    # stage flag, skipping all ~_sk branches)
    assert (3001, "invalid") in a
    assert all(s is not None for i, s in a if i in (3000, 3001))


def test_decontaminate_arrow_equals_sql_plan(spark):
    """The mapInArrow decontamination pass (one narrow pass, gram set
    in the closure) on hand-computed rows: None text (corpus and
    bench side), short docs, multi-space runs, case folding, and
    multi-occurrence grams."""
    from delver_spark.operators.textstats import ngram_decontaminate

    docs = spark.createDataFrame(
        [(1, "The Quick brown fox JUMPS over the lazy dog today"),
         (2, "the quick brown fox jumps the quick brown fox jumps"),
         (3, None),
         (4, "short doc"),
         (5, "unrelated words entirely here nothing matches at all"),
         (6, "  the   quick brown fox jumps  over  padded   spaces")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, None)],
        "doc_id long, text string")
    got = [tuple(r) for r in
           ngram_decontaminate(docs, bench, n=5).collect()]
    assert got == [
        (1, 1, True),       # case-folded single occurrence
        (2, 2, True),       # the same gram twice = 2 hits
        (3, 0, False),      # None text has no grams
        (4, 0, False),      # shorter than n
        (5, 0, False),
        (6, 1, True)]       # multi-space runs filtered out


def test_duplicate_spans_arrow_equals_sql_gram_plan(spark):
    """The python gram pass feeding both span plans, on hand-computed
    spans: 1-based positions, the island merge, None text and an
    intra-doc repeat — for both ``skew_safe`` values; and cut_spans
    over it."""
    from delver_spark.operators.dedup import cut_spans, duplicate_spans

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, f"one two {passage} three four"),
         (2, f"{passage} five six seven eight nine ten eleven twelve"),
         (3, f"{passage} middle words {passage}"),     # intra-doc repeat
         (4, None),
         (5, "totally unique words that appear nowhere else at all ok")],
        "doc_id long, text string")
    # the 10-word passage holds 3 8-word windows; every copy of it is
    # one maximal span, the two copies in doc 3 are 12 words apart
    want = [(1, 3, 12), (2, 1, 10), (3, 1, 10), (3, 13, 22)]
    for skew in (False, True):
        got = sorted(tuple(r) for r in duplicate_spans(
            docs, window=8, skew_safe=skew).collect())
        assert got == want, (skew, got)
    cut = {r["doc_id"]: r["text"] for r in cut_spans(
        docs, duplicate_spans(docs, window=8)).collect()}
    assert cut == {
        1: "one two three four",
        2: "five six seven eight nine ten eleven twelve",
        3: "middle words",
        4: None,
        5: "totally unique words that appear nowhere else at all ok"}


def test_decontaminate_bloom_equals_exact(spark):
    """The bloom-screen + exact-verify plan (for bench sets past the
    broadcast bound) equals ngram_decontaminate row for row: false
    positives drop out in the verify join, occurrence counts and bench
    dedup included. verify=False is the documented one-pass UPPER
    bound."""
    docs = spark.createDataFrame(
        [(1, "one two three four five six"),
         (2, "ONE Two THREE four FIVE"),
         (3, "totally different words here now"),
         (4, "one two three four"),               # < n words: no grams
         (5, "one two three four five one two three four five"),
         (6, None)],                              # NULL text: clean
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(98, "one two three four five"),
         (99, "one two three four five")],        # dup bench doc
        "doc_id long, text string")
    want = sorted(map(tuple, T.ngram_decontaminate(docs, bench,
                                                   n=5).collect()))
    got = sorted(map(tuple, T.ngram_decontaminate_bloom(
        docs, bench, n=5).collect()))
    assert got == want
    assert sum(1 for _, h, _c in want if h > 0) >= 3   # non-vacuous

    screen = {r["doc_id"]: r for r in T.ngram_decontaminate_bloom(
        docs, bench, n=5, verify=False).collect()}
    exact = {d: h for d, h, _ in want}
    assert all(screen[d]["n_hits_bloom"] >= exact[d] for d in exact)
    assert all(screen[d]["contaminated"] or exact[d] == 0 for d in exact)


def test_decontaminate_bloom_empty_bench(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string")
    bench = spark.createDataFrame([], "doc_id long, text string")
    rows = T.ngram_decontaminate_bloom(docs, bench, n=5).collect()
    assert [(r["n_hits"], r["contaminated"]) for r in rows] == [(0, False)]


def test_decontaminate_bloom_corpus_not_shuffled(spark, docs):
    """Scale pin: the corpus side crosses ONE mapInArrow pass and is
    never hash-shuffled — the only shuffles in the verify plan touch
    the bloom-positive pairs and the bench grams."""
    bench = docs.limit(1)
    plan = T.ngram_decontaminate_bloom(docs, bench)._jdf \
        .queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "SortMergeJoin" not in plan or \
        plan.index("SortMergeJoin") > plan.index("MapInArrow"), plan


_MATRIX_TEXTS = [
    "the cat sat on the mat today",
    "a dog sat on the mat today too",
    "the cat sat on the mat today",      # exact copy of doc 0
    None,
    "nothing repeats in this one at all",
    "sat on the mat today",
]


def _id_matrix_outputs(spark, id_type, to_id):
    """duplicate_spans, ngram_decontaminate, lm_score and semdedup over
    one corpus whose ids are ``to_id(i)`` typed ``id_type``."""
    import numpy as np

    from delver_spark.functions import ngram_lm
    from delver_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(to_id(i), t) for i, t in enumerate(_MATRIX_TEXTS)],
        f"doc_id {id_type}, text string")
    bench = spark.createDataFrame([(0, "sat on the mat")],
                                  "doc_id long, text string")
    counts = ngram_lm.train_ngram_lm(docs)
    rng = np.random.default_rng(11)
    vecs = []
    for g in range(8):          # cells 1/2 + NULL; a near-dup per even g
        v, cell = rng.normal(size=4), None if g == 7 else g % 2 + 1
        vecs.append((v, cell))
        if g % 2 == 0:
            vecs.append((v + rng.normal(scale=0.01, size=4), cell))
    emb = spark.createDataFrame(
        [(to_id(i), [float(x) for x in v], cell)
         for i, (v, cell) in enumerate(vecs)],
        f"vec_id {id_type}, embedding array<float>, label int")
    return {
        "spans": [tuple(r) for r in
                  D.duplicate_spans(docs, window=4).collect()],
        "decon": [tuple(r) for r in
                  T.ngram_decontaminate(docs, bench, n=4).collect()],
        "lm": [tuple(r) for r in ngram_lm.lm_score(docs, counts).collect()],
        "sem": [tuple(r) for r in D.semdedup(emb).collect()],
    }


@pytest.fixture(scope="module")
def bigint_id_outputs(spark):
    out = _id_matrix_outputs(spark, "bigint", lambda i: i)
    assert out["spans"] and any(r[2] for r in out["decon"])
    assert any(not r[4] for r in out["sem"])  # a dup was dropped
    return out


@pytest.mark.parametrize("id_type,to_id", [
    ("smallint", lambda i: i),
    ("decimal(12,0)", Decimal),
    ("string", lambda i: f"doc-{i:03d}"),
])
def test_id_type_matrix(spark, bigint_id_outputs, id_type, to_id):
    """Every id type passes through the gram, decontamination, LM and
    SemDeDup passes: the output equals the bigint-id output with the
    ids mapped (the mappings preserve id order, so row order, span
    merges, components and keepers all line up)."""
    got = _id_matrix_outputs(spark, id_type, to_id)

    def mapped(rows, id_fields):
        return [tuple(to_id(v) if j in id_fields else v
                      for j, v in enumerate(r)) for r in rows]

    want = {k: mapped(v, {0}) for k, v in bigint_id_outputs.items()}
    want["sem"] = mapped(bigint_id_outputs["sem"], {0, 2})
    assert got == want
