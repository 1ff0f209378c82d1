"""Scale-safety pins for the dedup operators (VERDICT r1 #1/#2):

- embedding LSH candidates + exact verify must equal the all-pairs
  oracle on a planted near-dup corpus (recall 1.0 at the default params);
- the ngram DF cutoff must not change the output on the test corpus
  (every qualifying pair shares at least one rare shingle);
- the salted band-bucket join must produce EXACTLY the unsalted pair set
  on a giant duplicate cluster (the skew case it exists for).
"""

import numpy as np
import pytest

from delver_spark.operators import dedup as D

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted_emb(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=(60, 64))
    rows, vid = [], 0
    for i in range(60):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((vid, [float(x) for x in v], int(i % 5)))
        vid += 1
        if i % 3 == 0:  # planted near-dup (cos ~ 0.98)
            d = v + rng.normal(scale=0.03, size=64)
            d = d / np.linalg.norm(d)
            rows.append((vid, [float(x) for x in d], int(i % 5)))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_embedding_lsh_equals_all_pairs_on_planted(planted_emb):
    ap = D.embedding_cosine_pairs(planted_emb).toPandas()
    lsh = D.embedding_lsh_pairs(planted_emb).toPandas()
    assert len(ap) > 10  # the plant worked — non-vacuous comparison
    assert lsh.values.tolist() == ap.values.tolist()


def test_embedding_lsh_candidates_subquadratic(planted_emb):
    # the bucket join proposes far fewer pairs than all-pairs n^2/2:
    # a -1001 threshold lets every candidate through, so the output
    # count IS the candidate count
    n = planted_emb.count()
    n_cand = D.embedding_lsh_pairs(planted_emb, threshold_milli=-1001).count()
    assert n_cand < n * (n - 1) // 2 / 4


def test_ngram_df_cap_keeps_output(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    capped = D.ngram_jaccard_pairs(docs).toPandas()
    exact = D.ngram_jaccard_pairs(docs, df_cap=None).toPandas()
    assert len(capped) > 0
    assert capped.values.tolist() == exact.values.tolist()


def test_salted_bucket_join_exact_on_giant_cluster(spark):
    # 1000 identical docs (ONE band bucket holds the whole cluster) plus
    # distinct tail docs: the salted join must return the identical pair
    # set while spreading the c^2 work across salt partitions
    rows = [(i, "the same exact duplicated text payload") for i in range(1000)]
    rows += [(1000 + i, f"unique text number {i} about topic {i % 7}")
             for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = D.minhash_lsh_pairs(docs).toPandas()
    salted = D.minhash_lsh_pairs(docs, bucket_cap=64).toPandas()
    assert len(plain) >= 1000 * 999 // 2
    assert salted.values.tolist() == plain.values.tolist()


def test_minhash_verified_filters_false_positives(spark):
    # two token-disjoint docs forced into one band bucket would be a
    # candidate-only pair; the verify stage must drop anything below the
    # exact-Jaccard threshold and keep exact duplicates at 1000 milli
    rows = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
            (2, "zeta eta theta iota")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_lsh_verified(docs).toPandas()
    assert out[["doc_a", "doc_b"]].values.tolist() == [[0, 1]]
    assert out["jacc_milli"].tolist() == [1000]


def test_connected_components_known_clusters(spark):
    # two clusters {1,2,3,7} (via chain 1-2, 2-3, 3-7) and {10,11}; the
    # chain pins multi-round convergence, not just direct edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long")
    got = D.connected_components(pairs).toPandas()
    assert dict(zip(got["doc_id"], got["component"])) == {
        1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_resolve_canonical_keepers(spark):
    """Dedup resolution: max-quality keeper per cluster, ties → min id,
    singletons keep themselves; exactly one keeper per component and
    every drop points at a keeper in its own component."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "doc_a long, doc_b long")
    comps = D.connected_components(pairs)
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (7, 50),   # tie 2 vs 3 → min id 2
         (10, 5), (11, 9),                          # 11 wins on quality
         (42, 1)],                                  # singleton, no pair
        "doc_id long, n_chars long")
    got = D.resolve_canonical(docs, comps).toPandas()
    by_id = {r.doc_id: (r.component, r.canonical_id, r.keep)
             for r in got.itertuples()}
    assert by_id == {
        1: (1, 2, False), 2: (1, 2, True), 3: (1, 2, False),
        7: (1, 2, False), 10: (10, 11, False), 11: (10, 11, True),
        42: (42, 42, True)}
    # structural invariants: one keeper per component; drops' canonical
    # is kept and in the same component
    import collections
    keep_per_comp = collections.Counter(
        c for c, _, k in by_id.values() if k)
    assert all(v == 1 for v in keep_per_comp.values())
    for doc, (comp, canon, keep) in by_id.items():
        assert by_id[canon][2] and by_id[canon][0] == comp


def test_phash_hamming_planted(spark):
    base = 0b101101110001111000011110000111100001111000011110000111100001
    rows = [(0, base),
            (1, base),                      # distance 0
            (2, base ^ 0b111),              # distance 3 -> found (< n_bands)
            (3, base ^ ((1 << 59) | 1)),    # distance 2, bits in two bands
            (4, ~base & ((1 << 60) - 1))]   # far away
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    got = D.phash_hamming_pairs(df, max_dist=3).toPandas()
    assert got[["doc_a", "doc_b"]].values.tolist() == [
        [0, 1], [0, 2], [0, 3], [1, 2], [1, 3], [2, 3]]
    dist = got.set_index(["doc_a", "doc_b"])["hamming"]
    assert dist.loc[(0, 1)] == 0
    assert dist.loc[(0, 2)] == 3
    assert dist.loc[(0, 3)] == 2


def test_embedding_lsh_bucket_cap_exact(planted_emb):
    """The salted bucket join must not change the embedding-LSH output."""
    plain = D.embedding_lsh_pairs(planted_emb).toPandas()
    salted = D.embedding_lsh_pairs(planted_emb, bucket_cap=2).toPandas()
    assert len(plain) > 10
    assert salted.values.tolist() == plain.values.tolist()


def test_embedding_lsh_precomputed_dim_exact(planted_emb):
    """dim= ships the driver-derived weight matrix in the UDF closure —
    identical output to per-worker lazy derivation."""
    plain = D.embedding_lsh_pairs(planted_emb).toPandas()
    pre = D.embedding_lsh_pairs(planted_emb, dim=64).toPandas()
    assert len(plain) > 10
    assert pre.values.tolist() == plain.values.tolist()


def test_rhp_weights_derivation():
    """The vectorized derivation must equal the documented per-component
    spec: first 16 bits of md5('<t>_<b>:<i>') minus 32768 (the DuckDB
    twin re-derives exactly this in SQL)."""
    import hashlib

    w = D._rhp_weights(5, 3, 4)
    assert w.shape == (5, 12)
    for t in range(3):
        for b in range(4):
            for i in range(5):
                h = hashlib.md5(f"{t}_{b}:{i}".encode()).digest()
                assert w[i, t * 4 + b] == int.from_bytes(h[:2], "big") - 32768


def _cc_pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _cc_dict(df):
    p = df.toPandas()
    return dict(zip(p["doc_id"], p["component"]))


def _union_find_components(edges):
    """The equality reference: {node: min node of its component}."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("edges", [
    [(1, 2), (2, 3), (3, 7), (10, 11)],                  # chain + pair
    [(i, i + 1) for i in range(30)],                     # long chain
    [(i, (i + 1) % 20) for i in range(20)],              # cycle
    [(0, i) for i in range(1, 15)],                      # star at min
    [(14, i) for i in range(14)],                        # star at max
    [(5, 5), (1, 2)],                                    # self-loop node
])
def test_star_cc_equals_min_label_fixed(spark, edges):
    pairs = _cc_pairs(spark, edges)
    assert _cc_dict(D.connected_components(pairs)) == \
        _union_find_components(edges)


def test_star_cc_equals_min_label_random(spark):
    """Property: on random graphs connected_components equals the
    union-find reference."""
    rng = np.random.default_rng(3)
    for trial in range(6):
        n = int(rng.integers(10, 50))
        m = int(rng.integers(n // 2, 2 * n))
        edges = [(int(a), int(b)) for a, b in
                 rng.integers(0, n, size=(m, 2))]
        pairs = _cc_pairs(spark, edges)
        assert _cc_dict(D.connected_components(pairs)) == \
            _union_find_components(edges), f"trial {trial}: {edges}"


def test_star_cc_raises_on_nonconvergence(spark):
    """Exhausting max_iter before the star fixed point must raise, not
    return a multi-row-per-node component map."""
    pairs = _cc_pairs(spark, [(i, i + 1) for i in range(200)])
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iter=1).collect()


def test_star_cc_converges_fast_on_chain(spark):
    """A 200-node chain closes in O(log²) star rounds (label propagation
    would need ~200 shuffle rounds)."""
    pairs = _cc_pairs(spark, [(i, i + 1) for i in range(200)])
    got = _cc_dict(D.connected_components(pairs, max_iter=12))
    assert got == {i: 0 for i in range(201)}


def test_cc_long_chain_one_component_at_default_max_iter(spark):
    """A chain longer than the default max_iter in hops is still one
    component: no partial labelling comes back at the default."""
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_dict(D.connected_components(_cc_pairs(spark, edges)))
    assert got == {i: 0 for i in range(65)}


def _semdedup_reference(rows, threshold_milli=950):
    """Sequential numpy reference for semdedup: same integer milli
    quantization, unnormalized per-cell integer centroid, within-cell
    pair graph, union-find components, keeper = (cent_cos_milli ASC,
    id ASC). Independent implementation (union-find vs label
    propagation; loops vs joins) for the differential pin."""
    q = {vid: np.round(np.asarray(emb, dtype=np.float64) * 1000)
         .astype(np.int64) for vid, emb, _ in rows}
    cell = {vid: lab for vid, _, lab in rows}
    cents = {}
    for vid, v in q.items():
        cents[cell[vid]] = cents.get(cell[vid], 0) + v
    cent_cos = {}
    for vid, v in q.items():
        s = cents[cell[vid]]
        num = float(int(v @ s)) * 1000.0
        den = np.sqrt(float(int(v @ v)) * float(int(s @ s)))
        x = num / den
        # round-half-away-from-zero (F.round / DuckDB round on double)
        cent_cos[vid] = int(np.floor(x + 0.5)) if x >= 0 \
            else int(np.ceil(x - 0.5))
    parent = {vid: vid for vid in q}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(q)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cell[a] != cell[b]:
                continue
            num = float(int(q[a] @ q[b])) * 1000.0
            den = np.sqrt(float(int(q[a] @ q[a]))
                          * float(int(q[b] @ q[b])))
            x = num / den
            cm = int(np.floor(x + 0.5)) if x >= 0 else int(np.ceil(x - 0.5))
            if cm >= threshold_milli:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {vid: find(vid) for vid in q}
    keeper = {}
    for vid in ids:
        c = comp[vid]
        if c not in keeper or (cent_cos[vid], vid) < \
                (cent_cos[keeper[c]], keeper[c]):
            keeper[c] = vid
    return {vid: (cell[vid], comp[vid], cent_cos[vid],
                  vid == keeper[comp[vid]]) for vid in ids}


def test_semdedup_equals_sequential_reference(planted_emb):
    """SemDeDup differential pin: the DataFrame plan equals an
    independent sequential union-find reference on the planted corpus
    (same-cell near-dups exist by construction, so the keep=False
    branch is non-vacuous)."""
    rows = [(r["vec_id"], r["embedding"], r["label"])
            for r in planted_emb.collect()]
    want = _semdedup_reference(rows)
    got = {r.vec_id: (r.label, r.component, r.cent_cos_milli, r.keep)
           for r in D.semdedup(planted_emb).collect()}
    assert sum(1 for *_, k in want.values() if not k) > 5  # non-vacuous
    assert got == want


def test_semdedup_structure(planted_emb):
    """Structural invariants: exactly one keeper per component; a
    component never spans cells (the pair stage is cluster-scoped)."""
    import collections
    out = D.semdedup(planted_emb).collect()
    keep_per_comp = collections.Counter(r.component for r in out if r.keep)
    assert set(keep_per_comp.values()) == {1}
    cells_per_comp = collections.defaultdict(set)
    for r in out:
        cells_per_comp[r.component].add(r.label)
    assert all(len(s) == 1 for s in cells_per_comp.values())


def test_split_oversized_cells(spark):
    """The k ∝ n enforcement operator: hot cells bisect geometrically
    (near-dup clouds stay together), identical-mass cells fall back to
    the deterministic hash split, small cells are untouched, and the
    result is partitioning-invariant."""
    import collections

    from delver_spark.operators.similarity import split_oversized_cells

    rng = np.random.default_rng(3)
    rows = []
    for i in range(120):                 # cell 0: identical (unsplittable)
        rows.append((i, [1.0, 0.0, 0.0, 0.0], 0))
    for i in range(150):                 # cell 1: two separable clouds
        base = [0.0, 1.0, 0.0, 0.0] if i % 2 else [0.0, 0.0, 1.0, 0.0]
        v = np.array(base) + rng.normal(scale=0.05, size=4)
        rows.append((1000 + i, [float(x) for x in v], 1))
    for i in range(10):                  # cell 2: small, untouched
        rows.append((5000 + i, [0.0, 0.0, 0.0, 1.0], 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    labels = emb.select("vec_id", "label")

    out = split_oversized_cells(emb, labels, max_cell=100)
    got = {r["vec_id"]: r["label"] for r in out.collect()}
    assert len(got) == len(rows)
    assert max(collections.Counter(got.values()).values()) <= 100
    assert len({got[5000 + i] for i in range(10)}) == 1
    cloud_a = {got[1000 + i] for i in range(150) if i % 2}
    cloud_b = {got[1000 + i] for i in range(150) if not i % 2}
    assert cloud_a.isdisjoint(cloud_b)   # geometric split kept locality

    out2 = split_oversized_cells(emb.repartition(7),
                                 labels.repartition(5), max_cell=100)
    assert {r["vec_id"]: r["label"] for r in out2.collect()} == got


def test_round_half_away_three_engines(spark):
    """_round_half_away == Spark F.round == DuckDB round on doubles,
    INCLUDING the near-tie lanes where the naive floor(x+0.5) trick
    diverges (x just below a half-integer: the float add rounds up
    across the integer — r5 review finding)."""
    import duckdb

    from delver_spark.operators.dedup import _round_half_away

    vals = [0.49999999999999994, -0.49999999999999994, 0.5, -0.5,
            2.5, -2.5, 0.0, 1.5, -1.5, 402.49999999999994,
            -402.49999999999994, 999.5, -999.5, 0.4999999999999999]
    rng = np.random.default_rng(5)
    vals += [float(x) for x in rng.uniform(-1000, 1000, 200)]
    # floats just below half-integers at varied magnitudes
    vals += [float(np.nextafter(m + 0.5, -np.inf))
             for m in (0.0, 1.0, 7.0, 63.0, 511.0)]

    ours = [int(v) for v in _round_half_away(np.array(vals))]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    from pyspark.sql import functions as F
    got_spark = [r[0] for r in
                 sdf.select(F.round("x").cast("long")).collect()]
    got_duck = [int(r[0]) for r in duckdb.connect().execute(
        "SELECT CAST(round(x) AS BIGINT) FROM (SELECT unnest(?) AS x)",
        [vals]).fetchall()]
    assert ours == got_spark == got_duck
    # non-vacuity: the naive trick DOES diverge on this input set
    naive = [int(v) for v in np.where(
        np.array(vals) >= 0, np.floor(np.array(vals) + 0.5),
        np.ceil(np.array(vals) - 0.5))]
    assert naive != ours


def test_semdedup_arrow_degenerate_inputs(spark):
    """The per-cell kernel rejects inputs it cannot score: zero
    centroid sums (canceling vectors), NULL embeddings, NULL ids in a
    non-NULL cell, and nested id types — loud errors, not INT64_MIN
    or a worker crash."""
    import pytest as _pt

    cancel = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [-1.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int")
    with _pt.raises(Exception, match="centroid sum is zero"):
        D.semdedup(cancel).collect()
    nulls = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, None, 1)],
        "vec_id long, embedding array<float>, label int")
    with _pt.raises(Exception, match="NULL embedding"):
        D.semdedup(nulls).collect()
    # a NULL id must not turn into INT64_MIN and take the keeper slot
    null_id = spark.createDataFrame(
        [(None, [1.0, 0.0], 7), (1, [1.0, 0.001], 7), (2, [0.0, 1.0], 7)],
        "vec_id long, embedding array<float>, label int")
    with _pt.raises(Exception, match="NULL id"):
        D.semdedup(null_id).collect()
    from pyspark.sql import functions as F
    with _pt.raises(TypeError, match="unsupported id type"):
        D.semdedup(cancel.withColumn(
            "vec_id", F.array(cancel.vec_id.cast("int"))))


def test_semdedup_null_cell_singletons(spark):
    """NULL-cell (unclustered) vectors must surface as explicit
    singletons, not vanish through the cell equi-joins (r5 review
    finding; r4 null-key rule)."""
    rows = [(0, [1.0, 0.0], 7), (1, [1.0, 0.001], 7),
            (2, [0.0, 1.0], None), (3, [0.5, 0.5], None)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in D.semdedup(df).collect()}
    assert set(out) == {0, 1, 2, 3}          # nothing dropped
    for vid in (2, 3):
        r = out[vid]
        assert (r.label is None and r.component == vid
                and r.cent_cos_milli is None and r.keep)
    assert out[0].keep != out[1].keep        # the real pair still dedups


def _kmeans_reference(rows, k, n_iter):
    """Sequential pure-python k-means reference: exact big-int dots
    (no numpy matmul — an independent arithmetic path), the identical
    float64 scoring formula, explicit loops instead of joins. Mirrors
    the operator's contract: lowest-k-ids init, max-cosine assignment
    with ties → lowest cell, unnormalized integer centroid sums,
    empty cell keeps its previous centroid."""
    def q_one(emb):
        out = []
        for x in emb:
            v = float(x) * 1000.0
            out.append(int(np.floor(v + 0.5)) if v >= 0
                       else int(np.ceil(v - 0.5)))
        return out

    q = {vid: q_one(emb) for vid, emb, _ in rows}
    ids = sorted(q)
    cents = [list(q[vid]) for vid in ids[:k]]

    def assign():
        ns = [float(sum(v * v for v in c)) for c in cents]
        lab = {}
        for vid in ids:
            best, bs = 0, None
            for j, c in enumerate(cents):
                if ns[j] > 0.0:
                    d = sum(a * b for a, b in zip(q[vid], c))
                    df = float(d)
                    s = (1.0 if d >= 0 else -1.0) * df * df / ns[j]
                else:
                    s = float("-inf")
                if bs is None or s > bs:
                    bs, best = s, j
            lab[vid] = best
        return lab

    for _ in range(n_iter):
        lab = assign()
        acc = {}
        for vid in ids:
            c = lab[vid]
            if c not in acc:
                acc[c] = [0] * len(q[vid])
            acc[c] = [a + b for a, b in zip(acc[c], q[vid])]
        cents[:] = [acc.get(j, cents[j]) for j in range(k)]
    return assign()


def test_kmeans_equals_sequential_reference(planted_emb):
    """kmeans_cells differential pin: the distributed plan (mapInArrow
    numpy assignment + groupBy integer update) equals the sequential
    big-int reference exactly, per iteration count."""
    from delver_spark.operators.similarity import kmeans_cells

    rows = [(r["vec_id"], r["embedding"], r["label"])
            for r in planted_emb.collect()]
    for n_iter in (1, 3):
        want = _kmeans_reference(rows, k=5, n_iter=n_iter)
        got = {r["vec_id"]: r["label"]
               for r in kmeans_cells(planted_emb, k=5,
                                     n_iter=n_iter).collect()}
        assert got == want
    assert len(set(want.values())) > 1  # non-vacuous: several cells used


def test_kmeans_structure(planted_emb):
    """Structural pins: partitioning invariance; the returned centroids
    reproduce the returned assignment (fixed point of the final pass);
    kmeans labels feed semdedup end to end (the closed loop the two
    operators exist for)."""
    from delver_spark.operators.similarity import kmeans_assign, kmeans_cells

    out, cents = kmeans_cells(planted_emb, k=4, n_iter=2,
                              return_centroids=True)
    base = sorted((r["vec_id"], r["label"]) for r in out.collect())
    repart = kmeans_cells(planted_emb.repartition(13), k=4, n_iter=2)
    assert sorted(map(tuple, repart.collect())) == base

    # kmeans_assign with the fit's centroids reproduces the fit's
    # assignment (fixed point; the incremental-ingest contract)
    again = kmeans_assign(planted_emb, cents)
    assert sorted(map(tuple, again.collect())) == base

    relabeled = (planted_emb.drop("label")
                 .join(kmeans_cells(planted_emb, k=4, n_iter=2), "vec_id"))
    sd = D.semdedup(relabeled).collect()
    comp_cells = {}
    for r in sd:
        comp_cells.setdefault(r.component, set()).add(r.label)
    assert len(sd) == planted_emb.count()
    assert all(len(s) == 1 for s in comp_cells.values())


def test_cosine_topk_ivf_batch(planted_emb, spark):
    """Batch ANN pins: (1) exact equality vs a pure-python reference
    implementing the documented semantics (probe = top-n_probe cells by
    raw dot with cell sums, ties low cell id; result = top-k by dot,
    ties low vec_id, self excluded); (2) at n_probe = n_cells the batch
    equals brute force per query; (3) partitioning invariance."""
    from pyspark.sql import functions as F

    from delver_spark.operators.similarity import (build_ivf_index,
                                                   cosine_topk_bruteforce,
                                                   cosine_topk_ivf_batch,
                                                   quantize)

    index = build_ivf_index(planted_emb)
    corpus = [(r["vec_id"], [int(v) for v in r["q"]], r["label"])
              for r in quantize(planted_emb, "vec_id",
                                extra_cols=("label",)).collect()]
    rng = np.random.default_rng(7)
    qrows = [(10000 + i,
              [float(x) for x in (lambda v: v / np.linalg.norm(v))(
                  rng.normal(size=64))])
             for i in range(12)]
    qrows.append((corpus[3][0],                       # corpus vec as query
                  [float(x) for x in planted_emb.collect()[3]["embedding"]]))
    queries = spark.createDataFrame(
        qrows, "query_id long, embedding array<float>")
    qq = {r["query_id"]: [int(v) for v in r["q"]]
          for r in quantize(queries, "query_id", extra_cols=()).collect()}

    def reference(n_probe, k):
        out = []
        for qid, qv in qq.items():
            cs = sorted(((-sum(s * v for s, v in zip(sums, qv)), c)
                         for c, sums in index.items()))
            probe = {c for _, c in cs[:n_probe]}
            cand = [(-sum(a * b for a, b in zip(cq, qv)), vid)
                    for vid, cq, lab in corpus
                    if lab in probe and vid != qid]
            for nd, vid in sorted(cand)[:k]:
                out.append((qid, vid, -nd))
        return sorted(out)

    for n_probe, k in ((1, 5), (3, 4)):
        got = sorted((r["query_id"], r["vec_id"], r["dot_milli2"])
                     for r in cosine_topk_ivf_batch(
                         planted_emb, queries, k=k, n_probe=n_probe,
                         index=index).collect())
        assert got == reference(n_probe, k)
        assert len(got) == len(qq) * k          # non-vacuous, all queries

    # full probe == brute force for the corpus-member query
    full = cosine_topk_ivf_batch(planted_emb, queries, k=5,
                                 n_probe=len(index), index=index)
    got3 = sorted((r["vec_id"], r["dot_milli2"]) for r in
                  full.filter(F.col("query_id") == corpus[3][0]).collect())
    bf = sorted((r["vec_id"], r["dot_milli2"]) for r in
                cosine_topk_bruteforce(planted_emb,
                                       corpus[3][0], k=5).collect())
    assert got3 == bf

    # partitioning invariance
    got_rp = sorted((r["query_id"], r["vec_id"], r["dot_milli2"])
                    for r in cosine_topk_ivf_batch(
                        planted_emb.repartition(9),
                        queries.repartition(4), k=4, n_probe=3,
                        index=index).collect())
    assert got_rp == reference(3, 4)


def test_split_oversized_cells_restuck_no_livelock(spark):
    """r5-s5 review finding: an over-cap child of a STUCK (identical-
    vector) cell re-splits next round, and an unsalted pmod(hash(id),
    s') over ids already congruent mod s is a CONSTANT whenever
    s' | s — zero progress every round, RuntimeError after max_rounds.
    500 identical vectors at max_cell=50 hash-split into 10 children
    whose multinomial fluctuation leaves some child over cap; the
    round-salted hash must still converge."""
    from delver_spark.operators.similarity import split_oversized_cells
    import collections

    rows = [(i, [1.0, 0.0, 0.0, 0.0], 0) for i in range(500)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = split_oversized_cells(emb, emb.select("vec_id", "label"),
                                max_cell=50)
    got = {r["vec_id"]: r["label"] for r in out.collect()}
    assert len(got) == 500
    assert max(collections.Counter(got.values()).values()) <= 50


def test_split_oversized_cells_orphan_labels_raise(spark):
    """r5-s5 review finding (the null-key equi-join rule): label ids
    with no emb vector would silently relabel to a NULL cell and make
    stuck-detection impossible — must raise instead."""
    from delver_spark.operators.similarity import split_oversized_cells

    rows = [(i, [1.0, 0.0], 0) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    labels = spark.createDataFrame(
        [(i, 0) for i in range(25)], "vec_id long, label int")
    with pytest.raises(ValueError, match="absent from emb"):
        split_oversized_cells(emb, labels, max_cell=10)


def test_cosine_topk_ivf_batch_vec_col(planted_emb, spark):
    """r5-s5 review finding: the corpus quantize call dropped vec_col —
    a decoy 'embedding' column of zeros must NOT drive the dots when
    the real vectors live in a renamed column."""
    from pyspark.sql import functions as F

    from delver_spark.operators.similarity import (build_ivf_index,
                                                   cosine_topk_ivf_batch)

    queries = planted_emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    want = sorted(map(tuple, cosine_topk_ivf_batch(
        planted_emb, queries, k=4, n_probe=2).collect()))
    decoy = (planted_emb.withColumnRenamed("embedding", "vec")
             .withColumn("embedding",
                         F.transform(F.col("vec"), lambda _: F.lit(0.0))))
    idx = build_ivf_index(decoy, vec_col="vec")
    got = sorted(map(tuple, cosine_topk_ivf_batch(
        decoy, queries, k=4, n_probe=2, index=idx,
        vec_col="vec").collect()))
    assert got == want
    assert any(d != 0 for *_, d in got)          # non-vacuous


def test_cosine_topk_ivf_batch_null_component_raises(planted_emb, spark):
    """r5-s5 review finding: a NULL vector component float64-ifies the
    Arrow batch (NaN dots → arbitrary top-k, INT64_MIN casts) — the
    corpus pass must fail loudly instead."""
    from pyspark.sql import functions as F

    from delver_spark.operators.similarity import (build_ivf_index,
                                                   cosine_topk_ivf_batch)

    index = build_ivf_index(planted_emb)
    poisoned = planted_emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 7,
               F.array(*([F.lit(None).cast("float")] * 64)))
        .otherwise(F.col("embedding")))
    queries = planted_emb.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(Exception, match="NULL embedding"):
        cosine_topk_ivf_batch(poisoned, queries, k=3,
                              n_probe=len(index), index=index).collect()


def test_exact_matmul_overflow_guard():
    """r5-s5 review finding: past the 2^53 BLAS bound the int64 fallback
    is exact, but past 2^63 numpy matmul WRAPS silently — refuse."""
    from delver_spark.operators.similarity import _exact_matmul

    a = np.array([[1 << 40, 1]], dtype=np.int64)
    b = np.array([[1 << 12], [1]], dtype=np.int64)
    assert _exact_matmul(a, b)[0, 0] == (1 << 52) + 1   # int64 fallback
    big = np.array([[1 << 62]], dtype=np.int64)
    two = np.array([[2]], dtype=np.int64)
    with pytest.raises(ValueError, match="overflow"):
        _exact_matmul(big, two)
