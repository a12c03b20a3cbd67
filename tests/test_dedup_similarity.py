"""Dedup + similarity operators (north star): planted-duplicate golden
tests and invariants."""

import math

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
    (4, "completely different text about spark and hadoop engines"),
    (5, "a b"),                                                  # < k tokens: no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["text_hash"]: r for r in D.exact_dedup(docs).collect()}
    assert len(out) == 4  # 5 docs, one exact pair
    dup = [r for r in out.values() if r["dup_count"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_id"] == 1


def test_minhash_identical_texts_share_signature(docs):
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    # no shingles -> all-PRIME signature
    from text_sentiment_classification_hadoop_spark_spark.functions.hashing import MINHASH_PRIME
    assert sigs[5] == [MINHASH_PRIME] * 16


def test_near_dup_pipeline_finds_planted_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in D.minhash_near_dups(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_ngram_jaccard_exact_values(docs):
    sigs = D.minhash_signatures(docs)
    pairs = D.lsh_candidate_pairs(sigs)
    j = {(r["id_a"], r["id_b"]): r["jaccard"]
         for r in D.ngram_jaccard_pairs(docs, pairs).collect()}
    assert j[(1, 2)] == 1.0
    if (1, 3) in j:  # 7 shingles each, 6 shared -> 6/8
        assert math.isclose(j[(1, 3)], 6 / 8)
    assert all(0.0 <= v <= 1.0 for v in j.values())


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash_fingerprints(docs).collect()}
    assert sh[1] == sh[2]               # identical text, identical fingerprint
    assert 0 <= sh[1] < 2 ** 32
    ham_13 = bin(sh[1] ^ sh[3]).count("1")
    ham_14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham_13 < ham_14              # near dup closer than unrelated


def test_cosine_topk_self_first(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).head()["embedding"]
    top = SIM.cosine_topk(emb, list(q), k=5).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] == 1.0
    cos = [r["cosine"] for r in top]
    assert cos == sorted(cos, reverse=True)
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]


def test_ann_lsh_includes_query_and_subsets_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).head()["embedding"])
    ann = SIM.ann_lsh_topk(emb, q, k=5, n_planes=4)
    rows = ann.collect()
    assert rows[0]["vec_id"] == 7  # query's own bucket contains itself
    brute = {r["vec_id"]: r["cosine"] for r in SIM.cosine_topk(emb, q, k=500).collect()}
    for r in rows:  # ANN cosines must equal exact cosines (same math)
        assert math.isclose(r["cosine"], brute[r["vec_id"]], abs_tol=1e-9)


def test_embedding_near_dups_planted(spark):
    base = [0.5, -0.25, 0.8, 0.1] * 16
    near = [x * 1.001 + (0.0001 if i == 0 else 0) for i, x in enumerate(base)]
    ortho = [(-1.0) ** i * abs(x) for i, x in enumerate(base)]
    emb = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)],
        "vec_id long, embedding array<float>")
    out = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_near_dups(emb, threshold=0.95).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.999
    assert (1, 3) not in out


def _augmented_emb(spark, sf_dir):
    """Originals + exact copies (+1e6) + dim-0-perturbed copies (+2e6) —
    same construction as the driver's embedding_near_dups query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pert = F.transform(F.col("embedding"),
                       lambda x, i: F.when(i == 0, x.cast("double") + 2.0)
                                     .otherwise(x.cast("double")))
    return (emb.select("vec_id", dbl.alias("embedding"))
            .unionAll(emb.select((F.col("vec_id") + 1000000).alias("vec_id"),
                                 dbl.alias("embedding")))
            .unionAll(emb.select((F.col("vec_id") + 2000000).alias("vec_id"),
                                 pert.alias("embedding"))))


def test_banded_lsh_recall_and_occupancy(spark, sf_dir):
    """The scale knobs: more planes shrink buckets (the quadratic
    within-bucket join is the 100 TB risk); extra bands recover the
    recall the extra planes cost. Verified against the exact pair set."""
    emb = _augmented_emb(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     SIM.cosine_expr(F.col("va"), F.col("vb")).alias("c"))
             .filter(F.col("c") >= 0.9).collect()}
    assert exact  # planted copies guarantee a non-empty truth set

    def found(n_planes, n_bands):
        return {(r["id_a"], r["id_b"]) for r in D.embedding_near_dups(
            emb, threshold=0.9, n_planes=n_planes, n_bands=n_bands).collect()}

    recall_fixed8 = len(found(8, 1) & exact) / len(exact)
    recall_banded = len(found(12, 4) & exact) / len(exact)
    # banding must pay for the smaller buckets: no recall regression
    assert recall_banded >= recall_fixed8
    # precision is exact on both (candidates are cosine-verified)

    def max_occupancy(p):
        return (emb.select(SIM.sign_lsh_bucket(F.col("embedding"),
                                               n_planes=p).alias("bk"))
                .groupBy("bk").count().agg(F.max("count")).head()[0])
    assert max_occupancy(12) < max_occupancy(8)  # buckets actually shrink
    # the sizing rule keeps expected occupancy ~constant as n grows
    assert SIM.planes_for(1_000_000, target_bucket=1024) == 10
    assert SIM.planes_for(100_000_000, target_bucket=1024) > \
        SIM.planes_for(1_000_000, target_bucket=1024)


def test_kmeans_codebook_improves_on_seed(spark, sf_dir):
    """kmeans_fit: 8x64 long-form codebook; two Lloyd iterations must
    not worsen the mean assignment cosine vs the first-8 seed (Lloyd is
    monotone up to the 6-dp rounding), and every cell keeps a row set."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fitted = SIM.kmeans_fit(emb, k=8, iters=2)
    rows = fitted.collect()
    assert len(rows) == 8 * 64
    assert {r["cell_id"] for r in rows} == set(range(8))

    def mean_best_cos(cents):
        from pyspark.sql import functions as F
        arr = F.array(*[
            SIM.cosine_expr(F.col("embedding"),
                            F.array(*[F.lit(x) for x in cvec]))
            for _, cvec in cents])
        return emb.select(F.array_max(arr).alias("c")) \
            .agg(F.avg("c")).head()[0]

    seed = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.orderBy("vec_id").limit(8).collect()]
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], [0.0] * 64)[r["d"]] = r["centroid"]
    trained = sorted(by_cell.items())
    assert mean_best_cos(trained) >= mean_best_cos(seed) - 1e-6


def test_kmeans_codebook_above_old_literal_cap(spark, sf_dir):
    """k=128, twice the size at which codebooks used to leave the
    plan-time literal path: kmeans_fit still gives k×dims rows, and
    ivf_assign_cells against those centroids puts every vector in the
    cell with the highest 6-dp cosine (ties → lowest id), checked
    against the driver-side ``_py_cos6`` mirror of the Spark fold."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    fitted = SIM.kmeans_fit(emb, k=128, iters=1)
    by_cell = {}
    for r in fitted.collect():
        by_cell.setdefault(int(r["cell_id"]), {})[int(r["d"])] = \
            float(r["centroid"])
    assert sum(len(dv) for dv in by_cell.values()) == 128 * 64
    first = [int(r["vec_id"])
             for r in emb.orderBy("vec_id").limit(128).collect()]
    assert sorted(by_cell) == first
    cents = [(c, [dv[d] for d in range(64)])
             for c, dv in sorted(by_cell.items())]

    got = {r["vec_id"]: r["cell"] for r in
           SIM.ivf_assign_cells(emb, SIM.kmeans_books(fitted))
           .select("vec_id", "cell").collect()}
    vecs = [(r["vec_id"], [float(x) for x in r["embedding"]])
            for r in emb.collect()]
    assert len(got) == len(vecs)
    for vid, v in vecs:
        best = max(cents, key=lambda c: (SIM._py_cos6(v, c[1]), -c[0]))
        assert got[vid] == best[0], vid


def test_two_level_assignment_structure_and_paths(spark, sf_dir):
    """Hierarchical (two-level IVF) assignment — the §30 lever:

    - ``two_level_books`` partitions the flat codebook into
      G = ceil(sqrt(k)) groups whose member lists cover every codeword
      exactly once, each seed landing in its own group;
    - the assignment provably DIVERGES from the flat argmax (it is the
      approximate route; identical output would mean the hierarchy is
      dead code) while every assigned cell is a member of the routed
      group — the structural invariant of two-level routing."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k = 32
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec"))
    groups = SIM.two_level_books(cents)
    assert len(groups) == math.isqrt(k - 1) + 1  # ceil(sqrt(32)) = 6
    allmem = sorted(cid for _g, _v, sub in groups for cid, _ in sub)
    assert allmem == list(range(k))              # exact cover
    # each seed codeword (cell_id < G) sits in its own group
    for g in range(len(groups)):
        assert g in [cid for cid, _ in groups[g][2]]

    lit = SIM.ivf_assign_cells_two_level(emb, cents) \
        .select("vec_id", "grp", "cell").collect()

    member_of = {g: {cid for cid, _ in sub} for g, _v, sub in groups}
    for r in lit:
        assert r["cell"] in member_of[r["grp"]]
    flat = {r["vec_id"]: r["cell"]
            for r in SIM.ivf_assign_cells(emb, cents)
            .select("vec_id", "cell").collect()}
    assert any(flat[r["vec_id"]] != r["cell"] for r in lit)


def test_two_level_duplicate_seed_empty_group_excluded(spark):
    """A duplicated seed collapses its group into the earlier one
    (tie → lowest grp), leaving an EMPTY group: it must be excluded
    from routing (no vector may land in it), and the placeholder
    sub-book slot must never surface."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(4)]
    rows[1] = (1, list(rows[0][1]))  # seed 1 duplicates seed 0
    cents = spark.createDataFrame(
        rows, "cell_id long, cell_vec array<double>")
    groups = SIM.two_level_books(cents)  # G = 2; group 1 empty
    assert [len(sub) for _g, _v, sub in groups] == [4, 0]
    emb = spark.createDataFrame(
        [(100 + i, [float((i + j) % 3) for j in range(8)])
         for i in range(12)] + [(200, list(rows[0][1]))],
        "vec_id long, embedding array<double>")
    out = SIM.ivf_assign_cells_two_level(emb, cents).collect()
    assert len(out) == 13
    assert all(r["grp"] == 0 for r in out)
    assert all(r["cell"] in {0, 1, 2, 3} for r in out)


def test_simhash_near_dups_exact_recall(spark, sf_dir):
    """Banding 32 bits into 4 slices is pigeonhole-EXACT for hamming ≤ 3:
    the banded pair set must equal the brute-force pair set, and the
    planted ' zzz' near-copies must appear for long documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").limit(200)
    near = docs.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat("text", F.lit(" zzz")).alias("text"))
    corpus = docs.unionAll(near)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.simhash_near_dups(corpus).collect()}
    fp = D.simhash_fingerprints(corpus)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {(r["id_a"], r["id_b"]): r["h"] for r in
             a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                     .cast("int").alias("h"))
             .filter(F.col("h") <= 3).collect()}
    assert got == brute and len(got) > 0


def test_stratified_hash_sample_rates_and_determinism(spark, sf_dir):
    """Per-stratum rates hold (hash uniformity) and membership is
    reproducible and consistent with the flat hash_sample ranges."""
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 20, "es": 60, "fr": 60, "de": 60}
    out = TA.stratified_hash_sample(docs, rates, default_pct=100)
    got = out.groupBy("lang").count().collect()
    base = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    for r in got:
        pct = rates.get(r["lang"], 100)
        expect = base[r["lang"]] * pct / 100
        assert abs(r["count"] - expect) <= max(6, 0.35 * expect)
    # unlisted stratum keeps everything
    assert {r["lang"]: r["count"] for r in got}["zh"] == base["zh"]
    # same salt => stratified sample ⊇ the flat 10% sample wherever rate ≥ 10
    flat = {r["doc_id"] for r in TA.hash_sample(docs, pct=10)
            .select("doc_id").collect()}
    strat = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert flat <= strat


def test_connected_components_chain_and_islands(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "id_a long, id_b long")
    comp = {r["node"]: r["component"]
            for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark, loop_rounds):
    # a 12-node path needs 11 propagation rounds, and a 12th whose
    # label-sum probe repeats the 11th's: exercises the fixpoint loop,
    # not just the one-hop case. After the edge and label checkpoints,
    # every round is one checkpoint and one probe.
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 12)],
                                  "id_a long, id_b long")
    comp, rounds = loop_rounds(lambda: D.connected_components(pairs),
                               2, "collect")
    assert rounds == 12
    assert {r["node"]: r["component"] for r in comp.collect()} == \
        {i: 1 for i in range(1, 13)}


def test_cc_alternating_matches_label_prop(spark):
    """Property: both algorithms give identical components on a long
    chain (alternating's worst-case motivator), a star, islands, and a
    pseudo-random graph."""
    import random
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    rng = random.Random(7)
    cases = [
        # 16-node path: still O(diameter) label-prop rounds vs O(log)
        # alternating; the LONG-path stress lives in
        # test_cc_alternating_chain_round_count (64 nodes) — here every
        # extra path node costs one more full label-prop round (~0.4 s
        # of suite time each)
        [(i, i + 1) for i in range(1, 16)],
        [(100, j) for j in range(101, 120)],                  # star hub
        [(1, 2), (2, 3), (5, 6), (9, 9)],                     # islands + self
        [(rng.randrange(50), rng.randrange(50)) for _ in range(60)],
    ]

    def union_find(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    for edges in cases:
        want = union_find(edges)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        # label_prop needs O(diameter) rounds — give it enough
        lp = {r["node"]: r["component"]
              for r in D.connected_components(pairs, max_iters=60).collect()}
        alt = {r["node"]: r["component"]
               for r in D.connected_components(
                   pairs, algorithm="alternating").collect()}
        assert lp == want
        assert alt == want


def test_cc_alternating_chain_round_count(spark, loop_rounds):
    """The alternating algorithm must collapse a 64-node path well
    inside max_iters (geometric contraction), where label propagation
    would need ~63 rounds. After the node and edge checkpoints, every
    round is one checkpoint and one fingerprint probe."""
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a long, id_b long")
    comp, rounds = loop_rounds(
        lambda: D.connected_components(pairs, max_iters=10,
                                       algorithm="alternating"),
        2, "collect")
    assert rounds < 10
    assert {r["node"]: r["component"] for r in comp.collect()} == \
        {i: 0 for i in range(65)}


@pytest.mark.parametrize("algorithm,short,enough", [
    ("alternating", 1, 10),
    ("label_prop", 3, 80),
], ids=["alternating", "label_prop"])
def test_cc_warns_when_truncated(spark, algorithm, short, enough):
    """max_iters exhausted before the fixpoint must surface a
    RuntimeWarning (labels may split components) instead of silently
    returning a truncated answer — under either algorithm."""
    import warnings

    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="fixpoint not reached"):
        D.connected_components(pairs, max_iters=short,
                               algorithm=algorithm).collect()
    # converged runs stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        D.connected_components(pairs, max_iters=enough,
                               algorithm=algorithm).collect()


def test_semdedup_clusters_and_canonicals(spark):
    """Two semantic groups (parallel vectors → cosine 1.0) plus one
    singleton: each group collapses to its min id; cross-group cosine
    is far below threshold. Uses 2 cells so groups land in cells."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0, 0.0]),     # parallel to 0
        (3, [0.0, 3.0, 0.0, 0.0]),     # parallel to 1
        (4, [0.70710678, 0.70710678, 0.0, 0.0]),  # 45 deg to both cells
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["canonical_id"], r["is_dup"])
           for r in D.semdedup(emb, n_cells=2, threshold=0.95).collect()}
    assert got[0] == (0, 0)
    assert got[2] == (0, 1)
    assert got[1] == (1, 0)
    assert got[3] == (1, 1)
    assert got[4][1] == 0               # 45 deg: cos ~0.707 < 0.95

    # trained-codebook path: kmeans_fit + kmeans_books centroids give
    # the same canonical structure on this separable corpus
    cents = SIM.kmeans_books(SIM.kmeans_fit(emb, k=2, iters=1))
    trained = {r["vec_id"]: (r["canonical_id"], r["is_dup"])
               for r in D.semdedup(emb, centroids=cents,
                                   threshold=0.95).collect()}
    assert trained == got


def test_remove_duplicated_spans_hand_computed(spark):
    """Two docs share the 4-token prefix 'the quick brown fox' (two
    corpus-duplicated 3-grams starting at tokens 1 and 2, covering
    tokens 1-4); those tokens vanish from both docs, the unique doc is
    untouched, and an all-duplicate doc empties to ''."""
    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a totally unique sentence here"),
        (3, "the quick brown fox runs fast today ok"),
        (4, "the quick brown fox"),
        (5, "the quick brown fox"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in D.remove_duplicated_spans(docs, k=3).collect()}
    assert got[1] == ("jumps over the lazy dog", 9, 4)
    assert got[2] == ("a totally unique sentence here", 5, 0)
    assert got[3] == ("runs fast today ok", 8, 4)
    assert got[4] == ("", 4, 4)
    assert got[5] == ("", 4, 4)


def test_canonical_docs_marks_dups_and_keeps_unpaired(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    docs = spark.createDataFrame([(i, f"d{i}") for i in (1, 2, 3, 4, 5, 6)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "id_a long, id_b long")
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
           for r in D.canonical_docs(docs, pairs).collect()}
    assert out == {1: (1, 0), 2: (1, 1), 3: (1, 1),
                   4: (4, 0), 5: (5, 0), 6: (5, 1)}
    # keeping is_dup == 0 retains exactly one doc per cluster
    kept = [d for d, (_, dup) in out.items() if dup == 0]
    assert sorted(kept) == [1, 4, 5]


def test_random_projection_shape_norms_and_narrow(spark, sf_dir):
    import math
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = SIM.random_projection(emb)
    rows = out.collect()
    n_vecs = emb.count()
    assert len(rows) == 16 * n_vecs
    # JL: squared norms preserved in expectation — check the mean ratio
    # over the corpus is near 1 (individual vectors vary at 16 dims)
    proj_sq = {}
    for r in rows:
        proj_sq[r["vec_id"]] = proj_sq.get(r["vec_id"], 0.0) + r["value"] ** 2
    orig_sq = {r["vec_id"]: sum(float(x) ** 2 for x in r["embedding"])
               for r in emb.collect()}
    ratios = [proj_sq[v] / orig_sq[v] for v in orig_sq if orig_sq[v] > 0]
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.8 < mean_ratio < 1.2, mean_ratio
    # narrow: literal matrix — no keyed shuffle (the only Exchange is
    # widen()'s round-robin input split for single-row-group parquet)
    plan = SIM.random_projection(emb)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_token_freq_histogram_partitions_vocab(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
            .filter(F.length("w") > 0))
    vocab = toks.select("w").distinct().count()
    total = toks.count()
    rows = TA.token_freq_histogram(docs).collect()
    assert sum(r["n_types"] for r in rows) == vocab
    assert sum(r["n_tokens"] for r in rows) == total
    for r in rows:
        # bucket b holds counts in [2^b, 2^(b+1)): totals must fit
        lo, hi = 2 ** r["log2_bucket"], 2 ** (r["log2_bucket"] + 1)
        assert lo * r["n_types"] <= r["n_tokens"] < hi * r["n_types"]


def test_top_tokens_matches_bruteforce(spark, sf_dir):
    from collections import Counter
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    c = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].lower().split(" "):
            if w:
                c[w] += 1
    expect = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = [(r["w"], r["cnt"]) for r in
           TA.top_tokens(docs).orderBy("rank").collect()]
    assert got == expect


def test_rp_ann_self_first_and_bounded(spark, sf_dir):
    from pyspark.sql import functions as F
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    rows = SIM.rp_cosine_topk(emb, q, k=10).collect()
    # projection is a function: the query projects to exactly its own
    # row's projection, so vec 0 is a perfect cosine-1 match
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cosine"] - 1.0) < 1e-6
    assert all(-1.000001 <= r["cosine"] <= 1.000001 for r in rows)
    assert [r["rank"] for r in rows] == list(range(1, 11))


def test_pack_sequences_cumsum_invariants(spark, sf_dir):
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budget = 2048
    rows = TA.pack_sequences(docs, budget=budget).collect()
    assert len(rows) == docs.count()
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r["bucket"], r["doc_id"])):
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert len(by_bucket) > 1          # hash split actually spreads
    for recs in by_bucket.values():
        cum = 0
        for r in recs:                 # replay the greedy fill
            assert r["seq_id"] == cum // budget
            assert r["offset_in_seq"] == cum % budget
            assert 0 <= r["offset_in_seq"] < budget
            cum += r["n_tok"]


def test_chunk_documents_windows_and_coverage(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    words = " ".join(f"w{i}" for i in range(10))   # 10 tokens
    docs = spark.createDataFrame(
        [(1, words), (2, "short doc")], "doc_id long, text string")
    rows = TA.chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
           for r in rows}
    # doc 1: starts 0,3,6 cover w0..w9 with 1-token overlap; last is full
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert got[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert (1, 3) not in got
    # short doc: one (short) chunk
    assert got[(2, 0)] == ("short doc", 2)
    # coverage property: every token of every doc appears in some chunk
    rebuilt = {}
    for (doc, cid), (text, _n) in sorted(got.items()):
        rebuilt.setdefault(doc, set()).update(text.split(" "))
    assert rebuilt[1] == set(words.split(" "))
    with pytest.raises(ValueError):
        TA.chunk_documents(docs, chunk_tokens=4, stride=5)


def test_group_centroids_exact_means(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, 4.0]), (3, [5.0, 6.0])],
        "vec_id long, embedding array<float>")
    labels = spark.createDataFrame([(1, "en"), (2, "en"), (3, "fr")],
                                   "doc_id long, lang string")
    out = {(r["label"], r["d"]): r["centroid"]
           for r in SIM.group_centroids(emb, labels, "lang", "doc_id")
           .collect()}
    assert out[("en", 0)] == 2.0 and out[("en", 1)] == 1.0
    assert out[("fr", 0)] == 5.0 and out[("fr", 1)] == 6.0


def test_pq_encode_self_codes_and_narrow(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = SIM.pq_encode(emb)
    rows = out.collect()
    n = emb.count()
    assert len(rows) == 4 * n
    assert all(0 <= r["code"] < 8 and 0 <= r["segment"] < 4 for r in rows)
    # each codebook vector snaps to itself in every segment (dist 0)
    for r in rows:
        if r["vec_id"] < 8:
            assert r["code"] == r["vec_id"], r
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan     # literal codebook, narrow


def test_pq_adc_query_is_own_best_match(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    rows = SIM.pq_adc_topk(emb, q, k=10).collect()
    # vec 0 IS a codebook vector: its codes point at itself, so its
    # ADC distance is exactly 0 and it ranks first
    assert rows[0]["vec_id"] == 0 and rows[0]["approx_dist"] == 0.0
    dists = [r["approx_dist"] for r in rows]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)
    assert [r["rank"] for r in rows] == list(range(1, 11))


def test_pq_adc_collects_codebooks_once(spark, sf_dir, monkeypatch):
    """Building the ADC query collects the first-``n_codes`` codebooks
    once and hands them to the encoder: one driver collect, not two.
    The spy goes on the classic DataFrame class, whose collect
    overrides the one on ``pyspark.sql.DataFrame``."""
    from pyspark.sql.classic.dataframe import DataFrame

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()["embedding"])
    real_collect = DataFrame.collect
    calls = []
    monkeypatch.setattr(DataFrame, "collect",
                        lambda self: calls.append(self) or real_collect(self))
    SIM.pq_adc_topk(emb, q, k=10)
    assert len(calls) == 1


def test_pq_training_reduces_quantization_error(spark, sf_dir):
    """Lloyd iterations can only shrink (never grow) the summed
    squared-L2 between sub-vectors and their assigned codewords."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def sq_err(books):
        rows = emb.select("vec_id", "embedding").collect()
        total = 0.0
        for r in rows:
            v = [float(x) for x in r["embedding"]]
            for s in range(4):
                sub = v[s * 16:(s + 1) * 16]
                total += min(
                    sum((a - b) ** 2 for a, b in zip(sub, cvec))
                    for _, cvec in books[s])
        return total

    seed = SIM._pq_codebooks(emb, 4, 8, 16, "vec_id", "embedding")
    trained = SIM.pq_train_books(emb, iters=2)
    assert sq_err(trained) < sq_err(seed)
    # encode shape: one code per (vec, segment), codes drawn from the book
    codes = SIM.pq_encode_trained(emb)
    n = emb.count()
    assert codes.count() == n * 4
    assert codes.select("code").distinct().count() <= 8


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe must (a) compute the same cosines, (b) probe a
    superset of the single bucket, so its recall@k vs the exact top-k
    is >= single-probe recall."""
    from text_sentiment_classification_hadoop_spark_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {r["vec_id"] for r in SIM.cosine_topk(emb, q, k=10).collect()}
    single = {r["vec_id"] for r in SIM.ann_lsh_topk(emb, q, k=10).collect()}
    multi = {r["vec_id"] for r in
             SIM.ann_multiprobe_topk(emb, q, k=10).collect()}
    assert len(multi & exact) >= len(single & exact)
    # the probed candidate set strictly contains the single bucket's
    b = emb.select(SIM.sign_lsh_bucket("embedding").alias("bk"),
                   "vec_id")
    qb = SIM.query_bucket(q)
    single_cands = {r["vec_id"] for r in b.filter(F.col("bk") == qb).collect()}
    probes = [qb] + [qb ^ (1 << p) for p in range(8)]
    multi_cands = {r["vec_id"]
                   for r in b.filter(F.col("bk").isin(probes)).collect()}
    assert single_cands <= multi_cands


def test_pps_systematic_sample_properties(spark):
    """PPS invariants on a planted corpus: boundary-crossing count sums
    to k (so |sample| <= k with equality when no weight spans two
    strides), determinism across partitioning widths, and a
    2000x-heavier row is always selected."""
    from text_sentiment_classification_hadoop_spark_spark.operators import text_analysis as TA
    rows = [(i, 1) for i in range(100)] + [(100, 2000)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = TA.pps_systematic_sample(df, k=10, weight_col="n_chars")
    sel = [r["doc_id"] for r in got.collect()]
    assert 100 in sel                      # the heavy row dominates
    assert 0 < len(sel) <= 10
    # partitioning must not change the outcome (distributed prefix sum
    # == the sequential one)
    sel2 = [r["doc_id"] for r in
            TA.pps_systematic_sample(df, k=10, weight_col="n_chars",
                                     n_parts=3).collect()]
    assert sel2 == sel


def test_canonical_docs_best_keeps_highest_score(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 1), (5, 2), (6, 7)],
        "doc_id long, score long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                  "id_a long, id_b long")
    out = {r["doc_id"]: (r["canonical_id"], r["is_dup"])
           for r in D.canonical_docs_best(docs, pairs,
                                          score_col="score").collect()}
    # cluster {1,2,3}: max score 9 tie (2,3) -> lowest id 2;
    # cluster {5,6}: 6 wins; 4 unpaired
    assert out == {1: (2, 1), 2: (2, 0), 3: (2, 1),
                   4: (4, 0), 5: (6, 1), 6: (6, 0)}


def test_dup_kgram_stats_planted(spark):
    """Planted repeats: the shared 3-gram across docs is flagged, a
    unique doc scores 0, short docs get n_kgrams 0."""
    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),      # shares 'alpha beta gamma' w/ 2
         (2, "alpha beta gamma epsilon"),
         (3, "one two three four"),          # all unique
         (4, "hi there")],                   # < 3 tokens
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dup_kgram_stats(docs).collect()}
    assert out[1]["n_kgrams"] == 2 and out[2]["n_kgrams"] == 2
    assert out[1]["dup_positions"] == 1 and out[1]["dup_distinct"] == 1
    assert out[1]["dup_frac"] == 0.5
    assert out[3]["dup_positions"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_kgrams"] == 0 and out[4]["dup_frac"] == 0.0


def test_decontaminate_embeddings_bipartite(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import decontaminate_embeddings
    # train 10+i duplicates test i exactly; train 99 matches nothing
    test = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, 0.0, 2.0]) for i in range(3)],
        "vec_id long, embedding array<double>")
    train_rows = [(10 + i, [float(i + 1), 1.0, 0.0, 2.0]) for i in range(3)]
    train_rows.append((99, [-5.0, 3.0, -2.0, 0.1]))
    train = spark.createDataFrame(
        train_rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["n_matches"], r["max_cosine"])
           for r in decontaminate_embeddings(train, test, threshold=0.99).collect()}
    assert set(got) == {10, 11, 12}
    assert all(v == (1, 1.0) for v in got.values())


def test_winnow_guarantee_shared_run(spark):
    """Winnowing's published guarantee: a shared run of >= w+k-1 tokens
    produces at least one shared fingerprint, even when the run is
    SHIFTED inside an otherwise different document (the case MinHash
    whole-doc Jaccard misses)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_near_dups,
    )
    run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1 (4+3-1)
    docs = spark.createDataFrame([
        (0, f"one two three {run} four five six"),
        (1, f"aa bb cc dd ee ff gg hh {run}"),      # run shifted
        (2, "totally different words nothing shared here at all ok"),
    ], "doc_id long, text string")
    fps = winnow_fingerprints(docs)
    by_doc = {i: {r["fp"] for r in rows} for i, rows in
              ((d, [r for r in fps.collect() if r["doc_id"] == d])
               for d in (0, 1, 2))}
    assert by_doc[0] & by_doc[1], "shifted shared run must share a print"
    assert not (by_doc[0] & by_doc[2])
    pairs = {(r["id_a"], r["id_b"]) for r in
             winnow_near_dups(docs, min_shared=1).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_winnow_short_doc_single_window(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import winnow_fingerprints
    docs = spark.createDataFrame(
        [(0, "just three words"), (1, "hi")], "doc_id long, text string")
    rows = winnow_fingerprints(docs).collect()
    # doc 0: 3 tokens -> one 3-shingle -> m=1 < w -> exactly 1 print;
    # doc 1: < k tokens -> no shingles -> no prints
    assert [r["doc_id"] for r in rows] == [0]


def test_cdc_insertion_robust(spark):
    """The CDC property fixed chunking lacks: inserting tokens near the
    front only re-chunks the neighborhood — downstream chunks keep
    their hashes, so the two versions still share chunks."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import (
        cdc_chunks,
        cdc_shared_chunks,
    )
    base = " ".join(f"w{i}" for i in range(60))
    shifted = "inserted tokens here " + base
    docs = spark.createDataFrame(
        [(0, base), (1, shifted), (2, " ".join(f"q{i}" for i in range(60)))],
        "doc_id long, text string")
    ch = cdc_chunks(docs)
    by_doc = {d: {r["chunk_hash"] for r in ch.collect() if r["doc_id"] == d}
              for d in (0, 1, 2)}
    assert by_doc[0] & by_doc[1], "insertion must preserve later chunks"
    assert not (by_doc[0] & by_doc[2])
    pairs = {(r["id_a"], r["id_b"]) for r in
             cdc_shared_chunks(docs, min_shared=1).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_cdc_chunks_partition_tokens_exactly(spark):
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import cdc_chunks
    text = " ".join(f"tok{i}" for i in range(37))
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = cdc_chunks(docs).collect()
    assert sum(r["n_tokens"] for r in rows) == 37
    idxs = sorted(r["chunk_idx"] for r in rows)
    assert idxs == list(range(len(rows)))  # contiguous chunk ids


def test_mrl_truncation_recall_reasonable(spark, sf_dir):
    """Truncated-prefix search must keep most of the exact top-10 (the
    synthetic embeddings spread information across dims, so prefix
    search is an approximation — assert a sane floor, not perfection)."""
    import __spark_entry__ as entry
    r = entry.queries()["mrl_recall_at10"](spark, sf_dir).collect()[0]
    assert 0.2 <= r["recall_at_10"] <= 1.0


def test_dedup_threshold_sweep_monotone(spark, sf_dir):
    """Raising the threshold can only lose predictions: tp and fp are
    non-increasing in t, fn non-decreasing; exact dups (est 1.0) stay
    tp at every threshold."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import dedup_threshold_sweep
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    rows = dedup_threshold_sweep(docs).collect()
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    tps = [r["tp"] for r in rows]
    fps = [r["fp"] for r in rows]
    fns = [r["fn"] for r in rows]
    assert tps == sorted(tps, reverse=True)
    assert fps == sorted(fps, reverse=True)
    assert fns == sorted(fns)
    assert all(0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
               for r in rows)


def test_sq8_roundtrip_error_bounded(spark):
    """Reconstruction error per component is bounded by half a
    quantization step: |x - x̂| <= (mx-mn)/255/2 (+ float eps)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        sq8_bounds,
        sq8_dequantize,
        sq8_encode,
    )
    emb = spark.createDataFrame(
        [(i, [float(i), -2.0 + i * 0.5, 7.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    bounds = sq8_bounds(emb)
    assert bounds[2] == (7.0, 7.0)  # constant dim -> degenerate range
    codes = {(r["vec_id"], r["d"]): r["code"]
             for r in sq8_encode(emb, bounds).collect()}
    assert all(0 <= c <= 255 for c in codes.values())
    assert codes[(0, 0)] == 0 and codes[(5, 0)] == 255  # extremes hit ends
    recon = {r["vec_id"]: r["embedding"]
             for r in sq8_dequantize(emb, bounds).collect()}
    for i in range(6):
        orig = [float(i), -2.0 + i * 0.5, 7.0]
        for d in range(3):
            mn, mx = bounds[d]
            step = (mx - mn) / 255.0 if mx > mn else 0.0
            assert abs(recon[i][d] - orig[d]) <= step / 2 + 1e-9


def test_winnow_matches_python_reference(spark):
    """Distributed winnowing equals the direct single-node computation
    of the same definition (k-shingle md5-hashes, w-window minima,
    value-set distinct)."""
    import hashlib

    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import winnow_fingerprints

    def py_winnow(text, k=3, w=4):
        toks = text.split(" ")
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
              for g in grams]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    texts = ["the quick brown fox jumps over the lazy dog today",
             "a b", "one two three", "x " * 20 + "y"]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, t in enumerate(texts):
        want = py_winnow(t.strip())
        assert got.get(i, set()) == want, f"doc {i}"


def test_kmeans_quality_partitions_and_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import kmeans_quality
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = kmeans_quality(emb, k=4, iters=1)
    rows = q.collect()
    total = emb.count()
    assert sum(r["n_members"] for r in rows) == total  # exact partition
    for r in rows:
        # mean assigned cosine within [-1, 1] in micro units
        assert -1_000_000 * r["n_members"] <= r["sum_cos_micro"] \
            <= 1_000_000 * r["n_members"]


def test_knn_graph_neighbors_are_cell_exact(spark, sf_dir):
    """Within each vector's cell the graph's neighbors are the true
    top-k by cosine — verified against a brute-force per-cell scan."""
    import numpy as np
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        ivf_assign_cells,
        knn_graph,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = knn_graph(emb, k=3, n_cells=4).collect()
    seeds = (emb.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").cast("long").alias("cell_id"),
                     F.col("embedding").alias("cell_vec")))
    assign = {r["vec_id"]: r["cell"] for r in
              ivf_assign_cells(emb, seeds).collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    import collections
    got = collections.defaultdict(list)
    for r in out:
        got[r["src"]].append((r["rank"], r["dst"], r["cosine"]))
    import math
    for src in list(got)[:40]:
        cell = assign[src]
        cands = [v for v in vecs if v != src and assign[v] == cell]
        scored = sorted(
            ((math.floor(
                float(vecs[src] @ vecs[c]
                      / (np.linalg.norm(vecs[src]) * np.linalg.norm(vecs[c])))
                * 1e6 + 0.5) / 1e6, c) for c in cands),
            key=lambda t: (-t[0], t[1]))
        want = [(i + 1, c, s) for i, (s, c) in enumerate(scored[:3])]
        have = sorted(got[src])
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in want]
        for (_, _, ca), (_, _, cb) in zip(have, want):
            assert abs(ca - cb) < 2e-6


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """More probes can only find more of the exact top-10."""
    import __spark_entry__ as entry
    rows = entry.queries()["ivf_probe_sweep"](spark, sf_dir) \
        .orderBy("n_probe").collect()
    rec = [r["recall_at_10"] for r in rows]
    assert len(rec) == 4
    assert all(0.0 <= r <= 1.0 for r in rec)
    assert rec == sorted(rec)          # monotone non-decreasing
    assert rec[-1] >= rec[0]


def test_bitext_mine_mutual_best_alignment(spark):
    """Bitext mining: the output must be a partial MATCHING (each src
    and each tgt appears at most once), every pair must be each side's
    best threshold-passing candidate, and same-language pairs must
    never appear. Verified against a brute-force mutual-best on a
    hand-built corpus where LSH recall is a non-issue (identical /
    near-identical vectors land in the same bucket by construction)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import bitext_mine

    base = [1.0] + [0.0] * 63
    tilt = [0.98, 0.199] + [0.0] * 62   # cos vs base ≈ 0.98
    anti = [-1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(1, base), (2, tilt), (3, anti),         # en
         (11, base), (12, tilt), (13, anti)],     # de
        "vec_id long, embedding array<float>")
    langs = spark.createDataFrame(
        [(i, "en") for i in (1, 2, 3)] + [(i, "de") for i in (11, 12, 13)],
        "doc_id long, lang string")
    got = {(r["src_id"], r["tgt_id"]) for r in
           bitext_mine(emb, langs, threshold=0.5).collect()}
    # 1↔11 and 2↔12 are mutual bests (cos 1.0 beats the ~0.98 cross
    # pairing); 3↔13 mutual best among anti vectors; nothing cross-tier
    assert got == {(1, 11), (2, 12), (3, 13)}
    srcs = [s for s, _ in got]
    tgts = [t for _, t in got]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))


def test_label_silhouette_planted_structure(spark):
    """Two well-separated labels + one planted mislabel: the mislabeled
    vector must be the only confused one, and margins must be positive
    for clean labels."""
    import math

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import label_silhouette
    rows = []
    for i in range(8):   # label 0: along +x (unit-ish)
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    for i in range(8):   # label 1: along +y
        rows.append((100 + i, [0.01 * i, 1.0, 0.0, 0.0], 1))
    rows.append((999, [1.0, 0.0, 0.0, 0.0], 1))  # mislabeled: points +x
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in label_silhouette(emb).collect()}
    assert got[0]["n_confused"] == 0
    assert got[1]["n_confused"] == 1
    assert got[0]["mean_margin"] > 0
    assert math.isfinite(got[1]["mean_margin"])


def test_label_silhouette_single_label_empty(spark):
    """Degenerate single-label corpus: no foreign centroid exists, so
    the report is EMPTY (matches the oracle's inner join), not a row
    of NULL aggregates."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import label_silhouette
    emb = spark.createDataFrame(
        [(i, [1.0, float(i), 0.0, 0.0], 7) for i in range(5)],
        "vec_id long, embedding array<float>, label int")
    assert label_silhouette(emb).count() == 0


def test_embedding_outliers_planted(spark):
    """A planted far-from-centroid vector must rank as its label's #1
    outlier, and ranks must be 1..k with non-decreasing own-cosine."""
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import embedding_outliers
    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0], 0) for i in range(8)]
    rows.append((999, [-1.0, 0.0, 0.0, 0.0], 0))  # antipodal outlier
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = embedding_outliers(emb, k=3).collect()
    assert [r["rnk"] for r in got] == [1, 2, 3]
    assert got[0]["vec_id"] == 999
    assert got[0]["own_cos"] <= got[1]["own_cos"] <= got[2]["own_cos"]


def test_source_overlap_counts_shared_prefixes(spark):
    """Two sources sharing exactly one 80-char prefix produce one
    symmetric pair row (a < b) with count 1; a third disjoint source
    contributes nothing."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import source_overlap
    shared = "x" * 100
    docs = spark.createDataFrame(
        [(1, shared + "tailA", "en", "web", 105),
         (2, shared + "tailB", "en", "books", 105),
         (3, "y" * 100, "en", "code", 100)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = source_overlap(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["source_a"], r["source_b"]) == ("books", "web")
    assert r["shared_fingerprints"] == 1


def test_pca_power_finds_dominant_axis(spark):
    """Anisotropic cloud: variance 100x larger along a known oblique
    direction — the power iteration's max-normalized loading vector
    must align with numpy's top eigenvector of the same centered
    integer-micro scatter matrix (cosine > 0.999), with the dominant
    component pinned at ±1e6 by construction."""
    import math
    import random

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        pca_power_top_component)
    rng = random.Random(11)
    axis = [0.6, 0.8, 0.0, 0.0]
    rows = []
    for i in range(300):
        t = rng.gauss(0, 10.0)
        noise = [rng.gauss(0, 0.5) for _ in range(4)]
        vec = [t * a + e + 3.0 for a, e in zip(axis, noise)]
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["d"]: r["loading_micro"]
           for r in pca_power_top_component(emb, iters=12).collect()}
    v = [got[d] for d in range(4)]
    assert max(abs(x) for x in v) == 1_000_000
    dot = sum(a * b for a, b in zip(axis, v))
    cos = abs(dot) / (math.sqrt(sum(a * a for a in axis))
                      * math.sqrt(sum(b * b for b in v)))
    assert cos > 0.999, (cos, v)


def test_pca_power_matches_exact_python_power_iteration(spark):
    """The per-partition partial Grams (mapInPandas + exact DECIMAL
    reduce) over 7 partitions give the same loadings as an exact
    pure-Python Gram and integer power iteration over the same
    micro-quantized rows."""
    import random

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import (
        pca_power_top_component)
    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(200)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(7)
    got = sorted((r["d"], r["loading_micro"]) for r in
                 pca_power_top_component(emb, iters=6).collect())

    # the float32 values Spark stores, quantized to integer micro-units
    xu = [[math.floor(float(x) * 1000000.0 + 0.5) for x in r["embedding"]]
          for r in emb.collect()]
    n, dims = len(xu), 6
    su = [sum(row[i] for row in xu) for i in range(dims)]
    gram = [[sum(row[i] * row[j] for row in xu) for j in range(dims)]
            for i in range(dims)]
    c = [[n * gram[i][j] - su[i] * su[j] for j in range(dims)]
         for i in range(dims)]
    v = [1_000_000] * dims
    for _ in range(6):
        w = [sum(c[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        m = max(abs(x) for x in w)
        v = [(-1 if x < 0 else 1) * (abs(x) * 1_000_000 // m) for x in w]
    assert got == list(enumerate(v))


@pytest.mark.parametrize("fn", ["kmeans_fit", "pq_train_books", "pq_encode",
                                "pca_power_top_component"])
def test_empty_embeddings_raise_named_value_error(spark, fn):
    """An empty embeddings frame fails with one ValueError naming the
    function, not an IndexError or an analyzer error on a VOID array."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match=fn):
        getattr(SIM, fn)(emb)


def test_jaccard_prefix_pairs_matches_brute_force(spark):
    """Prefix filtering is LOSSLESS: the pruned join must return
    exactly the pairs a brute-force all-pairs sweep finds — planted
    near-dup (one-word edit), exact dup, and unrelated docs."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import jaccard_prefix_pairs

    texts = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "the quick brown fox jumps over the lazy cat tonight",  # near-dup of 1
        3: "completely different words about spark shuffles and plans",
        4: "the quick brown fox jumps over the lazy dog tonight",  # exact dup of 1
        5: "one two",  # minimal doc: a single bigram shingle
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["n_common"]
           for r in jaccard_prefix_pairs(docs, tau_micro=500_000).collect()}

    def shingle_set(t):
        w = t.split(" ")
        return {f"{a} {b}" for a, b in zip(w, w[1:])}

    expect = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = shingle_set(texts[a]), shingle_set(texts[b])
            inter = len(sa & sb)
            union = len(sa | sb)
            if union and inter * 2 >= union:  # tau = 0.5
                expect[(a, b)] = inter
    assert got == expect and (1, 4) in got and (1, 2) in got
    assert all(k[0] != 3 and k[1] != 3 for k in got)


def test_neardup_cluster_sizes_consistent_with_assignment(spark, sf_dir):
    """The size census must tie out against the canonical assignment:
    Σ(n_clusters·cluster_size) = n_docs column = docs in non-singleton
    clusters, and every cluster size is >= 2."""
    import collections

    import __spark_entry__ as em
    census = em.queries()["neardup_cluster_sizes"](spark, sf_dir).collect()
    assign = em.queries()["dedup_canonical"](spark, sf_dir).collect()
    sizes = collections.Counter(r["canonical_id"] for r in assign)
    expect = collections.Counter(s for s in sizes.values() if s >= 2)
    got = {r["cluster_size"]: r["n_clusters"] for r in census}
    assert got == dict(expect)
    for r in census:
        assert r["cluster_size"] >= 2
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


# ---------------------------------------------- bloom decontamination

def test_bloom_decontaminate_no_false_negatives(spark, sf_dir):
    """Every doc the exact k=8 decontaminate finds must be flagged by
    the bloom path with the SAME exact n_shared and false_pos=False —
    the Bloom no-false-negative guarantee, checked on real documents."""
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    is_test = (F.col("doc_id") % 8).isin(0, 5)
    train, test = docs.filter(~is_test), docs.filter(is_test)
    exact = {r["doc_id"]: r["n_shared"]
             for r in D.decontaminate(train, test, k=8).collect()}
    got = {r["doc_id"]: (r["n_shared"], r["false_pos"])
           for r in D.bloom_decontaminate(train, test).collect()}
    assert exact, "fixture data must contain 8-gram contamination"
    for doc, n in exact.items():
        assert doc in got, f"false negative: {doc}"
        assert got[doc] == (n, False)
    # any extra flagged doc is a bona-fide false positive: zero shared
    for doc, (n, fp) in got.items():
        if doc not in exact:
            assert n == 0 and fp is True


def test_bloom_decontaminate_tiny_filter_fp_accounting(spark):
    """A deliberately saturated 2^7-bit bloom must still never drop a
    true hit; everything else it flags must carry false_pos=True."""
    train = spark.createDataFrame(
        [(1, "a b c d e f g h i"),        # shares the 8-gram a..h
         (2, "q r s t u v w x y z"),      # clean
         (3, "j k l m n o p q r")],       # clean
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "a b c d e f g h zz")], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_shared"], r["false_pos"]) for r in
           D.bloom_decontaminate(train, test, m_bits=1 << 7).collect()}
    assert out[1] == (1, False)
    for doc in (2, 3):
        if doc in out:  # saturation may or may not flag the clean docs
            assert out[doc] == (0, True)


def test_bloom_decontaminate_probe_is_broadcast(spark, sf_dir):
    """The corpus-side probe joins a BROADCAST word table — no
    shuffle of train shingles before the bitmap cut."""
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    docs = load_table(spark, "documents", sf_dir)
    is_test = (F.col("doc_id") % 8).isin(0, 5)
    out = D.bloom_decontaminate(docs.filter(~is_test),
                                docs.filter(is_test))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_containment_pairs_detects_quote_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    from the short side is exactly 1.0 while Jaccard is diluted below
    any sane near-dup threshold — the asymmetric detector's reason to
    exist. Sizes/ratios are exact integers over the k=5 universe."""
    quote = "alpha beta gamma delta epsilon zeta eta"          # 3 5-grams
    filler = " ".join(f"w{i}" for i in range(60))
    train = spark.createDataFrame(
        [(1, quote),
         (2, f"{filler} {quote}"),
         (3, "completely unrelated text " + " ".join(
             f"x{i}" for i in range(30)))],
        "doc_id long, text string")
    rows = D.containment_pairs(train, threshold_micro=900_000).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["n_shared"] == r["size_a"] == 3      # all of doc 1's 5-grams
    assert r["cont_a_micro"] == 1_000_000         # fully contained
    # Jaccard would be 3 / size_b — far below 0.5
    assert r["cont_b_micro"] < 100_000


def test_containment_pairs_df_guard_drops_boilerplate(spark):
    """A 5-gram shared by more than max_df docs is excluded from BOTH
    the shared counts and the sizes (self-consistent universe): with
    max_df=2 a 3-way boilerplate shingle cannot create pairs."""
    boiler = "one two three four five"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique{i} tail{i} only{i} here{i}")
         for i in range(1, 4)],
        "doc_id long, text string")
    assert D.containment_pairs(docs, max_df=2, min_shared=1).count() == 0
    # raising the guard re-admits the shingle: 3 pairs, each sharing it
    got = D.containment_pairs(docs, max_df=3, min_shared=1,
                              threshold_micro=100_000).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2), (1, 3), (2, 3)}
