"""Deduplication operators for training-data pipelines (north star,
SURVEY.md §2.11): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

All hashing goes through the portable md5-derived 60-bit hash
(``functions.hashing``) so every operator here is bit-checkable against
the DuckDB oracle.

Scale design (100 TB):
- exact dedup = one hash-aggregate on a digest column (shuffle keyed on
  the digest — uniform by construction, no skew);
- MinHash-LSH = per-row signature (narrow), explode to (band, bucket)
  keys, self-join only within buckets — candidate pairs are
  O(collisions), never the O(n²) cross join;
- SimHash = per-row 32-bit fingerprint (narrow); near-dup = band join
  on fingerprint prefixes or hamming check on candidates;
- n-gram Jaccard is only ever computed on LSH candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_PRIME,
    _coeffs,
    portable_hash64,
    shingles_expr,
)
from ..functions.rounding import pround
from ..session import widen
from .graph import until_stable

DEFAULT_NUM_PERM = 16
DEFAULT_BANDS = 4  # 16 perms / 4 bands = 4 rows per band


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: keeps the minimum id per distinct
    text → ``(text_hash, keeper_id, dup_count)``. Works on the digest
    (fixed 32 bytes) rather than the full text so the shuffle carries
    digests, not documents."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perm: int = DEFAULT_NUM_PERM) -> DataFrame:
    """Per-doc MinHash signature over word k-shingles →
    ``(doc_id, sig array<bigint>)``.

    Shape: explode shingles → one md5 per shingle → hash-aggregate of
    the 16 per-permutation mins, keyed on doc_id. The per-permutation
    mins are algebraic, so Spark computes them map-side (partial
    aggregation) and the exchange carries only 16 longs per (doc,
    partition) — at 100 TB the shuffle is signature-sized, not
    corpus-sized. This beats the pure-expression form (a 16-transform
    tree over a hash array), which serializes on however few input
    splits the scan produced and re-evaluates the hash array per
    permutation when CSE doesn't collapse it."""
    base = widen(df.select(F.col(id_col), F.col(text_col)))
    exploded = base.select(
        F.col(id_col),
        F.explode_outer(shingles_expr(F.col(text_col), k=k)).alias("sh"),
    )
    h = exploded.select(F.col(id_col), portable_hash64(F.col("sh")).alias("h"))
    p = MINHASH_PRIME
    aggs = []
    for i in range(num_perm):
        a, b = _coeffs(i)
        aggs.append(
            F.coalesce(
                F.min((F.lit(a) * (F.col("h") % p) + F.lit(b)) % p),
                F.lit(p).cast("long"),
            ).alias(f"_mh{i}")
        )
    per_doc = h.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        F.col(id_col),
        F.array(*[F.col(f"_mh{i}") for i in range(num_perm)]).alias("sig"),
    )


def band_signatures(sigs: DataFrame, id_col: str = "doc_id",
                    num_perm: int = DEFAULT_NUM_PERM,
                    bands: int = DEFAULT_BANDS) -> DataFrame:
    """LSH banding of a signature table → ``(id, band, bucket)`` where
    ``bucket`` is the md5 of the band's signature rows. Pure narrow
    expression (works on batch AND streaming frames — the banding step
    of :func:`lsh_candidate_pairs` and the at-ingest candidate lookup
    ``streaming.pipeline.neardup_candidates_stream`` share it)."""
    rows_per_band = num_perm // bands
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(F.concat_ws(",", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)))
                    .alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id",
                        num_perm: int = DEFAULT_NUM_PERM,
                        bands: int = DEFAULT_BANDS) -> DataFrame:
    """Band the signatures and self-join on (band, band-hash) →
    candidate pairs ``(id_a, id_b)`` with ``id_a < id_b``, distinct.

    The join key is (band_idx, md5 of the band's rows) — collisions are
    real near-dup candidates, so join fan-out is data-dependent, not
    quadratic. At scale: the banded table is the only shuffle, keyed on
    the band hash (uniform)."""
    banded = band_signatures(sigs, id_col, num_perm, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_perm: int = DEFAULT_NUM_PERM,
                      bands: int = DEFAULT_BANDS,
                      threshold: float = 0.5,
                      sigs: DataFrame | None = None) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → estimated
    Jaccard (signature agreement) filter ≥ threshold →
    ``(id_a, id_b, est_jaccard)``. Pass precomputed ``sigs`` to share
    one signature materialization across several consumers."""
    # signatures feed three consumers (banding + both sides of the
    # verify join): materialize once — signature tables are tiny
    # (num_perm longs per doc) relative to the corpus they summarize.
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, k, num_perm) \
            .localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs, id_col, num_perm, bands)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                             lambda v: v))
             / F.lit(num_perm)).alias("est_jaccard"),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def dedup_threshold_sweep(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          thresholds: tuple[float, ...] =
                          (0.5, 0.6, 0.7, 0.8, 0.9)) -> DataFrame:
    """Threshold-sweep evaluation of the MinHash near-dup pipeline
    against exact-duplicate ground truth → ``(threshold, tp, fp, fn,
    precision, recall)`` per threshold — the measure-don't-guess
    harness for picking a production cut-off.

    Ground truth: pairs with byte-identical text (md5 equi-join, the
    exact-dedup digests). Predictions: the FULL pipeline at each
    threshold — including LSH banding, so a true pair the bands never
    propose counts as a miss (fn), which is what an operator tuning
    recall actually needs to see. One pass: candidates with est values
    are computed once (threshold 0), fused full-outer with truth, then
    a constant-size threshold explode feeds a single aggregation —
    per-threshold cost is a counter, not a pipeline re-run."""
    est = minhash_near_dups(df, text_col=text_col, id_col=id_col,
                            threshold=0.0)
    digest = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("h"))
    truth = (
        digest.alias("x").join(digest.alias("y"), "h")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
                F.lit(True).alias("is_true"))
    )
    fused = (
        est.join(truth, ["id_a", "id_b"], "full_outer")
        .select(F.coalesce(F.col("est_jaccard"), F.lit(-1.0)).alias("e"),
                F.coalesce(F.col("is_true"), F.lit(False)).alias("t"))
    )
    th = F.explode(F.array(*[F.lit(float(t)) for t in thresholds]))
    sweep = fused.select("e", "t", th.alias("threshold"))
    pred = F.col("e") >= F.col("threshold")
    agg = sweep.groupBy("threshold").agg(
        F.sum((pred & F.col("t")).cast("long")).alias("tp"),
        F.sum((pred & ~F.col("t")).cast("long")).alias("fp"),
        F.sum((~pred & F.col("t")).cast("long")).alias("fn"))
    return agg.select(
        "threshold", "tp", "fp", "fn",
        pround(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)),
               6).alias("precision"),
        pround(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)),
               6).alias("recall"),
    ).orderBy("threshold")


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 3) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs:
    |A∩B| / |A∪B| over distinct word k-shingles →
    ``(id_a, id_b, jaccard)``. Shingle sets travel as arrays; the
    set algebra is native (array_intersect/union) — no UDF."""
    sh = df.select(F.col(id_col),
                   F.array_distinct(shingles_expr(F.col(text_col), k)).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.when(F.size(F.array_union("sh_a", "sh_b")) > 0,
                   F.size(F.array_intersect("sh_a", "sh_b"))
                   / F.size(F.array_union("sh_a", "sh_b")))
            .otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-doc SimHash fingerprint → ``(doc_id, simhash)``.

    Explode → one hash per token → per-doc aggregate of the ``bits``
    bit-sums, then the majority-vote recombination. Same shape as
    :func:`minhash_signatures` and for the same reason: one md5 per
    token guaranteed (the expression form re-evaluates the hash array
    per bit when CSE doesn't collapse it) and map-side partial
    aggregation keeps the shuffle fingerprint-sized."""
    base = widen(df.select(F.col(id_col), F.col(text_col)))
    toks = base.select(F.col(id_col),
                       F.explode(F.split(F.col(text_col), " ")).alias("_t"))
    h = toks.select(F.col(id_col), portable_hash64(F.col("_t")).alias("h"))
    aggs = [F.count(F.lit(1)).alias("_total")]
    for b in range(bits):
        aggs.append(F.sum(F.shiftright(F.col("h"), b) % 2).alias(f"_ones{b}"))
    per_doc = h.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for b in range(bits):
        acc = acc + F.when((2 * F.col(f"_ones{b}")) >= F.col("_total"),
                           F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return per_doc.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 32,
                      bands: int = 4, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs → ``(id_a, id_b, hamming)`` with hamming
    distance ≤ ``max_hamming``.

    Candidates by banding the fingerprint into ``bands`` equal bit
    slices and equi-joining on (band, slice): by pigeonhole, any pair
    within hamming ≤ bands−1 shares at least one identical band, so
    recall is EXACT for ``max_hamming ≤ bands−1`` (unlike MinHash
    banding's probabilistic recall). Verification is one
    ``bit_count(xor)`` per candidate — integer ops, no array math.
    Same scale shape as the MinHash path: the only join key is
    (band, slice), never all-pairs; at 100 TB add bands (16 bits × 4
    bands for 64-bit fingerprints) to keep slice-collision fan-out
    bounded."""
    assert bits % bands == 0
    slice_bits = bits // bands
    mask = (1 << slice_bits) - 1
    fp = simhash_fingerprints(df, text_col, id_col, bits)
    banded = fp.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), b * slice_bits)
            .bitwiseAND(F.lit(mask)).cast("long")
            for b in range(bands)
        ])).alias("band", "slice"))
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("sh_a"), "band", "slice")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("sh_b"), "band", "slice")
    return (
        a.join(b, ["band", "slice"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                .cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(pairs: DataFrame, max_iters: int = 25,
                         algorithm: str = "label_prop") -> DataFrame:
    """Connected components over a near-dup pair graph →
    ``(node, component)`` where ``component`` is the smallest id
    reachable from ``node``. Graph-generic: any ``(id_a, id_b)`` edge
    list works (the co-purchase and entity-resolution queries use it).

    ``algorithm="label_prop"`` (default): min-label propagation. Each
    round is one shuffle: propagate every node's current label across
    the (symmetrized, checkpointed) edge list, then take the min per
    node — ``groupBy(node).min`` partial-aggregates map-side, so a hub
    node duplicated a million times is absorbed before the exchange.
    Convergence in O(cluster diameter) rounds; near-dup clusters are
    shallow (a handful of mutually-similar docs), so this terminates in
    2-4 rounds in practice. The probe is the label sum, strictly
    decreasing until the fixpoint. A deep graph (long chains, giant
    components) pays one round per hop of diameter: use
    ``algorithm="alternating"`` there.

    ``algorithm="alternating"``: the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log² n) rounds worst-case and per-round cost bounded
    by the CURRENT edge set, which contracts geometrically. The scale
    path for adversarial graphs (long chains, giant components) where
    label propagation needs O(diameter) full-edge-list rounds. Both
    star operations are min-aggregations + an equi-join on node id —
    no collect_list, no driver adjacency; skewed hubs partial-aggregate
    map-side exactly like label_prop's min. The probe is a fingerprint
    of the edge set (count + sums, fixed at the star-forest fixpoint).

    Both run through :func:`..graph.until_stable`: per round one step,
    one eager ``localCheckpoint`` and one scalar probe, stopping when
    the probe repeats. ``max_iters`` rounds without a fixpoint raise a
    ``RuntimeWarning`` (the labels may split components).
    """
    if algorithm == "alternating":
        return _cc_alternating(pairs, max_iters)
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"),
                            F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    # self-loops folded into the edge list ONCE so each round is a
    # SINGLE join + min-aggregate (label'(v) = min over N(v) ∪ {v})
    # (lazy: a narrow union over the two checkpointed frames — no
    # second edge-list materialization)
    edges = edges.union(labels.select(F.col("node").alias("src"),
                                      F.col("node").alias("dst")))

    def step(labels: DataFrame, _r: int) -> DataFrame:
        # USING-keyed join: dodges the ambiguous-self-join check
        return (edges.join(labels.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"), F.col("label"))
                .groupBy("node").agg(F.min("label").alias("label")))

    labels, converged = until_stable(
        labels, step, lambda s: s.agg(F.sum("label")).collect()[0][0],
        max_iters)
    if not converged:
        _warn_cc_truncated("label_prop", max_iters)
    return labels.select("node", F.col("label").alias("component"))


def _warn_cc_truncated(algorithm: str, max_iters: int) -> None:
    """A truncated CC run can emit labels that are NOT component minima
    (split components): surface it instead of returning silently."""
    import warnings
    warnings.warn(
        f"connected_components(algorithm={algorithm!r}): fixpoint not "
        f"reached within max_iters={max_iters}; component labels may be "
        "split. Raise max_iters.", RuntimeWarning, stacklevel=3)


def _cc_alternating(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14).

    large-star(E): per node u over the symmetrized neighborhood,
    ``m = min(Γ(u) ∪ {u})``; rewire every STRICTLY LARGER neighbor to m.
    small-star(E): direct edges large→small, ``m = min(Γ(u) ∪ {u})``;
    rewire u and all its (smaller) neighbors to m.

    Both are one min-aggregation + one equi-join on u — shuffle keys
    are node ids, partial aggregation absorbs hub skew map-side. At the
    fixpoint E is a star forest: every node points at its component's
    minimum."""
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def step(edges: DataFrame, _r: int) -> DataFrame:
        # large-star over the symmetric neighborhood
        sym = edges.union(edges.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("_mn"))
                .select("u", F.least(F.col("u"), F.col("_mn")).alias("m")))
        edges = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the large→small orientation
        dir_e = edges.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v")).distinct()
        mins = (dir_e.groupBy("u").agg(F.min("v").alias("m")))
        return (
            dir_e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def fingerprint(e: DataFrame) -> tuple:
        return tuple(e.agg(F.count(F.lit(1)), F.sum("u"), F.sum("v"),
                           F.sum(F.hash("u", "v").cast("long"))
                           ).collect()[0])

    edges, converged = until_stable(edges, step, fingerprint, max_iters)
    if not converged:
        _warn_cc_truncated("alternating", max_iters)
    # fixpoint edge set is (node → component-min) for every non-root;
    # the min-agg is a no-op on a converged star forest and a safe
    # collapse if max_iters cut the loop short of the fixpoint
    star = edges.groupBy("u").agg(F.min("v").alias("v"))
    return (
        nodes.join(star, nodes["node"] == star["u"], "left")
        .select("node",
                F.coalesce(F.col("v"), F.col("node")).alias("component"))
    )


def canonical_docs(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   cc_algorithm: str = "label_prop") -> DataFrame:
    """Fuzzy-dedup resolution — the step after LSH: collapse near-dup
    pairs into clusters and elect the minimum id as each cluster's
    canonical representative → ``(doc_id, canonical_id, is_dup)`` for
    EVERY input doc (unpaired docs are their own canonical). Callers
    keep the corpus with ``filter(is_dup == 0)``.

    One broadcast-or-shuffle left join against the component table,
    which holds only paired docs — at 100 TB the component table is
    |near-dup docs|, typically orders of magnitude smaller than the
    corpus."""
    comp = connected_components(pairs, algorithm=cc_algorithm)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
            (F.coalesce(F.col("component"), F.col(id_col)) != F.col(id_col))
            .cast("int").alias("is_dup"),
        )
    )


def canonical_docs_best(df: DataFrame, pairs: DataFrame,
                        score_col: str, id_col: str = "doc_id") -> DataFrame:
    """Keep-BEST dedup resolution: like :func:`canonical_docs`, but each
    cluster's canonical representative is its highest-``score_col``
    member (ties → lowest id) instead of the minimum id →
    ``(doc_id, canonical_id, is_dup)``. This is what production
    pipelines actually keep — the longest / highest-quality duplicate,
    not the accidental id-min.

    Shape: the component table (|near-dup docs|, small) joins the
    scores once; the per-cluster argmax is a ``min_by`` on
    ``(-score, id)`` struct ordering — one aggregation over the
    component table, never the corpus; the corpus sees the same single
    left join as the keep-first form."""
    comp = connected_components(pairs)
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s")),
        "node")
    best = (scored.groupBy("component")
            .agg(F.min(F.struct((-F.col("_s")).alias("s"),
                                F.col("node").alias("n"))).alias("b"))
            .select("component", F.col("b.n").alias("best_id")))
    resolved = comp.join(best, "component").select("node", "best_id")
    return (
        df.select(F.col(id_col))
        .join(resolved, df[id_col] == resolved["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("best_id"), F.col(id_col)).alias("canonical_id"),
            (F.coalesce(F.col("best_id"), F.col(id_col)) != F.col(id_col))
            .cast("int").alias("is_dup"),
        )
    )


def decontaminate(train: DataFrame, test: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """Train/test decontamination — the canonical pre-training hygiene
    op: find train documents sharing at least one word ``k``-shingle
    with ANY test document → ``(doc_id, n_shared)`` (distinct shared
    shingles per contaminated train doc).

    Shape: explode distinct shingles on both sides, hash each shingle
    to the portable 60-bit integer so the equi-join (the only shuffle)
    carries 8-byte keys instead of shingle strings, then count distinct
    shared shingles per train doc. At 100 TB the test side is typically
    small enough to broadcast; here it flows through the same hash
    shuffle — either plan is O(shingles), never O(train × test).
    Callers drop contaminated ids with a left-anti join against this
    result."""
    def _sh(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_expr(F.col(text_col), k=k)))
            .alias("_sh"),
        ).select(F.col(id_col), portable_hash64(F.col("_sh")).alias("shash"))

    test_hashes = _sh(test).select("shash").distinct()
    return (
        _sh(train)
        .join(test_hashes, "shash")
        .groupBy(id_col)
        .agg(F.countDistinct("shash").alias("n_shared"))
        .orderBy(id_col)
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 5,
                      threshold_micro: int = 500_000,
                      max_df: int = 64,
                      min_shared: int = 2) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join — the quote / sub-document
    duplication detector Jaccard misses: C(a→b) = |S(a)∩S(b)| / |S(a)|
    over distinct word ``k``-shingles, so a short document fully
    embedded in a long one scores 1.0 where Jaccard is diluted to
    |short|/|long| (Broder 1997 separates "resemblance" from
    "containment" for exactly this). → ``(id_a, id_b, n_shared,
    size_a, size_b, cont_a_micro, cont_b_micro)``, pairs oriented
    ``id_a < id_b``, kept when EITHER direction ≥ ``threshold_micro``;
    containments are exact integer micro-units
    ``(n_shared·10^6) div size``.

    Shingle universe: fingerprints occurring in more than ``max_df``
    documents (boilerplate) are dropped FIRST, and both the shared
    counts and the per-doc sizes are computed over this filtered
    universe — self-consistent (a fully-contained doc still scores
    exactly 1.0), and the guard bounds the pair fan-out per
    fingerprint at ``max_df²`` (the winnow skew-guard pattern,
    :func:`winnow_near_dups`).

    Shape: GROUPED-POSTING pair emission instead of a
    fingerprint self-join. A map-side-combinable COUNT aggregate drops
    hot fingerprints (df > ``max_df``) via a semi-join BEFORE any
    posting array is materialized — no aggregation buffer ever holds
    more than ``max_df`` ids, even for a boilerplate shingle present in
    millions of docs. One groupBy (reusing the semi-join's shash
    partitioning) then collects each kept fingerprint's sorted posting
    array; the C(df,2) co-occurrence pairs are emitted
    NARROWLY from that array by a JVM nested-transform (already
    ``id_a < id_b`` by the sort), then one pair-keyed count. vs the
    old a×b equi-join this removes a full posting-table shuffle (the
    join's second side) and the join build — the shuffled volumes
    are now 1× postings (grouping) + 1× postings (sizes) + 1× pairs
    (the exact-count output, which is the irreducible work of an
    exact containment count: every shared (pair, fingerprint)
    co-occurrence must be touched ONCE whatever the plan). At 100 TB
    the df-guard bounds per-row fan-out at C(max_df, 2) and total
    candidate mass at ~max_df/2 · kept postings — linear in the
    corpus with a chosen constant; thresholded output is
    contamination-sized, not corpus-sized."""
    # distinct AFTER hashing (not just array_distinct pre-hash): a
    # 60-bit fingerprint collision between two distinct shingles in one
    # doc must collapse to ONE (doc_id, shash) row, matching the
    # oracle's SELECT DISTINCT and the countDistinct discipline of
    # decontaminate/bloom_decontaminate — collision odds
    # approach the birthday bound near ~1e9 corpus shingles.
    sh = (df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_expr(F.col(text_col), k=k)))
        .alias("_sh"))
        .select(F.col(id_col), portable_hash64(F.col("_sh")).alias("shash"))
        .distinct())
    # DF PRE-GUARD before any posting materialization: a degenerate
    # hot fingerprint (boilerplate shingle present in millions of docs)
    # must never accumulate into a collect_list buffer, where ONE
    # aggregation buffer would hold an unbounded array. The earlier
    # form (count-agg → semi-join → groupBy) achieved that but
    # evaluated the corpus-sized shingle+hash+distinct pipeline TWICE
    # (once per side of the semi-join) — measured +53%
    # on the isolated query. One windowed count over the same shash
    # partitioning gives the identical kept set in a SINGLE pass:
    # WindowExec buffers a hot fingerprint's group in a SPILLABLE
    # row buffer (ExternalAppendOnlyUnsafeRowBuffer — bounded memory,
    # disk-backed), unlike an aggregation's in-memory array buffer, and
    # the following collect_list groupBy reuses the window's hash
    # partitioning, so no exchange is added. Only fingerprints that
    # survive the ≤ max_df filter ever reach a posting array.
    from pyspark.sql import Window
    kept = (sh.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shash")))
            .filter(F.col("_df") <= max_df)
            .groupBy("shash")
            .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")))
    # sizes over the SAME filtered universe (df-1 singletons included)
    sizes = (kept.select(F.explode("_ids").alias(id_col))
             .groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz")))
    pair_structs = F.expr(
        "flatten(transform(_ids, (x, i) -> "
        "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")
    pairs = (kept.filter(F.size("_ids") >= 2)
             .select(F.explode(pair_structs).alias("_p"))
             .groupBy(F.col("_p.id_a").alias("id_a"),
                      F.col("_p.id_b").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .filter(F.col("n_shared") >= min_shared))
    sz_a = sizes.select(F.col(id_col).alias("id_a"),
                        F.col("_sz").alias("size_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"),
                        F.col("_sz").alias("size_b"))
    out = (pairs.join(sz_a, "id_a").join(sz_b, "id_b")
           .select("id_a", "id_b",
                   F.col("n_shared").cast("long").alias("n_shared"),
                   F.col("size_a").cast("long").alias("size_a"),
                   F.col("size_b").cast("long").alias("size_b"),
                   F.expr("(n_shared * 1000000) div size_a")
                   .alias("cont_a_micro"),
                   F.expr("(n_shared * 1000000) div size_b")
                   .alias("cont_b_micro")))
    return (out.filter(F.greatest("cont_a_micro", "cont_b_micro")
                       >= F.lit(int(threshold_micro)))
            .orderBy("id_a", "id_b"))


#: Bloom filters pack 63 bits per BIGINT word (positions 0..62):
#: ``1 << 63`` is the sign bit — Spark's shiftleft wraps it silently
#: while DuckDB raises Out of Range, so the portable layout simply
#: never shifts that far.
BLOOM_BITS_PER_WORD = 63


def bloom_decontaminate(train: DataFrame, test: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 8, m_bits: int = 1 << 18,
                        n_hashes: int = 4) -> DataFrame:
    """Bloom-prefiltered train/test decontamination (the GPT-3
    appendix-C pattern: long word ``k``-grams of the BENCHMARK set
    packed into a Bloom bitmap, the CORPUS probed against it, exact
    confirmation only for flagged docs) → one row per flagged train
    doc ``(doc_id, n_shared, false_pos)`` — ``n_shared`` the exact
    distinct shared-fingerprint count, ``false_pos`` true when the
    bitmap flagged a doc that shares nothing (Bloom guarantees NO
    false negatives, so exact-side hits are always a subset).

    Why this beats :func:`decontaminate` at 100 TB: the exact form
    shuffles EVERY train shingle into a fingerprint equi-join; here
    the corpus-sized pass is a NARROW probe against a broadcast word
    table (``m_bits/63`` BIGINT rows — 32 KiB at the 2^18 default,
    still broadcastable at 2^30 for billion-fingerprint benchmarks),
    and only the flagged sliver (true contamination + the designed
    false-positive rate) reaches the exact join.

    Portability (the whole filter is ORACLE-RECOMPUTABLE, unlike the
    ``xxhash64``-seeded :func:`~..skew.bloom_semi_join` whose bitmap
    is engine-private): fingerprints are the md5-based
    :func:`portable_hash64`; positions are Kirsch–Mitzenmacher double
    hashing ``pos_j = (h1 + j·h2) mod m`` with ``h1 = fp mod m``,
    ``h2 = 1 + (fp div m) mod (m−1)`` (all nonneg BIGINT, identical
    in DuckDB); words pack :data:`BLOOM_BITS_PER_WORD` = 63 bits so
    no shift touches the sign bit (DuckDB raises on ``1 << 63``).

    Sizing arithmetic (document in the caller when changing): with n
    fingerprints, shingle-level FPR ≈ (1 − e^{−n_hashes·n/m})^n_hashes
    — the 2^18/4-hash default holds ≈ 6e-5 at n ≈ 6k; doc-level FP
    compounds per distinct shingle (≈ 50 probes/doc → ~0.3%), which
    is exactly why the exact-confirm stage exists."""
    def _sh(df: DataFrame) -> DataFrame:
        return (df.select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_expr(F.col(text_col), k=k)))
            .alias("_sh"))
            .select(F.col(id_col), portable_hash64(F.col("_sh"))
                    .alias("shash")))

    w = BLOOM_BITS_PER_WORD
    pos = [f"pmod(pmod(shash, {m_bits}) "
           f"+ {j} * (1 + pmod(shash div {m_bits}, {m_bits - 1})), "
           f"{m_bits})" for j in range(n_hashes)]
    pos_arr = F.array(*[F.expr(p) for p in pos])

    test_fp = _sh(test).select("shash").distinct()
    words = (test_fp.select(F.explode(pos_arr).alias("_pos"))
             .select(F.expr(f"_pos div {w}").alias("_w"),
                     F.expr(f"shiftleft(1L, CAST(pmod(_pos, {w}) AS INT))")
                     .alias("_m"))
             .groupBy("_w").agg(F.bit_or("_m").alias("_word")))

    train_sh = _sh(train)
    probe = (train_sh
             .select(F.col(id_col), "shash", F.explode(pos_arr).alias("_pos"))
             .select(F.col(id_col), "shash",
                     F.expr(f"_pos div {w}").alias("_w"),
                     F.expr(f"shiftleft(1L, CAST(pmod(_pos, {w}) AS INT))")
                     .alias("_m")))
    flagged = (probe.join(F.broadcast(words), "_w", "left")
               .select(F.col(id_col), "shash",
                       (F.coalesce(F.col("_word"), F.lit(0))
                        .bitwiseAND(F.col("_m")) == F.col("_m"))
                       .cast("int").alias("_ok"))
               .groupBy(id_col, "shash").agg(F.min("_ok").alias("_all"))
               .filter(F.col("_all") == 1)
               .select(id_col).distinct())
    exact = (train_sh.join(flagged, id_col, "left_semi")
             .join(test_fp, "shash")
             .groupBy(id_col).agg(F.countDistinct("shash")
                                  .alias("n_shared")))
    return (flagged.join(exact, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("n_shared"),
                    (F.coalesce("n_shared", F.lit(0)) == 0)
                    .alias("false_pos"))
            .orderBy(id_col))


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        n_planes: int = 8, n_bands: int = 1) -> DataFrame:
    """Embedding-cosine near-dup: candidate generation via sign-LSH
    buckets (deterministic hyperplanes), exact cosine on candidates →
    ``(id_a, id_b, cosine)`` with cosine ≥ threshold.

    Scale knobs (banded LSH, same pattern as the MinHash bands):

    - ``n_planes`` — bits per band. A FIXED plane count does not scale:
      2^8 = 256 buckets leaves the within-bucket self-join O((n/256)²),
      still quadratic. Pick ``similarity.planes_for(n_rows)`` —
      ≈ log2(n / target_occupancy) planes — so expected bucket size
      (and thus join fan-out per row) stays constant as n grows.
    - ``n_bands`` — independent plane sets unioned for recall. More
      planes shrink buckets but drop near-dup pairs that straddle one
      hyperplane; each extra band re-tries with fresh planes, recovering
      recall ≈ 1-(1-r^p)^b exactly like MinHash banding. Candidates are
      deduped by the final ``distinct()`` (a pair's cosine is identical
      in every band).

    The join key is (band, bucket) — explode is the constant ``n_bands``
    fan-out, never all-pairs. Norms are computed ONCE per row before the
    join (a pair only needs the dot product): the naive
    ``cosine_expr(va, vb)`` re-derives both norms per candidate, tripling
    the per-pair flops — measurably the bench's hottest query before
    this hoist."""
    from .similarity import dot_expr, norm_expr, pround, sign_lsh_bucket

    band_buckets = F.array(*[
        sign_lsh_bucket(vec_col, n_planes=n_planes,
                        plane_offset=b * n_planes)
        for b in range(n_bands)
    ])
    # widen BEFORE the self-join: the candidate verify is CPU-bound
    # (a 64-dim dot per pair), but AQE coalesces the tiny-BYTES banded
    # exchange down to a few partitions — measured 3 tasks on 32 cores,
    # 5.4 s → 4.0 s at sf0.1 with the explicit spread
    banded = widen(emb).select(
        F.col(id_col), F.col(vec_col),
        norm_expr(F.col(vec_col)).alias("_nrm"),
        F.posexplode(band_buckets).alias("band", "bucket"))
    a = banded.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                      F.col("_nrm").alias("_na"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      F.col("_nrm").alias("_nb"), "band", "bucket")
    cosine = dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    return (
        a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", pround(cosine, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def cdc_chunks(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", k: int = 3,
               mask: int = 7) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al. 2001, LBFS "A
    Low-Bandwidth Network File System" — the rolling-hash boundary
    idea behind rsync/FastCDC, here at token granularity) →
    ``(doc_id, chunk_idx, chunk_hash, n_tokens)``.

    A chunk boundary falls AFTER token ``i`` whenever the hash of the
    k-gram ending at ``i`` satisfies ``h % (mask+1) == 0`` — the
    boundary depends only on local content, so inserting or deleting
    tokens re-chunks O(1) neighboring chunks instead of shifting every
    fixed-size block (the failure mode of fixed chunking that CDC
    exists to fix). Expected chunk length ≈ mask+1 tokens.

    Shape: one posexplode to (doc, pos, token), narrow k-gram hash +
    boundary flag, chunk ids via a running sum over the doc-partitioned
    window (ONE doc-keyed shuffle — windows are per-doc, never global),
    then a (doc, chunk) aggregation whose chunk hash is md5 of the
    space-joined tokens. Chunk hashes join across documents for
    delta/dedup detection (:func:`cdc_shared_chunks`)."""
    toks = F.split(F.col(text_col), " ")
    pos_tok = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tok")
    ).filter(F.length("tok") > 0)
    # k-gram ending at pos: needs the k-1 previous tokens -> lag concat
    from pyspark.sql import Window
    win = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(" ", *[F.lag("tok", k - 1 - j).over(win)
                              for j in range(k)])
    flagged = pos_tok.select(
        F.col(id_col), "pos", "tok",
        F.when((F.row_number().over(win) >= k)
               & (portable_hash64(gram) % (mask + 1) == 0), 1)
        .otherwise(0).alias("boundary"))
    # chunk index = boundaries strictly BEFORE this token
    chunk_idx = (F.sum("boundary").over(
        win.rowsBetween(Window.unboundedPreceding, -1)))
    chunked = flagged.select(
        F.col(id_col),
        F.coalesce(chunk_idx, F.lit(0)).cast("long").alias("chunk_idx"),
        "pos", "tok")
    return (
        chunked.groupBy(id_col, "chunk_idx")
        .agg(portable_hash64(
                 F.array_join(F.array_sort(
                     F.collect_list(F.struct("pos", "tok"))).tok, " "))
             .alias("chunk_hash"),
             F.count("*").cast("long").alias("n_tokens"))
    )


def cdc_shared_chunks(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      mask: int = 7, min_shared: int = 2) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` content-defined chunks →
    ``(id_a, id_b, n_shared)`` — insertion/deletion-robust duplicate
    and containment detection at chunk granularity (the storage-dedup
    complement of :func:`winnow_near_dups`' fingerprint sampling)."""
    ch = cdc_chunks(df, text_col=text_col, id_col=id_col,
                    k=k, mask=mask).select(id_col, "chunk_hash").distinct()
    a = ch.select(F.col("chunk_hash"), F.col(id_col).alias("id_a"))
    b = ch.select(F.col("chunk_hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "chunk_hash").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = 3, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm) → long-form ``(doc_id, fp)``, distinct.

    Guarantee: any shared run of ≥ ``w + k - 1`` tokens between two
    documents yields at least one shared fingerprint — unlike MinHash
    (which estimates whole-document Jaccard), winnowing catches PARTIAL
    overlap: quotation, containment, boilerplate splicing. Fingerprints
    are the distinct minima of each ``w``-window of k-shingle hashes
    (value-set variant), ~1/w of the shingle count per doc.

    Shape: pure narrow array expressions (shingle→hash→windowed min via
    ``transform`` over a start sequence) + one explode — no UDF, no
    shuffle until the consumer aggregates; density is tunable with
    ``w`` (storage ∝ 1/w). Hashes are the portable md5-derived 60-bit
    ints, so the DuckDB oracle reproduces them bit-for-bit.

    The hash array is materialized as a PROJECTED COLUMN before the
    window pass: an expression referenced inside a higher-order lambda
    is inlined (no common-subexpression elimination across lambda
    boundaries), so folding it in would re-run the whole shingle→md5
    chain once per window — O(m²) md5 calls per document; measured
    97 s → 2 s at sf0.1 for this split alone."""
    hashed = df.select(
        F.col(id_col),
        F.transform(shingles_expr(F.col(text_col), k=k),
                    portable_hash64).alias("_hashes"))
    hashes = F.col("_hashes")
    m = F.size(hashes)
    wins = (
        F.when(m >= w,
               F.transform(F.sequence(F.lit(1), m - (w - 1)),
                           lambda j: F.array_min(F.slice(hashes, j, w))))
        .when(m >= 1, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return hashed.select(F.col(id_col),
                         F.explode(F.array_distinct(wins)).alias("fp"))


def winnow_near_dups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 3, w: int = 4,
                     min_shared: int = 2, max_df: int = 64) -> DataFrame:
    """Shift-robust near-dup pairs via shared winnowing fingerprints →
    ``(id_a, id_b, n_shared)`` with ≥ ``min_shared`` shared prints.

    ``max_df`` is the skew guard: a fingerprint appearing in more than
    ``max_df`` documents (boilerplate, common phrases) is dropped
    before the self-join — the same stop-shingle discipline web-dedup
    pipelines use, and what keeps the fp-keyed join's fan-out bounded
    at corpus scale (a fp shared by d docs contributes d² candidate
    rows)."""
    # fingerprints feed the df-count and both join sides: materialize
    # once (fingerprint tables are ~1/w of the shingle count)
    fps = winnow_fingerprints(df, text_col=text_col, id_col=id_col,
                              k=k, w=w).localCheckpoint(eager=True)
    rare = (fps.groupBy("fp").agg(F.count("*").alias("d"))
            .filter(F.col("d") <= max_df).select("fp"))
    filtered = fps.join(rare, "fp")
    a = filtered.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = filtered.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate_embeddings(train: DataFrame, test: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9,
                             n_planes: int = 8,
                             n_bands: int = 1) -> DataFrame:
    """Embedding-space train/test decontamination: the semantic twin of
    :func:`decontaminate` — flag TRAIN vectors whose cosine against ANY
    test-set vector reaches ``threshold`` →
    ``(vec_id, n_matches, max_cosine)`` per contaminated train id.

    Same candidate machinery as :func:`embedding_near_dups` (banded
    sign-LSH buckets, exact 6-dp cosine on candidates) but a BIPARTITE
    train×test join instead of a self-join: the test side is eval-suite
    sized — typically thousands of rows at 100 TB of train — so its
    bucketed long-form comfortably broadcasts, and the join is one map
    pass over the train buckets, never O(train × test). Pairs found by
    several bands are deduped before counting (a pair's cosine is
    identical in every band). Callers drop contaminated ids with a
    left-anti join against this result."""
    from .similarity import dot_expr, norm_expr, pround, sign_lsh_bucket

    def _banded(df: DataFrame, side: str) -> DataFrame:
        bb = F.array(*[
            sign_lsh_bucket(vec_col, n_planes=n_planes,
                            plane_offset=b * n_planes)
            for b in range(n_bands)
        ])
        return df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(vec_col).alias(f"v{side}"),
            norm_expr(F.col(vec_col)).alias(f"_n{side}"),
            F.posexplode(bb).alias("band", "bucket"))

    cosine = dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    pairs = (
        _banded(train, "a").join(F.broadcast(_banded(test, "b")),
                                 ["band", "bucket"])
        .select("id_a", "id_b", pround(cosine, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )
    return (
        pairs.groupBy(F.col("id_a").alias(id_col))
        .agg(F.count("*").alias("n_matches"),
             F.max("cosine").alias("max_cosine"))
        .orderBy(id_col)
    )


def semdedup(emb: DataFrame, centroids: DataFrame | None = None,
             n_cells: int = 8, threshold: float = 0.95,
             id_col: str = "vec_id",
             vec_col: str = "embedding",
             two_level: bool = False,
             tile_size: int = 4096) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): semantic dedup via
    embedding CLUSTERS — candidate pairs are generated within coarse
    cells, exact 6-dp-rounded cosine marks pairs ≥ ``threshold``, and
    connected components elect the minimum id per semantic group →
    ``(vec_id, canonical_id, is_dup)`` for every input vector.

    Complements :func:`embedding_near_dups`: LSH bounds candidates by
    hash-collision buckets, SemDeDup by cluster membership — which the
    IVF ANN path already maintains, so at 100 TB the cells (and the
    cell-partitioned layout) come for free and the within-cell
    self-join is Σ|cell|², sized by choosing k ∝ n / target_occupancy
    exactly like ``planes_for``. Default centroids are the first
    ``n_cells`` corpus vectors (the same deterministic stand-in
    :func:`~..similarity.ivf_topk` uses); pass a trained
    ``(cell_id, cell_vec)`` frame (e.g. reshaped ``kmeans_fit``
    output) to cluster on a real codebook — the plan is unchanged.

    Norms are computed once per row before the pair join (the
    ``embedding_near_dups`` hoist). NOTE on the centroid choice: the
    first-``n_cells`` stand-in gives arbitrary occupancy — one fat
    cell can hold most of the corpus and its |cell|² pair block then
    dominates the join (observed 22% of rows in one cell on the test
    corpus). A trained codebook (``kmeans_fit`` + :func:`kmeans_books`)
    balances cells and is the production configuration.

    ``two_level=True`` routes the assignment through
    :func:`~.similarity.ivf_assign_cells_two_level` — the §30-named
    hierarchical codebook (G = ceil(sqrt(k)) coarse groups, then only
    the routed group's member cells): the corpus-sized argmax drops
    from O(n·k·d) to O(n·2√k·d), which is the lever past the flat-k
    crossover the sweep measured at k=128. Cell IDS and every
    downstream stage (within-cell pair join, CC, canonicals) are
    identical; only which cell a boundary vector lands in may differ
    (IVF-approximate routing), so the two modes are distinct operators
    with distinct oracles."""
    from ..session import widen
    from .similarity import (dot_expr, ivf_assign_cells,
                             ivf_assign_cells_two_level, norm_expr)

    emb = widen(emb)
    if centroids is None:
        centroids = emb.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cell_vec"))
    # materialize the assigned+normed corpus ONCE before the pair
    # self-join: the per-row nearest-cell argmax is the expensive
    # expression here (higher-order functions evaluate interpreted,
    # O(k·dims) per row), so each join side must read the computed
    # result, not recompute it — the in-memory analog of the IVF docs'
    # "write the assigned table partitioned by cell". The checkpoint
    # also sidesteps Spark 4's self-join attribute dedup bug on local
    # relations (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
    assigned = (
        ivf_assign_cells_two_level(emb, centroids, id_col, vec_col)
        if two_level else
        ivf_assign_cells(emb, centroids, id_col, vec_col))
    base = (
        assigned
        .select(F.col(id_col), F.col("cell"), F.col(vec_col),
                norm_expr(F.col(vec_col)).alias("_n"))
        .localCheckpoint(eager=True))

    # GIANT-CELL SKEW GUARD (guide §2.5): the
    # within-cell self-join's per-key work is |cell|², so one fat cell
    # (the planted-duplicate mass here; any hot semantic cluster in
    # production) becomes the single straggler task AQE's skew-join
    # split cannot help — it cannot split one join KEY. Tile each cell
    # into B = ⌈|cell| / tile_size⌉ deterministic hash buckets
    # (xxhash64 of the id — routing only, never in any result) and
    # join on (cell, tile_i, tile_j), left side exploded to tiles
    # ≥ its own, right side to tiles ≤ its own: every unordered
    # in-cell pair matches EXACTLY one (i ≤ j) tile pair (for i == j
    # the id order picks the one orientation; for i < j the pair
    # arrives once in whatever orientation the buckets induced — the
    # consumer is symmetric: cosine is commutative and the CC loop
    # symmetrizes its edges). The pair SET is therefore identical and
    # the max per-key block drops from |cell|² to ~tile_size². Cells
    # ≤ tile_size keep ONE tile: the plan degenerates to the old
    # single-key join plus two constant int key columns.
    #
    # Plan discipline (measured, first cut of this guard): per-cell
    # tile counts arrive by BROADCAST joining the 1-row-per-cell count
    # aggregate back onto the checkpointed base — NOT by a window. A
    # window's Exchange(cell)+Sort replaced the checkpoint's 32-way
    # partitioning and AQE then coalesced the byte-tiny, CPU-heavy
    # pair join onto 4 tasks (the embedding_near_dups lesson): +87%
    # on the interleaved A/B. The broadcast form is narrow — base
    # keeps its partitioning, the pair join keeps full-width
    # parallelism. Replication per row is ~(B+1)/2 + 1 — the classic
    # blocked-self-join trade: replicate a few × more (norm+vec rows)
    # to bound the largest task, which is what matters at 100 TB
    # where one SMJ/SHJ task would otherwise hold the whole hot
    # cluster's quadratic.
    counts = base.groupBy("cell").agg(F.count(F.lit(1)).alias("_cnt"))
    tiled = (base.join(F.broadcast(counts), "cell")
             .withColumn("_nb", F.ceil(F.col("_cnt")
                                       / F.lit(int(tile_size))).cast("int"))
             .withColumn("_t", F.pmod(F.xxhash64(F.col(id_col)),
                                      F.col("_nb")).cast("int")))
    left = (tiled.select(
        F.col(id_col).alias("id_a"), "cell",
        F.col(vec_col).alias("_va"), F.col("_n").alias("_na"),
        F.col("_t").alias("_ti"),
        F.explode(F.sequence(F.col("_t"), F.col("_nb") - 1))
        .alias("_tj")))
    right = (tiled.select(
        F.col(id_col).alias("id_b"), "cell",
        F.col(vec_col).alias("_vb"), F.col("_n").alias("_nb2"),
        F.explode(F.sequence(F.lit(0), F.col("_t"))).alias("_ti"),
        F.col("_t").alias("_tj")))
    pairs = (
        left.join(right, ["cell", "_ti", "_tj"])
        .filter((F.col("_ti") < F.col("_tj"))
                | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b",
                pround(dot_expr(F.col("_va"), F.col("_vb"))
                       / (F.col("_na") * F.col("_nb2")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b"))
    comp = connected_components(pairs)
    return (
        emb.select(F.col(id_col))
        .join(comp, emb[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
            (F.coalesce(F.col("component"), F.col(id_col)) != F.col(id_col))
            .cast("int").alias("is_dup"))
        .orderBy(id_col)
    )


def remove_duplicated_spans(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Exact-substring dedup, REMOVAL form (Lee et al. 2022 §3 — the
    step :func:`dup_kgram_stats` only measures): drop every token
    covered by a k-gram occurring ≥2 times anywhere in the corpus →
    ``(doc_id, clean_text, n_tokens, n_removed)``.

    Token ``i`` (1-based) is covered iff some duplicated k-gram starts
    at ``s ∈ [i−k+1, i]``. Shape: explode k-gram hashes with their
    start offsets (8-byte hashes, O(tokens)), ONE corpus count on the
    hash (map-side partials, uniform keys), filter to the duplicated
    set, collect each doc's duplicated start offsets (only dup starts —
    usually a tiny fraction of tokens), join back, and a narrow array
    rebuild keeps uncovered tokens. Shuffle budget identical to
    ``dup_kgram_stats`` plus one doc-keyed array; the rebuild is
    per-token O(|dup starts in doc|) inside codegen, no UDF."""
    toks = F.split(F.col(text_col), " ")
    sh = df.select(
        F.col(id_col),
        F.posexplode(shingles_expr(F.col(text_col), k=k)).alias("_s", "_sh"))
    hashed = sh.select(F.col(id_col), (F.col("_s") + 1).alias("s"),
                       portable_hash64(F.col("_sh")).alias("h"))
    dup = (hashed.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("h"))
    dup_starts = (hashed.join(dup, "h")
                  .groupBy(id_col)
                  .agg(F.array_sort(F.collect_set("s")).alias("_ds")))
    ds = F.coalesce(F.col("_ds"), F.array().cast("array<int>"))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            ds, lambda s: (s >= i + 1 - (k - 1)) & (s <= i + 1)))
    return (
        df.join(dup_starts, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(toks).cast("long").alias("n_tokens"),
            (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"))
        .orderBy(id_col)
    )


def dup_kgram_stats(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Exact duplicated-k-gram statistics per document → ``(doc_id,
    n_kgrams, dup_positions, dup_distinct, dup_frac)``: how much of
    each doc consists of token k-grams that occur ≥2 times ANYWHERE in
    the corpus — the per-document signal behind exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): docs with high ``dup_frac`` are boilerplate /
    template content even when no single whole-document near-dup
    exists.

    Shape: explode k-gram hashes (8-byte portable hashes, not strings),
    one corpus count keyed on the hash (map-side partials; uniform
    keys), filter to the duplicated set, join back, and two doc-keyed
    aggregations. Every shuffle carries hashes or per-doc counters —
    O(tokens) total, the same budget as MinHash signatures. A full
    suffix-array span merge is the precision upgrade; the k-gram form
    is the standard first-pass at corpus scale."""
    sh = df.select(F.col(id_col),
                   F.explode(shingles_expr(F.col(text_col), k=k)).alias("_sh"))
    hashed = sh.select(F.col(id_col), portable_hash64(F.col("_sh")).alias("h"))
    dup = (hashed.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("h"))
    tot = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_kgrams"))
    dups = (hashed.join(dup, "h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("dup_positions"),
                 F.countDistinct("h").alias("dup_distinct")))
    n_kg = F.coalesce(F.col("n_kgrams"), F.lit(0))
    dp = F.coalesce(F.col("dup_positions"), F.lit(0))
    return (df.select(F.col(id_col))
            .join(tot, id_col, "left").join(dups, id_col, "left")
            .select(
                F.col(id_col),
                n_kg.cast("long").alias("n_kgrams"),
                dp.cast("long").alias("dup_positions"),
                F.coalesce(F.col("dup_distinct"), F.lit(0)).cast("long")
                .alias("dup_distinct"),
                F.when(n_kg > 0,
                       pround(dp.cast("double") / n_kg, 6))
                .otherwise(F.lit(0.0)).alias("dup_frac"))
            .orderBy(id_col))


def source_overlap(docs: DataFrame, prefix_len: int = 80) -> DataFrame:
    """Cross-source content-overlap matrix — the syndication /
    mirror-site detector a corpus audit runs before de-dup budgeting:
    for every unordered source pair, how many distinct document
    prefix-fingerprints both sources carry →
    ``(source_a, source_b, shared_fingerprints)``.

    Shape: the (source, fingerprint) relation is DISTINCT-reduced
    first (one fingerprint-keyed shuffle over the corpus), and the
    pair join is keyed on the fingerprint — per-fingerprint fan-out is
    bounded by |sources| (post-distinct), so the join output is at
    most |fingerprints|·|sources|²/2 rows and the aggregate result at
    most |sources|²/2: no all-pairs document work anywhere. At 100 TB
    this is one dedup-shaped shuffle plus a bounded equi-join —
    identical skew posture to exact dedup."""
    fp = (docs.select("source",
                      F.sha2(F.substring(F.col("text"), 1, prefix_len), 256)
                      .alias("_fp"))
          .distinct())
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, (F.col("a._fp") == F.col("b._fp"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.countDistinct("a._fp").cast("long")
                 .alias("shared_fingerprints"))
            .orderBy(F.col("shared_fingerprints").desc(),
                     "source_a", "source_b"))


def jaccard_prefix_pairs(docs: DataFrame, tau_micro: int = 800_000,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         k: int = 2) -> DataFrame:
    """EXACT set-similarity self-join via PREFIX FILTERING → every
    document pair whose word-BIGRAM-set Jaccard ≥ τ, as ``(doc_a,
    doc_b, n_a, n_b, n_common, jac_frac)`` — the lossless complement
    to the MinHash/SimHash family above: no false negatives by
    THEOREM, not by probability, so it is the dedup pass to run when a
    recall guarantee matters (e.g. benchmark decontamination audits).
    Set elements are word 2-shingles (:func:`shingles_expr`, k=2):
    unigram word sets over template-generated corpora are near-
    saturated (Jaccard ≥ 0.5 for most pairs), while bigram sets
    isolate true near-dups — same discrimination argument as the
    MinHash shingling above.

    Prefix-filter principle (AllPairs/PPJoin): order every vocabulary
    shingle by (document frequency asc, shingle asc) — one GLOBAL
    total order, rarest first — and take each doc's first
    ``p = n − ⌈τ·n⌉ + 1`` shingles as its prefix. Any pair with
    Jaccard ≥ τ shares ≥ ⌈τ·n⌉ elements, which cannot all hide in the
    ``⌈τ·n⌉−1`` suffix positions, so qualifying pairs MUST collide on
    a prefix element. Candidates therefore come from an equi-join on
    prefix shingles (O(Σ posting²) over RARE shingles only — the
    frequency-ascending order puts the shortest postings in prefixes),
    then one exact ``array_intersect`` verify per candidate. ⌈τ·n⌉ is
    computed in pure integer arithmetic ((τ_micro·n + 999999) DIV
    10^6) so the prefix boundary is engine-stable.

    Scale: two shuffles (shingle df, per-doc set build) + the
    candidate equi-join; NEVER an all-pairs product — the oracle
    brute-forces all O(n²) pairs precisely because the engine side
    must not. jac_frac is the remainder-exact 6-dp ratio."""
    from ..functions.rounding import pround_iratio

    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            shingles_expr(F.col(text_col), k=k))).alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_df"))
    # The ordered-set frame feeds THREE consumers (prefix explode +
    # both sides of the verify join); Spark shares no subplans across
    # a DAG, so materialize it once — 1× the set-build cost instead
    # of 3× (the co-purchase-relation lesson applied locally).
    sets = (toks.join(dfreq, "tok")
            .groupBy(id_col)
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "tok"))),
                lambda s: s["tok"]).alias("_toks"),
                F.count(F.lit(1)).alias("_n"))
            .localCheckpoint(eager=True))
    plen = (F.col("_n")
            - F.expr(f"CAST(({tau_micro} * _n + 999999) DIV 1000000 "
                     f"AS BIGINT)") + F.lit(1))
    prefix = sets.select(
        F.col(id_col), F.col("_n"),
        F.posexplode(F.slice("_toks", F.lit(1), plen.cast("int")))
        .alias("_p0", "tok"))
    # Candidate join carries the set sizes so the LENGTH FILTER
    # (Jaccard ≥ τ ⇒ τ·max(n_a,n_b) ≤ min(n_a,n_b)) prunes pairs
    # BEFORE the dedup shuffle and the array verify — the standard
    # AllPairs companion filter, also lossless. The POSITIONAL filter
    # (PPJoin, Xiao et al. 2008) prunes further: a match at 1-based
    # prefix positions (i, j) bounds the overlap by
    # ``1 + min(n_a − i, n_b − j)``, which must reach the Jaccard-
    # implied requirement ``O ≥ τ/(1+τ)·(n_a+n_b)`` — compared
    # cross-multiplied in exact integers. Lossless: a qualifying
    # pair's FIRST common prefix element has zero common elements
    # before it, so its bound is valid and ≥ the requirement — the
    # pair always survives through that match (later matches may be
    # pruned; ``distinct`` only needs one survivor). Found at the sf1
    # decade (SCALE.md §20): with a fixed tiny vocabulary the prefix
    # postings grow linearly with the corpus, and the match-level
    # prune is what keeps the pair stream from going quadratic.
    overlap_req = F.lit(int(tau_micro)) * (F.col("pa._n") + F.col("pb._n"))
    overlap_ub = F.lit(1_000_000 + int(tau_micro)) * (
        F.lit(1) + F.least(F.col("pa._n") - (F.col("pa._p0") + 1),
                           F.col("pb._n") - (F.col("pb._p0") + 1)))
    cand = (prefix.alias("pa")
            .join(prefix.alias("pb"),
                  (F.col("pa.tok") == F.col("pb.tok"))
                  & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}"))
                  & (F.lit(int(tau_micro))
                     * F.greatest(F.col("pa._n"), F.col("pb._n"))
                     <= F.lit(1_000_000)
                     * F.least(F.col("pa._n"), F.col("pb._n")))
                  & (overlap_ub >= overlap_req))
            .select(F.col(f"pa.{id_col}").alias("doc_a"),
                    F.col(f"pb.{id_col}").alias("doc_b"))
            .distinct())
    sa = sets.select(F.col(id_col).alias("doc_a"),
                     F.col("_toks").alias("_ta"), F.col("_n").alias("n_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"),
                     F.col("_toks").alias("_tb"), F.col("_n").alias("n_b"))
    inter = F.size(F.array_intersect("_ta", "_tb")).cast("long")
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    # widen() before the CPU-bound array_intersect verify: the
    # candidate frame is byte-tiny, so AQE would coalesce it onto a
    # handful of tasks (the embedding_near_dups lesson).
    return (widen(cand).join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("n_common", inter)
            .filter(F.col("n_common") * F.lit(1_000_000)
                    >= F.lit(int(tau_micro)) * union)
            .select("doc_a", "doc_b",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    "n_common",
                    pround_iratio(F.col("n_common"), union)
                    .alias("jac_frac"))
            .orderBy("doc_a", "doc_b"))
