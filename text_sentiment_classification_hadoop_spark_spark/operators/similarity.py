"""Similarity search over an embedding column (north star, §2.11).

Two tiers, as a 100 TB design requires:

- **Brute-force cosine top-k** — the exactness baseline. Per-row native
  expressions (``zip_with`` + ``aggregate``): the dot product never
  leaves the JVM, no UDF, no shuffle until the final top-k (which is a
  ``TakeOrderedAndProject`` — O(k) per partition, no global sort).
- **Sign-LSH bucketed ANN** — the scale path. Deterministic random
  hyperplanes (components derived from the portable hash so the DuckDB
  oracle reproduces them bit-for-bit) map each vector to a bucket id;
  search touches only the query's bucket. Cross-bucket recall is traded
  for a candidate set that is O(n / 2^planes) per probe.

Embeddings are ``array<float>`` (64-dim in the testdata); all arithmetic
casts to double before multiply so Spark and DuckDB agree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import exprtext as X
from ..functions.rounding import pround
from ..session import local_frame, widen


def _ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k without a global window: sort+limit compiles to
    TakeOrderedAndProject (O(k) per partition, parallel); the rank
    window then runs over only k rows."""
    from pyspark.sql import Window
    top = scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def dot_expr(va: Column, vb: Column) -> Column:
    """Σ va[i]·vb[i] in double precision, fully codegen-able."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(v: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(va: Column, vb: Column) -> Column:
    return dot_expr(va, vb) / (norm_expr(va) * norm_expr(vb))


def plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1]:
    ``(portable_hash64('plane{p}:' || dim) % 2001 − 1000) / 1000``.
    Computed driver-side (same md5 derivation the SQL oracle emits) and
    embedded as a literal — the weights are constants, so evaluating
    the hash per row×dim×plane on executors would be pure waste."""
    import hashlib
    h = int(hashlib.md5(f"plane{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def planes_for(n_rows: int, target_bucket: int = 1024) -> int:
    """Plane count that keeps expected bucket occupancy ≈ constant:
    ``ceil(log2(n / target_bucket))`` (each plane halves a bucket).
    Fixed plane counts leave per-bucket self-joins O((n/2^p)²) — still
    quadratic in n; scaling p with log n keeps them O(n·target)."""
    import math
    return max(1, math.ceil(math.log2(max(2.0, n_rows / target_bucket))))


def sign_lsh_bucket(vec: Column | str | list, n_planes: int = 8,
                    dims: int = 64, plane_offset: int = 0) -> Column:
    """Random-hyperplane sign bucket: bit p = 1 iff ``vec · plane_p ≥ 0``.
    Narrow, per-row; the bucket id is the shuffle/join key downstream.

    The ``n_planes × dims`` weight matrix is a plan-time literal
    (`plane_component`); per row the work is ``n_planes`` fused
    multiply-add folds — no hashing on the executors. ``dims`` must
    match the embedding dimensionality. ``plane_offset`` selects an
    independent plane set (band b uses planes [b·n_planes, (b+1)·n_planes) —
    the banded-LSH recall pattern).

    Pass ``vec`` as a column NAME (or a float list for a literal query
    vector) to get the fast single-``F.expr`` build (constant lambda
    count — see ``functions.exprtext``); a Column falls back to the
    node-by-node build with identical numerics."""
    planes = [(p, [plane_component(plane_offset + p, d) for d in range(dims)])
              for p in range(n_planes)]
    if isinstance(vec, str):
        return F.expr(X.sign_lsh_bucket_txt(vec, planes))
    if isinstance(vec, (list, tuple)):
        return F.expr(X.sign_lsh_bucket_txt(
            X.vec_lit([float(x) for x in vec]), planes))
    bucket = F.lit(0).cast("long")
    for p, wvals in planes:
        w = F.array(*[F.lit(c) for c in wvals])
        dot = F.aggregate(
            F.zip_with(vec, w, lambda x, ww: x.cast("double") * ww),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def truncate_embeddings(emb: DataFrame, dims: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Matryoshka-style embedding truncation (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): keep the first ``dims``
    components — MRL-trained encoders put the most information in the
    prefix, so a truncated index costs 1/(D/dims) the storage and
    FLOPs per comparison. Narrow slice, no shuffle; cosine re-derives
    norms on the truncated prefix so no re-normalization pass is
    needed. The recall cost is measured by ``mrl_recall_at10`` against
    the full-dimension exact top-k."""
    return emb.select(F.col(id_col),
                      F.slice(F.col(vec_col), 1, dims).alias(vec_col))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force exact top-k by cosine against a literal query vector →
    ``(vec_id, cosine, rank)``. Deterministic tie-break on (rounded
    cosine desc, vec_id asc) so results are oracle-stable."""
    qtxt = X.vec_lit([float(x) for x in query_vec])
    scored = widen(emb).select(
        F.col(id_col),
        F.expr(X.pround_txt(X.cos_txt(vec_col, qtxt), 6)).alias("cosine"),
    )
    return _ranked_topk(scored, k, id_col)


def ann_lsh_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                 n_planes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """ANN: restrict the exact search to the query's sign-LSH bucket.
    At scale the bucketed table is written bucketed-by(bucket) so a
    probe is a single partition read."""
    q = [float(x) for x in query_vec]
    qtxt = X.vec_lit(q)
    bucketed = widen(emb).select(
        F.col(id_col), F.col(vec_col),
        sign_lsh_bucket(vec_col, n_planes).alias("bucket"),
    )
    qdf = emb.sparkSession.range(1).select(
        sign_lsh_bucket(q, n_planes).alias("qbucket"))
    cands = bucketed.join(F.broadcast(qdf), F.col("bucket") == F.col("qbucket"))
    scored = cands.select(
        F.col(id_col),
        F.expr(X.pround_txt(X.cos_txt(vec_col, qtxt), 6)).alias("cosine"),
    )
    return _ranked_topk(scored, k, id_col)


def query_bucket(query_vec: list[float], n_planes: int = 8,
                 plane_offset: int = 0) -> int:
    """Driver-side sign-LSH bucket of a literal query vector — Python's
    left-to-right accumulation matches the executor fold order
    (same precedent as :func:`project_query`), so the literal bucket is
    bit-identical to bucketing on-cluster."""
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        for d, x in enumerate(query_vec):
            acc = acc + float(x) * plane_component(plane_offset + p, d)
        if acc >= 0:
            bucket |= 1 << p
    return bucket


def ann_multiprobe_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                        n_planes: int = 8, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Multi-probe sign-LSH ANN: search the query's bucket AND every
    Hamming-1 neighbor bucket (flip each plane bit once) →
    ``(vec_id, cosine, rank)``.

    The standard recall lever that costs NO extra index: a true
    neighbor lands outside the query's bucket exactly when it straddles
    ≥1 hyperplane, and single-plane straddles (the dominant miss mode)
    are recovered by probing the n_planes adjacent buckets — recall
    rises from ≈(1-s)^p toward 1 without the extra storage of banding
    (`embedding_near_dups`' replica approach). The probe set is a
    plan-time literal IN-list over the bucket column, so on a
    bucket-partitioned 100 TB layout this reads n_planes+1 partitions
    instead of 1 — still O(candidates), never a scan."""
    q = [float(x) for x in query_vec]
    qb = query_bucket(q, n_planes)
    probes = [qb] + [qb ^ (1 << p) for p in range(n_planes)]
    bucketed = widen(emb).select(
        F.col(id_col), F.col(vec_col),
        sign_lsh_bucket(vec_col, n_planes).alias("bucket"),
    )
    scored = bucketed.filter(F.col("bucket").isin(probes)).select(
        F.col(id_col),
        F.expr(X.pround_txt(X.cos_txt(vec_col, X.vec_lit(q)), 6))
        .alias("cosine"),
    )
    return _ranked_topk(scored, k, id_col)


def pairwise_topk_join(emb: DataFrame, queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Batch k-NN: every query row against the corpus, top-k each →
    ``(qid, vec_id, cosine, rank)``. The corpus side is the big side;
    queries broadcast. The per-query top-k is a window over the join —
    AQE handles the (qid-keyed) partitioning."""
    joined = widen(emb).crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(qid_col), F.col(id_col),
        pround(cosine_expr(F.col(vec_col), F.col(qvec_col)), 6).alias("cosine"),
    )
    from pyspark.sql import Window
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(qid_col, "rank")
    )


def ivf_assign_cells(emb: DataFrame, centroids: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid by cosine (rounded 6 dp; ties -> lowest centroid id) →
    ``(vec_id, embedding, cell)``.

    The codebook is collected to PLAN-TIME LITERALS and the per-row
    argmax is a narrow array expression — ZERO exchanges (the round-1
    form windowed over the unique ``vec_id`` key, which hash-shuffled
    the whole corpus just to reduce 8 candidate rows per vector). The
    literal codebook stays practical well past registry sizes
    (k=1024 measured in SCALE.md §4). At 100 TB the assigned table is
    written partitioned/bucketed by ``cell`` so probes prune to
    n_probe cells.
    """
    cents = sorted(
        [(int(r["cell_id"]), [float(x) for x in r["cell_vec"]])
         for r in centroids.select("cell_id", "cell_vec").collect()])
    return emb.select(
        F.col(id_col), F.col(vec_col),
        F.expr(X.nearest_cell_txt(vec_col, cents)).alias("cell"))


# nearest-centroid / nearest-codeword argmaxes are emitted as single
# SQL-text expressions (functions.exprtext.nearest_cell_txt /
# pq_seg_cell_txt): numerically identical to the old node-by-node
# Column builds, but one py4j call and a constant lambda count.


def _py_pround6(x: float) -> float:
    """Driver-side mirror of ``pround_txt(·, 6)`` — identical IEEE ops."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _py_cos6(a: list, b: list) -> float:
    """Driver-side mirror of the Spark cosine fold (``dot_expr`` /
    ``norm_expr`` evaluate as SEQUENTIAL folds over dims, which is
    exactly this loop order), 6-dp floor-rounded."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return _py_pround6(dot / (math.sqrt(na) * math.sqrt(nb)))


def two_level_books(centroids: DataFrame,
                    n_groups: int | None = None) -> list:
    """Group a FLAT ``(cell_id, cell_vec)`` codebook into a TWO-LEVEL
    (hierarchical IVF) codebook → ``[(grp, group_vec, [(cell_id,
    cell_vec), ...])]``, one entry per group 0..G-1 (possibly with
    empty member lists when duplicate seeds collapse).

    The §30 sweep (SCALE.md) measured flat nearest-cell assignment
    O(n·k·d) already past its crossover at k=128 — the fix is this
    standard IVF shape: ``G = ceil(sqrt(k))`` coarse groups, so
    assignment probes G group centroids then only the routed group's
    members, O(n·(G + k/G)·d) ≈ O(n·2√k·d).

    Deterministic, oracle-unrollable construction:

    - group seeds = the first G codewords by ``cell_id``; ``grp`` =
      position 0..G-1 in that order;
    - every codeword joins the seed with the highest 6-dp-rounded
      cosine (ties → lowest grp) — seeds always join their own group,
      so group 0 is never empty and a group is empty only when its
      seed duplicates an earlier one;
    - a non-empty group's centroid = the 6-dp-rounded element-wise
      mean of its member codewords; empty groups get no centroid and
      are EXCLUDED from routing (they attract no cells, so probing
      them is pure waste).

    The grouping itself runs driver-side over the collected codebook —
    bounded at k·dims floats, the same J4 scalar round-trip
    ``kmeans_fit`` already makes every iteration (k ≈ 10³, dims=64 →
    ~0.5 MB); the arithmetic mirrors the Spark fold order exactly
    (``_py_cos6``), so the grouping is bit-identical to what a
    Spark-side pass would compute. At codebook sizes past driver
    comfort (k ≫ 10⁵) the same construction distributes as one
    k-row×G-seed argmax + one groupBy — the corpus-sized stages below
    never see the difference."""
    rows = sorted((int(r["cell_id"]), [float(x) for x in r["cell_vec"]])
                  for r in centroids.select("cell_id", "cell_vec").collect())
    k = len(rows)
    if k == 0:
        raise ValueError("two_level_books: empty codebook")
    G = n_groups if n_groups is not None else (math.isqrt(k - 1) + 1
                                               if k > 1 else 1)
    G = min(G, k)
    seeds = [vec for _cid, vec in rows[:G]]
    members: list[list] = [[] for _ in range(G)]
    for cid, vec in rows:
        bg, bc = 0, None
        for g, svec in enumerate(seeds):
            c = _py_cos6(vec, svec)
            if bc is None or c > bc:   # strict: ties keep the lowest g
                bg, bc = g, c
        members[bg].append((cid, vec))
    dims = len(rows[0][1])
    groups = []
    for g in range(G):
        mem = members[g]
        if mem:
            gvec = []
            for d in range(dims):
                s = 0.0
                for _cid, v in mem:    # cell_id order, sequential fold
                    s += v[d]
                gvec.append(_py_pround6(s / len(mem)))
        else:
            gvec = list(seeds[g])      # placeholder; excluded from routing
        groups.append((g, gvec, mem))
    return groups


def ivf_assign_cells_two_level(emb: DataFrame, centroids: DataFrame,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               n_groups: int | None = None) -> DataFrame:
    """Two-level (hierarchical IVF) cell assignment — the §30-named
    lever replacing the flat O(n·k·d) argmax of
    :func:`ivf_assign_cells` with O(n·2√k·d): route each vector to the
    nearest GROUP centroid (G = ceil(sqrt(k)) candidates), then argmax
    only over that group's member codewords →
    ``(vec_id, embedding, grp, cell)``.

    ``cell`` ids are the flat codebook's own ids, so downstream
    consumers (``semdedup``'s within-cell join, the IVF probe path,
    cell-partitioned layout) are unchanged. The assignment is
    APPROXIMATE versus the flat argmax — a vector near a group
    boundary may land in a neighboring group's cell (classic IVF
    recall behavior; probe more groups for recall, pay G per extra
    probe) — and exactly deterministic: every comparison is the
    6-dp-rounded cosine with ties → lowest id, so the whole two-level
    argmax unrolls into the DuckDB oracle CTE chain.

    Both codebooks are plan-time literals, as in the flat assignment:
    the group book, and the per-group sub-books indexed by
    ``element_at``. The routing argmax is projected in its OWN select
    before the sub-book argmax, so each evaluates once per row."""
    groups = two_level_books(centroids, n_groups)
    gbook = [(g, gvec) for g, gvec, sub in groups if sub]
    routed = widen(emb).select(
        F.col(id_col), F.col(vec_col),
        F.expr(X.nearest_cell_txt(vec_col, gbook)).alias("grp"))
    sub_expr = (f"element_at({X.subbooks_lit(groups)}, "
                "CAST(grp AS INT) + 1)")
    return routed.select(
        F.col(id_col), F.col(vec_col), F.col("grp"),
        F.expr(X.nearest_cell_over_txt(vec_col, sub_expr)).alias("cell"))


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Deterministic distributed Lloyd's k-means (the trained codebook
    :func:`ivf_topk`'s docstring promises) → long-form
    ``(cell_id, d, centroid)``, k×dims rows.

    Per iteration:

    - **assign** — the narrow literal-codebook argmax
      (``exprtext.nearest_cell_txt``): zero exchanges, the corpus is
      scanned once;
    - **recombine** — element-wise mean per cell: posexplode dims and
      hash-aggregate ``(cell, d)`` — partial (map-side) aggregation
      makes the one shuffle carry O(k × dims) sums per partition, not
      the corpus;
    - the k×dims means (tiny) round-trip through the driver into the
      next iteration's literals — the J4 scalar pattern, exactly how
      the SVM epochs chain.

    Determinism contract (cross-engine, mirrors the unrolled-SQL
    oracle): init = the first ``k`` vectors by id; cosine assignment
    rounded 6 dp with ties → lowest cell; means rounded 6 dp; an empty
    cell keeps its previous centroid. At k=10³, dims=64 the driver
    round-trip is ~0.5 MB per iteration."""
    first = emb.orderBy(F.col(id_col)).limit(k) \
        .select(F.col(id_col), F.col(vec_col)).collect()
    if not first:
        raise ValueError("kmeans_fit: empty embeddings frame")
    cents = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in first]
    dims = len(cents[0][1])
    for _ in range(iters):
        cell = F.expr(X.nearest_cell_txt(vec_col, cents))
        # the argmax MUST be projected before the posexplode: a sibling
        # expression of a generator lands in the Generate's own project
        # list and is re-evaluated per exploded element — dims× the
        # k·dims argmax per row (measured 18× slower at k=64, d=64).
        # As the generator child's projection it runs once per row.
        assigned = widen(emb).select(cell.alias("cell"), F.col(vec_col))
        long_form = assigned.select(
            "cell",
            F.posexplode(F.transform(F.col(vec_col),
                                     lambda x: x.cast("double"))).alias("d", "x"))
        means = long_form.groupBy("cell", "d").agg(
            pround(F.avg("x"), 6).alias("m"))
        got = {(r["cell"], r["d"]): r["m"] for r in means.collect()}
        cents = [(cid, [got.get((cid, d), prev[d]) for d in range(dims)])
                 for cid, prev in cents]
    rows = [(cid, d, cvec[d]) for cid, cvec in cents for d in range(dims)]
    return local_frame(
        emb.sparkSession, rows, "cell_id long, d int, centroid double")


def kmeans_books(fitted: DataFrame) -> DataFrame:
    """Reshape :func:`kmeans_fit`'s long-form ``(cell_id, d, centroid)``
    into the ``(cell_id, cell_vec)`` frame :func:`ivf_assign_cells` /
    ``dedup.semdedup`` consume (dims restored in ``d`` order). The
    k×dims rows are reshaped on the driver: ``kmeans_fit`` returns a
    local relation, so reading it runs no Spark job, and neither does
    collecting the local frame this returns."""
    return local_frame(fitted.sparkSession, _codebook(fitted),
                       "cell_id long, cell_vec array<double>")


def _codebook(fitted: DataFrame) -> list[tuple[int, list[float]]]:
    """``[(cell_id, [centroid by d]), ...]`` in cell order, from the
    long-form codebook."""
    by_cell: dict[int, dict[int, float]] = {}
    for r in fitted.collect():
        by_cell.setdefault(int(r["cell_id"]), {})[int(r["d"])] = \
            float(r["centroid"])
    return [(c, [dv[d] for d in sorted(dv)])
            for c, dv in sorted(by_cell.items())]


def ivf_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
             n_cells: int = 8, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF ANN: coarse centroids are the first ``n_cells`` corpus
    vectors (deterministic — a stand-in for a trained k-means codebook,
    which would slot in unchanged); search probes the ``n_probe`` cells
    nearest the query and runs exact cosine inside them →
    ``(vec_id, cosine, rank)``.

    Complements the sign-LSH path: IVF recall degrades gracefully with
    n_probe (probe more cells when the query lands near a cell
    boundary), where LSH recall is fixed by the plane count.
    """
    centroids = emb.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cell_vec"))
    assigned = ivf_assign_cells(widen(emb), centroids, id_col, vec_col)

    qtxt = X.vec_lit([float(x) for x in query_vec])
    probe = (centroids
             .select("cell_id",
                     F.expr(X.pround_txt(X.cos_txt("cell_vec", qtxt), 6))
                     .alias("_c"))
             .orderBy(F.col("_c").desc(), F.col("cell_id").asc())
             .limit(n_probe)
             .select(F.col("cell_id").alias("cell")))
    cands = assigned.join(F.broadcast(probe), "cell")
    scored = cands.select(
        F.col(id_col),
        F.expr(X.pround_txt(X.cos_txt(vec_col, qtxt), 6)).alias("cosine"))
    return _ranked_topk(scored, k, id_col)


def rp_component(j: int, d: int) -> float:
    """Deterministic Achlioptas ±1 projection weight: the parity of the
    portable 60-bit hash of ``rp{j}:{d}`` — the same md5 derivation the
    DuckDB oracle emits, namespaced away from the LSH planes."""
    import hashlib
    h = int(hashlib.md5(f"rp{j}:{d}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


def random_projection(emb: DataFrame, out_dims: int = 16, dims: int = 64,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a ±1 sign
    matrix (Achlioptas 2003) → long-form ``(vec_id, d_out, value)``,
    ``value = (vec · R_j) / sqrt(out_dims)`` rounded 6 dp.

    The standard pre-ANN shrink: project once, then run the LSH / IVF
    probes in the cheaper space. The ``out_dims × dims`` matrix is a
    plan-time literal (same rationale as ``sign_lsh_bucket``), each
    output dim one fused multiply-add fold — a single narrow map pass,
    zero exchanges, no UDF. ±1 weights keep every product exact in fp
    (only the fold's additions round), the safest variant of the
    dot-product determinism contract the cosine oracles already use."""
    return widen(emb).select(
        F.col(id_col),
        F.posexplode(rp_array_expr(vec_col, out_dims, dims))
        .alias("d_out", "value"))


def _rp_matrix(out_dims: int, dims: int) -> list:
    return [(j, [rp_component(j, d) for d in range(dims)])
            for j in range(out_dims)]


def rp_array_expr(vec: Column | str, out_dims: int = 16,
                  dims: int = 64) -> Column:
    """The projection as an ``array<double>`` column (each component
    rounded 6 dp) — the composable form :func:`rp_cosine_topk` searches
    over; :func:`random_projection` is its long-form dump. Pass the
    column NAME for the fast single-``F.expr`` build."""
    if isinstance(vec, str):
        return F.expr(X.rp_array_txt(vec, _rp_matrix(out_dims, dims),
                                     out_dims))
    scale = F.sqrt(F.lit(float(out_dims)))
    return F.array(*[
        pround(dot_expr(vec, F.array(*[F.lit(rp_component(j, d))
                                       for d in range(dims)])) / scale, 6)
        for j in range(out_dims)])


def project_query(query_vec: list[float], out_dims: int = 16) -> list[float]:
    """Driver-side projection of a literal query vector — Python's
    left-to-right ``sum`` matches the executor fold order, so the
    projected literal is bit-identical to projecting on-cluster."""
    import math
    dims = len(query_vec)
    out = []
    for j in range(out_dims):
        acc = 0.0
        for d in range(dims):
            acc += float(query_vec[d]) * rp_component(j, d)
        v = acc / math.sqrt(float(out_dims))
        out.append(math.floor(v * 1000000.0 + 0.5) / 1000000.0)
    return out


def rp_cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                   out_dims: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """ANN via search-in-projected-space: project corpus and query to
    ``out_dims`` dims (JL preserves angles in expectation), then exact
    cosine top-k in the cheap space → ``(vec_id, cosine, rank)``.

    The standard two-stage recall/precision trade: 4× fewer flops and
    bytes per comparison at 64→16; a production pipeline would re-rank
    the projected top-m in the original space (compose with
    :func:`cosine_topk` over the candidate ids). Still one narrow scan
    + TakeOrderedAndProject — no shuffle before the final top-k."""
    q = project_query(query_vec, out_dims)
    rp_txt = X.rp_array_txt(vec_col, _rp_matrix(out_dims, 64), out_dims)
    scored = widen(emb).select(
        F.col(id_col),
        F.expr(X.pround_txt(X.cos_txt(rp_txt, X.vec_lit(q)), 6))
        .alias("cosine"))
    return _ranked_topk(scored, k, id_col)


def group_centroids(emb: DataFrame, labels: DataFrame, label_col: str,
                    label_id_col: str, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-group embedding centroids (e.g. mean vector per language —
    the drift/coverage diagnostic for multilingual corpora) →
    long-form ``(label, d, centroid)``.

    Components are quantized to INTEGER micro-units BEFORE aggregation
    (``floor(x*1e6 + 0.5)``), so the group sums are exact and
    associative — the mean is independent of partial-aggregation order
    across runs and engines (same contract as the LM micro-nats; a
    double ``avg`` over thousands of rows is exactly the
    summation-order flake class the money aggregates eliminated).
    Shape: id-keyed join with the label table (co-partitioned
    downstream), posexplode ×dims, then a partial-agg shuffle carrying
    only (label, d) sums — k×dims rows, never the corpus."""
    xu = F.posexplode(
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * F.lit(1000000.0)
                                      + F.lit(0.5)).cast("long")))
    j = (emb.join(labels, emb[id_col] == labels[label_id_col])
         .select(F.col(label_col).alias("label"), xu.alias("d", "xu")))
    return (j.groupBy("label", "d")
            .agg(F.sum("xu").alias("su"), F.count(F.lit(1)).alias("n"))
            .select("label", "d",
                    pround(F.col("su").cast("double") / F.col("n")
                           / F.lit(1000000.0), 6).alias("centroid")))


def pq_encode(emb: DataFrame, n_segments: int = 4, n_codes: int = 8,
              dims: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding", books=None) -> DataFrame:
    """Product quantization encode → long-form ``(vec_id, segment,
    code)``: split each vector into ``n_segments`` contiguous
    sub-vectors and snap each to its nearest codeword by squared L2
    (rounded 6 dp; ties → lowest code).

    The codebook is the first ``n_codes`` corpus vectors' segments —
    the deterministic stand-in :func:`ivf_topk` also uses (a trained
    per-segment k-means drops in unchanged via :func:`kmeans_fit`).
    Collected to plan-time literals, so encoding is one narrow pass,
    zero exchanges — at 100 TB the 64-dim float corpus compresses to
    ``n_segments`` bytes/vector (64× here), which is what makes
    billion-scale ANN fit in memory (ADC scans the codes, not the
    floats)."""
    seg_len = dims // n_segments
    if books is None:
        books = _pq_codebooks(emb, n_segments, n_codes, seg_len, id_col, vec_col)
    if not books[0]:
        raise ValueError("pq_encode: empty codebooks (empty embeddings frame)")
    cells_txt = "array(" + ", ".join(
        X.pq_seg_cell_txt(vec_col, book, s, seg_len)
        for s, book in enumerate(books)) + ")"
    return widen(emb).select(
        F.col(id_col),
        F.posexplode(F.expr(cells_txt)).alias("segment", "code"))


def _pq_codebooks(emb: DataFrame, n_segments: int, n_codes: int,
                  seg_len: int, id_col: str, vec_col: str):
    """Per-segment codebooks: the first ``n_codes`` corpus vectors'
    segments, collected once (tiny) for plan-time embedding."""
    first = emb.filter(F.col(id_col) < n_codes) \
        .select(id_col, vec_col).orderBy(id_col).collect()
    return [
        [(int(r[id_col]),
          [float(x) for x in r[vec_col]][s * seg_len:(s + 1) * seg_len])
         for r in first]
        for s in range(n_segments)
    ]


def pq_train_books(emb: DataFrame, n_segments: int = 4, n_codes: int = 8,
                   iters: int = 2, dims: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding"):
    """Per-segment Lloyd's k-means over PQ sub-vectors (squared-L2) —
    the trained codebooks :func:`pq_encode`'s docstring promises.

    Scale shape: ALL segments train in one corpus pass per iteration —
    assignment is ``n_segments`` narrow literal argmaxes (zero
    exchanges), then one posexplode + hash aggregate on
    ``(segment, cell, dim)`` whose shuffle carries
    O(segments × codes × seg_len) partial sums per partition, never the
    corpus. The tiny means round-trip through the driver into the next
    iteration's literals (the J4 scalar pattern, same as the SVM epochs
    and :func:`kmeans_fit`).

    Determinism contract (mirrors the unrolled-SQL oracle): init = the
    first ``n_codes`` vectors' segments; distances and means rounded
    6 dp; assignment ties → lowest code; an empty cell keeps its
    previous codeword."""
    seg_len = dims // n_segments
    books = _pq_codebooks(emb, n_segments, n_codes, seg_len, id_col, vec_col)
    if not books[0]:
        raise ValueError(
            "pq_train_books: empty codebooks (empty embeddings frame)")
    for _ in range(iters):
        cells = F.expr("array(" + ", ".join(
            X.pq_seg_cell_txt(vec_col, books[s], s, seg_len)
            for s in range(n_segments)) + ")")
        # project the n_segments argmaxes BEFORE the posexplode (same
        # generator-sibling hazard as kmeans_fit: a sibling of the
        # generator re-evaluates per exploded element, dims× per row)
        assigned = widen(emb).select(cells.alias("_cells"), F.col(vec_col))
        lf = assigned.select(
            "_cells",
            F.posexplode(F.transform(
                F.col(vec_col),
                lambda x: x.cast("double"))).alias("d", "x"))
        lf = lf.select(
            (F.col("d") / seg_len).cast("int").alias("s"),
            F.get(F.col("_cells"), (F.col("d") / seg_len).cast("int"))
            .alias("cell"),
            (F.col("d") % seg_len).alias("dl"), "x")
        means = lf.groupBy("s", "cell", "dl").agg(
            pround(F.avg("x"), 6).alias("m"))
        got = {(r["s"], r["cell"], r["dl"]): r["m"]
               for r in means.collect()}
        books = [
            [(cid, [got.get((s, cid, d), prev[d]) for d in range(seg_len)])
             for cid, prev in books[s]]
            for s in range(n_segments)
        ]
    return books


def pq_encode_trained(emb: DataFrame, n_segments: int = 4, n_codes: int = 8,
                      iters: int = 2, dims: int = 64, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """:func:`pq_encode` with codebooks from :func:`pq_train_books`
    instead of the first-``n_codes`` stand-in — lower quantization
    error, identical encode plan (narrow, zero exchanges)."""
    books = pq_train_books(emb, n_segments, n_codes, iters, dims,
                           id_col, vec_col)
    return pq_encode(emb, n_segments, n_codes, dims, id_col, vec_col,
                     books=books)


def pq_adc_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                n_segments: int = 4, n_codes: int = 8, dims: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """PQ asymmetric-distance top-k → ``(vec_id, approx_dist, rank)``
    (ascending squared-L2 estimate, ties → lowest id).

    ADC is why PQ wins at scale: the query builds one tiny
    ``n_segments × n_codes`` distance table DRIVER-side (in micro-unit
    integers), and scanning the corpus costs ``n_segments`` integer
    table lookups + an integer sum per vector — no float vector math
    touches the scan, and the integer sums keep the estimate
    aggregation-order independent. Here the lookup rides the long-form
    code column (a 32-branch literal CASE); a production layout stores
    packed code bytes and the same table. Re-rank the top-m with exact
    cosine when precision matters (compose with cosine_topk)."""
    import math
    seg_len = dims // n_segments
    books = _pq_codebooks(emb, n_segments, n_codes, seg_len, id_col, vec_col)
    q = [float(x) for x in query_vec]
    # the (segment, code) → micro-unit distance table as ONE literal map
    # (codebook ids are 0..n_codes-1 by construction, so the key packs
    # as segment·n_codes + code); try_element_at mirrors the old chained
    # CASE's null-for-unseen behavior under ANSI mode
    entries = []
    for s, book in enumerate(books):
        qseg = q[s * seg_len:(s + 1) * seg_len]
        for cid, cvec in book:
            raw = 0.0
            for a, b in zip(qseg, cvec):
                raw += (a - b) * (a - b)
            d6 = math.floor(raw * 1000000.0 + 0.5) / 1000000.0
            du = int(math.floor(d6 * 1000000.0 + 0.5))
            entries.append((s * n_codes + cid, du))
    map_txt = "map(" + ", ".join(f"{k}, {v}L" for k, v in entries) + ")"
    lut = F.expr(f"try_element_at({map_txt}, "
                 f"CAST(segment * {n_codes} + code AS INT))")
    codes = pq_encode(emb, n_segments, n_codes, dims, id_col, vec_col,
                      books=books)
    scored = (codes.select(F.col(id_col), lut.alias("du"))
              .groupBy(id_col)
              .agg(F.sum("du").alias("su"))
              .select(F.col(id_col),
                      pround(F.col("su").cast("double") / F.lit(1000000.0), 6)
                      .alias("approx_dist")))
    from pyspark.sql import Window
    top = scored.orderBy(F.col("approx_dist").asc(),
                         F.col(id_col).asc()).limit(k)
    win = Window.orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .orderBy("rank"))


def sq8_bounds(emb: DataFrame, vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus — the SQ8 codebook.

    Dimension-count-sized driver read (the J4 scalar-broadcast pattern,
    like the k-means/PQ codebooks): one narrow pass of per-partition
    array min/max partials, never a corpus collect."""
    dims = len(emb.select(vec_col).first()[0])
    aggs = []
    for d in range(dims):
        x = F.element_at(F.col(vec_col), d + 1).cast("double")
        aggs += [F.min(x).alias(f"mn{d}"), F.max(x).alias(f"mx{d}")]
    row = emb.agg(*aggs).collect()[0]
    return [(row[f"mn{d}"], row[f"mx{d}"]) for d in range(dims)]


def _sq8_code_expr(x, mn: float, mx: float):
    rng = mx - mn
    if rng == 0.0:
        return F.lit(0).cast("int")
    code = F.floor((x.cast("double") - F.lit(mn)) * F.lit(255.0)
                   / F.lit(rng) + F.lit(0.5))
    return F.greatest(F.lit(0.0), F.least(F.lit(255.0), code)).cast("int")


def sq8_encode(emb: DataFrame, bounds: list[tuple[float, float]],
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Uniform 8-bit scalar quantization (the faiss ``SQ8`` scheme) →
    long-form ``(vec_id, d, code)``: ``code = round(255·(x−mn)/(mx−mn))``
    clamped to [0,255] — 4× compression over float32 (8× over double),
    one narrow map, zero shuffles. Pure linear arithmetic on exact
    collected bounds, so codes are bit-identical across engines."""
    codes = F.array(*[
        _sq8_code_expr(F.element_at(F.col(vec_col), d + 1), mn, mx)
        for d, (mn, mx) in enumerate(bounds)
    ])
    return (emb.select(F.col(id_col), F.posexplode(codes).alias("d", "code")))


def sq8_dequantize(emb: DataFrame, bounds: list[tuple[float, float]],
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Encode-then-decode reconstruction ``x̂ = mn + code·(mx−mn)/255``
    — what an SQ8 index actually searches against; feeding it to
    :func:`cosine_topk` measures the quantization's recall cost."""
    recon = F.array(*[
        (F.lit(mn) + _sq8_code_expr(F.element_at(F.col(vec_col), d + 1),
                                    mn, mx).cast("double")
         * F.lit((mx - mn) / 255.0 if mx != mn else 0.0))
        for d, (mn, mx) in enumerate(bounds)
    ])
    return emb.select(F.col(id_col), recon.alias(vec_col))


def kmeans_quality(emb: DataFrame, fitted: DataFrame,
                   vec_col: str = "embedding") -> DataFrame:
    """Cluster-quality report for a trained k-means codebook (the
    long-form ``(cell_id, d, centroid)`` of :func:`kmeans_fit`) →
    ``(cell_id, n_members, sum_cos_micro)`` — membership count and the
    exact integer sum of 6-dp-rounded assigned cosines per cell (the
    cosine analogue of inertia; higher = tighter cell). The metric that
    closes the loop the ANN family's recall queries close for search:
    a codebook without a measured tightness number is a guess.

    The caller fits (or reuses) the codebook; this function only reads
    its k×dims rows, which starts no job when the codebook is the local
    relation :func:`kmeans_fit` returns. One corpus scan: the narrow literal-codebook argmax emits
    (cell, cos) per row, cosines quantize to BIGINT micro-units before
    the per-cell sum — order-independent across engines/partitionings,
    the repo's standard determinism discipline."""
    cents = _codebook(fitted)
    a = widen(emb).select(
        F.expr(X.nearest_cell_with_cos_txt(vec_col, cents)).alias("_a"))
    return (
        a.select(F.col("_a.cell").alias("cell_id"),
                 F.floor(F.col("_a.cos") * F.lit(1000000.0) + F.lit(0.5))
                 .cast("long").alias("_cm"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.sum("_cm").alias("sum_cos_micro"))
        .orderBy("cell_id")
    )


def embedding_dim_stats(emb: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-dimension corpus statistics over an embedding column →
    ``(d, n, mean, pop_var, mn, mx)`` — the health check run before
    quantization (SQ8/PQ bounds sanity, dead-dimension detection,
    whitening decisions).

    Determinism contract: components quantize to INTEGER micro-units
    before aggregation (the ``group_centroids`` discipline), so sums
    and sums-of-squares are exact integers — order-independent across
    partitioning and engines. Sum-of-squares accumulates in
    DECIMAL(38,0): micro-unit squares are ~1e12-1e14 each, so a BIGINT
    accumulator overflows near 1e5 rows — decimal is exact to 1e38
    (≈1e24 rows). Population variance then comes off the exact
    integers with one double division: (n·Σx² − (Σx)²) / n² / 1e12.

    Shape: posexplode ×dims → one (d)-keyed partial-agg shuffle whose
    width is dims, not corpus size. At 100 TB this is the map-side-
    combine pattern; nothing driver-sized anywhere.
    """
    xu = F.posexplode(
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * F.lit(1000000.0)
                                      + F.lit(0.5)).cast("long")))
    long_form = emb.select(xu.alias("d", "xu"))
    agg = long_form.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xu").alias("_su"),
        F.sum((F.col("xu") * F.col("xu")).cast("decimal(38,0)")).alias("_ssq"),
        F.min("xu").alias("_mn"),
        F.max("xu").alias("_mx"),
    )
    n = F.col("n")
    var_num = (n.cast("decimal(38,0)") * F.col("_ssq")
               - (F.col("_su").cast("decimal(38,0)")
                  * F.col("_su").cast("decimal(38,0)")))
    return (agg.select(
        F.col("d").cast("int").alias("d"),
        n.cast("long").alias("n"),
        pround(F.col("_su").cast("double") / n / F.lit(1000000.0), 6)
        .alias("mean"),
        pround(var_num.cast("double") / (n * n)
               / F.lit(1e12), 6).alias("pop_var"),
        (F.col("_mn").cast("double") / F.lit(1000000.0)).alias("mn"),
        (F.col("_mx").cast("double") / F.lit(1000000.0)).alias("mx"))
        .orderBy("d"))


def hard_negatives(emb: DataFrame, queries: DataFrame, lo: int = 11,
                   hi: int = 20, id_col: str = "vec_id",
                   vec_col: str = "embedding", qid_col: str = "qid",
                   qvec_col: str = "qvec") -> DataFrame:
    """Hard-negative mining for contrastive/embedding training →
    ``(qid, vec_id, cosine, rank)`` keeping cosine ranks in
    ``[lo, hi]`` per query: close enough to be informative negatives,
    far enough to (probabilistically) not be unlabeled positives — the
    standard band heuristic for dense-retriever training data.

    Pure reuse of :func:`pairwise_topk_join` (broadcast queries ×
    corpus scan, per-qid window top-k) with the band filter applied to
    the same deterministic rank; one query-keyed exchange, corpus never
    re-partitioned per query.
    """
    topk = pairwise_topk_join(emb, queries, k=hi, id_col=id_col,
                              vec_col=vec_col, qid_col=qid_col,
                              qvec_col=qvec_col)
    return (topk.filter(F.col("rank") >= lo)
            .orderBy(qid_col, "rank"))


def mmr_rerank(emb: DataFrame, query_vec: list[float],
               n_candidates: int = 20, k: int = 5, lam_mill: int = 700,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) → ``(rank, vec_id, mmr_score_nano)``: greedily pick the
    candidate maximizing ``λ·rel(q,d) − (1−λ)·max_{s∈selected}
    sim(d,s)`` — relevance-with-diversity for retrieval results that
    would otherwise return ``k`` near-copies of the same document.

    Distributed/driver split (the codebook pattern): the CLUSTER does
    the corpus-scale work — exact top-``n_candidates`` scan
    (:func:`cosine_topk`) and the candidate×candidate similarity
    matrix (``n²/2`` dots, n=20 → 190 rows) — while the inherently
    sequential greedy loop runs driver-side over those
    candidate-sized tables. Nothing driver-side ever scales with the
    corpus.

    Determinism: relevance and pair similarities are floored to
    INTEGER micro-cosines; the greedy scores are pure integer
    arithmetic in nano units (micro × λ_mill), so selection order is
    exact — ties break to the smaller id, bit-identical to the
    unrolled-SQL oracle."""
    topn = cosine_topk(emb, query_vec, k=n_candidates, id_col=id_col,
                       vec_col=vec_col)
    cands = (topn.join(emb.select(id_col, vec_col), id_col)
             .select(id_col, "cosine", vec_col)
             .localCheckpoint(eager=True))
    rel = {r[id_col]: int(math.floor(r["cosine"] * 1e6 + 0.5))
           for r in cands.select(id_col, "cosine").collect()}
    a = cands.select(F.col(id_col).alias("ia"), F.col(vec_col).alias("va"))
    b = cands.select(F.col(id_col).alias("ib"), F.col(vec_col).alias("vb"))
    pair_rows = (a.join(b, F.col("ia") < F.col("ib"))
                 .select("ia", "ib",
                         F.floor(cosine_expr(F.col("va"), F.col("vb"))
                                 * F.lit(1000000.0) + F.lit(0.5))
                         .cast("long").alias("sm"))
                 .collect())
    sim: dict[tuple, int] = {}
    for r in pair_rows:
        sim[(r["ia"], r["ib"])] = r["sm"]
        sim[(r["ib"], r["ia"])] = r["sm"]

    remaining = set(rel)
    selected: list[tuple] = []   # (rank, vec_id, score_nano)
    for step in range(1, min(k, len(rel)) + 1):
        best = None
        for vid in sorted(remaining):
            if selected:
                max_sim = max(sim[(vid, s[1])] for s in selected)
            else:
                max_sim = 0
            score = lam_mill * rel[vid] - (1000 - lam_mill) * max_sim
            if best is None or score > best[0]:
                best = (score, vid)
        selected.append((step, best[1], best[0]))
        remaining.discard(best[1])

    spark = emb.sparkSession
    from pyspark.sql import types as T
    return local_frame(
        spark, selected,
        T.StructType([T.StructField("rank", T.IntegerType()),
                      T.StructField("vec_id", T.LongType()),
                      T.StructField("mmr_score_nano", T.LongType())]))


def rbo_min_at(a: DataFrame, b: DataFrame, depth: int = 10,
               p_tenths: int = 9, id_col: str = "vec_id",
               rank_col: str = "rank") -> DataFrame:
    """Rank-Biased Overlap between two rankings, truncated at ``depth``
    (Webber, Moffat & Zobel, TOIS 2010) → one row ``(rbo_min, n_common)``.
    The top-weighted complement to set recall@k: recall treats ranks
    1 and 10 alike; RBO weights agreement at depth d by
    ``(1−p)·p^(d−1)`` so head agreement dominates. The ANN-vs-exact
    quality gauge used alongside ``ann_recall_at10``.

    EXACT integer form: with p = ``p_tenths``/10, the weight of depth d
    is the rational ``9^(d−1)/10^d`` (for p=0.9); an item present in
    both rankings at ranks (ra, rb) contributes to every depth
    d ≥ m = max(ra, rb), so its total weight is the per-item lookup
    ``W(m) = Σ_{d=m..depth} L/d · 9^(d−1) · 10^(depth−d)`` with
    L = lcm(1..depth) — all BIGINT. The sum of lookups is an exact
    integer; ONE double division at the end produces the score. No
    order-dependent float math, so the SQL oracle hash-matches.

    Shape: inner join of two k-row rankings + a literal 10-entry
    lookup — constant-size work after the upstream top-k scans.
    """
    import math as _m
    L = _m.lcm(*range(1, depth + 1))
    q = 10 - p_tenths
    # w_d scaled by 10^depth: (10-q)^{d-1} * q * 10^{depth-d} — for
    # p=0.9: (1-p)p^{d-1} = 9^{d-1}/10^d
    wd = [q * (p_tenths ** (d - 1)) * (10 ** (depth - d)) * (L // d)
          for d in range(1, depth + 1)]
    W = [sum(wd[m - 1:]) for m in range(1, depth + 1)]  # suffix sums
    denom = float(L * (10 ** depth))
    aa = a.select(F.col(id_col), F.col(rank_col).alias("_ra")) \
        .filter(F.col(rank_col) <= depth)
    bb = b.select(F.col(id_col), F.col(rank_col).alias("_rb")) \
        .filter(F.col(rank_col) <= depth)
    j = aa.join(bb, id_col).select(
        F.greatest(F.col("_ra"), F.col("_rb")).cast("int").alias("_m"))
    lut = F.array(*[F.lit(int(w)).cast("long") for w in W])
    contrib = j.select(F.element_at(lut, F.col("_m")).alias("_w"))
    return (contrib.agg(F.coalesce(F.sum("_w"), F.lit(0)).alias("_t"),
                        F.count(F.lit(1)).alias("n_common"))
            .select((F.col("_t").cast("double") / F.lit(denom))
                    .alias("rbo_min"),
                    F.col("n_common").cast("long").alias("n_common")))


def knn_graph(emb: DataFrame, k: int = 5, n_cells: int = 8,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Approximate kNN GRAPH construction → ``(src, dst, cosine,
    rank)``: every vector's top-``k`` cosine neighbors among its own
    coarse cell's members — the batch building block for graph-based
    ANN indexes, kNN-classification, and graph dedup (the near-dup CC
    machinery consumes exactly this edge shape).

    Candidate generation is the IVF coarse quantizer (first-``n_cells``
    seed centroids — swap in ``kmeans_books(kmeans_fit(...))`` for a
    trained codebook, same downstream), so the pair join is
    cell-bounded, never all-pairs: expected per-vector candidates
    ≈ n/n_cells. Norms are computed once per row BEFORE the self-join
    (the ``embedding_near_dups`` hoist); the per-src top-k is a
    cell-partitioned window. Recall improves with multi-probe the same
    way the query-time path does (union a second assignment, distinct).
    """
    from pyspark.sql import Window
    seeds = (emb.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).cast("long").alias("cell_id"),
                     F.col(vec_col).alias("cell_vec")))
    assigned = ivf_assign_cells(widen(emb), seeds, id_col=id_col,
                                vec_col=vec_col)
    base = assigned.select(F.col(id_col), F.col(vec_col), "cell",
                           norm_expr(F.col(vec_col)).alias("_nrm"))
    a = base.select(F.col(id_col).alias("src"), F.col(vec_col).alias("va"),
                    F.col("_nrm").alias("_na"), "cell")
    b = base.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb"),
                    F.col("_nrm").alias("_nb"), "cell")
    cosine = pround(dot_expr(F.col("va"), F.col("vb"))
                    / (F.col("_na") * F.col("_nb")), 6)
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(),
                                          F.col("dst").asc())
    return (a.join(b, "cell").filter(F.col("src") != F.col("dst"))
            .select("src", "dst", cosine.alias("cosine"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .orderBy("src", "rank"))


def bitext_mine(emb: DataFrame, doc_langs: DataFrame,
                src_lang: str = "en", tgt_lang: str = "de",
                threshold: float = 0.25, n_planes: int = 8,
                n_bands: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Cross-lingual parallel-pair mining (bitext mining, the
    CCMatrix/LASER recipe shape) → ``(src_id, tgt_id, cosine)``:
    candidate ``src_lang``×``tgt_lang`` pairs from banded sign-LSH
    buckets, exact cosine on candidates, then FORWARD-BACKWARD
    INTERSECTION — keep a pair only if each side is the other's best
    match among threshold-passing candidates (mutual best, ties →
    lowest id). The mutual-best gate is what turns a similarity join
    into an alignment: one source sentence can't claim five targets.

    Scale shape = :func:`..operators.dedup.embedding_near_dups`'s
    bipartite twin: the language tag joins id-keyed (co-partitions
    with the embedding scan), candidate generation is the (band,
    bucket) equi join — O(collisions), never |src|×|tgt| — norms are
    hoisted before the join, and the mutual-best ranks are two
    candidate-sized window passes keyed on either endpoint. Plane
    weights are the deterministic ``plane_component`` literals, so a
    DuckDB oracle reproduces the exact candidate set bit-for-bit."""
    from .dedup import widen

    tagged = (widen(emb)
              .join(doc_langs.select(F.col("doc_id").alias(id_col), "lang"),
                    id_col)
              .filter(F.col("lang").isin(src_lang, tgt_lang)))
    band_buckets = F.array(*[
        sign_lsh_bucket(vec_col, n_planes=n_planes,
                        plane_offset=b * n_planes)
        for b in range(n_bands)
    ])
    banded = tagged.select(
        F.col(id_col), F.col("lang"), F.col(vec_col),
        norm_expr(F.col(vec_col)).alias("_nrm"),
        F.posexplode(band_buckets).alias("band", "bucket"))
    s = (banded.filter(F.col("lang") == src_lang)
         .select(F.col(id_col).alias("src_id"), F.col(vec_col).alias("va"),
                 F.col("_nrm").alias("_na"), "band", "bucket"))
    t = (banded.filter(F.col("lang") == tgt_lang)
         .select(F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("vb"),
                 F.col("_nrm").alias("_nb"), "band", "bucket"))
    cosine = dot_expr(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    cands = (s.join(t, ["band", "bucket"])
             .select("src_id", "tgt_id", pround(cosine, 6).alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .distinct())
    from pyspark.sql import Window
    rs = F.row_number().over(Window.partitionBy("src_id")
                             .orderBy(F.col("cosine").desc(),
                                      F.col("tgt_id").asc()))
    rt = F.row_number().over(Window.partitionBy("tgt_id")
                             .orderBy(F.col("cosine").desc(),
                                      F.col("src_id").asc()))
    return (cands.withColumn("_rs", rs).withColumn("_rt", rt)
            .filter((F.col("_rs") == 1) & (F.col("_rt") == 1))
            .select("src_id", "tgt_id", "cosine")
            .orderBy("src_id"))


def _label_centroid_books_lit(emb: DataFrame, vec_col: str,
                              label_col: str) -> str:
    """Per-label centroid codebook as a SQL array literal: exact
    integer micro-unit sums per (label, dim) — |labels|·dims rows,
    collected once (codebook-sized driver traffic, same budget as the
    PQ/IVF books) — each mean rounded to 6 dp so downstream cosines
    are engine-stable."""
    xu = F.posexplode(
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * F.lit(1000000.0)
                                      + F.lit(0.5)).cast("long")))
    cent_rows = (emb.select(F.col(label_col).alias("lbl"),
                            xu.alias("d", "xu"))
                 .groupBy("lbl", "d")
                 .agg(F.sum("xu").alias("su"), F.count(F.lit(1)).alias("n"))
                 .select("lbl", "d",
                         pround(F.col("su").cast("double") / F.col("n")
                                / F.lit(1000000.0), 6).alias("c"))
                 .collect())
    dims = max(r["d"] for r in cent_rows) + 1
    books: dict[int, list[float]] = {}
    for r in cent_rows:
        books.setdefault(int(r["lbl"]), [0.0] * dims)[r["d"]] = float(r["c"])
    return X.books_lit(sorted(books.items()))


def label_silhouette(emb: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Embedding-space health report per label — a centroid-silhouette
    diagnostic for labeled/clustered corpora → ``(label, n_vecs,
    mean_own_cos, mean_other_cos, mean_margin, n_confused)``:
    per vector, cosine to its OWN label's centroid vs the best cosine
    to any OTHER label's centroid (rounded 6 dp; ties → lowest other
    label); ``n_confused`` counts vectors whose best foreign centroid
    beats their own — the label-noise / cluster-overlap signal that
    decides whether a labeling (or a k-means clustering) is usable for
    curation decisions like SemDeDup or stratified mixing.

    Shape: one long-form micro-unit centroid aggregation (exact
    integer sums — |labels|·dims rows, collected once: codebook-sized
    driver traffic, same budget as the PQ/IVF books), then ONE narrow
    pass scoring every vector against the centroid literal (the
    per-row norm is hoisted into a projected column so the argmax
    lambda references an attribute, not a re-evaluated aggregate), and
    a |labels|-row rollup from integer micro-sums — order-independent,
    engine-stable. No shuffle carries vectors except the one label
    rollup of micro-cosines."""
    blit = _label_centroid_books_lit(emb, vec_col, label_col)
    # hoisted per-row norm; cosine vs each centroid inside the lambda
    cos6 = X.pround_txt(
        f"({X.dot_txt(vec_col, 'p.v')} / (_nv * {X.norm_txt('p.v')}))", 6)
    own = (f"(array_max(transform(filter({blit}, p -> p.i = {label_col}), "
           f"p -> named_struct('c', {cos6}, 'i', 0L)))).c")
    other = (f"array_max(transform(filter({blit}, p -> p.i <> {label_col}), "
             f"p -> named_struct('c', {cos6}, 'ni', -p.i)))")
    scored = (widen(emb)
              .withColumn("_nv", F.expr(X.norm_txt(vec_col)))
              .select(F.col(label_col).alias("label"),
                      F.expr(own).alias("_own"),
                      F.expr(f"({other}).c").alias("_oth"))
              # degenerate single-label corpus: no foreign centroid →
              # _oth NULL; drop those rows so the report is empty,
              # matching the oracle's inner join (with ≥2 labels _oth
              # is never NULL and this filter is a no-op)
              .filter(F.col("_oth").isNotNull()))
    mu = lambda c: F.floor(F.col(c) * F.lit(1000000.0) + F.lit(0.5)) \
        .cast("long")  # noqa: E731 - exact micro-units of a 6dp value
    agg = (scored.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n_vecs"),
                F.sum(mu("_own")).alias("_so"),
                F.sum(mu("_oth")).alias("_st"),
                F.sum((F.col("_oth") > F.col("_own")).cast("long"))
                .alias("n_confused")))
    mean6 = lambda s: pround(F.col(s).cast("double") / F.col("n_vecs")
                             / F.lit(1000000.0), 6)  # noqa: E731
    return (agg.select(
        "label", F.col("n_vecs").cast("long").alias("n_vecs"),
        mean6("_so").alias("mean_own_cos"),
        mean6("_st").alias("mean_other_cos"),
        pround((F.col("_so") - F.col("_st")).cast("double")
               / F.col("n_vecs") / F.lit(1000000.0), 6).alias("mean_margin"),
        F.col("n_confused").cast("long").alias("n_confused"))
        .orderBy("label"))


def embedding_drift_report(emb: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Per-dimension distribution drift between two embedding cohorts
    (the re-embedding / model-upgrade monitor: did the new batch's
    geometry move?) → ``(d, mean_a, mean_b, shift)`` for every
    dimension, ordered by ``d``.

    Cohorts are the deterministic ``vec_id`` parity split (the stand-in
    for yesterday's vs today's ingest; a production caller passes a
    batch-date column as the cohort key — same plan). Components are
    quantized to integer micro-units BEFORE aggregation (the
    :func:`group_centroids` contract), so cohort sums are exact and
    associative and the report is bit-identical across engines and
    partitionings. Shape: one narrow pass over the vectors (posexplode
    ×dims), ONE dims-sized partial-agg shuffle carrying both cohorts'
    (sum, count) pairs as conditional aggregates — never two jobs, and
    driver traffic is the dims-row result itself. At 100 TB with daily
    batches this is the cheapest useful drift signal; pair a breach
    with :func:`label_silhouette` for the expensive follow-up."""
    xu = F.posexplode(
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * F.lit(1000000.0)
                                      + F.lit(0.5)).cast("long")))
    j = emb.select((F.col(id_col) % 2 == 1).alias("_b"),
                   xu.alias("d", "xu"))
    g = (j.groupBy("d")
         .agg(F.sum(F.when(~F.col("_b"), F.col("xu")).otherwise(0))
              .alias("_sa"),
              F.sum(F.when(F.col("_b"), F.col("xu")).otherwise(0))
              .alias("_sb"),
              F.sum(F.when(~F.col("_b"), 1).otherwise(0)).alias("_na"),
              F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_nb")))
    ma = F.col("_sa").cast("double") / F.col("_na") / F.lit(1000000.0)
    mb = F.col("_sb").cast("double") / F.col("_nb") / F.lit(1000000.0)
    return (g.select("d",
                     pround(ma, 6).alias("mean_a"),
                     pround(mb, 6).alias("mean_b"),
                     pround(mb - ma, 6).alias("shift"))
            .orderBy("d"))


def embedding_outliers(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label",
                       k: int = 5) -> DataFrame:
    """Per-label embedding OUTLIERS — the curation op that prunes (or
    flags for re-labeling) the vectors farthest from their own label's
    centroid → the ``k`` lowest own-centroid cosines per label:
    ``(label, vec_id, own_cos, rnk)``.

    Shape: the shared micro-unit centroid codebook
    (:func:`_label_centroid_books_lit` — |labels|·dims driver rows,
    exact integer sums), then ONE narrow scoring pass (per-row norm
    hoisted, cosine rounded 6 dp), and a rank window PARTITIONED BY
    label — parallel by group, never one partition; ties break on
    ``vec_id`` so the cut is deterministic on both engines. No shuffle
    carries vectors except the |labels|-way rank exchange."""
    from pyspark.sql import Window

    blit = _label_centroid_books_lit(emb, vec_col, label_col)
    cos6 = X.pround_txt(
        f"({X.dot_txt(vec_col, 'p.v')} / (_nv * {X.norm_txt('p.v')}))", 6)
    own = (f"(array_max(transform(filter({blit}, p -> p.i = {label_col}), "
           f"p -> named_struct('c', {cos6}, 'i', 0L)))).c")
    scored = (widen(emb)
              .withColumn("_nv", F.expr(X.norm_txt(vec_col)))
              .select(F.col(label_col).alias("label"),
                      F.col(id_col).alias("vec_id"),
                      F.expr(own).alias("own_cos")))
    w = Window.partitionBy("label").orderBy(F.col("own_cos").asc(),
                                            F.col("vec_id").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("label", F.col("vec_id").cast("long").alias("vec_id"),
                    "own_cos", F.col("rnk").cast("int").alias("rnk"))
            .orderBy("label", "rnk"))


def pca_power_top_component(emb: DataFrame, vec_col: str = "embedding",
                            iters: int = 8) -> DataFrame:
    """Top principal component of the embedding cloud via fixed-round
    power iteration → ``(d, loading_micro)`` — one signed integer
    micro-unit loading per dimension, max-normalized to ±1e6. The
    whitening / dominant-direction probe run before dimensionality
    decisions (is one axis eating the variance?).

    Engine-stable end to end, NO floating point after the per-row
    quantization: components quantize to INTEGER micro-units (the
    ``embedding_dim_stats`` discipline), the Gram matrix G[i,j] =
    Σ xuᵢ·xuⱼ accumulates exactly (dims² output rows), and the centered
    matrix C = n·G − su·suᵀ with ``iters`` rounds of
    v ← C·v, renormalized each round by max-|component| INTEGER
    division (sign·(|w|·1e6 DIV max|w|)) runs in exact arbitrary-
    precision driver arithmetic on the collected dims×dims matrix —
    bounded driver traffic (dims² scalars, the codebook budget), the
    same class as the k-means centroid collect. The oracle mirrors
    every round in HUGEINT CTEs; magnitudes stay ≤ ~1e34 ≪ int128.

    The Gram is built from per-PARTITION dims×dims partial Grams via
    ``mapInPandas``: each task matmuls its own quantized rows (int64
    chunks sized so no product sum can overflow, accumulated into
    arbitrary-precision Python ints) and emits dims² rows; one exact
    DECIMAL(38,0) reduce sums the partials. The shuffle carries
    |partitions|·dims² rows, never n·dims² — the Gram cost rides the
    scan.

    Fixed v₀ = all-ones pins the eigenvector sign."""
    xu_lambda = lambda x: F.floor(  # noqa: E731
        x.cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    # widen BEFORE the Gram: a single-row-group parquet input would
    # run the CPU-heavy partial-Gram stage on one task
    src = widen(emb)
    qvec = src.select(F.transform(F.col(vec_col), xu_lambda).alias("_xu"))
    au = src.select(
        F.posexplode(F.transform(F.col(vec_col), xu_lambda)).alias("d", "xu"))

    def _partial_grams(batches):
        import numpy as np
        import pandas as pd
        G = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["_xu"].tolist(), dtype=np.int64)
            if G is None:
                G = np.zeros((X.shape[1], X.shape[1]), dtype=object)
            # Chunk rows so no int64 Gram entry can overflow:
            # |Σ xuᵢ·xuⱼ| over a chunk ≤ chunk·mx², so keep
            # chunk·mx² ≤ 2⁶². For unit-norm embeddings quantized
            # at 1e6 (mx ≈ 1e6) that allows chunks of thousands of
            # rows; wilder magnitudes shrink the chunk, and if even
            # a single row would overflow (mx² > 2⁶²) the matmul
            # runs in Python bigints outright. Exactness always
            # lands in the object-dtype (bigint) accumulator.
            mx = int(np.abs(X).max())
            if mx and mx * mx > (1 << 62):
                Xo = X.astype(object)
                G += Xo.T @ Xo
            else:
                chunk = 512 if mx == 0 else max(
                    1, min(512, (1 << 62) // (mx * mx)))
                for s in range(0, len(X), chunk):
                    ch = X[s:s + chunk]
                    G += (ch.T @ ch).astype(object)
        if G is None:
            return
        d = G.shape[0]
        ii, jj = np.indices((d, d))
        from decimal import Decimal
        yield pd.DataFrame({
            "i": ii.ravel().astype("int32"),
            "j": jj.ravel().astype("int32"),
            "g": [Decimal(int(x)) for x in G.ravel()],
        })

    partials = qvec.mapInPandas(
        _partial_grams, "i int, j int, g decimal(38,0)")
    gram = (partials.groupBy("i", "j")
            .agg(F.sum("g").cast("decimal(38,0)").alias("g")))
    su = au.groupBy("d").agg(F.sum("xu").alias("s"))
    n = emb.count()
    if n == 0:
        raise ValueError("pca_power_top_component: empty embeddings frame")
    g_rows = {(r["i"], r["j"]): int(r["g"]) for r in gram.collect()}
    s_rows = {r["d"]: int(r["s"]) for r in su.collect()}
    dims = len(s_rows)
    c = [[n * g_rows[(i, j)] - s_rows[i] * s_rows[j]
          for j in range(dims)] for i in range(dims)]
    v = [1_000_000] * dims
    for _ in range(iters):
        w = [sum(c[i][j] * v[j] for j in range(dims)) for i in range(dims)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [(-1 if x < 0 else 1) * ((abs(x) * 1_000_000) // m) for x in w]
    sess = emb.sparkSession
    return local_frame(
        sess, [(d, int(v[d])) for d in range(dims)],
        "d int, loading_micro long")
