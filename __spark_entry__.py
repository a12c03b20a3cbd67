"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps every
implemented operator from SURVEY.md §2 (+ north-star extensions §2.11)
to a ``(spark, sf_dir) -> DataFrame`` callable; ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for each.

Engine-parity notes baked into the oracles (see SURVEY.md §7 "hard
parts"):
- The ``documents.text`` corpus is verified ``^[a-z ]+$`` with no
  double/edge spaces, so cleaning chain A (applied on the Spark side)
  is the identity on it and the oracles read ``text`` directly; regex
  parity itself is covered by golden pytest fixtures (DuckDB's RE2
  cannot run chain A's lookahead).
- All cross-engine hashes go through the portable md5-derived 60-bit
  hash (``functions/hashing.py``).
- Decision margins (NB/SVM) are portably rounded to 6 dp on both sides
  (``functions/rounding.pround`` — plain ``floor(x*1e6+0.5)/1e6``
  arithmetic, unlike ROUND() which differs between engines on half-way
  doubles) so predictions don't depend on fp summation order.
- Order-dependent aggregated doubles get the same portable rounding at
  the output edge; per-row arithmetic on identical inputs is left
  unrounded (already bit-identical). Integer-typed outputs are cast to
  BIGINT in SQL to match Spark types.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from text_sentiment_classification_hadoop_spark_spark.functions.hashing import MINHASH_PRIME, _coeffs
from text_sentiment_classification_hadoop_spark_spark.operators import (
    dedup as D,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    events as E,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    relational as R,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    sentiment as S,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    similarity as SIM,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    text_analysis as TA,
)
from text_sentiment_classification_hadoop_spark_spark.operators import (
    multimodal as MM,
)
from text_sentiment_classification_hadoop_spark_spark.operators.svm import (
    EPOCHS,
    LAMBDA,
    LR,
    epoch_lr,
)
from text_sentiment_classification_hadoop_spark_spark.reuse import reused
from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table, table_path
from text_sentiment_classification_hadoop_spark_spark.session import local_frame

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

P = MINHASH_PRIME
ETA = repr(epoch_lr(EPOCHS))  # exact double literal, same value both engines

# deterministic label + 75/25 split (see operators/sentiment.py docstring)
DOCS_CTE = """
docs AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 2 = 1 THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS label
  FROM documents
),
train AS (SELECT * FROM docs WHERE doc_id % 8 NOT IN (0, 5)),
test  AS (SELECT * FROM docs WHERE doc_id % 8 IN (0, 5)),
tok_train AS (
  SELECT doc_id, label, unnest(string_split(text, ' ')) AS word
  FROM train WHERE trim(text) <> ''
),
tok_test AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM test WHERE trim(text) <> ''
),
model AS (
  SELECT word,
         count(*) FILTER (WHERE label = 1.0) AS pos_count,
         count(*) FILTER (WHERE label <> 1.0) AS neg_count
  FROM tok_train GROUP BY word
),
stats AS (
  SELECT count(*) AS tweets,
         sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS pos_t,
         sum(CASE WHEN label <> 1.0 THEN 1 ELSE 0 END) AS neg_t,
         sum(CASE WHEN label = 1.0 THEN len(string_split(text, ' ')) ELSE 0 END) AS pos_w,
         sum(CASE WHEN label <> 1.0 THEN len(string_split(text, ' ')) ELSE 0 END) AS neg_w
  FROM train
),
vocab AS (SELECT count(*) AS v FROM model)
"""

NB_PRED_SQL = f"""
WITH {DOCS_CTE},
sums AS (
  SELECT t.doc_id,
         sum(ln((m.pos_count + 1) / (s.pos_w + vb.v))) AS s_pos,
         sum(ln((m.neg_count + 1) / (s.neg_w + vb.v))) AS s_neg
  FROM tok_test t JOIN model m USING (word), stats s, vocab vb
  GROUP BY t.doc_id
),
preds AS (
  SELECT d.doc_id, d.label,
         CASE WHEN floor(((ln(s.pos_t / s.tweets) + coalesce(su.s_pos, 0.0)) - (ln(s.neg_t / s.tweets) + coalesce(su.s_neg, 0.0))) * 1000000.0 + 0.5) / 1000000.0 > 0
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS prediction
  FROM test d LEFT JOIN sums su USING (doc_id), stats s
)
"""

SVM_PRED_SQL = f"""
WITH {DOCS_CTE},
weights AS (
  SELECT word,
         {ETA} * (count(*) FILTER (WHERE label = 1.0)
                  - count(*) FILTER (WHERE label <> 1.0)) AS weight
  FROM tok_train GROUP BY word
),
scores AS (
  SELECT t.doc_id, sum(w.weight) AS s
  FROM tok_test t JOIN weights w USING (word) GROUP BY t.doc_id
),
preds AS (
  SELECT d.doc_id, d.label,
         CASE WHEN floor((coalesce(sc.s, 0.0)) * 1000000.0 + 0.5) / 1000000.0 >= 0
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS prediction
  FROM test d LEFT JOIN scores sc USING (doc_id)
)
"""

PORTABLE_HASH = "CAST(('0x' || substr(md5({col}), 1, 15)) AS BIGINT)"


# content-defined chunking CTEs (k=3 grams, mask 7 -> boundary prob
# 1/8): token positions, k-gram-ending flags, running-sum chunk ids
CDC_CTES = f"""
pt AS (
  SELECT doc_id, i - 1 AS pos, w AS tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents)
  WHERE length(w) > 0
),
gram AS (
  SELECT doc_id, pos, tok, rn,
         concat_ws(' ', lag(tok, 2) OVER win, lag(tok, 1) OVER win, tok) AS g
  FROM pt WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
flg AS (
  SELECT doc_id, pos, tok,
         CASE WHEN rn >= 3 AND {PORTABLE_HASH.format(col='g')} % 8 = 0
              THEN 1 ELSE 0 END AS boundary
  FROM gram
),
cid AS MATERIALIZED (
  SELECT doc_id, pos, tok,
         COALESCE(sum(boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM flg
)
"""

# winnowing fingerprints over the plain documents table: k=3 shingles,
# w=4 windows (mirror of dedup.winnow_fingerprints — position i runs
# 1..m over consecutive shingle starts, so the ROWS window at i gives
# exactly the Spark side's slice(hashes, i, 4))
WINNOW_CTES = f"""
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
toks_i AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i
  FROM t
),
sh AS (
  SELECT doc_id, i,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS s
  FROM toks_i WINDOW win AS (PARTITION BY doc_id ORDER BY i)
),
h AS MATERIALIZED (
  SELECT doc_id, i, {PORTABLE_HASH.format(col='s')} AS hv
  FROM sh WHERE s IS NOT NULL
),
mm AS (SELECT doc_id, count(*) AS m FROM h GROUP BY doc_id),
winmins AS (
  SELECT doc_id, i,
         min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM h
),
fps AS MATERIALIZED (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT w.doc_id, w.fp FROM winmins w JOIN mm USING (doc_id)
    WHERE mm.m >= 4 AND w.i <= mm.m - 3
    UNION ALL
    SELECT h.doc_id, min(hv) AS fp FROM h JOIN mm USING (doc_id)
    WHERE mm.m < 4 GROUP BY h.doc_id
  )
)
"""


def _metrics_sql(pred_cte: str) -> str:
    """A8 binary metrics + A9 weighted-F over a ``preds(doc_id, label,
    prediction)`` CTE — the SQL mirror of ``operators.metrics``."""
    def r6(e: str) -> str:
        return f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"

    return pred_cte + f""",
c AS (
  SELECT CAST(sum(CASE WHEN prediction = 1.0 AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN prediction = 1.0 AND label <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN prediction <> 1.0 AND label <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN prediction <> 1.0 AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM preds
),
m AS (
  SELECT tp, fp, tn, fn,
    CASE WHEN tp+fp+tn+fn > 0 THEN CAST(tp+tn AS DOUBLE)/(tp+fp+tn+fn) ELSE 0.0 END AS acc,
    CASE WHEN tp+fp > 0 THEN CAST(tp AS DOUBLE)/(tp+fp) ELSE 0.0 END AS prec1,
    CASE WHEN tp+fn > 0 THEN CAST(tp AS DOUBLE)/(tp+fn) ELSE 0.0 END AS rec1,
    CASE WHEN tn+fn > 0 THEN CAST(tn AS DOUBLE)/(tn+fn) ELSE 0.0 END AS prec0,
    CASE WHEN tn+fp > 0 THEN CAST(tn AS DOUBLE)/(tn+fp) ELSE 0.0 END AS rec0
  FROM c
),
f AS (
  SELECT tp, fp, tn, fn, acc, prec1, rec1,
    CASE WHEN prec1+rec1 > 0 THEN 2*prec1*rec1/(prec1+rec1) ELSE 0.0 END AS f1_1,
    CASE WHEN prec0+rec0 > 0 THEN 2*prec0*rec0/(prec0+rec0) ELSE 0.0 END AS f1_0
  FROM m
)
SELECT tp, fp, tn, fn,
  {r6('acc')} AS accuracy, {r6('prec1')} AS "precision", {r6('rec1')} AS recall,
  {r6('f1_1')} AS f1,
  {r6('(CAST(tp+fn AS DOUBLE)/(tp+fp+tn+fn))*f1_1 + (CAST(tn+fp AS DOUBLE)/(tp+fp+tn+fn))*f1_0')} AS weighted_f1
FROM f
"""

# word 3-shingles via lead() windows (mirrors functions/hashing.shingles_expr)
SHINGLES_CTE = """
toks_i AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM docs_all
),
shingles AS (
  SELECT doc_id,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
  FROM toks_i
  WINDOW win AS (PARTITION BY doc_id ORDER BY i)
)
"""


def _perms_values(num_perm: int = 16) -> str:
    rows = []
    for i in range(num_perm):
        a, b = _coeffs(i)
        rows.append(f"({i}, {a}, {b})")
    return "perms(p, a, b) AS (VALUES " + ", ".join(rows) + ")"


def _minhash_long_cte(num_perm: int = 16) -> str:
    """CTEs producing sig_long(doc_id, p, mh) over ``docs_all(doc_id,text)``."""
    return f"""
{SHINGLES_CTE},
sh_hash AS (
  SELECT doc_id, {PORTABLE_HASH.format(col='sh')} AS h
  FROM shingles WHERE sh IS NOT NULL
),
{_perms_values(num_perm)},
mins AS (
  SELECT s.doc_id, p.p,
         min((p.a * (s.h % {P}) + p.b) % {P}) AS mh
  FROM sh_hash s CROSS JOIN perms p
  GROUP BY s.doc_id, p.p
),
sig_long AS (
  SELECT d.doc_id, p.p, coalesce(m.mh, {P}) AS mh
  FROM (SELECT DISTINCT doc_id FROM docs_all) d
  CROSS JOIN perms p
  LEFT JOIN mins m ON m.doc_id = d.doc_id AND m.p = p.p
)
"""


# augmented corpus for the near-dup demos: every doc + a near-copy with
# ' zzz' appended (id + 1000000)
DOCS_ALL_AUGMENTED = """
docs_all AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text FROM documents
)
"""

SIMHASH_BITS = 32


def _simhash_cte(src: str) -> str:
    """CTE chunk computing ``fp(doc_id, simhash)`` over ``src(doc_id, text)``."""
    ones = ",\n         ".join(
        f"sum((h >> {b}) & 1) AS ones_{b}" for b in range(SIMHASH_BITS))
    val = " + ".join(
        f"(CASE WHEN 2 * ones_{b} >= total THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS))
    return f"""
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM {src}
),
h AS (SELECT doc_id, {PORTABLE_HASH.format(col='w')} AS h FROM toks),
bits AS (
  SELECT doc_id, count(*) AS total,
         {ones}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM bits)
"""


def _simhash_sql() -> str:
    return (f"WITH {_simhash_cte('documents')}"
            "SELECT doc_id, simhash FROM fp ORDER BY doc_id")


def _cosine_sql(query_filter: str, k: int, partition: bool,
                dims: int | None = None) -> str:
    part = "PARTITION BY qid " if partition else ""
    qid_sel = "z.qid, " if partition else ""
    qid_out = "qid, " if partition else ""
    sl = f"[1:{dims}]" if dims else ""
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE {query_filter}),
z AS (
  SELECT q.qid, e.vec_id,
         unnest(e.embedding{sl}) AS ex, unnest(q.qv{sl}) AS qx
  FROM embeddings e CROSS JOIN q
),
prods AS (
  SELECT {qid_sel}z.vec_id,
         sum(CAST(ex AS DOUBLE) * CAST(qx AS DOUBLE)) AS dot,
         sum(CAST(ex AS DOUBLE) * CAST(ex AS DOUBLE)) AS na2,
         sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE)) AS nq2
  FROM z GROUP BY {qid_out.rstrip(', ') + (', ' if partition else '')}z.vec_id
),
scored AS (
  SELECT {qid_out}vec_id, floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
),
ranked AS (
  SELECT {qid_out}vec_id, cosine,
         CAST(row_number() OVER ({part}ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= {k} ORDER BY {qid_out}rank
"""


def _mmr_sql(n: int = 20, k: int = 5, lam: int = 700) -> str:
    """Unrolled k-step MMR greedy (mirrors ``similarity.mmr_rerank``):
    exact top-n candidates, integer micro-cosine pair similarities,
    then one CTE pair per selection step (score → argmax with min-id
    tie-break). Loop-carried CTEs are MATERIALIZED — DuckDB otherwise
    re-expands the chain into exponentially many scans (the BPE
    lesson)."""
    parts = [
        f"cand AS MATERIALIZED ({_cosine_sql('vec_id = 0', k=n, partition=False)})",
        """el AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand))""",
        """prods2 AS (
  SELECT p.ia, p.ib, sum(xa.x * xb.x) AS dot,
         sum(xa.x * xa.x) AS na2, sum(xb.x * xb.x) AS nb2
  FROM (SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM cand a JOIN cand b ON a.vec_id < b.vec_id) p
  JOIN el xa ON xa.vec_id = p.ia
  JOIN el xb ON xb.vec_id = p.ib AND xb.d = xa.d
  GROUP BY p.ia, p.ib)""",
        """sims AS MATERIALIZED (
  SELECT ia, ib,
         CAST(floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5)
              AS BIGINT) AS sm
  FROM prods2
  UNION ALL
  SELECT ib, ia,
         CAST(floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5)
              AS BIGINT)
  FROM prods2)""",
        """cm AS MATERIALIZED (
  SELECT vec_id, CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT) AS rel
  FROM cand)""",
        f"""sel1 AS MATERIALIZED (
  SELECT vec_id, 1 AS rank, {lam} * rel AS score
  FROM cm ORDER BY rel DESC, vec_id LIMIT 1)""",
    ]
    for t in range(2, k + 1):
        prev = f"sel{t - 1}"
        parts.append(f"""st{t} AS (
  SELECT c.vec_id, {lam} * c.rel - {1000 - lam} * max(s.sm) AS score
  FROM cm c
  JOIN sims s ON s.ia = c.vec_id
             AND s.ib IN (SELECT vec_id FROM {prev})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id, c.rel)""")
        parts.append(f"""sel{t} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT vec_id, {t} AS rank, score
  FROM (SELECT vec_id, score FROM st{t}
        ORDER BY score DESC, vec_id LIMIT 1))""")
    return ("WITH " + ",\n".join(parts)
            + f"""
SELECT CAST(rank AS INTEGER) AS rank, vec_id,
       CAST(score AS BIGINT) AS mmr_score_nano
FROM sel{k} ORDER BY rank
""")


def _svm_declared_sql(epochs: int = EPOCHS, lam: float = LAMBDA) -> str:
    """Unrolled 5-epoch SQL mirror of ``svm.svm_train_declared`` (M4):
    each epoch's margin/violation/gradient/decay CTEs chained on the
    previous epoch's weights. Margins rounded at 9 dp before the hinge
    test on both engines (``svm.MARGIN_DP``). The margin CTEs group by
    ``doc_id``, so the mirror assumes unique ids; the operator treats
    every row as its own sample."""
    def r9(e: str) -> str:
        return f"floor(({e}) * 1000000000.0 + 0.5) / 1000000000.0"

    y = "CASE WHEN t.label = 1.0 THEN 1.0 ELSE -1.0 END"
    # CAST the η literals to DOUBLE: DuckDB parses bare decimal literals
    # as DECIMAL and chains scale across the epochs past its max of 38.
    eta1 = f"CAST({epoch_lr(1)!r} AS DOUBLE)"
    parts = [
        f"w1 AS (SELECT word, {eta1} * sum({y}) AS weight "
        "FROM tok_train t GROUP BY word)"
    ]
    for e in range(2, epochs + 1):
        eta, prev = f"CAST({epoch_lr(e)!r} AS DOUBLE)", f"w{e - 1}"
        parts += [
            f"""marg{e} AS (
  SELECT t.doc_id, max({y}) AS y, sum(coalesce(w.weight, 0.0)) AS dot
  FROM tok_train t LEFT JOIN {prev} w USING (word) GROUP BY t.doc_id)""",
            f"viol{e} AS (SELECT doc_id, y FROM marg{e} WHERE y * ({r9('dot')}) < 1.0)",
            f"nv{e} AS (SELECT count(*) AS v FROM viol{e})",
            f"grads{e} AS (SELECT t.word, {eta} * sum(v.y) AS delta "
            f"FROM tok_train t JOIN viol{e} v USING (doc_id) GROUP BY t.word)",
            f"dec{e} AS (SELECT w.word, w.weight * (1.0 - {eta} * {lam} * nv.v) AS weight "
            f"FROM {prev} w CROSS JOIN nv{e} nv)",
            f"""w{e} AS (
  SELECT coalesce(d.word, g.word) AS word,
         coalesce(d.weight, 0.0) + coalesce(g.delta, 0.0) AS weight
  FROM dec{e} d FULL OUTER JOIN grads{e} g ON d.word = g.word)""",
        ]
    return (f"WITH {DOCS_CTE}, " + ",\n".join(parts)
            + f"\nSELECT word, floor(weight * 1000000.0 + 0.5) / 1000000.0 AS weight"
              f" FROM w{epochs} ORDER BY word")


# ---------------------------------------------------------------------------
# unrolled BPE training oracle (mirror of operators/bpe.py — Sennrich
# et al. 2016). Pure BIGINT counts + left-to-right non-overlapping
# replace: bit-identical across engines by construction.
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_dict_ctes(n_merges: int = BPE_MERGES) -> str:
    """CTE chain: word-freq dictionary, then per merge a pair-count
    aggregation, the deterministic argmax (freq desc, pair asc), and the
    REPLACE_PASSES-pass rewrite — exactly ``bpe.bpe_train``'s loop."""
    from text_sentiment_classification_hadoop_spark_spark.operators.bpe import REPLACE_PASSES
    # AS MATERIALIZED (DuckDB planner hint; the oracle only ever runs on
    # DuckDB): without it each stage's CTE references are inlined and
    # the chain re-expands into ~6^n parquet scans.
    parts = [
        """wf AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) u
  GROUP BY w)""",
        "s0 AS MATERIALIZED (SELECT word, freq, "
        "regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS seq FROM wf)",
    ]
    for k in range(1, n_merges + 1):
        prev = f"s{k - 1}"
        rep = "' ' || seq || ' '"
        for _ in range(REPLACE_PASSES):
            rep = (f"replace({rep}, (SELECT ' ' || pair || ' ' FROM b{k}), "
                   f"(SELECT ' ' || replace(pair, ' ', '') || ' ' FROM b{k}))")
        parts += [
            f"""p{k} AS MATERIALIZED (
  SELECT sym || ' ' || nxt AS pair, sum(freq) AS f FROM (
    SELECT freq, unnest(l[1:len(l)-1]) AS sym, unnest(l[2:len(l)]) AS nxt
    FROM (SELECT freq, string_split(seq, ' ') AS l FROM {prev}) t) u
  GROUP BY pair)""",
            f"b{k} AS MATERIALIZED (SELECT pair, f FROM p{k} "
            "ORDER BY f DESC, pair ASC LIMIT 1)",
            f"s{k} AS MATERIALIZED (SELECT word, freq, trim({rep}) AS seq FROM {prev})",
        ]
    return ",\n".join(parts)


def _pagerank_sql(iters: int = 3, weighted: bool = False,
                  seed_limit: int | None = None) -> str:
    """Unrolled fixed-point PageRank oracle (mirror of
    operators/graph.py): pure BIGINT arithmetic — rank div outdeg
    contributions (weight-proportional ``(rank·w) div sum_w`` on the
    weighted path), (mass * 17) div 20 damping — bit-identical across
    engines by construction. With ``seed_limit`` set, the PERSONALIZED
    variant (graph.pagerank_personalized): the ``seed_limit`` smallest
    node ids are the teleport set — r0 = SCALE on seeds else 0, and
    the per-round reset lands on seeds only."""
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        RESET_MICRO,
        SCALE,
        SUPP_OFFSET,
    )
    if weighted:
        parts = [
            f"""rel AS MATERIALIZED (
  SELECT o_custkey AS cust, l_suppkey + {SUPP_OFFSET} AS supp,
         CAST(count(*) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey)""",
            "ed AS MATERIALIZED (SELECT cust AS src, supp AS dst, w FROM rel "
            "UNION ALL SELECT supp, cust, w FROM rel)",
            "deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS sw "
            "FROM ed GROUP BY src)",
        ]
        contrib = "sum((r.rank_micro * e.w) // d.sw)"
    else:
        parts = [
            f"""rel AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + {SUPP_OFFSET} AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
            "ed AS MATERIALIZED (SELECT cust AS src, supp AS dst FROM rel "
            "UNION ALL SELECT supp, cust FROM rel)",
            "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg "
            "FROM ed GROUP BY src)",
        ]
        contrib = "sum(r.rank_micro // d.outdeg)"
    parts += ["nodes AS MATERIALIZED (SELECT src AS node FROM deg)"]
    if seed_limit is None:
        parts += [
            f"r0 AS MATERIALIZED (SELECT node, CAST({SCALE} AS BIGINT) "
            "AS rank_micro FROM nodes)",
        ]
        reset = f"{RESET_MICRO}"
        seed_join = ""
    else:
        parts += [
            "sd AS MATERIALIZED (SELECT node FROM nodes "
            f"ORDER BY node LIMIT {int(seed_limit)})",
            f"""r0 AS MATERIALIZED (
  SELECT n.node, CAST(CASE WHEN s.node IS NOT NULL THEN {SCALE} ELSE 0 END
                      AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN sd s ON n.node = s.node)""",
        ]
        reset = f"CASE WHEN s.node IS NOT NULL THEN {RESET_MICRO} ELSE 0 END"
        seed_join = " LEFT JOIN sd s ON n.node = s.node"
    for k in range(1, iters + 1):
        parts += [
            f"""c{k} AS MATERIALIZED (
  SELECT e.dst AS node, {contrib} AS mass
  FROM ed e JOIN r{k - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst)""",
            f"""r{k} AS MATERIALIZED (
  SELECT n.node,
         CAST({reset} + (coalesce(c.mass, 0) * {DAMP_NUM}) // {DAMP_DEN}
              AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN c{k} c ON n.node = c.node{seed_join})""",
        ]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, rank_micro FROM r{iters} ORDER BY node")


def _bpe_merges_sql(n_merges: int = BPE_MERGES) -> str:
    arms = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_rank, pair, replace(pair, ' ', '') AS merged, "
        f"CAST(f AS BIGINT) AS freq FROM b{k}"
        for k in range(1, n_merges + 1))
    return f"WITH {_bpe_dict_ctes(n_merges)}\n{arms}\nORDER BY merge_rank"


BPE_BATCH_K = 4

# the headroom-16 registry configuration: batch
# and merge count sized so the widened candidate window is actually
# consulted at oracle scales — see _bpe_merges_headroom16's docstring
BPE_H16_MERGES = 32
BPE_H16_BATCH_K = 16
BPE_H16_HEADROOM = 16


def _bpe_merges_batched_sql(n_merges: int = BPE_MERGES,
                            batch_k: int = BPE_BATCH_K,
                            headroom: int = 4) -> str:
    """Unrolled BATCHED BPE oracle (mirror of ``bpe.bpe_train`` with
    ``batch_k>1``). Per round: the same pair-count aggregation as the
    sequential oracle, then the greedy symbol-disjoint selection
    (quota = min(batch_k, merges remaining); candidate list = top
    ``headroom*quota`` by (f DESC, pair ASC), or top-1 when quota is
    1; a candidate defers when its left/right symbol or merged OUTPUT
    collides with a selected pair's inputs/output) expressed as a
    single-row recursive CTE carrying the used-symbol set, then the
    round's rewrites chained in selection order via NULL-sentinel
    no-op replaces (list index past len(pp) is NULL in DuckDB →
    coalesce to chr(1), which never occurs). Rounds are unrolled to
    the worst case (one merge per round, ``n_merges`` rounds);
    exhausted-quota rounds degrade to no-ops exactly like the Spark
    loop's exit. ``headroom`` parameterizes the candidate-window
    width exactly as ``bpe_train(headroom=...)`` does (the headroom-16
    configuration the §26 probe recommends is driver-checked by
    ``bpe_merges_headroom16`` through this same oracle text)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.bpe import REPLACE_PASSES
    parts = [
        """wf AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) u
  GROUP BY w)""",
        "s0 AS MATERIALIZED (SELECT word, freq, "
        "regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS seq FROM wf)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        done = (" + ".join(f"(SELECT len(pp) FROM b{i})" for i in range(1, r))
                or "0")
        ok = (f"len(s.pp) < (SELECT quota FROM q{r})"
              f" AND NOT list_contains(s.used, string_split(c.pair, ' ')[1])"
              f" AND NOT list_contains(s.used, string_split(c.pair, ' ')[2])"
              f" AND NOT list_contains(s.used, replace(c.pair, ' ', ''))")
        rep = "' ' || seq || ' '"
        for j in range(1, batch_k + 1):
            pat = f"coalesce((SELECT ' ' || pp[{j}] || ' ' FROM b{r}), chr(1))"
            new = (f"coalesce((SELECT ' ' || replace(pp[{j}], ' ', '') || ' '"
                   f" FROM b{r}), chr(1))")
            for _ in range(REPLACE_PASSES):
                rep = f"replace({rep}, {pat}, {new})"
        parts += [
            f"q{r} AS MATERIALIZED (SELECT least({batch_k}, "
            f"{n_merges} - ({done})) AS quota)",
            f"""p{r} AS MATERIALIZED (
  SELECT sym || ' ' || nxt AS pair, sum(freq) AS f FROM (
    SELECT freq, unnest(l[1:len(l)-1]) AS sym, unnest(l[2:len(l)]) AS nxt
    FROM (SELECT freq, string_split(seq, ' ') AS l FROM {prev}) t) u
  GROUP BY pair)""",
            f"cand{r} AS MATERIALIZED (SELECT pair, CAST(f AS BIGINT) AS f, "
            f"CAST(row_number() OVER (ORDER BY f DESC, pair ASC) AS BIGINT) "
            f"AS rn FROM p{r} ORDER BY f DESC, pair ASC LIMIT "
            f"(SELECT CASE WHEN quota = 1 THEN 1 ELSE {int(headroom)} * "
            f"quota END FROM q{r}))",
            f"""sel{r} AS (
  SELECT CAST(0 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS used,
         CAST([] AS VARCHAR[]) AS pp, CAST([] AS BIGINT[]) AS pf
  UNION ALL
  SELECT c.rn AS i,
    CASE WHEN {ok} THEN s.used || [string_split(c.pair, ' ')[1],
      string_split(c.pair, ' ')[2], replace(c.pair, ' ', '')]
      ELSE s.used END AS used,
    CASE WHEN {ok} THEN s.pp || [c.pair] ELSE s.pp END AS pp,
    CASE WHEN {ok} THEN s.pf || [c.f] ELSE s.pf END AS pf
  FROM sel{r} s JOIN cand{r} c ON c.rn = s.i + 1)""",
            f"b{r} AS MATERIALIZED (SELECT pp, pf FROM sel{r} "
            f"ORDER BY i DESC LIMIT 1)",
            f"s{r} AS MATERIALIZED (SELECT word, freq, trim({rep}) AS seq "
            f"FROM {prev})",
        ]
    arms = "\nUNION ALL ".join(
        f"SELECT {r} AS rnd, unnest(range(1, len(pp) + 1)) AS pos, "
        f"unnest(pp) AS pair, unnest(pf) AS f FROM b{r}"
        for r in range(1, n_merges + 1))
    return ("WITH RECURSIVE " + ",\n".join(parts) + ",\nallm AS (" + arms
            + ")\nSELECT CAST(row_number() OVER (ORDER BY rnd, pos) AS INTEGER)"
              " AS merge_rank, pair, replace(pair, ' ', '') AS merged,"
              " CAST(f AS BIGINT) AS freq\nFROM allm ORDER BY merge_rank")


def _unigram_parts() -> tuple[list[str], int, int]:
    """The shared unrolled hard-EM unigram-LM trainer CTE chain
    (mirror of operators/unigram.py): word dictionary -> substring
    lattice -> seed vocab -> per-EM-iteration forward/backward
    min-cost DP (unrolled per character position, the bpe_merges CTE
    precedent) -> optimal-subpath piece counts -> prune + micro-nat
    requantize. All DP arithmetic BIGINT; the only float op is the
    per-vocab-row ``floor(1e6·ln(total/cnt))``, identical in both
    engines. Returns ``(parts, EM_ITERS, MAX_WORD_LEN)`` — the final
    vocab lands in CTE ``v{EM_ITERS}``; consumed by both the trainer
    oracle (``_unigram_lm_sql``) and the apply-side oracle
    (``_unigram_token_counts_sql``)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.unigram import (
        EM_ITERS,
        MAX_PIECE_LEN,
        MAX_WORD_LEN,
        SEED_MULTI,
        VOCAB_MULTI,
    )
    W = MAX_WORD_LEN

    def vocab_ctes(idx: int, cnt_cte: str, n_multi: int) -> list[str]:
        # ALL single chars (+1 Laplace) + top n_multi multi-char pieces
        return [
            f"""v{idx}sel AS MATERIALIZED (
  SELECT c.piece, coalesce(s.cnt, 0) + 1 AS cnt_eff
  FROM ch c LEFT JOIN {cnt_cte} s ON c.piece = s.piece
  UNION ALL
  SELECT piece, cnt AS cnt_eff FROM (
    SELECT piece, cnt FROM {cnt_cte} WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {n_multi}) tt)""",
            f"""v{idx} AS MATERIALIZED (
  SELECT piece, CAST(cnt_eff AS BIGINT) AS exp_count,
         CAST(floor(ln(CAST((SELECT sum(cnt_eff) FROM v{idx}sel) AS DOUBLE)
                        / CAST(cnt_eff AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS cost_micro
  FROM v{idx}sel)""",
        ]

    parts = [
        f"""wall AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq, len(w) AS len
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) u
  GROUP BY w)""",
        f"""wfl AS MATERIALIZED (
  SELECT word, freq, len FROM wall WHERE len <= {W})""",
        f"""eg AS MATERIALIZED (
  SELECT word, freq, len, i, i + l AS j, substr(word, i + 1, l) AS piece
  FROM (SELECT word, freq, len, i,
               unnest(range(1, 1 + least({MAX_PIECE_LEN}, len - i))) AS l
        FROM (SELECT word, freq, len, unnest(range(0, len)) AS i
              FROM wfl) t1) t2)""",
        "ch AS MATERIALIZED (SELECT DISTINCT piece FROM eg "
        "WHERE len(piece) = 1)",
        "sc AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt "
        "FROM eg GROUP BY piece)",
    ]
    parts += vocab_ctes(0, "sc", SEED_MULTI)
    for k in range(1, EM_ITERS + 1):
        parts.append(
            f"""l{k} AS MATERIALIZED (
  SELECT e.word, e.freq, e.len, e.i, e.j, e.piece, v.cost_micro AS cost
  FROM eg e JOIN v{k - 1} v ON e.piece = v.piece)""")
        parts.append(
            f"f{k}_0 AS MATERIALIZED (SELECT DISTINCT word, 0 AS pos, "
            f"CAST(0 AS BIGINT) AS c FROM l{k})")
        for p in range(1, W + 1):
            parts.append(
                f"""f{k}_{p} AS MATERIALIZED (
  SELECT * FROM f{k}_{p - 1}
  UNION ALL
  SELECT l.word, {p} AS pos, min(f.c + l.cost) AS c
  FROM l{k} l JOIN f{k}_{p - 1} f ON f.word = l.word AND f.pos = l.i
  WHERE l.j = {p} GROUP BY l.word)""")
        parts.append(
            f"b{k}_0 AS MATERIALIZED (SELECT DISTINCT word, len AS pos, "
            f"CAST(0 AS BIGINT) AS c FROM l{k})")
        for s in range(1, W + 1):
            parts.append(
                f"""b{k}_{s} AS MATERIALIZED (
  SELECT * FROM b{k}_{s - 1}
  UNION ALL
  SELECT l.word, l.i AS pos, min(l.cost + b.c) AS c
  FROM l{k} l JOIN b{k}_{s - 1} b ON b.word = l.word AND b.pos = l.j
  WHERE l.i = l.len - {s} GROUP BY l.word, l.i)""")
        parts.append(
            f"""c{k} AS MATERIALIZED (
  SELECT l.piece, CAST(sum(l.freq) AS BIGINT) AS cnt
  FROM l{k} l
  JOIN f{k}_{W} fi ON fi.word = l.word AND fi.pos = l.i
  JOIN b{k}_{W} bj ON bj.word = l.word AND bj.pos = l.j
  JOIN f{k}_{W} ft ON ft.word = l.word AND ft.pos = l.len
  WHERE fi.c + l.cost + bj.c = ft.c
  GROUP BY l.piece)""")
        parts += vocab_ctes(k, f"c{k}", VOCAB_MULTI)
    return parts, EM_ITERS, W


def _unigram_lm_sql() -> str:
    """Trainer oracle: the shared CTE chain's final vocab."""
    parts, em, _ = _unigram_parts()
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT piece, exp_count, cost_micro FROM v{em} "
            "ORDER BY exp_count DESC, piece")


def _unigram_token_counts_sql() -> str:
    """Apply-side oracle (mirror of unigram.unigram_token_counts):
    re-train the vocab via the shared CTE chain, then run the
    apply-side Viterbi — a forward DP carrying ``(cost, n_pieces)``
    with lexicographic min (fewest pieces among cost ties), unrolled
    per character position; at each position the argmin survives via
    ``row_number() OVER (... ORDER BY cost, n)``, the exact mirror of
    the Spark side's ``array_min`` over ``struct(c, n)``. The final
    LEFT JOIN of the FULL word table against (word, pos=len) yields
    NULL ``n_pieces``/``cost_micro`` for exactly the words the Spark
    side reports as unsegmentable (longer than max_word_len — no
    lattice row at all — or unreachable at pos=len), never dropping a
    word (the NULL contract)."""
    parts, em, W = _unigram_parts()
    parts.append(f"""lA AS MATERIALIZED (
  SELECT e.word, e.len, e.i, e.j, v.cost_micro AS cost
  FROM eg e JOIN v{em} v ON e.piece = v.piece)""")
    parts.append(
        "a0 AS MATERIALIZED (SELECT DISTINCT word, 0 AS pos, "
        "CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS n FROM lA)")
    for p in range(1, W + 1):
        parts.append(f"""a{p} AS MATERIALIZED (
  SELECT * FROM a{p - 1}
  UNION ALL
  SELECT word, pos, c, n FROM (
    SELECT l.word, {p} AS pos, f.c + l.cost AS c, f.n + 1 AS n,
           row_number() OVER (PARTITION BY l.word
                              ORDER BY f.c + l.cost, f.n + 1) AS rk
    FROM lA l JOIN a{p - 1} f ON f.word = l.word AND f.pos = l.i
    WHERE l.j = {p}) t WHERE rk = 1)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT w.word, w.freq, a.n AS n_pieces, a.c AS cost_micro
FROM wall w LEFT JOIN a{W} a ON a.word = w.word AND a.pos = w.len
ORDER BY w.word""")


def _bpe_token_counts_sql(n_merges: int = BPE_MERGES) -> str:
    return (f"WITH {_bpe_dict_ctes(n_merges)}\n"
            "SELECT token, CAST(sum(freq) AS BIGINT) AS freq FROM ("
            f"SELECT freq, unnest(string_split(seq, ' ')) AS token FROM s{n_merges}) t\n"
            "GROUP BY token ORDER BY token")


def _bpe_vocab_curve_sql(n_merges: int = BPE_MERGES, top: int = 20) -> str:
    return (f"WITH {_bpe_dict_ctes(n_merges)},\n"
            "tc AS MATERIALIZED (SELECT token, CAST(sum(freq) AS BIGINT) AS freq FROM ("
            f"SELECT freq, unnest(string_split(seq, ' ')) AS token FROM s{n_merges}) t "
            "GROUP BY token),\n"
            "curve AS (SELECT CAST(row_number() OVER "
            "(ORDER BY freq DESC, token ASC) AS INTEGER) AS rank, token, freq, "
            "CAST(sum(freq) OVER (ORDER BY freq DESC, token ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_freq "
            "FROM tc)\n"
            f"SELECT rank, token, freq, cum_freq FROM curve "
            f"WHERE rank <= {top} ORDER BY rank")


def _bpe_doc_token_counts_sql(n_merges: int = BPE_MERGES) -> str:
    return (f"WITH {_bpe_dict_ctes(n_merges)},\n"
            f"seg AS MATERIALIZED (SELECT word, "
            f"CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub "
            f"FROM s{n_merges}),\n"
            "dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
            "'[a-z]+')) AS word FROM documents)\n"
            "SELECT d.doc_id, CAST(sum(s.n_sub) AS BIGINT) AS n_subwords\n"
            "FROM dw d JOIN seg s ON d.word = s.word\n"
            "GROUP BY d.doc_id ORDER BY d.doc_id")


def _ffd_recursion_ctes(budget: int, docs_per_bucket: int) -> str:
    """The per-bucket first-fit-decreasing recursion (mirror of
    ``text_analysis.pack_sequences_ffd``'s fold) over a prior
    ``dtc(doc_id, nt)`` budget CTE: one recursion step per doc in
    (nt DESC, doc_id ASC) order within each bucket, the open-bin
    capacity list carried as a BIGINT[] (``list_position(
    list_transform(bins, ...), true)`` is 0-when-absent, exactly
    Spark's ``array_position``; all arithmetic BIGINT). Emits
    ``st(bucket, i, bins, doc_id, seq_id, offset_in_seq, nt)``;
    consumers select ``WHERE i >= 1`` (the anchor rows are seeds).
    Callers must open with ``WITH RECURSIVE``. The bucket count is
    COUNT-DERIVED — ``greatest(1, ceil(|dtc| / docs_per_bucket))`` —
    mirroring the operator's adaptive default exactly (SCALE.md §31:
    a fixed bucket count makes the per-bucket fold quadratic in the
    corpus; buckets ∝ docs keeps it linear)."""
    fit = "list_position(list_transform(s.bins, x -> x >= d.nt), true)"
    hash_expr = PORTABLE_HASH.format(col="'packffd:' || doc_id")
    b = f"CAST({int(budget)} AS BIGINT)"
    d = int(docs_per_bucket)
    n_buckets = (f"(SELECT greatest(1, (count(*) + {d - 1}) // {d}) "
                 f"FROM dtc)")
    return f"""bk AS MATERIALIZED (
  SELECT doc_id, nt,
         CAST({hash_expr} % {n_buckets} AS INTEGER) AS bucket
  FROM dtc),
rk AS MATERIALIZED (
  SELECT doc_id, nt, bucket,
         CAST(row_number() OVER (PARTITION BY bucket
                                 ORDER BY nt DESC, doc_id) AS BIGINT) AS rn
  FROM bk),
st AS (
  SELECT bucket, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS bins,
         CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS seq_id,
         CAST(NULL AS BIGINT) AS offset_in_seq, CAST(NULL AS BIGINT) AS nt
  FROM (SELECT DISTINCT bucket FROM rk)
  UNION ALL
  SELECT s.bucket, d.rn,
         CASE WHEN {fit} = 0
              THEN s.bins || [{b} - d.nt]
              ELSE list_slice(s.bins, 1, {fit} - 1)
                   || [s.bins[{fit}] - d.nt]
                   || list_slice(s.bins, {fit} + 1, len(s.bins)) END,
         d.doc_id,
         CASE WHEN {fit} = 0 THEN CAST(len(s.bins) AS BIGINT)
              ELSE {fit} - 1 END,
         CASE WHEN {fit} = 0 THEN CAST(0 AS BIGINT)
              ELSE {b} - s.bins[{fit}] END,
         d.nt
  FROM st s JOIN rk d ON d.bucket = s.bucket AND d.rn = s.i + 1)"""


def _pack_ffd_sql(budget: int, docs_per_bucket: int,
                  n_merges: int = BPE_MERGES) -> str:
    """First-fit-decreasing packing oracle over
    ``bpe.bpe_doc_token_counts`` budgets: the BPE dictionary chain
    derives the per-doc budget table, then :func:`_ffd_recursion_ctes`
    replays the identical first-fit fold."""
    return f"""
WITH RECURSIVE {_bpe_dict_ctes(n_merges)},
seg AS MATERIALIZED (SELECT word,
  CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub FROM s{n_merges}),
dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+'))
       AS word FROM documents),
dtc AS MATERIALIZED (
  SELECT d.doc_id, CAST(sum(s.n_sub) AS BIGINT) AS nt
  FROM dw d JOIN seg s ON d.word = s.word GROUP BY d.doc_id),
{_ffd_recursion_ctes(budget, docs_per_bucket)}
SELECT doc_id, bucket, seq_id, offset_in_seq, nt AS n_tok
FROM st WHERE i >= 1 ORDER BY doc_id
"""


def _packed_shards_census_sql(budget: int,
                              docs_per_bucket: int) -> str:
    """Oracle for ``packed_shards_readback``: whitespace token budgets
    (the cheap packer input the readback drive uses), the same FFD
    recursion, then the per-bucket census — a row routed to the wrong
    bucket dir, dropped, or duplicated by the dynamic-partition write
    breaks n_docs/sum_tok; a packing error breaks n_seqs/max_end."""
    return f"""
WITH RECURSIVE dtc AS MATERIALIZED (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
  FROM documents),
{_ffd_recursion_ctes(budget, docs_per_bucket)}
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(seq_id) + 1 AS BIGINT) AS n_seqs,
       CAST(sum(nt) AS BIGINT) AS sum_tok,
       CAST(max(offset_in_seq + nt) AS BIGINT) AS max_end
FROM st WHERE i >= 1 GROUP BY bucket ORDER BY bucket
"""


# sign-LSH bucket assignment over long-form embeddings `au(vec_id, d, x)`
# — mirror of similarity.sign_lsh_bucket (8 deterministic hyperplanes).
LSH_BUCKET_CTE = f"""
planes AS (
  SELECT p.p, d.d,
         ({PORTABLE_HASH.format(col="'plane' || p.p || ':' || d.d")} % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(range(0, 8)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d
),
dots AS (
  SELECT au.vec_id, pl.p, sum(au.x * pl.w) AS dot
  FROM au JOIN planes pl ON au.d = pl.d
  GROUP BY au.vec_id, pl.p
),
buckets AS (
  SELECT vec_id,
         sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM dots GROUP BY vec_id
)
"""

# original embeddings in long form (0-based dim index, double-cast)
AU_ORIG = """
au AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
"""


def _r6(e: str) -> str:
    return f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"


def _kmeans_cte_parts(k: int, iters: int) -> list[str]:
    """The Lloyd-iteration CTE chain over an ``au`` long-form corpus —
    shared by the kmeans_cells oracle (over AU_ORIG) and the semdedup
    oracle (over AU_AUGMENTED). Final centroids land in ``cent{iters}``."""
    parts = [
        f"cent0 AS (SELECT vec_id AS cell, d, x AS m FROM au WHERE vec_id < {k})"]
    for i in range(1, iters + 1):
        prev = f"cent{i - 1}"
        cos = "sum(au.x * c.m) / (sqrt(sum(au.x * au.x)) * sqrt(sum(c.m * c.m)))"
        parts += [
            f"""sc{i} AS (
  SELECT au.vec_id, c.cell, {_r6(cos)} AS cos
  FROM au JOIN {prev} c USING (d)
  GROUP BY au.vec_id, c.cell)""",
            f"""asg{i} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM sc{i}) WHERE rk = 1)""",
            f"""mn{i} AS (
  SELECT a.cell, au.d, {_r6('avg(au.x)')} AS m
  FROM asg{i} a JOIN au USING (vec_id)
  GROUP BY a.cell, au.d)""",
            f"""cent{i} AS (
  SELECT p.cell, p.d, coalesce(n.m, p.m) AS m
  FROM {prev} p LEFT JOIN mn{i} n ON n.cell = p.cell AND n.d = p.d)""",
        ]
    return parts


def _kmeans_sql(k: int = 8, iters: int = 2) -> str:
    """Unrolled-SQL mirror of ``similarity.kmeans_fit`` (same pattern as
    the unrolled SVM epochs): per iteration a rounded-cosine assignment
    (ties → lowest cell via row_number) and 6-dp-rounded element-wise
    means, with COALESCE keeping an empty cell's previous centroid."""
    parts = _kmeans_cte_parts(k, iters)
    return (f"WITH {AU_ORIG}, " + ",\n".join(parts)
            + f"\nSELECT cell AS cell_id, CAST(d AS INTEGER) AS d, m AS centroid"
              f" FROM cent{iters} ORDER BY cell_id, d")


def _two_level_asg_parts(k: int, cent: str = "cent0") -> list[str]:
    """Unrolled-SQL mirror of ``similarity.ivf_assign_cells_two_level``
    over a flat long-form codebook CTE ``cent`` (cell, d, m) and the
    ``au`` corpus: G = ceil(sqrt(k)) seed groups (first G codewords by
    cell id, grp = 0-based position), codeword→group argmax (6-dp
    cosine, ties → lowest grp), per-NON-EMPTY-group 6-dp element-wise
    mean centroids, corpus routing over those group centroids, then the
    final argmax restricted to the routed group's member codewords.
    Final assignment lands in ``asgF`` (vec_id, cell); routing in
    ``routeF`` (vec_id, grp)."""
    G = (_math.isqrt(k - 1) + 1) if k > 1 else 1
    cos_cw = "sum(c.m * s.m) / (sqrt(sum(c.m * c.m)) * sqrt(sum(s.m * s.m)))"
    cos_rt = "sum(au.x * g.m) / (sqrt(sum(au.x * au.x)) * sqrt(sum(g.m * g.m)))"
    cos_fin = "sum(au.x * c.m) / (sqrt(sum(au.x * au.x)) * sqrt(sum(c.m * c.m)))"
    return [
        f"""gseed AS (
  SELECT CAST(dense_rank() OVER (ORDER BY cell) - 1 AS BIGINT) AS grp, d, m
  FROM {cent}
  WHERE cell IN (SELECT cell FROM (
    SELECT DISTINCT cell FROM {cent} ORDER BY cell LIMIT {G})))""",
        f"""cwcos AS (
  SELECT c.cell, s.grp, {_r6(cos_cw)} AS cos
  FROM {cent} c JOIN gseed s USING (d)
  GROUP BY c.cell, s.grp)""",
        """cw2g AS (
  SELECT cell, grp FROM (
    SELECT cell, grp,
           row_number() OVER (PARTITION BY cell
                              ORDER BY cos DESC, grp ASC) AS rk
    FROM cwcos) WHERE rk = 1)""",
        f"""gvec AS (
  SELECT w.grp, c.d, {_r6('avg(c.m)')} AS m
  FROM cw2g w JOIN {cent} c USING (cell)
  GROUP BY w.grp, c.d)""",
        f"""rtcos AS (
  SELECT au.vec_id, g.grp, {_r6(cos_rt)} AS cos
  FROM au JOIN gvec g USING (d)
  GROUP BY au.vec_id, g.grp)""",
        """routeF AS (
  SELECT vec_id, grp FROM (
    SELECT vec_id, grp,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, grp ASC) AS rk
    FROM rtcos) WHERE rk = 1)""",
        f"""fincos AS (
  SELECT au.vec_id, c.cell, {_r6(cos_fin)} AS cos
  FROM au
  JOIN routeF r ON r.vec_id = au.vec_id
  JOIN cw2g w ON w.grp = r.grp
  JOIN {cent} c ON c.cell = w.cell AND c.d = au.d
  GROUP BY au.vec_id, c.cell)""",
        """asgF AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM fincos) WHERE rk = 1)""",
    ]


def _ivf_cells_two_level_sql(k: int = 32) -> str:
    """Oracle for the two-level assignment itself (original corpus,
    first-k stand-in codebook): (vec_id, grp, cell)."""
    parts = _kmeans_cte_parts(k, 0) + _two_level_asg_parts(k)
    return (f"WITH {AU_ORIG}, " + ",\n".join(parts) + """
SELECT a.vec_id, r.grp, a.cell
FROM asgF a JOIN routeF r USING (vec_id)
ORDER BY a.vec_id""")


def _semdedup_sql(k: int = 32, iters: int = 0, threshold: float = 0.9,
                  two_level: bool = False) -> str:
    """Unrolled-SQL mirror of the SemDeDup driver query: centroids over
    the AUGMENTED corpus (``iters=0`` = the first-k stand-in, >0 = that
    many Lloyd iterations), final rounded-cosine cell assignment
    (``two_level=True`` → the hierarchical G=ceil(sqrt(k)) route+argmax
    instead of the flat argmax), within-cell pairwise cosine >=
    threshold, recursive min-label component walk, min-id canonicals."""
    parts = _kmeans_cte_parts(k, iters)
    cos = "sum(au.x * c.m) / (sqrt(sum(au.x * au.x)) * sqrt(sum(c.m * c.m)))"
    if two_level:
        parts += _two_level_asg_parts(k, cent=f"cent{iters}")
    else:
        parts += [
            f"""scF AS (
  SELECT au.vec_id, c.cell, {_r6(cos)} AS cos
  FROM au JOIN cent{iters} c USING (d)
  GROUP BY au.vec_id, c.cell)""",
            """asgF AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM scF) WHERE rk = 1)""",
        ]
    parts += [
        "norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM au GROUP BY vec_id)",
        """cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM asgF a JOIN asgF b
    ON a.cell = b.cell AND a.vec_id < b.vec_id)""",
        """dots AS (
  SELECT c.id_a, c.id_b, sum(x1.x * x2.x) AS dot
  FROM cand c
  JOIN au x1 ON x1.vec_id = c.id_a
  JOIN au x2 ON x2.vec_id = c.id_b AND x2.d = x1.d
  GROUP BY c.id_a, c.id_b)""",
        f"""pairs AS (
  SELECT d.id_a, d.id_b
  FROM dots d
  JOIN norms na ON na.vec_id = d.id_a
  JOIN norms nb ON nb.vec_id = d.id_b
  WHERE {_r6('d.dot / (na.nrm * nb.nrm)')} >= {threshold})""",
        """edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs)""",
        """walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, min(w.label) FROM walk w JOIN edges e ON e.src = w.node
  GROUP BY e.dst)""",
        "comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)",
        "ids AS (SELECT DISTINCT vec_id FROM au)",
    ]
    return (f"WITH RECURSIVE {AU_AUGMENTED}, " + ",\n".join(parts) + """
SELECT i.vec_id,
       coalesce(c.component, i.vec_id) AS canonical_id,
       CAST(CASE WHEN coalesce(c.component, i.vec_id) <> i.vec_id
            THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM ids i LEFT JOIN comp c ON c.node = i.vec_id
ORDER BY i.vec_id
""")

def _pq_kmeans_sql(n_segments: int = 4, n_codes: int = 8, iters: int = 2,
                   seg_len: int = 16) -> str:
    """Unrolled-SQL mirror of ``similarity.pq_encode_trained``:
    per-segment squared-L2 Lloyd iterations (6-dp rounding, ties →
    lowest code, empty cell keeps its codeword) followed by the final
    encode assignment."""
    def r6(e: str) -> str:
        return f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"

    dist = "sum((corp.x - c.m) * (corp.x - c.m))"
    parts = [
        f"""corp AS (SELECT vec_id, d // {seg_len} AS s, d % {seg_len} AS i, x
  FROM au)""",
        f"""cent0 AS (SELECT d // {seg_len} AS s, vec_id AS cell,
  d % {seg_len} AS i, x AS m FROM au WHERE vec_id < {n_codes})""",
    ]
    for it in range(1, iters + 1):
        prev = f"cent{it - 1}"
        parts += [
            f"""dist{it} AS (
  SELECT corp.vec_id, corp.s, c.cell, {r6(dist)} AS dist
  FROM corp JOIN {prev} c ON c.s = corp.s AND c.i = corp.i
  GROUP BY corp.vec_id, corp.s, c.cell)""",
            f"""asg{it} AS (
  SELECT vec_id, s, cell FROM (
    SELECT vec_id, s, cell,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cell ASC) AS rn
    FROM dist{it}) WHERE rn = 1)""",
            f"""mn{it} AS (
  SELECT a.s, a.cell, corp.i, {r6('avg(corp.x)')} AS m
  FROM asg{it} a JOIN corp ON corp.vec_id = a.vec_id AND corp.s = a.s
  GROUP BY a.s, a.cell, corp.i)""",
            f"""cent{it} AS (
  SELECT p.s, p.cell, p.i, coalesce(n.m, p.m) AS m
  FROM {prev} p LEFT JOIN mn{it} n
    ON n.s = p.s AND n.cell = p.cell AND n.i = p.i)""",
        ]
    parts += [
        f"""distF AS (
  SELECT corp.vec_id, corp.s, c.cell, {r6(dist)} AS dist
  FROM corp JOIN cent{iters} c ON c.s = corp.s AND c.i = corp.i
  GROUP BY corp.vec_id, corp.s, c.cell)""",
        """bestF AS (
  SELECT vec_id, s, cell FROM (
    SELECT vec_id, s, cell,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cell ASC) AS rn
    FROM distF) WHERE rn = 1)""",
    ]
    return (f"WITH {AU_ORIG}, " + ",\n".join(parts)
            + "\nSELECT vec_id, CAST(s AS INTEGER) AS segment,"
              " CAST(cell AS BIGINT) AS code"
              " FROM bestF ORDER BY vec_id, segment")


# augmented corpus for embedding near-dup: originals, exact copies
# (+1000000), and a dim-0-perturbed copy (+2000000, x0 + 2.0)
AU_AUGMENTED = """
au_base AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
au AS (
  SELECT vec_id, d, x FROM au_base
  UNION ALL
  SELECT vec_id + 1000000, d, x FROM au_base
  UNION ALL
  SELECT vec_id + 2000000, d, CASE WHEN d = 0 THEN x + 2.0 ELSE x END FROM au_base
)
"""


# ---------------------------------------------------------------------------
# Spark-side callables that need inline glue
# ---------------------------------------------------------------------------

def _tokens_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.functions.tokenize import explode_tokens
    docs = S.labeled_documents(spark, sf_dir).select("doc_id", "text")
    return explode_tokens(docs, text_col="text").orderBy("doc_id", "word")


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    toks = _tokens_exploded(spark, sf_dir)
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("n")).orderBy("word")


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, "documents", sf_dir)).orderBy("text_hash")


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    near = d.select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    return d.unionAll(near)


def _aug_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over the augmented corpus, one lazy
    localCheckpoint per session: three dedup queries (signature dump,
    LSH pairs, verified jaccard) consume the same table."""
    return S.documents_reused(
        spark, sf_dir, "minhash_signatures",
        lambda: D.minhash_signatures(
            _augmented_docs(spark, sf_dir)).localCheckpoint(eager=False))


def _minhash_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    sigs = _aug_sigs(spark, sf_dir)
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("perm", "minhash")
    ).orderBy("doc_id", "perm")


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_fingerprints(
        load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_dups(_augmented_docs(spark, sf_dir)) \
        .orderBy("id_a", "id_b")


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_near_dups(_augmented_docs(spark, sf_dir), threshold=0.5,
                               sigs=_aug_sigs(spark, sf_dir)) \
        .orderBy("id_a", "id_b")


def _dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup resolution over the augmented corpus: LSH pairs →
    connected components → (doc_id, canonical_id, is_dup)."""
    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_near_dups(docs, threshold=0.5,
                                sigs=_aug_sigs(spark, sf_dir))
    return D.canonical_docs(docs, pairs).orderBy("doc_id")


def _neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE census → one row per cluster size
    ``(cluster_size, n_clusters, n_docs)`` over the canonical
    resolution's components (singletons excluded) — the shape report a
    dedup pipeline reads before choosing a keep policy: many 2-doc
    pairs mean syndication, a few giant clusters mean template spam,
    and the n_docs column prices each policy's deletion volume.
    Derived from the same LSH→CC assignment as ``dedup_canonical``
    (one extra size-keyed hash aggregate over the |docs|-row
    assignment — histogram-bounded output)."""
    from pyspark.sql import functions as F
    assign = _dedup_canonical(spark, sf_dir)
    per = (assign.groupBy("canonical_id")
           .agg(F.count(F.lit(1)).alias("_sz"))
           .filter(F.col("_sz") >= 2))
    return (per.groupBy(F.col("_sz").cast("long").alias("cluster_size"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("_sz").cast("long").alias("n_docs"))
            .orderBy("cluster_size"))


def _zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, epoch-day of
    o_orderdate) — the multi-dimensional sort key
    ``sources.layout.write_zordered`` clusters files by. Plain integer
    shifts/masks, so the key is bit-identical in DuckDB and the oracle
    hash-checks the interleaving itself; the layout's locality effect
    is asserted quantitatively in tests/test_bucketing.py."""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import zorder_key_txt
    o = load_table(spark, "orders", sf_dir)
    day = "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
    z = zorder_key_txt([f"(o_custkey & 65535)", f"(({day}) & 65535)"], bits=16)
    return (o.selectExpr("o_orderkey", f"{z} AS zkey")
            .orderBy("o_orderkey"))


def _nb_model_kv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 interop closed loop: train the NB model, export it in the
    reference's on-disk text-KV layout (``word\\tpos@neg``), then read
    the artifact back through the custom ``refmodel`` Python Data
    Source — the result must hash-match the in-memory model, so it
    shares ``nb_model``'s oracle. Writes under /tmp with overwrite
    (idempotent)."""
    import os
    import tempfile

    from text_sentiment_classification_hadoop_spark_spark.sources.model_store import (
        export_reference_format,
    )
    from text_sentiment_classification_hadoop_spark_spark.sources.refmodel_source import (
        register_refmodel,
    )
    register_refmodel(spark)
    path = os.path.join(tempfile.gettempdir(), "spark_graft_nb_model_kv")
    model, _ = S._nb_trained(spark, sf_dir)
    export_reference_format(
        model.select("word", "pos_count", "neg_count"), path, fmt="nb")
    return (spark.read.format("refmodel").option("model", "nb").load(path)
            .orderBy("word"))


def _dedup_canonical_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same resolution as ``dedup_canonical`` but with the
    large-star/small-star connected-components algorithm (Kiveris et
    al.) — identical output by construction, so it shares the same
    DuckDB oracle: a green row here hash-proves the alternating
    algorithm end-to-end."""
    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_near_dups(docs, threshold=0.5,
                                sigs=_aug_sigs(spark, sf_dir))
    return D.canonical_docs(docs, pairs,
                            cc_algorithm="alternating").orderBy("doc_id")


def _dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup resolution: canonical = the LONGEST member of
    each near-dup cluster (ties → lowest id) — what production
    pipelines keep, vs dedup_canonical's id-min. On the augmented
    corpus the planted near-copy is 4 chars longer than its original,
    so the two resolutions provably differ and each needs its own
    oracle."""
    from pyspark.sql import functions as F
    docs = _augmented_docs(spark, sf_dir).withColumn(
        "_len", F.length("text"))
    pairs = D.minhash_near_dups(docs.select("doc_id", "text"),
                                threshold=0.5,
                                sigs=_aug_sigs(spark, sf_dir))
    return D.canonical_docs_best(docs, pairs,
                                 score_col="_len").orderBy("doc_id")


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(_aug_sigs(spark, sf_dir))
    # jaccard = |A∩B| / |A∪B| over identical int operands — bit-identical
    # across engines without rounding.
    out = D.ngram_jaccard_pairs(docs, pairs)
    return out.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    return list(emb.filter(F.col("vec_id") == vec_id).head()["embedding"])


def _cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.cosine_topk(emb, _query_vec(spark, sf_dir, 0), k=10)


def _knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    return SIM.pairwise_topk_join(emb, queries, k=5)


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.lang_id(load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    out = TA.quality_score(load_table(spark, "documents", sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len", "alpha_ratio", "stopword_ratio", "quality",
    ).orderBy("doc_id")


def _token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    out = TA.token_counts(load_table(spark, "documents", sf_dir))
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_ish_tokens").cast("long").alias("bpe_ish_tokens"),
    ).orderBy("doc_id")


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.fingerprints(load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.repetition_stats(load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents seeded with deterministic synthetic PII
    (the testdata corpus has none — the seed makes every redaction rule
    fire and keeps the oracle check non-trivial)."""
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    seeded = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com or 555-867-5309 from 10.0."),
                 (F.col("doc_id") % 200).cast("string"), F.lit(".7")))
    return TA.pii_scrub(seeded).orderBy("doc_id")


def _mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import mixture_sample
    return mixture_sample(load_table(spark, "documents", sf_dir))


def _curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import curation_pipeline
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return curation_pipeline(docs).orderBy("doc_id")


BM25_QUERY = "table scan merge fast window"


def _bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import bm25_topk
    return bm25_topk(load_table(spark, "documents", sf_dir), BM25_QUERY, k=20)


def _hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) fused with exact cosine
    top-20 (dense, query vector 0) by reciprocal-rank fusion."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.search import bm25_topk, rrf_fuse
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex = bm25_topk(docs, BM25_QUERY, k=20).select("doc_id", "rank")
    dense = (SIM.cosine_topk(emb, _query_vec(spark, sf_dir, 0), k=20)
             .select(F.col("vec_id").alias("doc_id"), "rank"))
    return rrf_fuse([lex, dense], k=10)


def _dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash threshold sweep vs exact-duplicate ground truth."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return D.dedup_threshold_sweep(docs)


def _cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import cms_estimate
    terms = sorted({t for t in BM25_QUERY.lower().split(" ") if t})
    return cms_estimate(load_table(spark, "documents", sf_dir), terms) \
        .orderBy("w")


def _inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import inverted_index
    return inverted_index(load_table(spark, "documents", sf_dir)).orderBy("w")


def _corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff the corpus against a deterministically perturbed v2:
    doc_id % 17 == 0 removed, % 13 == 0 text-changed, and fresh ids
    (+1000000 for % 19 == 0) added — every status fires."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_diff
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    v2 = (docs.filter(F.col("doc_id") % 17 != 0)
          .select("doc_id",
                  F.when(F.col("doc_id") % 13 == 0,
                         F.concat(F.col("text"), F.lit(" v2")))
                  .otherwise(F.col("text")).alias("text"))
          .unionAll(docs.filter(F.col("doc_id") % 19 == 0)
                    .select((F.col("doc_id") + 1000000).alias("doc_id"),
                            "text")))
    return corpus_diff(docs, v2).orderBy("doc_id")


def _corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_report
    return corpus_report(load_table(spark, "documents", sf_dir)) \
        .orderBy("group")


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.pq_encode(load_table(spark, "embeddings", sf_dir)) \
        .orderBy("vec_id", "segment")


def _pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.pq_adc_topk(emb, _query_vec(spark, sf_dir, 0), k=10)


def _pq_trained_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.pq_encode_trained(load_table(spark, "embeddings", sf_dir)) \
        .orderBy("vec_id", "segment")


def _rp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.rp_cosine_topk(emb, _query_vec(spark, sf_dir, 0), k=10)


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.pack_sequences(load_table(spark, "documents", sf_dir)) \
        .orderBy("doc_id")


# first-fit-decreasing packing registry parameters: budget ~4x the mean
# BPE doc budget (multi-doc bins + real first-fit backtracking at every
# oracle scale); bucket count is COUNT-DERIVED (buckets ∝ docs at 500
# docs/bucket — SCALE.md §31: a fixed count makes the per-bucket fold
# quadratic in the corpus), identically on both engines
PACK_FFD_BUDGET = 1024
PACK_FFD_DOCS_PER_BUCKET = 500


def _pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-doc first-fit-decreasing sequence packing (the last
    standard LLM-data-prep step): budgets are the
    LEARNED-tokenizer per-doc counts (``bpe_doc_token_counts`` under
    the standard 8 registry merges), salted into
    ``ceil(n_docs / PACK_FFD_DOCS_PER_BUCKET)`` independent packing
    groups, greedily first-fit into PACK_FFD_BUDGET-token sequences.
    Integer-deterministic end to end, so the oracle (BPE CTE chain →
    budget table → per-bucket recursive-CTE first-fit fold with the
    same count-derived bucket expression) is hash-exact. The consumer
    is ``sources.layout.write_packed_shards`` (one file per bucket,
    (seq_id, offset) order — pytest-pinned)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    docs = load_table(spark, "documents", sf_dir)
    budgets = BPE.bpe_doc_token_counts(docs, _bpe_merge_pairs(spark, sf_dir))
    return TA.pack_sequences_ffd(
        budgets, budget=PACK_FFD_BUDGET,
        docs_per_bucket=PACK_FFD_DOCS_PER_BUCKET,
        tok_col="n_subwords").orderBy("doc_id")


def _chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token chunks with stride 24 (RAG/embedding prep;
    the splitting twin of pack_sequences' concatenation)."""
    return TA.chunk_documents(load_table(spark, "documents", sf_dir),
                              chunk_tokens=32, stride=24)


def _random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.random_projection(load_table(spark, "embeddings", sf_dir)) \
        .orderBy("vec_id", "d_out")


def _token_freq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.token_freq_histogram(load_table(spark, "documents", sf_dir)) \
        .orderBy("log2_bucket")


def _top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.top_tokens(load_table(spark, "documents", sf_dir)).orderBy("rank")


def _zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.zipf_fit(load_table(spark, "documents", sf_dir))


def _bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.bigram_lm(load_table(spark, "documents", sf_dir)).orderBy("rank")


def _heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.heaps_fit(load_table(spark, "documents", sf_dir))


def _ann_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metric for the ANN family: |exact top-10 ∩ LSH top-10|/10
    for the vec-0 probe — one scalar row, both sides reuse the verified
    top-k operators."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    exact = SIM.cosine_topk(emb, q, k=10).select("vec_id")
    ann = SIM.ann_lsh_topk(emb, q, k=10).select("vec_id")
    return exact.join(ann, "vec_id").agg(
        (F.count(F.lit(1)) / F.lit(10.0)).alias("recall_at_10"))


MRL_DIMS = 16


def _mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 in the truncated (first-16-dim) Matryoshka space."""
    emb = SIM.truncate_embeddings(
        load_table(spark, "embeddings", sf_dir), MRL_DIMS)
    q = _query_vec(spark, sf_dir, 0)[:MRL_DIMS]
    return SIM.cosine_topk(emb, q, k=10)


def _mrl_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of truncated-space search vs the full-dimension exact
    top-10 — the storage/recall trade the truncation buys."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    exact = SIM.cosine_topk(emb, q, k=10).select("vec_id")
    trunc = _mrl_topk(spark, sf_dir).select("vec_id")
    return exact.join(trunc, "vec_id").agg(
        (F.count(F.lit(1)) / F.lit(10.0)).alias("recall_at_10"))


def _sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform 8-bit scalar quantization codes (long form)."""
    emb = load_table(spark, "embeddings", sf_dir)
    bounds = SIM.sq8_bounds(emb)
    return SIM.sq8_encode(emb, bounds).orderBy("vec_id", "d")


def _sq8_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of search over SQ8-reconstructed vectors vs the exact
    full-precision top-10 (asymmetric: raw query, quantized corpus)."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    bounds = SIM.sq8_bounds(emb)
    exact = SIM.cosine_topk(emb, q, k=10).select("vec_id")
    sq = SIM.cosine_topk(SIM.sq8_dequantize(emb, bounds), q, k=10) \
        .select("vec_id")
    return exact.join(sq, "vec_id").agg(
        (F.count(F.lit(1)) / F.lit(10.0)).alias("recall_at_10"))


def _approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-user sketch, driver-checkable: the raw sketch
    value is engine-specific (Spark vs DuckDB HLL differ), so the query
    exports the exact count plus a Spark-computed ``approx_within_3rsd``
    bound check — the oracle asserts the bound holds (``TRUE``) and
    hash-checks the exact column, converting the old rows-only row into
    a full rows+schema+hash row without faking the sketch."""
    from pyspark.sql import functions as F

    rsd = 0.01
    return (
        E.approx_distinct_users(spark, sf_dir, rsd=rsd)
        .select(
            "event_type", "n_users_exact",
            (F.abs(F.col("n_users_approx") - F.col("n_users_exact"))
             <= F.lit(3 * rsd) * F.col("n_users_exact"))
            .alias("approx_within_3rsd"))
    )


def _bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact semi-join behind a broadcast Bloom bitmap pre-filter
    (operators/skew.py:bloom_semi_join): lineitems of urgent high-value
    orders, aggregated per returnflag. The bitmap filter is a narrow
    codegen stage; the final semi-join removes false positives, so the
    result is hash-identical to the plain ``IN`` subquery oracle."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import dsum
    from text_sentiment_classification_hadoop_spark_spark.operators.skew import bloom_semi_join
    li = load_table(spark, "lineitem", sf_dir)
    hot = (load_table(spark, "orders", sf_dir)
           .filter((F.col("o_orderpriority") == "1-URGENT")
                   & (F.col("o_totalprice") > 150000.0))
           .select(F.col("o_orderkey").alias("l_orderkey")))
    return (
        bloom_semi_join(li, hot, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum(F.col("l_extendedprice")).alias("revenue"))
        .orderBy("l_returnflag")
    )


def _c4_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning over documents seeded with deterministic multi-line
    structure (the corpus has no newlines/punctuation — the seed makes
    every rule fire: shared boilerplate for the corpus-level line
    dedup, a javascript line, a short line, an unterminated line, and
    a '{'+'lorem' page for the doc-level drop)."""
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(".\n"),
            F.lit("this page is all rights reserved.\n"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("please enable javascript to view this page."))
            .otherwise(F.lit("a perfectly fine closing line.")),
            F.lit("\ntoo short.\n"),
            F.lit("a line with no terminal punctuation"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\nconfig { lorem }"))
            .otherwise(F.lit("")),
        ).alias("text"))
    return TA.c4_line_clean(seeded).orderBy("doc_id")


def _lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.lm_score(load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _doc_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.bigram_lm_score(
        load_table(spark, "documents", sf_dir)).orderBy("doc_id")


def _ppl_band_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Middle-band perplexity pruning (Marion et al. 2023)."""
    return TA.ppl_band_filter(
        load_table(spark, "documents", sf_dir)).orderBy("doc_id")


# data-quality expectations over orders — rule texts are portable SQL
# (valid verbatim in Spark and DuckDB), so the oracle is generated from
# the SAME dict and cannot drift
DQ_ORDERS_RULES = {
    "total_positive": "o_totalprice > 0",
    "custkey_present": "o_custkey IS NOT NULL",
    "status_known": "o_orderstatus IN ('F', 'O', 'P')",
    "date_in_range": ("CAST(o_orderdate AS DATE) >= DATE '1992-01-01' "
                      "AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'"),
    "priority_format": "o_orderpriority LIKE '%-%'",
}


def _pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.pps_systematic_sample(
        load_table(spark, "documents", sf_dir), k=50, weight_col="n_chars")


def _dup_kgram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-k-gram coverage over the documents corpus
    (exact-substring-dedup signal, Lee et al. 2022)."""
    return D.dup_kgram_stats(load_table(spark, "documents", sf_dir))


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the dup-planted embeddings corpus (same augmented
    protocol as embedding_near_dups): within-cell cosine >= 0.9 pairs
    collapse to min-id canonicals (Abbas et al. 2023). 32 first-k
    stand-in cells — measured locally: k=32 beats k=8 ~2.3× (pair
    blocks shrink) while staying under the per-row argmax cost that
    grows with k; the trained-codebook path (kmeans_books) is
    library-exercised by pytest. One fat semantic cluster survives any
    k here — it IS the planted duplicate mass."""
    emb = _augmented_embeddings(spark, sf_dir)
    return D.semdedup(emb, n_cells=32, threshold=0.9)


def _dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup removal (Lee et al. 2022): strip every
    token covered by a corpus-duplicated 3-gram; the measuring twin is
    ``dup_kgram_stats``."""
    return D.remove_duplicated_spans(load_table(spark, "documents", sf_dir))


def _fuzzy_part_names(spark: SparkSession, sf_dir: str,
                      max_dist: int = 2) -> DataFrame:
    """Banded Levenshtein fuzzy matching over part names — the string
    analogue of the LSH dedup path: candidates are generated by an
    EQUI-join on (brand, first word, length bucket) — never all-pairs —
    and only candidates pay the O(n·m) edit-distance verify. Distance
    ≤ ``max_dist`` bounds the length difference by ``max_dist`` < 8,
    so a true pair's length bands differ by at most 1; the left side
    explodes into (band−1, band, band+1) — the pigeonhole pattern of
    interval_pair_counts — making band recall EXACT and letting the
    oracle be the plain theta join → ``(key_a, key_b, dist)``."""
    from pyspark.sql import functions as F
    p = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("key"), F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name"))
    first = F.split(F.col("name"), " ")[0]
    band = (F.length("name") / 8).cast("int")
    left = p.select("key", "name", "brand", first.alias("w0"),
                    F.explode(F.array(band - 1, band, band + 1)).alias("bk"))
    right = p.select(F.col("key").alias("key_b"),
                     F.col("name").alias("name_b"), "brand",
                     first.alias("w0"), band.alias("bk"))
    cand = (left.join(right, ["brand", "w0", "bk"])
            .filter(F.col("key") < F.col("key_b")))
    dist = F.levenshtein(F.col("name"), F.col("name_b"))
    return (cand.select(F.col("key").alias("key_a"), "key_b",
                        dist.alias("dist"))
            .filter(F.col("dist") <= max_dist)
            .distinct()
            .orderBy("key_a", "key_b"))


def _part_entity_resolution(spark: SparkSession, sf_dir: str,
                            max_dist: int = 2) -> DataFrame:
    """End-to-end entity resolution over part names — the classic ER
    pipeline COMPOSED from the individually-verified pieces: blocking
    + banded-Levenshtein scoring (`_fuzzy_part_names`' candidate
    shape), match-graph connected components (`dedup.
    connected_components` — graph-generic), and canonical-record
    election (min key; its name becomes the cluster's canonical
    surface form) → ``(key, entity_id, canonical_name)`` for EVERY
    part, singletons canonical to themselves.

    Scale (round 13): pair generation runs on DISTINCT ``(brand,
    name)`` surface forms, not parts — the standard ER exact-duplicate
    collapse, and it is LOSSLESS here: equal-name parts share brand,
    first word, and band, so in the uncollapsed graph they form a
    dist-0 clique and always land in one entity; collapsing them to
    their min-key representative before the banded join and expanding
    by ``(brand, name)`` after CC yields the identical ``(key,
    entity_id, canonical_name)`` table (``component`` = min reachable
    key either way, since each group's rep IS its min key). Without
    the collapse the candidate join is quadratic in duplicate-group
    size — measured α=+1.73 (4.1 s → 220.4 s) on the 10×-replicated
    sf1 fixture, where every name appears 10× (SCALE.md §27); real
    corpora duplicate surface forms too (that is what ER is FOR).
    Candidates stay block-bounded (brand × first word × length band),
    the CC loop runs on the distinct-form match graph, and the final
    joins are part-table-sized and narrow. The recursive-CTE oracle
    resolves the same reachability exactly, uncollapsed."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import connected_components
    p = load_table(spark, "part", sf_dir).select(
        F.col("p_partkey").alias("key"), F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name"))
    groups = p.groupBy("brand", "name").agg(F.min("key").alias("rep"))
    first = F.split(F.col("name"), " ")[0]
    band = (F.length("name") / 8).cast("int")
    left = groups.select("rep", "name", "brand", first.alias("w0"),
                         F.explode(F.array(band - 1, band, band + 1))
                         .alias("bk"))
    right = groups.select(F.col("rep").alias("rep_b"),
                          F.col("name").alias("name_b"), "brand",
                          first.alias("w0"), band.alias("bk"))
    pairs = (left.join(right, ["brand", "w0", "bk"])
             .filter(F.col("rep") < F.col("rep_b"))
             .filter(F.levenshtein(F.col("name"), F.col("name_b"))
                     <= max_dist)
             .select(F.col("rep").alias("id_a"),
                     F.col("rep_b").alias("id_b"))
             .distinct())
    comp = connected_components(pairs)
    gent = (groups.join(comp, groups.rep == comp.node, "left")
            .select("brand", "name",
                    F.coalesce(F.col("component"), F.col("rep"))
                    .alias("entity_id")))
    withc = p.join(gent, ["brand", "name"]).select("key", "entity_id")
    names = p.select(F.col("key").alias("entity_id"),
                     F.col("name").alias("canonical_name"))
    return (withc.join(names, "entity_id")
            .select("key", "entity_id", "canonical_name")
            .orderBy("key"))


def _dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import expectation_report
    return expectation_report(load_table(spark, "orders", sf_dir),
                              DQ_ORDERS_RULES)


def _dq_oracle_sql() -> str:
    base_aggs = ", ".join(
        f"sum(CASE WHEN ({cond}) IS NOT TRUE THEN 1 ELSE 0 END) AS v{i}"
        for i, cond in enumerate(DQ_ORDERS_RULES.values()))
    arms = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS rule_order, '{name}' AS rule, "
        f"CAST(v{i} AS BIGINT) AS n_violations, "
        f"CAST(v{i} AS DOUBLE) / n AS violation_rate FROM base"
        for i, name in enumerate(DQ_ORDERS_RULES))
    return (f"WITH base AS (SELECT count(*) AS n, {base_aggs} FROM orders)\n"
            f"{arms}\nORDER BY rule_order")


def _classifier_metrics(kind: str):
    """A8+A9 as a one-row scalar table (the reference prints these to
    stdout — ``NB.java:343-349``; ``NaiveBayes.py:72-75``)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from text_sentiment_classification_hadoop_spark_spark.functions.rounding import py_pround
        from text_sentiment_classification_hadoop_spark_spark.operators import metrics as M

        scored = (S.nb_scored if kind == "nb" else S.svm_scored)(
            spark, sf_dir)
        c = M.confusion_counts(scored)
        b = M.binary_metrics(c)
        wf = M.weighted_f_measure(scored)
        return local_frame(
            spark, [(c["tp"], c["fp"], c["tn"], c["fn"],
              py_pround(b["accuracy"], 6), py_pround(b["precision"], 6),
              py_pround(b["recall"], 6), py_pround(b["f1"], 6),
              py_pround(wf, 6))],
            "tp bigint, fp bigint, tn bigint, fn bigint, accuracy double, "
            "precision double, recall double, f1 double, weighted_f1 double",
        )
    return run


def _word_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as ``word_counts`` via the salted two-phase
    aggregation (hash-checked against the identical oracle)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.skew import salted_count
    toks = _tokens_exploded(spark, sf_dir).select("word")
    return salted_count(toks, "word", n_salts=8).orderBy("word")


def _salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order counts and exact-decimal revenue
    computed through the generic skew-safe JOIN operator
    (operators/skew.salted_join: big side salted per row, small side
    exploded ``n_salts`` ways, equi-join on ``(key, salt)`` so a hot
    key spreads over ``n_salts`` reducers). Hash-checked against the
    plain-join oracle — salting must be result-invariant."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import dsum
    from text_sentiment_classification_hadoop_spark_spark.operators.skew import salted_join
    orders = load_table(spark, "orders", sf_dir) \
        .select("o_custkey", "o_totalprice")
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    j = salted_join(orders, cust, "o_custkey", n_salts=8)
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum(F.col("o_totalprice")).alias("revenue"))
            .orderBy("c_mktsegment"))


def _copurchase_rel(spark: SparkSession, sf_dir: str):
    """The orders×lineitem co-purchase relation ``(cust, supp, w)``,
    materialized ONCE per session and shared by the graph queries
    (components / BFS / PageRank ×2 / co-occurrence) — each used to
    rebuild the same self-join from scratch (~20 s of the registry
    bench recomputing one frame four times). Every
    query stays independently callable: a cold context computes the
    frame exactly as before, so results (and hashes) are unchanged;
    eviction frees the checkpoint blocks (``reuse.py``)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G

    def build():
        orders = load_table(spark, "orders", sf_dir)
        li = load_table(spark, "lineitem", sf_dir)
        return G.copurchase_rel(orders, li).localCheckpoint(eager=True)
    return reused(spark, "copurchase_rel",
                  [table_path("orders", sf_dir), table_path("lineitem", sf_dir)],
                  (), build)


def _copurchase_bfs_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS depths (≤ 4 hops) from customer node 1 over
    the co-purchase graph — the frontier-loop graph primitive
    (operators/graph.bfs_depths); recursive-CTE oracle."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    return G.bfs_depths(G.edges_from_rel(_copurchase_rel(spark, sf_dir)),
                        source=1, max_rounds=4)


def _copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration fixed-point PageRank over the customer<->supplier
    co-purchase graph — bit-exact BIGINT ranks (operators/graph.py)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    ranks = G.pagerank_fixed_point(
        G.edges_from_rel(_copurchase_rel(spark, sf_dir)), iters=3)
    return ranks.orderBy("node")


def _copurchase_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional variant: edges carry co-purchase
    multiplicities, contributions split as (rank·w) div sum_w."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    ranks = G.pagerank_fixed_point(
        G.edges_from_rel_weighted(_copurchase_rel(spark, sf_dir)),
        iters=3, weight_col="w")
    return ranks.orderBy("node")


def _copurchase_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration personalized PageRank (random walk with restart)
    from the 3 smallest node ids of the co-purchase graph — graph
    proximity to a seed set, the seed-expansion curation scorer
    (operators/graph.pagerank_personalized); bit-exact BIGINT ranks,
    unrolled-CTE oracle shares the global-PageRank generator."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    edges = G.edges_from_rel(_copurchase_rel(spark, sf_dir))
    # 3-row collect = the J4 scalar-broadcast pattern; smallest ids are
    # deterministic at every sf (the oracle derives the same set in SQL)
    seeds = [r["node"] for r in
             edges.select(F.col("src").alias("node"))
             .distinct().orderBy("node").limit(3).collect()]
    # seeds come from the graph's own node set two lines up —
    # pre-validated by construction, so skip the anti-join validation job
    ranks = G.pagerank_personalized(edges, seeds, iters=3,
                                    validate_seeds=False)
    return ranks.orderBy("node")


def _copurchase_ppr_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted personalized PageRank: restart on the 3 smallest
    nodes, contributions split by co-purchase multiplicity
    ``(rank·w) div sum_w`` — seed proximity that favors REPEATED
    relationships (the trust-propagation weighting)."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    edges = G.edges_from_rel_weighted(_copurchase_rel(spark, sf_dir))
    seeds = [r["node"] for r in
             edges.select(F.col("src").alias("node"))
             .distinct().orderBy("node").limit(3).collect()]
    # seeds derived from the node set above — pre-validated
    ranks = G.pagerank_personalized(edges, seeds, iters=3,
                                    weight_col="w",
                                    validate_seeds=False)
    return ranks.orderBy("node")


def _copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the customer<->supplier graph via the
    alternating large/small-star operator — the dedup CC machinery is
    graph-generic, demonstrated off the dup-pair domain (bipartite,
    near-fully-connected: expect few large components).

    Cost note: a GIANT component is the alternating algorithm's
    designed-for case — O(log² n) contraction rounds, each bounded by
    the current (geometrically shrinking) edge set; the ~8 s at sf0.1
    is those rounds' fixed per-round overhead on local[32], not a
    scale hazard (the dup-graph CC with shallow components runs the
    same loop in 2-3 rounds)."""
    from pyspark.sql import functions as F

    pairs = _copurchase_rel(spark, sf_dir).select(
        F.col("cust").alias("id_a"), F.col("supp").alias("id_b"))
    # The old form re-derived this from the symmetrized edge list
    # (union → filter src<dst → distinct): one wasted union + filter +
    # distinct over 2×|rel| rows (1.17M at sf0.1, profiled as 2 of the
    # query's hottest stages). The relation is pair-DISTINCT by
    # construction (it is a (cust, supp) groupBy output) and already
    # oriented id_a < id_b: supplier ids ride the SUPP_OFFSET id space
    # above every customer id. That holds while o_custkey < SUPP_OFFSET
    # (TPC-H SF <= ~6); copurchase_rel fails the query above it. And
    # connected_components symmetrizes internally, so the pair SET the
    # CC loop sees is identical.
    return D.connected_components(pairs, algorithm="alternating") \
        .orderBy("node")


def _supplier_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by customer-basket Jaccard (market-basket
    co-occurrence; operators/graph.cooccurrence_topk) — reuses the
    memoized co-purchase relation, so the orders×lineitem build is
    shared with the four graph queries."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    out = G.cooccurrence_topk(_copurchase_rel(spark, sf_dir), k=20)
    return (out.select(
        (F.col("supp_a") - G.SUPP_OFFSET).cast("long").alias("supp_a"),
        (F.col("supp_b") - G.SUPP_OFFSET).cast("long").alias("supp_b"),
        "n_co", "jaccard_micro")
        .orderBy(F.col("jaccard_micro").desc(), "supp_a", "supp_b"))


def _copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted synchronous label propagation (3 rounds) over the
    co-purchase graph — COMMUNITY detection vs the components query's
    min-label CC: the update is the weight-mode of the neighborhood
    (operators/graph.lpa_communities; Raghavan et al. 2007), so the
    near-fully-connected bipartite graph still splits along heavy
    co-purchase weight concentrations instead of collapsing to one
    label per connected component. Shares the memoized co-purchase
    relation with the five other graph queries."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    # Left lazy: measured at sf0.1 the AQE-fused plan at session
    # defaults is the FASTEST variant (~1.7 s warm vs ~3-4 s for
    # eager-materialized at 8/16/32 shuffle partitions).
    labels = G.lpa_communities(
        G.edges_from_rel_weighted(_copurchase_rel(spark, sf_dir)),
        rounds=3)
    return labels.orderBy("node")


def _copurchase_communities_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted synchronous LPA at rounds=6 — same contract as
    ``copurchase_communities`` at twice the depth: the deepest lazy
    plan ``graph.lpa_communities`` builds for the registry (six rounds,
    twelve shuffles, no barrier), hash-verified against the 6-round
    unrolled-SQL oracle."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    labels = G.lpa_communities(
        G.edges_from_rel_weighted(_copurchase_rel(spark, sf_dir)),
        rounds=6)
    return labels.orderBy("node")


def _sequential_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-allowed A-then-B sequential rules over 30-min-gap sessions
    (operators/events.sequential_rules) — PrefixSpan's length-2 pattern
    class with exact integer confidence; see the operator docstring for
    the determinism contract the oracle mirrors."""
    from text_sentiment_classification_hadoop_spark_spark.operators import events as EV
    return EV.sequential_rules(spark, sf_dir, k=20)


def _sequential_patterns3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-3 A→B→C sequential patterns over 30-min-gap sessions
    (operators/events.sequential_patterns3) — PrefixSpan's length-3
    class WITHOUT a length-cubed stage: the subsequence-greedy identity
    (a later C completes the pattern iff it follows the EARLIEST
    A-then-B completion) keeps the heavy stage at the same O(len²)
    pair join as sequential_rules. Oracle re-derives the greedy
    min-position frontier in pure SQL."""
    from text_sentiment_classification_hadoop_spark_spark.operators import events as EV
    return EV.sequential_patterns3(spark, sf_dir, k=20)


def _unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM vocab at the module defaults, trained once per
    session: ``unigram_lm_vocab`` returns it and
    ``unigram_token_counts`` applies it."""
    from text_sentiment_classification_hadoop_spark_spark.operators import unigram as UG
    params = (UG.MAX_PIECE_LEN, UG.MAX_WORD_LEN, UG.SEED_MULTI,
              UG.VOCAB_MULTI, UG.EM_ITERS)
    return S.documents_reused(
        spark, sf_dir, "unigram_vocab",
        lambda: UG.unigram_train_df(load_table(spark, "documents", sf_dir)),
        params)


def _unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer vocab learned over
    the documents corpus — hard-EM over a substring candidate lattice
    with integer micro-nat costs (operators/unigram.py; the BPE
    sibling, Kudo 2018). Oracle: ``_unigram_lm_sql`` unrolls the
    forward/backward segmentation DP per character position and both
    EM iterations in pure SQL."""
    return _unigram_vocab(spark, sf_dir)


def _unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the unigram-LM tokenizer:
    train the vocab over documents, then Viterbi-segment every corpus
    word → per-word ``(freq, n_pieces, cost_micro)`` token budgets —
    the sequence-packing/token-accounting number, the
    ``bpe_doc_token_counts`` sibling (operators/unigram.py
    ``unigram_token_counts``; fewest-pieces-on-cost-ties rule). NULL
    budgets exactly for unsegmentable words (> max_word_len here).
    Oracle: ``_unigram_token_counts_sql`` unrolls the same
    struct-lexicographic forward DP per character position."""
    from text_sentiment_classification_hadoop_spark_spark.operators import unigram as UG
    docs = load_table(spark, "documents", sf_dir)
    return UG.unigram_token_counts(docs, _unigram_vocab(spark, sf_dir))


def _bpe_trained(spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES,
                 batch_k: int = 1, headroom: int = 4) -> list[tuple[str, int]]:
    """``bpe_train``'s ``[(pair, freq), ...]`` over the documents
    corpus, trained once per session for each parameter set: seven
    registry queries apply the default 8-merge list."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    return S.documents_reused(
        spark, sf_dir, "bpe_merges",
        lambda: BPE.bpe_train(
            BPE.word_freqs(load_table(spark, "documents", sf_dir)),
            n_merges, batch_k=batch_k, headroom=headroom),
        (n_merges, batch_k, headroom))


def _bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> list[str]:
    """The default merge list's pairs, in merge order."""
    return [p for p, _ in _bpe_trained(spark, sf_dir)]


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table (rank, pair, merged, freq) — the
    distributed-tokenizer-training artifact. Oracle: the unrolled CTE
    chain ``_bpe_merges_sql`` (pure BIGINT + replace semantics)."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    return BPE.merges_frame(spark, _bpe_trained(spark, sf_dir)).orderBy("merge_rank")


def _bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BPE training (``batch_k=4``, the batched
    approximation): each round selects up to 4
    symbol-disjoint pairs (over inputs AND merged outputs, so the
    round's rewrites commute) from one ranked pair count and applies
    them in one rewrite — a quarter of sequential BPE's rounds.
    Oracle: ``_bpe_merges_batched_sql`` re-derives the greedy
    selection as a per-round recursive CTE."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    return BPE.merges_frame(spark, _bpe_trained(
        spark, sf_dir, BPE_MERGES, batch_k=BPE_BATCH_K)).orderBy("merge_rank")


def _bpe_merges_headroom16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training at the PRODUCTION candidate-window
    configuration: ``headroom=16``, the setting
    the §26 scale probe measured at fill 0.17→0.47, rounds 46→17,
    wall −27% on the real tweet corpus — SCALE.md §17's production
    arithmetic assumes it, so the driver contract must check it.

    Parameters (``n_merges=32, batch_k=16``) are chosen so the widened
    window is actually CONSULTED at oracle scales: at
    ``batch_k=16`` the synthetic corpus's saturated symbol inventory
    starves greedy symbol-disjoint selection inside the headroom-4
    window (measured fills [8, 8, 15, 1] at sf0.01) while headroom 16
    fills from deeper candidates ([9, 9, 14]) — the selected merge
    LIST differs from headroom 4 at sf0.001, sf0.01 and sf0.1, so a
    regression in the window arithmetic cannot hash-match
    the oracle by accident. Oracle: ``_bpe_merges_batched_sql(32, 16,
    headroom=16)`` — the same recursive-CTE greedy selection with the
    candidate LIMIT parameterized identically."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    return BPE.merges_frame(spark, _bpe_trained(
        spark, sf_dir, BPE_H16_MERGES, batch_k=BPE_H16_BATCH_K,
        headroom=BPE_H16_HEADROOM)).orderBy("merge_rank")


def _bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply: frequency-weighted subword vocabulary counts
    after BPE_MERGES learned merges."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    docs = load_table(spark, "documents", sf_dir)
    return BPE.bpe_segment_counts(
        docs, _bpe_merge_pairs(spark, sf_dir)).orderBy("token")


def _bpe_vocab_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 coverage curve of the learned subword vocabulary."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    docs = load_table(spark, "documents", sf_dir)
    return BPE.vocab_coverage_curve(docs, _bpe_merge_pairs(spark, sf_dir),
                                    top=20)


def _bpe_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token budget under the learned merges."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    docs = load_table(spark, "documents", sf_dir)
    return BPE.bpe_doc_token_counts(
        docs, _bpe_merge_pairs(spark, sf_dir)).orderBy("doc_id")


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink closed loop (format coverage beyond parquet /
    text-KV / CSV / JSON-strings): write the documents table as ORC
    (zlib, Spark's builtin writer), read it back, and return the
    identity projection — hash-must-match the parquet original. Writes
    under /tmp with overwrite (idempotent); the dir name carries the sf
    so scales don't collide."""
    import os
    import tempfile

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_orc_{tag}")
    docs.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select("doc_id", "text").orderBy("doc_id")


def _sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point: the literal ANSI oracle text executed by
    ``spark.sql`` over registered views — dialect-portable by
    construction."""
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import register_views
    register_views(spark, sf_dir)
    return spark.sql(oracle_sql()["pricing_summary"])


def _svm_declared_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import pround
    from text_sentiment_classification_hadoop_spark_spark.operators.svm import svm_train_declared
    def build():
        train, _ = S.train_test(S.labeled_documents(spark, sf_dir))
        return svm_train_declared(train)
    w = S.documents_reused(spark, sf_dir, "svm_declared_weights", build,
                           (EPOCHS, LR, LAMBDA))
    return w.select("word", pround(F.col("weight"), 6).alias("weight")).orderBy("word")


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.ann_lsh_topk(emb, _query_vec(spark, sf_dir, 0), k=10)


def _ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.ann_multiprobe_topk(emb, _query_vec(spark, sf_dir, 0), k=10)


def _ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.ivf_topk(emb, _query_vec(spark, sf_dir, 0), k=10,
                        n_cells=8, n_probe=2)


def _kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=8, 2-iteration ``kmeans_fit`` codebook over the embeddings
    (long form, k×dims rows), fitted once per session: ``kmeans_cells``,
    ``kmeans_quality`` and ``cluster_keywords`` share it. The entry holds
    only the local relation of k×dims doubles."""
    k, iters = 8, 2
    return reused(
        spark, "kmeans_codebook", [table_path("embeddings", sf_dir)],
        (k, iters),
        lambda: SIM.kmeans_fit(load_table(spark, "embeddings", sf_dir),
                               k=k, iters=iters))


def _kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF codebook: 2 Lloyd iterations from the first-8 seed
    (the iterative-algorithm coverage the SVM epochs provide for text,
    here for vectors). The session's shared fit
    (``_kmeans_codebook``), so only the first k-means query of a session
    pays for it."""
    return _kmeans_codebook(spark, sf_dir).orderBy("cell_id", "d")


def _ivf_cells_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (two-level IVF) cell assignment over the original
    corpus, k=32 first-k stand-in codebook → (vec_id, grp, cell): the
    §30-named O(n·2√k·d) replacement for the flat O(n·k·d) argmax.
    Routing (grp) is part of the output so the oracle checks BOTH
    levels of the argmax, and the result provably diverges from the
    flat assignment (230 of 500 cells differ at sf0.001)."""
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cell_vec"))
    return (SIM.ivf_assign_cells_two_level(emb, cents)
            .select("vec_id", "grp", "cell").orderBy("vec_id"))


def _semdedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the hierarchical two-level assignment: same
    augmented corpus, k=32 cells, threshold 0.9 as
    ``semdedup`` — only the assignment stage differs (G=6 group probe
    then the routed group's members instead of all 32 cells)."""
    emb = _augmented_embeddings(spark, sf_dir)
    return D.semdedup(emb, n_cells=32, threshold=0.9, two_level=True)


def _kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell tightness of the trained k=8 codebook, the session's
    shared fit (``_kmeans_codebook``)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.kmeans_quality(emb, _kmeans_codebook(spark, sf_dir))


def _augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pert = F.transform(F.col("embedding"),
                       lambda x, i: F.when(i == 0, x.cast("double") + 2.0)
                                     .otherwise(x.cast("double")))
    a = emb.select("vec_id", dbl.alias("embedding"))
    b = emb.select((F.col("vec_id") + 1000000).alias("vec_id"), dbl.alias("embedding"))
    c = emb.select((F.col("vec_id") + 2000000).alias("vec_id"), pert.alias("embedding"))
    return a.unionAll(b).unionAll(c)


def _embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dups(
        _augmented_embeddings(spark, sf_dir), threshold=0.9
    ).orderBy("id_a", "id_b")


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of the documents corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return D.cdc_chunks(docs).orderBy("doc_id", "chunk_idx")


def _cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insertion-robust chunk-level duplicate pairs."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return D.cdc_shared_chunks(docs).orderBy("id_a", "id_b")


def _tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pairs (df-pruned all-pairs join)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.search import tfidf_doc_pairs
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return tfidf_doc_pairs(docs).orderBy("id_a", "id_b")


def _winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints over the documents corpus."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return D.winnow_fingerprints(docs).orderBy("doc_id", "fp")


def _winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-robust near-dup pairs by shared winnowing fingerprints."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return D.winnow_near_dups(docs).orderBy("id_a", "id_b")


def _decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: the duplicated/perturbed
    augmented vectors (train side, ids >= 1M) checked against the
    original embeddings (test side) — every exact twin must surface at
    cosine 1.0, perturbed twins at slightly less."""
    from pyspark.sql import functions as F
    aug = _augmented_embeddings(spark, sf_dir)
    train = aug.filter(F.col("vec_id") >= 1000000)
    test = aug.filter(F.col("vec_id") < 1000000)
    return D.decontaminate_embeddings(train, test, threshold=0.9)


def _neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the MinHash near-dup pair graph —
    duplicate clusters of ≥3 mutually-similar documents (the corpus has
    clusters of 4 and 6, plus each doc's augmented ' zzz' twin) show up
    as cliques, so their members carry non-trivial triangle counts."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    edges = _near_dup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    return G.triangle_counts(edges).orderBy("node")


def _neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k=2 core peel of the MinHash dup graph: pendant pair
    edges peel away, duplicate clusters of ≥3 survive as cores."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    edges = _near_dup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    return G.kcore_peel(edges, k=2, rounds=3).orderBy("node")


def _mm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir).select("doc_id", "text")


def _mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = MM.synth_multimodal(_mm_docs(spark, sf_dir), "image")
    dec = MM.decode_image_features(mm)
    rez = MM.resize_images(mm, 64, 64).select("doc_id", "resized_checksum")
    return dec.join(rez, "doc_id").orderBy("doc_id")


def _mm_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = MM.synth_multimodal(_mm_docs(spark, sf_dir), "video")
    return MM.sample_video_frames(mm, frame_bytes=64, every=2) \
        .orderBy("doc_id", "frame_idx")


def _mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = MM.synth_multimodal(_mm_docs(spark, sf_dir), "audio")
    return MM.audio_features(mm).orderBy("doc_id")


def _mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video frame dedup over the augmented corpus (each doc +
    a near-copy: shared prefixes → planted frame collisions): group
    sampled frames by checksum, keep the first (doc, frame) occurrence.
    The multimodal analogue of exact_dedup — the shuffle carries 8-byte
    checksums, and the arg-min uses the same encoded-key pattern as
    c4_line_clean."""
    frames = MM.sample_video_frames(
        MM.synth_multimodal(_augmented_docs(spark, sf_dir), "video"),
        frame_bytes=64, every=2)
    return MM.dedup_frames(frames).orderBy("frame_checksum")


def _lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    labels = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    return SIM.group_centroids(emb, labels, "lang", "doc_id") \
        .orderBy("label", "d")


def _mllib_confusion(algorithm: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return S.documents_reused(spark, sf_dir, "mllib_confusion",
                                  lambda: _mllib_confusion_fit(
                                      spark, sf_dir, algorithm),
                                  algorithm)
    return run


def _mllib_confusion_fit(spark: SparkSession, sf_dir: str,
                         algorithm: str) -> DataFrame:
    """The reference's MLlib fit and its ≤ 4-row confusion;
    ``_mllib_confusion`` builds it once per session for each algorithm
    and ``documents`` table."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.svm import mllib_pipeline
    docs = S.labeled_documents(spark, sf_dir)
    # Pin the physical layout BEFORE the seeded randomSplit so the
    # split — and therefore the fit and the confusion counts — is
    # identical under ANY session config (randomSplit seeds its
    # sampler per-partition, so partition count + row order are part
    # of the protocol). repartition(8, doc_id) fixes the partition
    # contents by hash; sortWithinPartitions fixes the row order.
    # Verified bit-identical under local[4]/4, local[7]/13 and
    # local[32]/32 shuffle partitions, which is what lets the
    # oracle be a literal VALUES of the sf0.01 golden counts
    # (same evaluation protocol as the reference's own
    # ``NaiveBayes.py:61-75`` / ``SVM.py:63-76``).
    docs = docs.repartition(8, "doc_id").sortWithinPartitions("doc_id")
    preds, _model, cached_frames = mllib_pipeline(docs, algorithm=algorithm)
    # materialize the (≤ n_labels²-row) confusion eagerly off the
    # still-cached featurized frames, then release them: the reuse
    # entry keeps only this small checkpoint (see mllib_pipeline docs).
    out = (preds.groupBy("prediction", "label")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .orderBy("prediction", "label")
           .localCheckpoint(eager=True))
    for cached in cached_frames:
        cached.unpersist()
    return out


# sf0.01 golden confusion counts for the two MLlib fits under the pinned
# layout above — the literal-VALUES oracle bodies. These are REGRESSION
# PINS, not independent oracles: they were derived by running this very
# implementation (under three different master/shuffle configs, all
# bit-identical), so they catch protocol drift — a changed split, layout,
# featurization, or iteration count — but could not catch a fit that was
# wrong from the start. The independent semantic checks live elsewhere:
# the from-scratch NB/SVM twins (`nb_confusion`, `svm_confusion`) have
# real closed-form SQL oracles, and
# ``tests/test_nb_svm.py::test_mllib_confusion_goldens_sf001`` asserts
# the pinned cells AND that accuracy stays in a sane band. Residual
# risk, accepted: treeAggregate combines double partials in
# partition-ARRIVAL order, which layout pinning narrows but cannot
# fully fix — a 1-ulp weight flip exactly at a decision boundary would
# flake this pin. Never observed across r1–r5 driver runs + three
# configs; if it ever fires, re-derive the pin, don't loosen the hash.
# Keyed by sf tag so BOTH selfcheck scales compare instead of
# skipping. Every pin was derived twice — local[32]/32 and
# local[7]/13 shuffle partitions — and came out bit-identical, same
# protocol as the original sf0.01 derivation. ``oracle_sql()`` ships the
# sf0.01 entry (the driver's scale); ``tools/check_correctness.py``
# swaps in the matching tag for other scales.
_MLLIB_GOLDENS = {
    "sf0.01": {
        "nb": [(0.0, 0.0, 60), (0.0, 1.0, 72), (1.0, 1.0, 1)],
        "svm": [(0.0, 0.0, 46), (0.0, 1.0, 48), (1.0, 0.0, 14),
                (1.0, 1.0, 25)],
    },
    "sf0.001": {
        "nb": [(0.0, 0.0, 60), (0.0, 1.0, 73)],
        "svm": [(0.0, 0.0, 25), (0.0, 1.0, 35), (1.0, 0.0, 35),
                (1.0, 1.0, 38)],
    },
    # derived at the bench scale so the sf0.1 full-registry selfcheck
    # runs with ZERO sf-pinned skips; reproduced
    # twice back-to-back before pinning (the 8-partition doc_id-sorted
    # pre-split layout makes the counts session-config-invariant)
    "sf0.1": {
        "nb": [(0.0, 0.0, 3), (1.0, 0.0, 635), (1.0, 1.0, 610)],
        "svm": [(0.0, 0.0, 145), (0.0, 1.0, 161), (1.0, 0.0, 493),
                (1.0, 1.0, 449)],
    },
}
# back-compat alias (tests/docs reference the original sf0.01 table)
_MLLIB_GOLDEN_SF001 = _MLLIB_GOLDENS["sf0.01"]


def _mllib_confusion_oracle(algorithm: str, sf_tag: str = "sf0.01") -> str:
    rows = ", ".join(f"({p}, {l}, {c})" for p, l, c in
                     _MLLIB_GOLDENS[sf_tag][algorithm])
    return (
        "SELECT CAST(prediction AS DOUBLE) AS prediction, "
        "CAST(label AS DOUBLE) AS label, CAST(cnt AS BIGINT) AS cnt "
        f"FROM (VALUES {rows}) AS t(prediction, label, cnt) "
        "ORDER BY prediction, label")


def _events_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling windows over the events parquet via
    an availableNow file stream + memory sink; the batch ``events_tumbling``
    oracle checks it (same logical agg, incremental execution)."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        run_stream,
        tumbling_counts_stream,
    )
    # the events table is a single parquet FILE; the file-stream source
    # needs a directory, so stream the sf dir with a glob filter; ts is
    # encoding-normalized inside events_raw_stream.
    out = run_stream(tumbling_counts_stream(events_raw_stream(spark, sf_dir),
                                            minutes=5),
                     "events_tumbling_stream", "complete")
    return (out.select("window_start", "event_type", "n",
                       F.col("total_value").cast("double").alias("total_value"))
            .orderBy("window_start", "event_type"))


def _events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding windows (D=10 min, S=5 min) over the
    events parquet; the batch ``events_sliding`` oracle (UNION ALL of
    shifted tumblings) checks it — same logical agg, incremental
    execution, 2× overlap state bounded by the watermark."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        run_stream,
        sliding_counts_stream,
    )
    out = run_stream(
        sliding_counts_stream(events_raw_stream(spark, sf_dir), minutes=10,
                              slide_minutes=5),
        "events_sliding_stream", "complete")
    return (out.select("window_start", "event_type", "n",
                       F.col("total_value").cast("double").alias("total_value"))
            .orderBy("window_start", "event_type"))


def _events_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store session windows (``F.session_window``) checked against
    the batch gap-sessionization oracle (identical boundaries: merge iff
    gap < 30 min; no exact-boundary ties exist in the testdata)."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        run_stream,
        sessionize_stream,
    )
    return (run_stream(sessionize_stream(events_raw_stream(spark, sf_dir)),
                       "events_sessionize_stream", "complete")
            .select("user_id", "session_start", "session_end", "n_events")
            .orderBy("user_id", "session_start"))


def _stream_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user funnel progression (custom stateful
    operator #2, ``applyInPandasWithState``): each user's monotone
    stage-advancement events over view→click→purchase. A single
    availableNow batch makes the emitted set = every distinct stage a
    user reached (ascending) — the DISTINCT oracle; multi-batch state
    carry is pytest-covered (tests/test_events_streaming.py)."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        funnel_stage_stream,
        run_stream,
    )
    return (run_stream(funnel_stage_stream(events_raw_stream(spark, sf_dir)),
                       "stream_funnel_stages", "append")
            .orderBy("user_id", "stage_idx"))


def _doubled_doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The document stream with every row sent twice, as content
    hashes: the duplicated feed both streaming dedups must collapse."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
    )
    return (documents_stream(spark, sf_dir)
            .withColumn("_copy", F.explode(F.array(F.lit(0), F.lit(1))))
            .select(F.md5("text").alias("text_hash")))


def _stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup (custom stateful operator,
    ``applyInPandasWithState``): a deliberately duplicated document
    stream must emit each content hash exactly once — the incremental
    twin of ``dedup_exact``, oracle = distinct md5 over the table."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        dedup_first_seen_stream,
        run_stream,
    )
    return (run_stream(dedup_first_seen_stream(_doubled_doc_hashes(spark, sf_dir)),
                       "stream_dedup_docs", "append")
            .orderBy("text_hash"))


def _stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup (state expires past the
    horizon — the scale path vs ``dropDuplicates``' unbounded store):
    the events stream duplicated 2× must come back exactly once per
    event_id. All copies co-arrive inside the watermark, so the result
    equals the batch table and the oracle is a plain projection."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        dedup_watermarked_stream,
        events_raw_stream,
        run_stream,
    )
    dup = (events_raw_stream(spark, sf_dir)
           .withColumn("_copy", F.explode(F.array(F.lit(0), F.lit(1))))
           .select("event_id", "user_id", "event_type", "ts"))
    return (run_stream(
                dedup_watermarked_stream(dup, ["event_id"], delay="10 minutes"),
                "stream_dedup_watermarked", "append")
            .select("event_id", "user_id", "event_type")
            .orderBy("event_id"))


def _events_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink → JSON source roundtrip: events serialized to
    JSON-lines with ``ts`` as unix_micros (text formats lose no
    microseconds that way; doubles round-trip via shortest-repr), read
    back with an explicit schema, then the tumbling aggregation — the
    result must equal the parquet-sourced twin (shared oracle). Writes
    land under /tmp with overwrite, so the query is idempotent."""
    import os
    import tempfile

    from pyspark.sql import functions as F
    e = load_table(spark, "events", sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_json_rt_{os.path.basename(sf_dir.rstrip('/'))}")
    (e.select("event_id", "user_id", "event_type",
              F.unix_micros("ts").alias("ts_us"), "value", "props")
     .write.mode("overwrite").json(path))
    back = (spark.read
            .schema("event_id long, user_id long, event_type string,"
                    " ts_us long, value double, props string")
            .json(path)
            .withColumn("ts", F.timestamp_micros(F.col("ts_us"))))
    return E.tumbling_counts_df(back)


def _stream_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation screens on a document STREAM: `repetition_stats` is
    pure narrow column expressions, so the SAME operator runs on a
    streaming DataFrame unchanged (stateless append, no watermark, no
    state store) — the incremental form of the batch gate; oracle =
    the batch `doc_repetition` SQL. This is the deployment shape for
    continuous ingest: screens run per-file as data lands, dedup runs
    in the nightly batch pass."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
        run_stream,
    )
    # the single-row-group file scans as ONE task per micro-batch and
    # the screen is expression-heavy (O(distinct×n) per row): widen()
    # can't probe a stream's partitioning, so repartition explicitly —
    # the same tiny round-robin exchange, applied per batch
    wide = documents_stream(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return (run_stream(TA.repetition_stats(wide), "stream_doc_repetition",
                       "append")
            .orderBy("doc_id"))


def _stream_curation_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full stateless curation verdict on a document STREAM:
    `narrow_verdict` chains the lang/quality/repetition gates through
    `extra`-column pass-through selects — no join, no state, so the
    composed screen streams append-mode exactly like a single gate.
    Oracle: the batch SQL composition of the three gate oracles."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import narrow_verdict
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
        run_stream,
    )
    wide = documents_stream(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism)
    return (run_stream(narrow_verdict(wide), "stream_curation_gates", "append")
            .orderBy("doc_id"))


def _stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream joined to
    the (static) customer market-segment dimension, then aggregated per
    (segment, event_type). Oracle: the equivalent batch left join."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        enrich_stream_static,
        events_raw_stream,
        run_stream,
    )
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"))
    out = run_stream(enrich_stream_static(events_raw_stream(spark, sf_dir),
                                          cust),
                     "stream_static_enrich", "complete")
    return (out.select("segment", "event_type", "n",
                       F.col("total_value").cast("double").alias("total_value"))
            .orderBy("segment", "event_type"))


def _stream_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints computed AT INGEST on a document stream —
    stateless (narrow array exprs + explode, append mode, no watermark,
    no state store), which is exactly how production pipelines
    fingerprint before the batch dedup joins. Oracle: the batch
    winnow_fingerprints SQL (same logical computation, incremental
    execution)."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
        run_stream,
    )
    wide = (documents_stream(spark, sf_dir).select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism))
    return (run_stream(D.winnow_fingerprints(wide), "stream_winnow_fps",
                       "append")
            .orderBy("doc_id", "fp"))


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks ⋈ purchases, same
    user, click within the 5 minutes at-or-before the purchase) — the
    two-source join Structured Streaming state-stores; batch theta-join
    oracle."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        purchase_click_join_stream,
        run_stream,
    )
    return (run_stream(
                purchase_click_join_stream(events_raw_stream(spark, sf_dir)),
                "purchase_click_join_stream", "append")
            .orderBy("purchase_id", "click_id"))


def _stream_dedup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming dedup (dropDuplicates, JVM state store) over the
    same duplicated feed — the production path; the custom
    applyInPandasWithState query above is the extension-point twin.
    Same oracle: distinct md5 over the table."""
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        dedup_native_stream,
        run_stream,
    )
    return (run_stream(dedup_native_stream(_doubled_doc_hashes(spark, sf_dir)),
                       "stream_dedup_native", "append")
            .orderBy("text_hash"))


def _tfidf_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = S.labeled_documents(spark, sf_dir).select("doc_id", "text")
    return TA.tfidf_long(docs).orderBy("doc_id", "word")


# committed quirk fixture replicating the reference input's pathologies
# (quotes kept verbatim, interior commas, <4-field rows, entities, URLs,
# mentions, unicode, empty text) — see FIXTURES.md / SURVEY.md §1.1
import os as _os

TWEETS_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "fixtures", "tweets_fixture.csv")

# DuckDB raw-line scan of the fixture (chr(1) delimiter = read whole
# lines; quote/escape disabled) + the naive comma split
TWEETS_LINES_CTE = f"""
lines AS (
  SELECT column0 AS line
  FROM read_csv('{TWEETS_FIXTURE}', delim=chr(1), header=false,
                quote='', escape='', columns={{'column0': 'VARCHAR'}})
),
parts AS (SELECT string_split(line, ',') AS p FROM lines)
"""


def _tweets_parse(mode: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from text_sentiment_classification_hadoop_spark_spark.sources.tweets import read_tweets_naive
        return read_tweets_naive(spark, TWEETS_FIXTURE, mode=mode) \
            .orderBy("tweet_id")
    return run


TWEETS_STRICT_FIXTURE = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "fixtures", "tweets_strict.csv")


def _tweets_parse_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rebuild-only RFC-4180 reader on a well-formed fixture —
    quoted commas and doubled quotes survive (unlike the compat path)."""
    from text_sentiment_classification_hadoop_spark_spark.sources.tweets import read_tweets_strict
    return read_tweets_strict(spark, TWEETS_STRICT_FIXTURE).orderBy("tweet_id")


def _tweets_clean_chain_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain B (the SVM-Hadoop cleaning chain, its actual pairing) over
    the SVM-mode parse — RE2-safe patterns, so directly oracle-able.
    (Chain A's lazy-quantifier/lookahead regexes are Java-only; they are
    golden-tested in pytest instead — SURVEY.md §7 hard parts.)"""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.cleaning import clean_chain_b
    from text_sentiment_classification_hadoop_spark_spark.sources.tweets import read_tweets_naive
    df = read_tweets_naive(spark, TWEETS_FIXTURE, mode="svm")
    return df.select("tweet_id",
                     clean_chain_b(F.col("text")).alias("cleaned")) \
        .orderBy("tweet_id")


def _decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination on the documents table, split the
    same way as the sentiment pipelines (doc_id%8 ∈ {0,5} = test)."""
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    is_test = (F.col("doc_id") % 8).isin(0, 5)
    return D.decontaminate(docs.filter(~is_test), docs.filter(is_test))


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 5-gram containment pairs over documents
    (operators/dedup.containment_pairs) — quote/sub-document dup
    detection; exact integer micro containments, df-guarded join."""
    docs = load_table(spark, "documents", sf_dir)
    return D.containment_pairs(docs)


def _bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination on the documents table, same
    %8 train/test split as decontaminate_train but 8-gram fingerprints
    (operators/dedup.bloom_decontaminate) — the bitmap, the probe AND
    the false-positive set are oracle-recomputed in DuckDB (portable
    md5 hash + double hashing), not just the exact-confirm stage."""
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    is_test = (F.col("doc_id") % 8).isin(0, 5)
    return D.bloom_decontaminate(docs.filter(~is_test),
                                 docs.filter(is_test))


def _hash_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample of documents — reproducible
    engine-independent sampling (unlike seeded df.sample)."""
    docs = load_table(spark, "documents", sf_dir)
    return (TA.hash_sample(docs, pct=10)
            .select("doc_id", "lang", "n_chars").orderBy("doc_id"))


STRATIFIED_RATES = {"en": 20, "es": 60, "fr": 60, "de": 60}  # zh -> default 100


def _stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing stratified sample: downsample dominant en,
    keep more of the rest, all of unlisted strata (zh)."""
    docs = load_table(spark, "documents", sf_dir)
    return (TA.stratified_hash_sample(docs, STRATIFIED_RATES,
                                      default_pct=100)
            .select("doc_id", "lang", "n_chars").orderBy("doc_id"))


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import dsir_scores
    return dsir_scores(load_table(spark, "documents", sf_dir))


def _shuffle_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import shuffle_split
    return shuffle_split(load_table(spark, "documents", sf_dir))


def _quota_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import quota_select
    return quota_select(load_table(spark, "documents", sf_dir))


def _embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.embedding_dim_stats(load_table(spark, "embeddings", sf_dir))


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank band [6, 15] per query — past the likely-positive head,
    inside the informative-negative belt."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    return SIM.hard_negatives(emb, queries_df, lo=6, hi=15)


def _split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage audit on the augmented corpus (planted ' zzz' near-dups
    guarantee cross-split pairs exist): near-dup pairs × hash-split
    assignment → per-(split,split) pair counts."""
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import (
        shuffle_split,
        split_leakage_report,
    )
    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_near_dups(docs, threshold=0.5,
                                sigs=_aug_sigs(spark, sf_dir))
    return split_leakage_report(pairs, shuffle_split(docs))


def _events_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSON ingestion (the PERMISSIVE-mode contract):
    serialize events to JSON lines, replace every 7th line with garbage
    in-flight, parse back with ``from_json`` (NULL on bad rows — never
    a job abort), and report per-type good counts plus a ``_corrupt``
    row. The malformed-input discipline P4 applies to CSV, exercised on
    the JSON path."""
    from pyspark.sql import functions as F
    ev = load_table(spark, "events", sf_dir)
    line = F.to_json(F.struct("event_id", "event_type"))
    raw = ev.select(
        F.col("event_id"),
        F.when(F.col("event_id") % 7 == 0, F.lit("{oops not json"))
        .otherwise(line).alias("js"))
    parsed = raw.select(
        F.from_json("js", "event_id BIGINT, event_type STRING").alias("r"))
    return (parsed.select(
        F.coalesce(F.col("r.event_type"), F.lit("_corrupt")).alias("event_type"))
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type"))


PHRASE_QUERY = "table scan"


def _phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import phrase_search
    return phrase_search(load_table(spark, "documents", sf_dir), PHRASE_QUERY)


def _phrase_sql(phrase: str) -> str:
    terms = [t for t in phrase.lower().split(" ") if t]
    arms = ",\n".join(
        f"m{i} AS (SELECT doc_id, pos - {i} AS start_pos FROM post "
        f"WHERE term = '{t}')"
        for i, t in enumerate(terms))
    joins = " ".join(f"JOIN m{i} USING (doc_id, start_pos)"
                     for i in range(1, len(terms)))
    return f"""
WITH post AS (
  SELECT doc_id, pos, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
           generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos
    FROM documents)
  WHERE length(term) > 0
),
{arms}
SELECT m0.doc_id, CAST(m0.start_pos AS BIGINT) AS start_pos
FROM m0 {joins}
ORDER BY m0.doc_id, m0.start_pos
"""


def _ctfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.ctfidf_keywords(load_table(spark, "documents", sf_dir))


def _events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly forward-filled value series for the first 20 users."""
    from pyspark.sql import functions as F
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return E.gap_fill_forward(ev, slot_seconds=3600)


def _nb_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall across the NB margin's own deciles →
    ``(thr_idx, threshold, tp, fp, fn, precision, recall)`` — the
    operating-curve view the single argmax confusion matrix can't give
    (pick your precision, read off the threshold). Thresholds are the
    exact margin deciles (value at rank ⌈i·n/10⌉ — deterministic under
    ties), collected driver-side (9 rows — codebook discipline); the
    per-threshold counts fan out through one constant-size broadcast
    and a single aggregation pass. Precision/recall round integer-
    exactly (the pround_avg2 form over plain counts). The decile
    window sorts test-set-sized margins on one task — at corpus scale
    swap in the two-phase distributed rank (pps_sample's pattern)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import pround
    from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
    _, test = S.train_test(S.labeled_documents(spark, sf_dir))
    model, stats = S._nb_trained(spark, sf_dir)
    scored = NB.nb_score(test, model, stats)
    marg = (scored.select(
        F.col("label"),
        pround(F.col("score_pos") - F.col("score_neg"), 6).alias("m"))
        .localCheckpoint(eager=True))
    n = marg.count()
    ranks = {math.ceil(i * n / 10): i for i in range(1, 10)}
    w = Window.orderBy("m")
    thr_rows = (marg.select("m").withColumn("r", F.row_number().over(w))
                .filter(F.col("r").isin(list(ranks))).collect())
    tdf = local_frame(
        spark, sorted((ranks[r["r"]], r["m"]) for r in thr_rows),
        "thr_idx int, threshold double")
    hit = F.col("m") >= F.col("threshold")
    pos = F.col("label") == 1.0
    agg = (marg.crossJoin(F.broadcast(tdf))
           .groupBy("thr_idx", "threshold")
           .agg(F.sum(F.when(hit & pos, 1).otherwise(0)).alias("tp"),
                F.sum(F.when(hit & ~pos, 1).otherwise(0)).alias("fp"),
                F.sum(F.when(~hit & pos, 1).otherwise(0)).alias("fn")))
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import sql_pround_iratio
    return (agg.select(
        "thr_idx", "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.expr("CASE WHEN tp + fp > 0 THEN "
               + sql_pround_iratio("tp", "tp + fp")
               + " END").alias("precision"),
        F.expr("CASE WHEN tp + fn > 0 THEN "
               + sql_pround_iratio("tp", "tp + fn")
               + " END").alias("recall"))
        .orderBy("thr_idx"))


def _active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example mining for the sentiment task
    — the standard active-learning batch-selection loop, composing
    three registry families in ONE driver-checkable plan:

    1. **uncertainty** — the NB margin ``m_micro = floor(1e6·(score_pos
       − score_neg) + 0.5)`` (the nb_pr_curve quantization: integer
       micro-nats, cross-engine exact) on the test split, smallest
       ``|m|`` = most uncertain;
    2. **near-dup exclusion** — a doc that is the LARGER id of any
       MinHash-LSH near-dup pair (threshold 0.5, over the full corpus,
       train side included — a test doc near-duplicating a train doc is
       leakage, not signal) is excluded, so the labeling budget never
       buys a near-copy;
    3. **per-predicted-label quota** — ``cap`` most-uncertain docs per
       predicted class via the skew-safe salted quota selector
       (operators/curation.quota_select_salted: rank within
       (group, salt) then re-rank cap-bounded survivors — no
       single-reducer window), balancing the batch across classes.

    Output ``(doc_id, grp, score, rk)``: grp = predicted class, score =
    −|m_micro| (so rank 1 = most uncertain), rk = within-class rank.
    Oracle: the NB_PRED_SQL model/margin chain + the near_dup_pairs
    banding CTEs + a plain per-group row_number — quota_select_salted
    is result-identical to the unsalted window by construction."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import dedup as D
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import quota_select_salted
    docs = S.labeled_documents(spark, sf_dir)
    scored = S.nb_scored(spark, sf_dir)
    m = F.floor((F.col("score_pos") - F.col("score_neg"))
                * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    pairs = D.minhash_near_dups(docs.select("doc_id", "text"),
                                threshold=0.5)
    excl = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    pool = (scored.join(excl, "doc_id", "left_anti")
            .select("doc_id",
                    F.when(m > 0, F.lit("POS")).otherwise(F.lit("NEG"))
                    .alias("pred_grp"),
                    (-F.abs(m)).alias("uncertainty")))
    return quota_select_salted(pool, cap=25, group_col="pred_grp",
                               score_col="uncertainty", id_col="doc_id")


def _nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC of the NB margin on the test split
    → one row ``(n_pos, n_neg, n_tiers, auc)`` — the threshold-free
    ranking-quality companion to ``nb_pr_curve``'s operating points,
    via the rank-sum (Mann–Whitney U) identity: AUC = P(margin_pos >
    margin_neg) + ½·P(tie), computed WITHOUT enumerating the
    n_pos·n_neg pairs.

    Exactness: margins quantize at 6 dp (same ``pround`` as
    nb_pr_curve), docs collapse to distinct margin TIERS ``(m, p, q)``,
    and ascending-cumulative ``U2 = Σ_s p_s·(2·cum_q(<s) + q_s)``
    is pure BIGINT (the ·2 absorbs the midrank ½ — exact to
    2·n_pos·n_neg ≈ 9e18, i.e. ~2e9 test rows per class); the single
    division is the final ``sql_ir38``. The ascending tier cumulative
    runs the two-phase distributed prefix sum (``ranged_cumsum``, the
    ``ks_price_shift`` form): range exchange on
    the margin, in-partition window, per-partition offsets re-lit, so
    the tier frame never crosses a SinglePartition window even when
    margins barely tie and tiers ≈ test rows."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.prefix import ranged_cumsum
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import pround, sql_ir38
    from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
    _, test = S.train_test(S.labeled_documents(spark, sf_dir))
    model, stats = S._nb_trained(spark, sf_dir)
    scored = NB.nb_score(test, model, stats)
    marg = scored.select(
        (F.col("label") == 1.0).cast("long").alias("_p"),
        pround(F.col("score_pos") - F.col("score_neg"), 6).alias("m"))
    t = (marg.groupBy("m")
         .agg(F.sum("_p").alias("p"),
              F.sum(F.lit(1) - F.col("_p")).alias("q")))
    t_cum, _ = ranged_cumsum(t, ["m"], ["q"])
    c = t_cum.select("p", "q",
                     (F.col("_cum_q") - F.col("q")).alias("qb"))
    agg = c.agg(
        F.sum(F.col("p") * (2 * F.col("qb") + F.col("q"))).alias("u2"),
        F.sum("p").alias("np"), F.sum("q").alias("nq"),
        F.count(F.lit(1)).alias("nt"))
    return agg.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nq").cast("long").alias("n_neg"),
        F.col("nt").cast("long").alias("n_tiers"),
        F.expr(sql_ir38(
            "u2", "2 * CAST(np AS DECIMAL(38,0)) * nq")).alias("auc"))


def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cell approximate kNN graph over the embeddings (16 coarse
    cells — candidates ≈ n/16 per vector, never all-pairs)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.knn_graph(emb, k=5, n_cells=16)


def _knn_graph_sql(n_cells: int = 16, k: int = 5) -> str:
    parts = _kmeans_cte_parts(n_cells, 0)
    cos = ("sum(au.x * c.m) / (sqrt(sum(au.x * au.x))"
           " * sqrt(sum(c.m * c.m)))")
    parts += [
        f"""scF AS (
  SELECT au.vec_id, c.cell, {_r6(cos)} AS cos
  FROM au JOIN cent0 c USING (d)
  GROUP BY au.vec_id, c.cell)""",
        """asgF AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM scF) WHERE rk = 1)""",
        "nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM au GROUP BY vec_id)",
        """pz AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM asgF a JOIN asgF b ON a.cell = b.cell AND a.vec_id <> b.vec_id)""",
        """pd AS (
  SELECT p.src, p.dst, sum(xa.x * xb.x) AS dot
  FROM pz p
  JOIN au xa ON xa.vec_id = p.src
  JOIN au xb ON xb.vec_id = p.dst AND xb.d = xa.d
  GROUP BY p.src, p.dst)""",
        """scg AS (
  SELECT pd.src, pd.dst,
         floor((pd.dot / (na.nv * nb.nv)) * 1000000.0 + 0.5)
           / 1000000.0 AS cosine
  FROM pd
  JOIN nrm na ON na.vec_id = pd.src
  JOIN nrm nb ON nb.vec_id = pd.dst)""",
        """rkg AS (
  SELECT src, dst, cosine,
         CAST(row_number() OVER (PARTITION BY src
                                 ORDER BY cosine DESC, dst ASC)
              AS INTEGER) AS rank
  FROM scg)""",
    ]
    return (f"WITH {AU_ORIG}, " + ",\n".join(parts)
            + f"""
SELECT src, dst, cosine, rank FROM rkg
WHERE rank <= {k} ORDER BY src, rank
""")


def _ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tuning curve: recall@10 of the IVF probe vs probe count
    (1..4 of 8 cells) against the exact top-10 — the measured
    cost/recall tradeoff every IVF deployment tunes. Fully lazy: one
    union of four join-count aggregates, no driver-side evaluation."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    exact = SIM.cosine_topk(emb, q, k=10).select("vec_id")
    parts = []
    for n_probe in (1, 2, 3, 4):
        got = SIM.ivf_topk(emb, q, k=10, n_cells=8,
                           n_probe=n_probe).select("vec_id")
        parts.append(exact.join(got, "vec_id").agg(
            F.lit(n_probe).cast("int").alias("n_probe"),
            (F.count(F.lit(1)).cast("double") / F.lit(10.0))
            .alias("recall_at_10")))
    out = parts[0]
    for prt in parts[1:]:
        out = out.unionAll(prt)
    return out.orderBy("n_probe")


def _textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import textrank_keywords
    return textrank_keywords(load_table(spark, "documents", sf_dir))


def _textrank_sql(iters: int = 3, k: int = 30, min_count: int = 3) -> str:
    """Unrolled weighted-PageRank oracle over the co-occurrence graph
    (same BIGINT iteration text as the co-purchase oracle, text edges)."""
    from text_sentiment_classification_hadoop_spark_spark.operators.graph import (
        DAMP_DEN,
        DAMP_NUM,
        RESET_MICRO,
        SCALE,
    )
    parts = [
        """post AS MATERIALIZED (
  SELECT doc_id, pos, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
           generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos
    FROM documents)
  WHERE length(term) > 0)""",
        """pairs AS (
  SELECT least(a.term, b.term) AS w1, greatest(a.term, b.term) AS w2
  FROM post a
  JOIN (SELECT unnest(range(1, 4)) AS o) ofs ON TRUE
  JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + ofs.o
  WHERE a.term <> b.term)""",
        f"""pc AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS w
  FROM pairs GROUP BY w1, w2 HAVING count(*) >= {min_count})""",
        "ed AS MATERIALIZED (SELECT w1 AS src, w2 AS dst, w FROM pc "
        "UNION ALL SELECT w2, w1, w FROM pc)",
        "deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS sw "
        "FROM ed GROUP BY src)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM deg)",
        f"r0 AS MATERIALIZED (SELECT node, CAST({SCALE} AS BIGINT) AS rank_micro "
        "FROM nodes)",
    ]
    contrib = "sum((r.rank_micro * e.w) // d.sw)"
    for i in range(1, iters + 1):
        parts += [
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node, {contrib} AS mass
  FROM ed e JOIN r{i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst)""",
            f"""r{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({RESET_MICRO} + (coalesce(c.mass, 0) * {DAMP_NUM}) // {DAMP_DEN}
              AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)""",
        ]
    return ("WITH " + ",\n".join(parts)
            + f"""
SELECT node AS term, rank_micro,
       CAST(row_number() OVER (ORDER BY rank_micro DESC, node ASC)
            AS INTEGER) AS rk
FROM r{iters} ORDER BY rank_micro DESC, node ASC LIMIT {k}
""")


def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.search import pmi_collocations
    return pmi_collocations(load_table(spark, "documents", sf_dir))


def _cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.cohort_value(spark, sf_dir)


def _source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import source_quality_report
    return source_quality_report(load_table(spark, "documents", sf_dir))


def _jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-shingle Jaccard ≥ 0.8 pairs via lossless prefix
    filtering (operators/dedup.jaccard_prefix_pairs) — the oracle is a
    deliberate O(n²) brute force, so a hash-green row proves the
    candidate pruning misses NOTHING."""
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import jaccard_prefix_pairs
    return jaccard_prefix_pairs(load_table(spark, "documents", sf_dir))


def _bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility under the corpus-trained BPE
    merges (operators/bpe.fertility_by_group) — subwords per word, the
    cross-lingual tokenizer-equity metric."""
    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    docs = load_table(spark, "documents", sf_dir)
    return BPE.fertility_by_group(docs, _bpe_merge_pairs(spark, sf_dir))


def _source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import source_diversity_index
    return source_diversity_index(load_table(spark, "documents", sf_dir))


def _ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import ngram_novelty
    return ngram_novelty(load_table(spark, "documents", sf_dir))


def _temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import temperature_mixture_plan
    return temperature_mixture_plan(load_table(spark, "documents", sf_dir))


def _label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import label_silhouette
    return label_silhouette(load_table(spark, "embeddings", sf_dir))


def _embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import embedding_outliers
    return embedding_outliers(load_table(spark, "embeddings", sf_dir))


def _source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.dedup import source_overlap
    return source_overlap(load_table(spark, "documents", sf_dir))


def _stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k (trending types) — the canonical two-stage
    pattern: the INCREMENTAL half (watermarked tumbling counts, state
    bounded by the watermark) runs in the stream; the rank runs
    downstream on the finalized windows (an append/complete stream
    cannot host a rank window — ranking completed windows after the
    sink IS the production shape, e.g. a trending dashboard over a
    streaming rollup table). Rank partitioned per window — parallel,
    deterministic (count desc, type asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        run_stream,
        tumbling_counts_stream,
    )
    counts = run_stream(
        tumbling_counts_stream(events_raw_stream(spark, sf_dir), minutes=60),
        "stream_trending_topk", "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc())
    return (counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("window_start", "event_type",
                    F.col("n").cast("long").alias("n"),
                    F.col("rnk").cast("int").alias("rnk"))
            .orderBy("window_start", "rnk"))


def _length_percentile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import length_percentile_docs
    return length_percentile_docs(load_table(spark, "documents", sf_dir))


def _doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import doc_length_gini
    return doc_length_gini(load_table(spark, "documents", sf_dir))


def _benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.benford_prices(load_table(spark, "orders", sf_dir))


def _revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.revenue_mom_growth(load_table(spark, "orders", sf_dir))


def _doc_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.doc_lexical_stats(load_table(spark, "documents", sf_dir))


def _copurchase_cheapest_paths(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """4-round Bellman-Ford cheapest costs from customer node 1 over
    the WEIGHTED co-purchase graph (edge cost = 1_000_000 DIV
    multiplicity — heavily co-bought pairs are cheap to traverse);
    min-plus relaxation, distance table contracted per round
    (operators/graph.bellman_ford_costs); unrolled min-plus CTE
    oracle. Shares the memoized co-purchase relation."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    edges = (G.edges_from_rel_weighted(_copurchase_rel(spark, sf_dir))
             .select("src", "dst",
                     F.expr("CAST(1000000 DIV w AS LONG)").alias("cost")))
    return G.bellman_ford_costs(edges, source=1, rounds=4)


def _brand_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.brand_price_deciles(load_table(spark, "part", sf_dir))


def _nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram over the NB margin's deciles →
    ``(bucket, n, n_pos, pos_rate_micro, min_m, max_m)`` — does a
    higher margin actually mean a higher empirical positive rate?
    (The PR curve reads operating points; this reads CALIBRATION.)
    Bucketing is ntile(10) over the total order (margin, doc_id) —
    deterministic under margin ties; the per-bucket extremes are
    min/max picks (order-independent doubles), the rate is the
    remainder-exact integer ratio. Same single-task-sort caveat and
    scale swap as `_nb_pr_curve` (test-set-sized window; two-phase
    rank at corpus scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import (
        pround, sql_pround_iratio)
    from text_sentiment_classification_hadoop_spark_spark.operators import nb as NB
    _, test = S.train_test(S.labeled_documents(spark, sf_dir))
    model, stats = S._nb_trained(spark, sf_dir)
    scored = NB.nb_score(test, model, stats)
    marg = scored.select(
        "doc_id", "label",
        pround(F.col("score_pos") - F.col("score_neg"), 6).alias("m"))
    b = F.ntile(10).over(Window.orderBy("m", "doc_id"))
    return (marg.select(b.alias("bucket"), "label", "m")
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.when(F.col("label") == 1.0, 1).otherwise(0))
                 .cast("long").alias("n_pos"),
                 F.min("m").alias("min_m"),
                 F.max("m").alias("max_m"))
            .withColumn("pos_rate_micro",
                        F.expr(sql_pround_iratio("n_pos", "n")))
            .select("bucket", "n", "n_pos", "pos_rate_micro",
                    "min_m", "max_m")
            .orderBy("bucket"))


def _basket_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 association rules by lift over the co-purchase baskets
    (operators/graph.association_rules_topk); shares the memoized
    orders×lineitem relation with the graph family."""
    from text_sentiment_classification_hadoop_spark_spark.operators import graph as G
    return G.association_rules_topk(_copurchase_rel(spark, sf_dir))


def _embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.pca_power_top_component(load_table(spark, "embeddings", sf_dir))


def _bitext_mined_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import bitext_mine
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    return bitext_mine(emb, docs)


import math as _math

# integer micro-unit DCG discount weights: w_i = round(1e6 / log2(i+1))
# for ranks 1..10 — PRECOMPUTED so both engines use identical integer
# literals (libm log2 could differ by an ulp between engines)
_NDCG_W = [round(1_000_000 / _math.log2(i + 1)) for i in range(1, 11)]
# ideal DCG: relevance 10..1 laid out in rank order, micro-units
_NDCG_IDCG = sum((11 - i) * _NDCG_W[i - 1] for i in range(1, 11))


def _ann_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the sign-LSH ANN list against the exact top-10 (the
    graded companion to recall/RBO: relevance of a hit = 11 − its
    exact rank, position-discounted by 1/log2(rank+1)) → one row
    ``(ndcg_micro)`` in exact integer micro-units. Discount weights
    are precomputed integer literals shared with the oracle, so no
    cross-engine transcendental appears anywhere in the plan."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    exact = SIM.cosine_topk(emb, q, k=10) \
        .select("vec_id", F.col("rank").alias("_er"))
    ann = SIM.ann_lsh_topk(emb, q, k=10) \
        .select("vec_id", F.col("rank").alias("_ar"))
    w = F.element_at(F.array(*[F.lit(x) for x in _NDCG_W]),
                     F.col("_ar").cast("int"))
    contrib = (ann.join(exact, "vec_id", "left")
               .select((F.coalesce(F.lit(11) - F.col("_er"), F.lit(0))
                        .cast("long") * w).alias("_c")))
    return contrib.agg(
        F.expr(f"CAST((coalesce(sum(_c), 0) * 1000000) div {_NDCG_IDCG} "
               "AS BIGINT)").alias("ndcg_micro"))


def _embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import embedding_drift_report
    return embedding_drift_report(load_table(spark, "embeddings", sf_dir))


def _stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming backward as-of against the static purchase table
    (interval-ized static side + binned containment join — see
    streaming.pipeline.asof_enrich_stream). Oracle: the batch
    last-purchase-at-or-before computation."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        asof_enrich_stream,
        events_raw_stream,
        run_stream,
    )
    e = load_table(spark, "events", sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "event_id")
    mx = e.agg(F.max("ts")).first()[0]
    # empty events table → max(ts) is None; any fixed far-future cap
    # preserves the backward-asof semantics over zero rows
    hi_cap = (mx + timedelta(seconds=1)) if mx is not None \
        else datetime(2100, 1, 1)
    views = events_raw_stream(spark, sf_dir) \
        .filter(F.col("event_type") == "view") \
        .select("user_id", "ts", "event_id")
    return (run_stream(asof_enrich_stream(views, purchases, hi_cap),
                       "stream_asof_enrich", "append")
            .select("user_id", "event_id", "ts", "last_purchase_id",
                    "gap_us")
            .orderBy("user_id", "event_id"))


def _stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events STREAM range-joined (binned rewrite) to the static
    busiest-hour window table, with per-window exact-decimal totals.
    Oracle: the equivalent batch theta join — identical bit-for-bit
    because the bin rewrite generates each qualifying pair exactly once
    and decimal sums are micro-batch-order-proof."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.events import busy_windows
    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        range_join_stream,
        run_stream,
    )
    wins = busy_windows(spark, sf_dir)
    out = run_stream(range_join_stream(events_raw_stream(spark, sf_dir), wins),
                     "stream_range_join", "complete")
    return (out.select("w_type", "w_lo", "n_events",
                       F.col("total_value").cast("double").alias("total_value"))
            .orderBy("w_type", "w_lo"))


def _layout_tmp(spark: SparkSession, sf_dir: str, leaf: str) -> str:
    """Deterministic scratch dir for the table-maintenance queries'
    write→read-back round trips (outside the repo). Keyed by BOTH the
    sf basename and the session's applicationId so concurrent runs
    never collide — across DIFFERENT sfs and across different sessions
    running the SAME sf; within one session the path is stable and the
    writes are overwrite-idempotent."""
    import tempfile
    return os.path.join(tempfile.gettempdir(), "spark_graft_layout",
                        spark.sparkContext.applicationId,
                        os.path.basename(sf_dir.rstrip("/")), leaf)


def _evolved_union_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read exercised END-TO-END
    (sources/layout.read_evolved): two parquet GENERATIONS of a
    documents extract are written with different schemas — gen1 carries
    ``(doc_id, lang)``, gen2 adds ``n_chars`` — then read back merged
    (``mergeSchema`` footer union; gen1 files yield NULL for the
    later-added column) and rolled up per lang. The oracle derives the
    same rollup straight from the base table, so a hash-green row
    proves the write → evolved-read → aggregate path is lossless,
    including the NULL backfill accounting (``n_legacy`` counts rows
    whose file predates the column). Registry datapoint for
    sources/layout.py. At 100 TB this is the whole
    point: adding a column is a metadata event, never a backfill job —
    the read plan pays one footer merge per file group."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.sources.layout import read_evolved
    d = load_table(spark, "documents", sf_dir) \
        .select("doc_id", "lang", F.length("text").alias("n_chars"))
    g1 = _layout_tmp(spark, sf_dir, "evolved_gen1")
    g2 = _layout_tmp(spark, sf_dir, "evolved_gen2")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang") \
        .write.mode("overwrite").parquet(g1)
    d.filter(F.col("doc_id") % 2 == 1) \
        .write.mode("overwrite").parquet(g2)
    m = read_evolved(spark, g1, g2)
    return (m.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
                 .cast("long").alias("sum_chars_v2"),
                 F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_legacy"))
            .orderBy("lang"))


def _compaction_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction exercised END-TO-END
    (sources/layout.compact_files): an orders extract is deliberately
    shattered into 64 tiny files, compacted to target-size files
    (size-derived file count, one round-robin exchange), and the
    COMPACTED copy is read back for a per-status rollup carrying row
    counts, an exact-decimal price sum, and a portable key-hash sum —
    the oracle computes the identical rollup from the base table, so a
    hash-green row proves compaction preserved the row multiset
    bit-for-bit. The file-count reduction itself (64 → size-derived,
    driver-side metadata walk) is asserted by
    ``tests/test_bucketing.py::test_compact_files_identity_and_count``.
    Registry datapoint for sources/layout.py."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.functions.hashing import portable_hash64
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import compact_files
    o = load_table(spark, "orders", sf_dir) \
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    src = _layout_tmp(spark, sf_dir, "compact_src")
    dst = _layout_tmp(spark, sf_dir, "compact_dst")
    o.repartition(64).write.mode("overwrite").parquet(src)
    compact_files(spark, src, dst)
    c = spark.read.parquet(dst)
    # 60-bit hashes sum past int64 at ~10^4 rows; mod a prime first so
    # the checksum stays BIGINT-exact (and ANSI-safe) on both engines
    khash = F.pmod(portable_hash64(F.col("o_orderkey").cast("string")),
                   F.lit(1_000_003))
    return (c.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total_price"),
                 F.sum(khash).cast("long").alias("key_hash_sum"))
            .orderBy("o_orderstatus"))


def _corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import corpus_datacard
    return corpus_datacard(load_table(spark, "documents", sf_dir))


def _funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.funnel_time_to_convert(spark, sf_dir)


def _stream_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode global aggregation on the event stream (the one
    streaming shape the window family doesn't cover: tiny unbounded
    state BY DESIGN — ≤ 24·|types| rows). Oracle: the batch profile's
    counts/means over the same data."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        events_raw_stream,
        hourly_profile_stream,
        run_stream,
    )
    out = run_stream(hourly_profile_stream(events_raw_stream(spark, sf_dir)),
                     "stream_hourly_profile", "complete")
    # integer-exact mean off the final decimal totals (pround_avg2 form)
    return (out.select("event_type", "hour", F.col("n").cast("long").alias("n"),
                       (F.floor((F.lit(2000000) * F.col("_tot") + F.col("n"))
                                .cast("double")
                                / (F.lit(2) * F.col("n")).cast("double"))
                        / F.lit(1000000.0)).alias("mean_value"))
            .orderBy("event_type", "hour"))


def _user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.user_entropy(load_table(spark, "events", sf_dir))


def _events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.hourly_profile(load_table(spark, "events", sf_dir))


def _top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.top_session_paths(spark, sf_dir)


def _dsir_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import dsir_resample
    return dsir_resample(load_table(spark, "documents", sf_dir))


def _weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import weighted_sample
    return weighted_sample(load_table(spark, "documents", sf_dir))


def _lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic lang-id evaluated against the corpus labels →
    (actual, predicted, n) confusion counts — the quality gate's own
    scorecard (which mixes get routed wrong, how often 'unk' fires)."""
    from pyspark.sql import functions as F
    docs = load_table(spark, "documents", sf_dir)
    pred = TA.lang_id(docs).select("doc_id", "pred_lang")
    return (docs.select("doc_id", F.col("lang").alias("actual"))
            .join(pred, "doc_id")
            .groupBy("actual", F.col("pred_lang").alias("predicted"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("actual", "predicted"))


def _events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.hourly_anomalies(load_table(spark, "events", sf_dir))


def _events_gap_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly linear-interpolated value series for the first 20 users."""
    from pyspark.sql import functions as F
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return E.gap_fill_interp(ev, slot_seconds=3600)


def _curation_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline counters via Spark's Observation API: the gate verdict
    runs ONCE and the metrics (total, kept, per-reason rejects) ride
    along on the same job as observe() accumulators — the
    production-monitoring pattern that costs zero extra scans, vs the
    naive second aggregate pass. Oracle: the same counts off the gate
    table."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import narrow_verdict
    from text_sentiment_classification_hadoop_spark_spark.session import widen
    # widen: the gate chain is the CPU-heavy narrow stage and the
    # single-row-group scan would run it on ONE task (profiled 4.3 s
    # serial at sf0.1, r15); counts are commutative so the metrics are
    # partitioning-independent
    docs = widen(load_table(spark, "documents", sf_dir)
                 .select("doc_id", "text"))
    v = narrow_verdict(docs)
    reasons = ["lang", "quality", "repetitive"]
    # named observe (NOT the Observation helper object: it registers
    # session-level state whose ObservationManager later poisons MLlib
    # task serialization — reproduced; the named form leaves nothing
    # behind and the metrics read off the executed plan)
    observed = v.observe(
        "curation_gates",
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept_narrow").alias("n_kept"),
        *[F.sum(F.when(F.col("reject_reason") == r, 1).otherwise(0))
          .alias(f"n_{r}") for r in reasons])
    # one pass. The metrics only populate on the queryExecution that
    # actually RAN (count()/write wrap a new one — verified: the named
    # metric comes back empty), so collect — but collect a one-column
    # constant projection: the CollectMetrics node below it still
    # evaluates every gate, while the driver transfer drops from the
    # full 20k-row verdict table to 20k constants
    probe = observed.select(F.lit(1).alias("_probe"))
    probe.collect()
    jrow = (probe._jdf.queryExecution().observedMetrics()
            .get("curation_gates").get())
    row = tuple(int(jrow.getAs(c)) for c in
                ["n_docs", "n_kept", "n_lang", "n_quality", "n_repetitive"])
    return local_frame(
        spark, [row], "n_docs long, n_kept long, n_lang long, "
                      "n_quality long, n_repetitive long")


def _cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERTopic-shaped topic labeling (public method: Grootendorst
    2022): k-means cells over the embeddings (trained codebook, 2 Lloyd
    iterations; the session's shared fit, ``_kmeans_codebook``) joined
    to the documents (doc_id = vec_id in the testdata), then c-TF-IDF
    keywords per CELL — clusters labeled by their characteristic terms.
    Pure composition of two hash-green operators; the oracle chains the
    unrolled k-means CTEs into the ctfidf chain."""
    from pyspark.sql import functions as F
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    books = SIM.kmeans_books(_kmeans_codebook(spark, sf_dir))
    assign = (SIM.ivf_assign_cells(emb, books)
              .select(F.col("vec_id").alias("doc_id"),
                      F.col("cell").cast("int").alias("cell")))
    dc = docs.join(assign, "doc_id").select("cell", "text")
    return TA.ctfidf_keywords(dc, group_col="cell", top_k=10)


def _cluster_keywords_sql(k: int = 8, iters: int = 2, top_k: int = 10) -> str:
    parts = _kmeans_cte_parts(k, iters)
    cos = ("sum(au.x * c.m) / (sqrt(sum(au.x * au.x))"
           " * sqrt(sum(c.m * c.m)))")
    parts += [
        f"""scF AS (
  SELECT au.vec_id, c.cell, {_r6(cos)} AS cos
  FROM au JOIN cent{iters} c USING (d)
  GROUP BY au.vec_id, c.cell)""",
        """asgF AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM scF) WHERE rk = 1)""",
        """dc AS (
  SELECT CAST(a.cell AS INTEGER) AS grp, d.text
  FROM asgF a JOIN documents d ON d.doc_id = a.vec_id)""",
        """toksc AS (
  SELECT grp, g AS term FROM (
    SELECT grp, unnest(string_split(lower(text), ' ')) AS g FROM dc)
  WHERE length(g) > 0)""",
        "tc AS (SELECT grp, term, count(*) AS tfc FROM toksc GROUP BY grp, term)",
        "ftc AS (SELECT term, count(*) AS f_t FROM toksc GROUP BY term)",
        """arc AS (
  SELECT sum(n) AS tot, count(*) AS g
  FROM (SELECT grp, sum(tfc) AS n FROM tc GROUP BY grp))""",
        """idfc AS (
  SELECT term,
         CAST(floor(ln(1.0 + (CAST(tot AS DOUBLE) / g) / f_t)
                    * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
  FROM ftc, arc)""",
        """scoredc AS (
  SELECT tc.grp, tc.term, CAST(tc.tfc AS BIGINT) AS tf,
         tc.tfc * idfc.idf_micro AS score_micro
  FROM tc JOIN idfc USING (term))""",
        """rankedc AS (
  SELECT grp, term, tf, CAST(score_micro AS BIGINT) AS score_micro,
         CAST(row_number() OVER (PARTITION BY grp
                                 ORDER BY score_micro DESC, term ASC)
              AS INTEGER) AS rk
  FROM scoredc)""",
    ]
    return (f"WITH {AU_ORIG}, " + ",\n".join(parts)
            + f"""
SELECT grp, term, tf, score_micro, rk FROM rankedc
WHERE rk <= {top_k} ORDER BY grp, rk
""")


def _ann_rbo_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (p=0.9, depth 10) between the exact top-10
    and the sign-LSH ANN top-10 — the top-weighted companion to
    ``ann_recall_at10``."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = _query_vec(spark, sf_dir, 0)
    return SIM.rbo_min_at(SIM.cosine_topk(emb, q, k=10),
                          SIM.ann_lsh_topk(emb, q, k=10))


def _mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank of the query-0 top-20 (λ=0.7, k=5);
    oracle is the unrolled 5-step greedy in SQL."""
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.mmr_rerank(emb, _query_vec(spark, sf_dir, 0))


def _mixture_token_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import mixture_token_plan
    return mixture_token_plan(load_table(spark, "documents", sf_dir))


def _store_scratch_path(sf_dir: str, tag: str, pid: int | None = None) -> str:
    """Pure path derivation for a store drive's scratch base (split out
    so the hygiene pytest asserts against THIS function instead of a
    hand-copied string format)."""
    import os
    import tempfile
    return os.path.join(
        tempfile.gettempdir(), "spark_graft_stores",
        f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid() if pid is None else pid}")


def _store_scratch(sf_dir: str, tag: str) -> str:
    """Fresh deterministic scratch base for a persistent-store drive:
    wiped on entry so re-invocations (bench passes, correctness
    re-runs, a different sf) rebuild the store from the sf tables
    instead of replaying a stale checkpoint onto stale contents.

    The path is keyed by the driver PID: two concurrent
    sessions running the same store drive (bench + correctness check),
    or two sf dirs sharing a basename, get disjoint directories instead
    of racing on the rmtree/rebuild mid-stream. Within one process the
    path stays deterministic, so consecutive invocations still exercise
    the wipe-and-rebuild contract the hygiene pytest pins.

    Entry also best-effort prunes sibling dirs left by driver processes
    that are no longer alive (pid-keying made the
    rmtree-on-entry per-process, so dead processes' store dirs — which
    hold real parquet data — accumulated across bench/correctness runs
    as a slow disk leak). Only dirs whose trailing ``_<pid>`` names a
    dead process are removed; live concurrent sessions are untouched."""
    import os
    import shutil
    base = _store_scratch_path(sf_dir, tag)
    root, mine = os.path.dirname(base), os.path.basename(base)
    try:
        for name in os.listdir(root):
            pid_s = name.rsplit("_", 1)[-1]
            if name == mine or not pid_s.isdigit():
                continue
            try:
                os.kill(int(pid_s), 0)  # signal 0: existence probe only
            except ProcessLookupError:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            except OSError:
                pass  # e.g. EPERM — process exists under another uid
    except OSError:
        pass
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    return base


def _two_batch_doc_stream(spark: SparkSession, sf_dir: str, tag: str,
                          whole_second: bool = False):
    """The documents table as a two-micro-batch ``(doc_id, text)``
    stream for the persistent-store drives → ``(stream, store_dir)``:
    batch 1 is the doc_id-even half, batch 2 the odd half (or, with
    ``whole_second``, the WHOLE table), one file each, read with
    maxFilesPerTrigger=1 from a pid-keyed scratch dir."""
    from pyspark.sql import functions as F

    base = _store_scratch(sf_dir, tag)
    in_dir = os.path.join(base, "in")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)
    second = docs if whole_second else docs.filter(F.col("doc_id") % 2 == 1)
    second.coalesce(1).write.mode("append").parquet(in_dir)
    raw = (spark.readStream.schema("doc_id long, text string")
           .option("maxFilesPerTrigger", "1").parquet(in_dir))
    return raw, os.path.join(base, "store")


def _count_store_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once persistent COUNT store (streaming/pipeline.
    incremental_counts_to_store) driven end-to-end: the documents
    table split into two micro-batches (doc_id parity files +
    maxFilesPerTrigger=1), word-exploded in-stream, merged into a
    versioned parquet store per batch; the query returns the latest
    committed version. Final totals are batch-order-invariant, so the
    oracle is the plain batch word count over the whole table."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        incremental_counts_to_store,
        read_count_store,
    )
    raw, store = _two_batch_doc_stream(spark, sf_dir, "counts")
    words = raw.select(F.explode(F.regexp_extract_all(
        F.lower(F.col("text")), F.lit("[a-z]+"), 0)).alias("word"))
    incremental_counts_to_store(words, store, key_col="word",
                                query_name="count_store_drive")
    return read_count_store(spark, store).orderBy("word")


def _dedup_store_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once persistent SEEN-KEY store (streaming/pipeline.
    incremental_dedup_to_store) driven end-to-end: micro-batch 1
    ingests the doc_id-even half, micro-batch 2 ingests the WHOLE
    table — so every even-doc hash arrives again and must be
    suppressed by the store anti-join, while odd-doc hashes append.
    The query reads the store back WITHOUT dedup, so any suppression
    failure shows up as extra rows against the distinct-md5 oracle."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        incremental_dedup_to_store,
    )
    raw, store = _two_batch_doc_stream(spark, sf_dir, "dedup",
                                       whole_second=True)
    incremental_dedup_to_store(raw.select(F.md5(F.col("text")).alias("text_hash")),
                               store, key_col="text_hash",
                               query_name="dedup_store_drive")
    return (spark.read.parquet(store)
            .select("text_hash").orderBy("text_hash"))


def _bpe_merges_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-artifact persistence loop closed end-to-end:
    train (operators/bpe.bpe_train) → persist the merge table
    (save_merges, the ``tokenize-train`` CLI artifact) → load it back
    (load_merges) → re-emit as the merge-table frame. Hash-checked
    against the SAME unrolled-CTE oracle as ``bpe_merges`` — the
    parquet roundtrip must be lossless, the model_store roundtrip
    discipline applied to the BPE artifact."""
    import os

    from text_sentiment_classification_hadoop_spark_spark.operators import bpe as BPE
    path = os.path.join(_store_scratch(sf_dir, "bpemerges"), "merges")
    BPE.save_merges(spark, _bpe_trained(spark, sf_dir), path)
    return BPE.merges_frame(spark, BPE.load_merges(spark, path)).orderBy("merge_rank")


def _band_index_store_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained persistent LSH band index
    (streaming/pipeline.incremental_band_index_to_store) driven
    end-to-end: the documents table arrives as two micro-batches
    (doc_id parity files + maxFilesPerTrigger=1), each batch's band
    rows APPEND to the parquet store with the batch_id replay guard
    (band rows are immutable per-doc facts — no merge). The query
    reads the whole store back; final contents are batch-order-
    invariant, so the oracle is the plain batch banding over the full
    table (the stream_neardup_candidates bands CTE)."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        incremental_band_index_to_store,
    )
    raw, store = _two_batch_doc_stream(spark, sf_dir, "bandidx")
    incremental_band_index_to_store(raw, store, query_name="band_index_drive")
    return (spark.read.parquet(store)
            .select("doc_id", F.col("band").cast("int").alias("band"),
                    "bucket")
            .orderBy("doc_id", "band"))


def _training_shards_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard writer (sources/layout.write_training_shards)
    driven end-to-end: the shuffle_split manifest joined back to its
    payload, materialized as split=/shard= parquet, then read back and
    audited per shard — doc count, payload sum, shuffle_key span. The
    oracle recomputes the same census from the manifest hash, so a
    row routed to the wrong shard dir (or dropped/duplicated by the
    dynamic-partition write) breaks the hash."""
    import os

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import shuffle_split
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_training_shards
    base = _store_scratch(sf_dir, "shards")
    path = os.path.join(base, "shards")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    manifest_docs = shuffle_split(docs).join(docs, "doc_id")
    write_training_shards(manifest_docs, path, n_shards=16)
    back = spark.read.parquet(path)
    return (back.groupBy("split", F.col("shard").cast("int").alias("shard"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.min("shuffle_key").alias("min_key"),
                 F.max("shuffle_key").alias("max_key"))
            .orderBy("split", "shard"))


def _packed_shards_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-shard writer (sources/layout.write_packed_shards) driven
    end-to-end: whitespace token budgets → pack_sequences_ffd plan →
    payload join materialized as bucket= parquet (one file per bucket,
    (seq_id, offset) order — the order itself is pytest-pinned) →
    read back and audited per bucket. Oracle recomputes the census
    from the same FFD recursion, so mis-routing, drops, duplicates,
    or a packing divergence all break the hash."""
    import os

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_packed_shards
    base = _store_scratch(sf_dir, "packedshards")
    path = os.path.join(base, "packed")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    budgets = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"))
    dpb = PACK_FFD_DOCS_PER_BUCKET
    n_buckets = max(1, (docs.count() + dpb - 1) // dpb)
    packing = TA.pack_sequences_ffd(
        budgets, budget=PACK_FFD_BUDGET, n_buckets=n_buckets)
    write_packed_shards(docs, packing, path, n_buckets=n_buckets)
    back = spark.read.parquet(path)
    return (back.groupBy(F.col("bucket").cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 (F.max("seq_id") + 1).cast("long").alias("n_seqs"),
                 F.sum("n_tok").cast("long").alias("sum_tok"),
                 F.max(F.col("offset_in_seq") + F.col("n_tok"))
                 .cast("long").alias("max_end"))
            .orderBy("bucket"))


def _training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from text_sentiment_classification_hadoop_spark_spark.operators.curation import training_manifest
    return training_manifest(load_table(spark, "documents", sf_dir))


def _stream_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-ingest near-dup candidates: the augmented document stream
    (each doc + its ' zzz' twin, built in-stream) MinHash-banded
    per-row (stateless) and joined stream-static against the banded
    batch index of the same corpus. Oracle: the batch band self-join
    over the augmented corpus, ordered pairs."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.streaming.pipeline import (
        documents_stream,
        neardup_candidates_stream,
        run_stream,
    )
    aug = (documents_stream(spark, sf_dir).select("doc_id", "text")
           .repartition(spark.sparkContext.defaultParallelism)
           .select(F.explode(F.array(
               F.struct(F.col("doc_id"), F.col("text")),
               F.struct((F.col("doc_id") + 1000000).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" zzz")).alias("text")),
           )).alias("r")).select("r.doc_id", "r.text"))
    index = D.band_signatures(_aug_sigs(spark, sf_dir))
    return (run_stream(neardup_candidates_stream(aug, index),
                       "stream_neardup_cands", "append")
            .select("doc_id", F.col("band").cast("int").alias("band"),
                    "cand_id")
            .orderBy("doc_id", "band", "cand_id"))


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: NB train+score confusion matrix on sf0.001 — exercises
    scan → clean → explode → groupBy → broadcast join → sum(log) →
    argmax → agg (≈80% of the reference's operator inventory)."""
    return S.nb_confusion_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS for the driver's correctness gate: it checks a
    # 50-query prefix shard, so the literal's order is the shard order.
    # Register a new query at the top so the next shard checks it.
    return {
        "approx_quantile_bounds": R.approx_quantile_bounds,
        "user_state_scd2": E.user_state_scd2,
        "events_asof_enrich": E.events_asof_enrich,
        "copurchase_communities_deep": _copurchase_communities_deep,
        "ngram_novelty": _ngram_novelty,
        "label_silhouette": _label_silhouette,
        "orders_merge_upsert": R.orders_merge_upsert,
        "small_quantity_revenue": R.small_quantity_revenue,
        "orders_cdc_apply": R.orders_cdc_apply,
        "exact_median_price": R.exact_median_price,
        "temperature_mixture_plan": _temperature_mixture_plan,
        "stream_asof_enrich": _stream_asof_enrich,
        "cuped_ab_lift": E.cuped_ab_lift,
        "theilsen_trend": E.theilsen_trend,
        "ks_price_shift": R.ks_price_shift,
        "nb_auc": _nb_auc,
        "copurchase_ppr": _copurchase_ppr,
        "copurchase_ppr_weighted": _copurchase_ppr_weighted,
        "revenue_by_region": R.revenue_by_region,
        "distinct_parts_per_supplier": R.distinct_parts_per_supplier,
        "conditional_counts": R.conditional_counts,
        "union_paths": R.union_paths,
        "global_sort_orders": R.global_sort_orders,
        "customer_order_totals": R.customer_order_totals,
        "above_avg_lineitems": R.above_avg_lineitems,
        "filtered_projection": R.filtered_projection,
        "top_parts_per_brand": R.top_parts_per_brand,
        "rollup_order_stats": R.rollup_order_stats,
        "semi_anti_join_counts": R.semi_anti_join_counts,
        "orders_by_month": R.orders_by_month,
        "cube_order_stats": R.cube_order_stats,
        "grouping_sets_order_stats": R.grouping_sets_order_stats,
        "intersect_except_customers": R.intersect_except_customers,
        "quantity_band_totals": R.quantity_band_totals,
        "top_orders_per_customer": R.top_orders_per_customer,
        "orders_above_global_avg": R.orders_above_global_avg,
        "order_stats_unpivot": R.order_stats_unpivot,
        "price_quantiles": R.price_quantiles,
        "price_quantity_corr": R.price_quantity_corr,
        "tweets_parse_naive": _tweets_parse("nb"),
        "tweets_parse_svm": _tweets_parse("svm"),
        "tweets_parse_strict": _tweets_parse_strict,
        "tweets_clean_chain_b": _tweets_clean_chain_b,
        "tokens_exploded": _tokens_exploded,
        "word_counts": _word_counts,
        "nb_model": S.nb_model_query,
        "nb_stats": S.nb_stats_query,
        "bloom_decontaminate": _bloom_decontaminate,
        "containment_pairs": _containment_pairs,
        "mllib_nb_confusion": _mllib_confusion("nb"),
        "mllib_svm_confusion": _mllib_confusion("svm"),
        "evolved_union_read": _evolved_union_read,
        "compaction_identity": _compaction_identity,
        "forecast_revenue_change": R.forecast_revenue_change,
        "volume_shipping": R.volume_shipping,
        "market_share": R.market_share,
        "ship_delay_priority": R.ship_delay_priority,
        "promo_revenue_share": R.promo_revenue_share,
        "disjunctive_band_revenue": R.disjunctive_band_revenue,
        "dormant_customers": R.dormant_customers,
        "revenue_trend_ols": E.revenue_trend_ols,
        "holdout_ab_lift": E.holdout_ab_lift,
        "weekly_active_users": E.weekly_active_users,
        "events_range_join": E.busy_window_profile,
        "source_quality_report": _source_quality_report,
        "bitext_mined_pairs": _bitext_mined_pairs,
        "stream_range_join": _stream_range_join,
        "shipping_priority": R.shipping_priority,
        "local_supplier_volume": R.local_supplier_volume,
        "order_priority_counts": R.order_priority_counts,
        "returned_item_report": R.returned_item_report,
        "large_volume_customers": R.large_volume_customers,
        "part_entity_resolution": _part_entity_resolution,
        "unigram_lm_vocab": _unigram_lm_vocab,
        "copurchase_bfs_depths": _copurchase_bfs_depths,
        "tfidf_long": _tfidf_long,
        "doc_repetition": _doc_repetition,
        "pii_scrub": _pii_scrub,
        "dedup_canonical": _dedup_canonical,
        "curation_pipeline": _curation_pipeline,
        "mixture_sample": _mixture_sample,
        "corpus_report": _corpus_report,
        "corpus_diff": _corpus_diff,
        "bm25_search": _bm25_search,
        "nb_predictions": S.nb_predictions_query,
        "nb_confusion": S.nb_confusion_query,
        "svm_weights": S.svm_weights_query,
        "svm_predictions": S.svm_predictions_query,
        "svm_confusion": S.svm_confusion_query,
        "svm_declared_weights": _svm_declared_weights,
        "nb_metrics": _classifier_metrics("nb"),
        "svm_metrics": _classifier_metrics("svm"),
        "word_counts_salted": _word_counts_salted,
        "dedup_exact": _dedup_exact,
        "decontaminate_train": _decontaminate_train,
        "hash_sample_docs": _hash_sample_docs,
        "minhash_signatures": _minhash_long,
        "simhash_fingerprints": _simhash,
        "near_dup_pairs": _near_dup_pairs,
        "ngram_jaccard": _ngram_jaccard,
        "cosine_topk": _cosine_topk,
        "user_running_stats": E.user_running_stats,
        "nation_profit": R.nation_profit,
        "customer_order_distribution": R.customer_order_distribution,
        "top_supplier_revenue": R.top_supplier_revenue,
        "embedding_drift_report": _embedding_drift_report,
        "incremental_agg_maintenance": R.incremental_agg_maintenance,
        "k_anonymity_report": R.k_anonymity_report,
        "ann_ndcg_at10": _ann_ndcg_at10,
        "supplier_cooccurrence": _supplier_cooccurrence,
        "events_rfm_segments": E.rfm_segments,
        "brand_median_price": R.brand_median_price,
        "min_cost_supplier": R.min_cost_supplier,
        "important_part_value": R.important_part_value,
        "parts_supplier_counts": R.parts_supplier_counts,
        "excess_stock_suppliers": R.excess_stock_suppliers,
        "waiting_suppliers": R.waiting_suppliers,
        "embedding_outliers": _embedding_outliers,
        "source_overlap": _source_overlap,
        "stream_trending_topk": _stream_trending_topk,
        "length_percentile_docs": _length_percentile_docs,
        "doc_length_gini": _doc_length_gini,
        "benford_prices": _benford_prices,
        "revenue_mom_growth": _revenue_mom_growth,
        "cusum_changepoint": E.cusum_changepoint,
        "interarrival_hist": E.interarrival_hist,
        "doc_lexical_stats": _doc_lexical_stats,
        "copurchase_cheapest_paths": _copurchase_cheapest_paths,
        "embedding_pca_power": _embedding_pca_power,
        "events_value_drift": E.value_drift,
        "basket_rules_topk": _basket_rules_topk,
        "nb_calibration": _nb_calibration,
        "brand_price_deciles": _brand_price_deciles,
        "l_diversity_report": R.l_diversity_report,
        "conversion_lifetable": E.conversion_lifetable,
        "concurrent_sessions": E.concurrent_sessions_timeline,
        "stream_funnel_stages": _stream_funnel_stages,
        "winsorized_revenue": R.winsorized_revenue_stats,
        "referential_integrity": R.referential_integrity_report,
        "join_key_skew": R.join_key_skew_report,
        "revenue_bootstrap_ci": R.revenue_bootstrap_ci,
        "jaccard_prefix_pairs": _jaccard_prefix_pairs,
        "revenue_mad_outliers": R.revenue_mad_outliers,
        "band_index_store_contents": _band_index_store_contents,
        "active_learning_batch": _active_learning_batch,
        "unigram_token_counts": _unigram_token_counts,
        "bpe_merges_roundtrip": _bpe_merges_roundtrip,
        "inverted_index": _inverted_index,
        "cms_token_counts": _cms_token_counts,
        "lm_quality_score": _lm_quality_score,
        "salted_segment_revenue": _salted_segment_revenue,
        "nation_trend_ols": R.nation_trend_ols,
        "source_diversity": _source_diversity,
        "pricing_rollup": R.pricing_rollup,
        "events_unpivot": E.user_event_unpivot,
        "neardup_cluster_sizes": _neardup_cluster_sizes,
        "bpe_fertility": _bpe_fertility,
        "copurchase_communities": _copurchase_communities,
        "purchase_attribution": E.purchase_attribution,
        "interval_pair_counts": E.interval_pair_counts,
        "funnel_conversion": E.funnel_conversion,
        "cohort_retention": E.cohort_retention,
        "events_json_props": E.json_props_extract,
        "bloom_prefilter_join": _bloom_prefilter_join,
        "events_tumbling_stream": _events_tumbling_stream,
        "events_sliding_stream": _events_sliding_stream,
        "events_sessionize_stream": _events_sessionize_stream,
        "stream_dedup_docs": _stream_dedup_docs,
        "stream_dedup_native": _stream_dedup_native,
        "stream_stream_join": _stream_stream_join,
        "packed_shards_readback": _packed_shards_readback,
        "stream_doc_repetition": _stream_doc_repetition,
        "stream_curation_gates": _stream_curation_gates,
        "events_tumbling": E.tumbling_counts,
        "events_sessionize": E.sessionize,
        "events_json_roundtrip": _events_json_roundtrip,
        "next_click_attribution": E.next_click_attribution,
        "dedup_canonical_alternating": _dedup_canonical_alternating,
        "nb_model_kv_roundtrip": _nb_model_kv_roundtrip,
        "zorder_keys": _zorder_keys,
        "ann_multiprobe_topk": _ann_multiprobe_topk,
        "doc_bigram_ppl": _doc_bigram_ppl,
        "dq_orders_report": _dq_orders_report,
        "bpe_merges_headroom16": _bpe_merges_headroom16,
        "c4_clean_docs": _c4_clean_docs,
        "random_projection": _random_projection,
        "rp_ann_topk": _rp_ann_topk,
        "pq_codes": _pq_codes,
        "pq_adc_topk": _pq_adc_topk,
        "pq_trained_codes": _pq_trained_codes,
        "pack_sequences": _pack_sequences,
        "pack_sequences_ffd": _pack_sequences_ffd,
        "token_freq_histogram": _token_freq_histogram,
        "top_tokens": _top_tokens,
        "zipf_fit": _zipf_fit,
        "bigram_lm": _bigram_lm,
        "heaps_fit": _heaps_fit,
        "ann_recall_at10": _ann_recall_at10,
        "lang_centroids": _lang_centroids,
        "simhash_near_dups": _simhash_near_dups,
        "stratified_sample_docs": _stratified_sample_docs,
        "sequential_rules": _sequential_rules,
        "approx_distinct_users": _approx_distinct_users,
        "dsir_scores": _dsir_scores,
        "shuffle_split_docs": _shuffle_split_docs,
        "quota_select_docs": _quota_select_docs,
        "embedding_dim_stats": _embedding_dim_stats,
        "hard_negatives": _hard_negatives,
        "stream_neardup_candidates": _stream_neardup_candidates,
        "mixture_token_plan": _mixture_token_plan,
        "training_manifest": _training_manifest,
        "count_store_contents": _count_store_contents,
        "dedup_store_contents": _dedup_store_contents,
        "training_shards_readback": _training_shards_readback,
        "mmr_rerank": _mmr_rerank,
        "ctfidf_keywords": _ctfidf_keywords,
        "ann_rbo_at10": _ann_rbo_at10,
        "phrase_search": _phrase_search,
        "split_leakage_report": _split_leakage_report,
        "events_json_malformed": _events_json_malformed,
        "cluster_keywords": _cluster_keywords,
        "curation_observed_metrics": _curation_observed_metrics,
        "events_gap_fill": _events_gap_fill,
        "events_gap_interp": _events_gap_interp,
        "events_anomalies": _events_anomalies,
        "nb_pr_curve": _nb_pr_curve,
        "lang_id_confusion": _lang_id_confusion,
        "pps_sample_docs": _pps_sample_docs,
        "dedup_canonical_best": _dedup_canonical_best,
        "event_transitions": E.event_transition_matrix,
        "fuzzy_part_names": _fuzzy_part_names,
        "dup_kgram_stats": _dup_kgram_stats,
        "ivf_cells_two_level": _ivf_cells_two_level,
        "semdedup_hier": _semdedup_hier,
        "events_sliding": E.sliding_counts,
        "events_pivot": E.user_event_pivot,
        "events_session_window_native": E.session_window_native,
        "order_rank_stats": R.order_rank_stats,
        "rolling_revenue": R.rolling_revenue,
        "knn_batch": _knn_batch,
        "ann_lsh_topk": _ann_lsh_topk,
        "ivf_topk": _ivf_topk,
        "kmeans_cells": _kmeans_cells,
        "embedding_near_dups": _embedding_near_dups,
        "mm_image_features": _mm_image_features,
        "mm_frame_samples": _mm_frame_samples,
        "mm_audio_features": _mm_audio_features,
        "mm_frame_dedup": _mm_frame_dedup,
        "lang_id": _lang_id,
        "quality_score": _quality,
        "token_counts": _token_counts,
        "sequential_patterns3": _sequential_patterns3,
        "stream_dedup_watermarked": _stream_dedup_watermarked,
        "stream_static_enrich": _stream_static_enrich,
        "stream_winnow_fingerprints": _stream_winnow_fingerprints,
        "knn_graph": _knn_graph,
        "pareto_orders": R.pareto_orders,
        "weighted_sample_docs": _weighted_sample_docs,
        "dsir_resample_docs": _dsir_resample_docs,
        "user_entropy": _user_entropy,
        "stream_hourly_profile": _stream_hourly_profile,
        "funnel_time_to_convert": _funnel_time_to_convert,
        "corpus_datacard": _corpus_datacard,
        "cohort_value": _cohort_value,
        "events_hourly_profile": _events_hourly_profile,
        "top_session_paths": _top_session_paths,
        "pmi_collocations": _pmi_collocations,
        "textrank_keywords": _textrank_keywords,
        "ivf_probe_sweep": _ivf_probe_sweep,
        "multitouch_attribution": E.multitouch_attribution,
        "orc_roundtrip": _orc_roundtrip,
        "sql_pricing_summary": _sql_pricing_summary,
        "ppl_band_docs": _ppl_band_docs,
        "dedup_span_removal": _dedup_span_removal,
        "semdedup": _semdedup,
        "bpe_merges": _bpe_merges,
        "bpe_merges_batched": _bpe_merges_batched,
        "bpe_token_counts": _bpe_token_counts,
        "bpe_doc_token_counts": _bpe_doc_token_counts,
        "bpe_vocab_curve": _bpe_vocab_curve,
        "copurchase_pagerank": _copurchase_pagerank,
        "copurchase_pagerank_weighted": _copurchase_pagerank_weighted,
        "copurchase_components": _copurchase_components,
        "kmeans_quality": _kmeans_quality,
        "decontaminate_embeddings": _decontaminate_embeddings,
        "neardup_triangles": _neardup_triangles,
        "neardup_kcore": _neardup_kcore,
        "winnow_fingerprints": _winnow_fingerprints,
        "winnow_near_dups": _winnow_near_dups,
        "tfidf_doc_pairs": _tfidf_doc_pairs,
        "cdc_chunks": _cdc_chunks,
        "cdc_shared_chunks": _cdc_shared_chunks,
        "mrl_topk": _mrl_topk,
        "mrl_recall_at10": _mrl_recall_at10,
        "hybrid_rrf_search": _hybrid_rrf_search,
        "dedup_threshold_sweep": _dedup_threshold_sweep,
        "sq8_codes": _sq8_codes,
        "sq8_recall_at10": _sq8_recall_at10,
        "doc_fingerprints": _fingerprints,
        "chunk_documents": _chunk_documents,
        "pricing_summary": R.pricing_summary,
    }


def _ivf_sql(n_probe: int = 2) -> str:
    """IVF probe oracle parameterized by probe count (the former
    inline n_probe=2 text, generalized for the probe-sweep query)."""
    return f"""
WITH {AU_ORIG},
cent AS (SELECT vec_id AS cell_id, d, x AS cx FROM au WHERE vec_id < 8),
vc AS (
  SELECT au.vec_id, c.cell_id,
         sum(au.x * c.cx) AS dot,
         sum(au.x * au.x) AS nv2,
         sum(c.cx * c.cx) AS nc2
  FROM au JOIN cent c ON au.d = c.d
  GROUP BY au.vec_id, c.cell_id
),
vc_scored AS (
  SELECT vec_id, cell_id,
         floor((dot / (sqrt(nv2) * sqrt(nc2))) * 1000000.0 + 0.5) / 1000000.0 AS cos
  FROM vc
),
assigned AS (
  SELECT vec_id, cell_id AS cell FROM (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell_id ASC) AS rk
    FROM vc_scored
  ) WHERE rk = 1
),
probe AS (
  SELECT cell_id AS cell FROM vc_scored WHERE vec_id = 0
  ORDER BY cos DESC, cell_id ASC LIMIT {n_probe}
),
q AS (SELECT d, x AS qx FROM au WHERE vec_id = 0),
cands AS (SELECT a.vec_id FROM assigned a JOIN probe p ON a.cell = p.cell),
prods AS (
  SELECT au.vec_id,
         sum(au.x * q.qx) AS dot,
         sum(au.x * au.x) AS na2,
         sum(q.qx * q.qx) AS nq2
  FROM au JOIN cands USING (vec_id) JOIN q ON au.d = q.d
  GROUP BY au.vec_id
),
ranked AS (
  SELECT vec_id,
         floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine,
         CAST(row_number() OVER (
           ORDER BY floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5) / 1000000.0 DESC,
                    vec_id ASC) AS INTEGER) AS rank
  FROM prods
)
SELECT * FROM ranked WHERE rank <= 10 ORDER BY rank
"""


def oracle_sql() -> dict[str, str]:
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import sql_ir38
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import (
        sql_pround_iratio as IR)
    en = ", ".join(f"'{w}'" for w in TA.LANG_PROFILES["en"])
    es = ", ".join(f"'{w}'" for w in TA.LANG_PROFILES["es"])
    fr = ", ".join(f"'{w}'" for w in TA.LANG_PROFILES["fr"])
    de = ", ".join(f"'{w}'" for w in TA.LANG_PROFILES["de"])
    out = {
        "pricing_summary": """
-- avg_qty uses 1e6 (double literal in BOTH dialects); 1000000.0 parses
-- as DECIMAL in Spark SQL and the result column comes back DECIMAL(…)
-- instead of DOUBLE, which value-hash-mismatches the DuckDB run.
-- avg_qty / sum_qty are integer-exact (decimal sum; remainder-exact
-- half-up quotient): floor(avg*1e6+0.5) on raw doubles is
-- FMA-contraction-sensitive across engines (the r1/r3 red row), and
-- casting the 2*S*1e6+c numerator to DOUBLE before dividing rounds
-- the operand itself past 2^53. round_half_up(S/c) = (A - A%B)/B for
-- A=2*S*1e6+c, B=2c — all exact decimal ops; the final floor(q+0.5)
-- recovers the integer from DuckDB's double-lowered division (error
-- << 0.5 for any mean < 1e9). Mirrors functions/rounding.pround_avg2.
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       floor((CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) * 2000000 + count(*)
              - (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) * 2000000 + count(*))
                % (2 * count(*)))
             / (2 * count(*)) + 0.5) / 1e6 AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "revenue_by_region": """
SELECT r_name,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""",
        "distinct_parts_per_supplier": """
SELECT l_suppkey,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
       CAST(count(*) AS BIGINT) AS line_count
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
""",
        "conditional_counts": """
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending,
       CAST(sum(CASE WHEN o_totalprice > 100000.0
                     THEN CAST(o_totalprice AS DECIMAL(18,2))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS high_value_total
FROM orders
""",
        "union_paths": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM (
  SELECT * FROM orders WHERE o_totalprice >= 200000.0
  UNION ALL
  SELECT * FROM orders WHERE o_totalprice < 50000.0
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
        "global_sort_orders": """
SELECT * FROM (
  SELECT o_orderkey, o_totalprice,
         CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS price_rank
  FROM orders
) WHERE price_rank <= 100 ORDER BY price_rank
""",
        "customer_order_totals": """
SELECT c_custkey,
       coalesce(t._total, 0.0) AS order_total,
       CAST(coalesce(t._n, 0) AS BIGINT) AS order_count
FROM customer
LEFT JOIN (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS _total,
         count(*) AS _n
  FROM orders GROUP BY o_custkey
) t ON c_custkey = t.o_custkey
ORDER BY c_custkey
""",
        "above_avg_lineitems": """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_above,
       max(l_extendedprice) AS max_price
FROM lineitem
WHERE l_extendedprice > 2 * (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM lineitem)
GROUP BY l_returnflag ORDER BY l_returnflag
""",
        "filtered_projection": """
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity >= 45
ORDER BY l_orderkey, l_linenumber
""",
        "top_parts_per_brand": """
SELECT p_brand, rk, p_partkey, p_name, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         CAST(row_number() OVER (PARTITION BY p_brand
              ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rk
  FROM part
) WHERE rk <= 3 ORDER BY p_brand, rk
""",
        "rollup_order_stats": """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
        "semi_anti_join_counts": """
SELECT 'with_open' AS bucket, CAST(count(*) AS BIGINT) AS n
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
UNION ALL
SELECT 'without_open' AS bucket, CAST(count(*) AS BIGINT) AS n
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
ORDER BY bucket
""",
        "tokens_exploded": f"""
WITH {DOCS_CTE}
SELECT doc_id, word FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM docs WHERE trim(text) <> ''
) ORDER BY doc_id, word
""",
        "word_counts": f"""
WITH {DOCS_CTE}
SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS word
  FROM docs WHERE trim(text) <> ''
) GROUP BY word ORDER BY word
""",
        "nb_model": f"""
WITH {DOCS_CTE}
SELECT word, pos_count, neg_count FROM model ORDER BY word
""",
        "nb_stats": f"""
WITH {DOCS_CTE}
SELECT CAST(s.tweets AS BIGINT) AS tweets_size,
       CAST(s.pos_t AS BIGINT) AS pos_tweets_size,
       CAST(s.neg_t AS BIGINT) AS neg_tweets_size,
       CAST(s.pos_w AS BIGINT) AS pos_words_size,
       CAST(s.neg_w AS BIGINT) AS neg_words_size,
       CAST(vb.v AS BIGINT) AS features_size
FROM stats s, vocab vb
""",
        "nb_predictions": NB_PRED_SQL + "SELECT doc_id, label, prediction FROM preds ORDER BY doc_id",
        "nb_confusion": NB_PRED_SQL + """
SELECT prediction, label, CAST(count(*) AS BIGINT) AS cnt
FROM preds GROUP BY prediction, label ORDER BY prediction, label
""",
        "svm_weights": f"""
WITH {DOCS_CTE}
SELECT word,
       round({ETA} * (pos_count - neg_count), 6) AS weight
FROM model ORDER BY word
""",
        "svm_predictions": SVM_PRED_SQL + "SELECT doc_id, label, prediction FROM preds ORDER BY doc_id",
        "svm_confusion": SVM_PRED_SQL + """
SELECT prediction, label, CAST(count(*) AS BIGINT) AS cnt
FROM preds GROUP BY prediction, label ORDER BY prediction, label
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY md5(text) ORDER BY text_hash
""",
        "minhash_signatures": f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()}
SELECT doc_id, p AS perm, mh AS minhash
FROM sig_long ORDER BY doc_id, perm
""",
        "simhash_fingerprints": _simhash_sql(),
        "simhash_near_dups": f"""
WITH {DOCS_ALL_AUGMENTED},
{_simhash_cte('docs_all')},
bd AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS sl
  FROM fp, (SELECT unnest(range(0, 4)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bd a JOIN bd b ON a.b = b.b AND a.sl = b.sl AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.id_a
JOIN fp fb ON fb.doc_id = c.id_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
ORDER BY id_a, id_b
""",
        "near_dup_pairs": f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, est_jaccard FROM est
WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b
""",
        "ngram_jaccard": f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, sh FROM shingles WHERE sh IS NOT NULL),
sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS cnt
  FROM cand c
  JOIN shd a ON a.doc_id = c.id_a
  JOIN shd b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b,
       CASE WHEN (coalesce(sa.n,0) + coalesce(sb.n,0) - coalesce(i.cnt,0)) > 0
             THEN CAST(coalesce(i.cnt,0) AS DOUBLE)
                  / (coalesce(sa.n,0) + coalesce(sb.n,0) - coalesce(i.cnt,0))
             ELSE 0.0 END AS jaccard
FROM cand c
LEFT JOIN sizes sa ON sa.doc_id = c.id_a
LEFT JOIN sizes sb ON sb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
ORDER BY c.id_a, c.id_b
""",
        # same LSH pair graph as near_dup_pairs; the Spark side iterates
        # min-label propagation to the fixpoint, the oracle walks the
        # graph with a recursive CTE — both converge to min-reachable-id
        "dedup_canonical": f"""
WITH RECURSIVE {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, min(w.label) FROM walk w JOIN edges e ON e.src = w.node
  GROUP BY e.dst
),
comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS canonical_id,
       CAST(CASE WHEN coalesce(c.component, d.doc_id) <> d.doc_id
            THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM docs_all d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id
""",
        # SemDeDup: ivf_topk's rounded-cosine cell assignment +
        # within-cell pairwise cosine + dedup_canonical's recursive
        # component walk
        # SemDeDup: cell assignment over the first-k stand-in (iters=0
        # -> cent0 only) + within-cell pairwise cosine +
        # dedup_canonical's recursive component walk
        "semdedup": _semdedup_sql(k=32, iters=0, threshold=0.9),
        # round 15 (§30 lever): the two-level argmax unrolled — seed
        # grouping, group-mean centroids, route, in-group argmax
        "ivf_cells_two_level": _ivf_cells_two_level_sql(k=32),
        "semdedup_hier": _semdedup_sql(k=32, iters=0, threshold=0.9,
                                       two_level=True),
        "cosine_topk": _cosine_sql("vec_id = 0", k=10, partition=False),
        "knn_batch": _cosine_sql("vec_id < 3", k=5, partition=True),
        "svm_declared_weights": _svm_declared_sql(),
        # distributed BPE training: unrolled merge loop (pure BIGINT +
        # identical replace semantics — see operators/bpe.py docstring)
        # and its unigram-LM sibling: unrolled hard-EM lattice DP
        "unigram_lm_vocab": _unigram_lm_sql(),
        "unigram_token_counts": _unigram_token_counts_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_merges_roundtrip": _bpe_merges_sql(),
        "bpe_merges_batched": _bpe_merges_batched_sql(),
        "bpe_merges_headroom16": _bpe_merges_batched_sql(
            BPE_H16_MERGES, BPE_H16_BATCH_K, headroom=BPE_H16_HEADROOM),
        "bpe_token_counts": _bpe_token_counts_sql(),
        "bpe_doc_token_counts": _bpe_doc_token_counts_sql(),
        "bpe_vocab_curve": _bpe_vocab_curve_sql(),
        # fixed-point PageRank: unrolled power iterations, pure BIGINT
        "copurchase_pagerank": _pagerank_sql(iters=3),
        "copurchase_pagerank_weighted": _pagerank_sql(iters=3, weighted=True),
        "copurchase_ppr": _pagerank_sql(iters=3, seed_limit=3),
        "copurchase_ppr_weighted": _pagerank_sql(iters=3, weighted=True,
                                                 seed_limit=3),
        # CC over the co-purchase graph: recursive min-label closure.
        # All walk(node, label) oracles aggregate min(label) per dst in
        # the RECURSIVE TERM (r11, found by the first sf0.1 selfcheck):
        # the unaggregated walk accumulates every label a node ever
        # sees, which on a near-single-component graph (this bipartite
        # cust-supp graph at sf0.1) is all-pairs reachability — ~256M
        # rows / 25 GB in DuckDB before the final min. min() per
        # iteration keeps only improving labels: O(E * diameter) work,
        # identical fixpoint (the kept subset always contains the true
        # min). Doc near-dup walks have tiny components either way, but
        # share the pattern for uniformity.
        "copurchase_bfs_depths": """
WITH RECURSIVE rel AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS MATERIALIZED (
  SELECT cust AS src, supp AS dst FROM rel
  UNION
  SELECT supp AS src, cust AS dst FROM rel),
walk(node, depth) AS (
  SELECT CAST(1 AS BIGINT), 0
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.depth < 4)
SELECT node, CAST(min(depth) AS INTEGER) AS depth
FROM walk GROUP BY node ORDER BY node
""",
        "copurchase_components": f"""
WITH RECURSIVE rel AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (
  SELECT cust AS src, supp AS dst FROM rel
  UNION
  SELECT supp AS src, cust AS dst FROM rel),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, min(w.label) FROM walk w JOIN edges e ON e.src = w.node
  GROUP BY e.dst),
comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)
SELECT node, component FROM comp ORDER BY node
""",
        "nb_metrics": _metrics_sql(NB_PRED_SQL),
        "svm_metrics": _metrics_sql(SVM_PRED_SQL),
        "ann_lsh_topk": f"""
WITH {AU_ORIG},
{LSH_BUCKET_CTE},
qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
q AS (SELECT d, x AS qx FROM au WHERE vec_id = 0),
cand AS (SELECT b.vec_id FROM buckets b, qb WHERE b.bucket = qb.qbucket),
prods AS (
  SELECT au.vec_id,
         sum(au.x * q.qx) AS dot,
         sum(au.x * au.x) AS na2,
         sum(q.qx * q.qx) AS nq2
  FROM au JOIN cand USING (vec_id) JOIN q ON au.d = q.d
  GROUP BY au.vec_id
),
scored AS (
  SELECT vec_id,
         floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
),
ranked AS (
  SELECT vec_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10 ORDER BY rank
""",
        "ann_multiprobe_topk": f"""
WITH {AU_ORIG},
{LSH_BUCKET_CTE},
qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
probes AS (
  SELECT qbucket AS pb FROM qb
  UNION ALL
  SELECT xor(qbucket, CAST(1 AS BIGINT) << p.p)
  FROM qb, (SELECT unnest(range(0, 8)) AS p) p
),
q AS (SELECT d, x AS qx FROM au WHERE vec_id = 0),
cand AS (SELECT DISTINCT b.vec_id FROM buckets b JOIN probes ON b.bucket = probes.pb),
prods AS (
  SELECT au.vec_id,
         sum(au.x * q.qx) AS dot,
         sum(au.x * au.x) AS na2,
         sum(q.qx * q.qx) AS nq2
  FROM au JOIN cand USING (vec_id) JOIN q ON au.d = q.d
  GROUP BY au.vec_id
),
scored AS (
  SELECT vec_id,
         floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
),
ranked AS (
  SELECT vec_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10 ORDER BY rank
""",
        "embedding_near_dups": f"""
WITH {AU_AUGMENTED},
{LSH_BUCKET_CTE},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
prods AS (
  SELECT p.id_a, p.id_b,
         sum(xa.x * xb.x) AS dot,
         sum(xa.x * xa.x) AS na2,
         sum(xb.x * xb.x) AS nb2
  FROM pairs p
  JOIN au xa ON xa.vec_id = p.id_a
  JOIN au xb ON xb.vec_id = p.id_b AND xb.d = xa.d
  GROUP BY p.id_a, p.id_b
)
SELECT DISTINCT id_a, id_b,
       floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
FROM prods
WHERE floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 >= 0.9
ORDER BY id_a, id_b
""",
        # bipartite twin of embedding_near_dups: augmented ids >= 1M are
        # the train side, originals the test side
        "decontaminate_embeddings": f"""
WITH {AU_AUGMENTED},
{LSH_BUCKET_CTE},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
  WHERE a.vec_id >= 1000000 AND b.vec_id < 1000000
),
prods AS (
  SELECT p.id_a, p.id_b,
         sum(xa.x * xb.x) AS dot,
         sum(xa.x * xa.x) AS na2,
         sum(xb.x * xb.x) AS nb2
  FROM pairs p
  JOIN au xa ON xa.vec_id = p.id_a
  JOIN au xb ON xb.vec_id = p.id_b AND xb.d = xa.d
  GROUP BY p.id_a, p.id_b
),
hits AS (
  SELECT DISTINCT id_a, id_b,
         floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
  WHERE floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 >= 0.9
)
SELECT id_a AS vec_id, CAST(count(*) AS BIGINT) AS n_matches,
       max(cosine) AS max_cosine
FROM hits GROUP BY id_a ORDER BY vec_id
""",
        # content-defined chunking: boundary after token i iff the
        # k-gram hash ending there is 0 mod 8 (mirror of dedup.cdc_chunks)
        "cdc_chunks": f"""
WITH {CDC_CTES}
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       {PORTABLE_HASH.format(col="string_agg(tok, ' ' ORDER BY pos)")} AS chunk_hash,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM cid GROUP BY doc_id, chunk_idx
ORDER BY doc_id, chunk_idx
""",
        "cdc_shared_chunks": f"""
WITH {CDC_CTES},
ch AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         {PORTABLE_HASH.format(col="string_agg(tok, ' ' ORDER BY pos)")} AS chunk_hash
  FROM cid GROUP BY doc_id, chunk_idx
)
SELECT id_a, id_b, n_shared FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM ch a JOIN ch b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
) WHERE n_shared >= 2 ORDER BY id_a, id_b
""",
        # sparse TF-IDF all-pairs cosine (df-pruned vocabulary, integer
        # micro-unit weights -> exact BIGINT dots/norms)
        "tfidf_doc_pairs": """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE length(w) > 0
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
dfq AS (
  SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM toks)
  GROUP BY w HAVING count(*) <= 64
),
nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
wt AS MATERIALIZED (
  SELECT t.doc_id, t.w,
         CAST(floor(t.tf * ln((n.n + 1) / (d.df + 1.0)) * 1000000.0 + 0.5)
              AS BIGINT) AS wt
  FROM tf t JOIN dfq d USING (w), nn n
),
norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2
          FROM wt GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
  FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT d.id_a, d.id_b,
         floor((CAST(d.dot AS DOUBLE)
                / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))))
               * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM dots d
  JOIN norms na ON na.doc_id = d.id_a
  JOIN norms nb ON nb.doc_id = d.id_b
)
WHERE cosine >= 0.5 ORDER BY id_a, id_b
""",
        # MinHash threshold sweep vs exact-dup ground truth: the plain
        # (unaugmented) corpus, candidates at threshold 0, fused
        # full-outer with md5-equality truth pairs
        "dedup_threshold_sweep": f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS MATERIALIZED (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
truth AS MATERIALIZED (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, TRUE AS is_true
  FROM (SELECT doc_id, md5(text) AS h FROM documents) x
  JOIN (SELECT doc_id, md5(text) AS h FROM documents) y
    ON x.h = y.h AND x.doc_id < y.doc_id
),
fused AS (
  SELECT COALESCE(e.est_jaccard, -1.0) AS e,
         COALESCE(t.is_true, FALSE) AS t
  FROM est e FULL OUTER JOIN truth t
    ON e.id_a = t.id_a AND e.id_b = t.id_b
),
th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
sw AS (SELECT f.e, f.t, th.threshold FROM fused f CROSS JOIN th),
agg AS (
  SELECT threshold,
         CAST(sum(CASE WHEN e >= threshold AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN e >= threshold AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN e < threshold AND t THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM sw GROUP BY threshold
)
SELECT threshold, tp, fp, fn,
       floor((tp / greatest(tp + fp, 1)) * 1000000.0 + 0.5) / 1000000.0 AS precision,
       floor((tp / greatest(tp + fn, 1)) * 1000000.0 + 0.5) / 1000000.0 AS recall
FROM agg ORDER BY threshold
""",
        # winnowing (MOSS) fingerprints: distinct w-window minima of
        # k-shingle hashes; m < w degenerates to one whole-doc window
        "winnow_fingerprints": f"""
WITH {WINNOW_CTES}
SELECT doc_id, fp FROM fps ORDER BY doc_id, fp
""",
        "winnow_near_dups": f"""
WITH {WINNOW_CTES},
rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
flt AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM flt a JOIN flt b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_shared FROM prs WHERE n_shared >= 2
ORDER BY id_a, id_b
""",
        # 3-round k=2 core peel over the same MinHash dup edge list
        "neardup_kcore": f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM est
                    WHERE est_jaccard >= 0.5),
d1 AS (SELECT n, count(*) AS d FROM (
         SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
l1 AS (SELECT n FROM d1 WHERE d < 2),
e1 AS MATERIALIZED (
  SELECT u, v FROM e0
  WHERE u NOT IN (SELECT n FROM l1) AND v NOT IN (SELECT n FROM l1)),
d2 AS (SELECT n, count(*) AS d FROM (
         SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n),
l2 AS (SELECT n FROM d2 WHERE d < 2),
e2 AS MATERIALIZED (
  SELECT u, v FROM e1
  WHERE u NOT IN (SELECT n FROM l2) AND v NOT IN (SELECT n FROM l2)),
d3 AS (SELECT n, count(*) AS d FROM (
         SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n),
l3 AS (SELECT n FROM d3 WHERE d < 2),
e3 AS MATERIALIZED (
  SELECT u, v FROM e2
  WHERE u NOT IN (SELECT n FROM l3) AND v NOT IN (SELECT n FROM l3))
SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
GROUP BY node ORDER BY node
""",
        # per-node triangle counts over the MinHash near-dup edge list
        # (edges oriented id_a < id_b, so each triangle a<b<c appears
        # once; edge derivation identical to near_dup_pairs' oracle)
        "neardup_triangles": f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
ed AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM est WHERE est_jaccard >= 0.5
),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM ed e1 JOIN ed e2 ON e1.v = e2.u
  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
),
members AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM members GROUP BY node ORDER BY node
""",
        "mm_image_features": f"""
SELECT doc_id,
  CAST(16 + {PORTABLE_HASH.format(col="'img:w:' || text")} % 112 AS INTEGER) AS width,
  CAST(16 + {PORTABLE_HASH.format(col="'img:h:' || text")} % 112 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(length(text) AS BIGINT) AS byte_len,
  {PORTABLE_HASH.format(col='text')} AS checksum,
  {PORTABLE_HASH.format(col="'resize64x64:' || text")} AS resized_checksum
FROM documents ORDER BY doc_id
""",
        "mm_frame_samples": f"""
SELECT doc_id, frame_idx,
       {PORTABLE_HASH.format(col="'frame:' || substr(text, frame_idx * 64 + 1, 64)")} AS frame_checksum
FROM (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 2)) AS frame_idx
  FROM documents
)
ORDER BY doc_id, frame_idx
""",
        "mm_audio_features": """
SELECT doc_id,
       CAST(length(text) // 2 AS DOUBLE) / 16000 AS duration_s,
       CAST(length(text) // 2 AS BIGINT) AS n_samples,
       CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS checksum
FROM documents ORDER BY doc_id
""",
        "lang_id": f"""
WITH r AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0 THEN floor((CAST(len(list_filter(toks, x -> x IN ({en}))) AS DOUBLE) / len(toks)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS r_en,
    CASE WHEN len(toks) > 0 THEN floor((CAST(len(list_filter(toks, x -> x IN ({es}))) AS DOUBLE) / len(toks)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS r_es,
    CASE WHEN len(toks) > 0 THEN floor((CAST(len(list_filter(toks, x -> x IN ({fr}))) AS DOUBLE) / len(toks)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS r_fr,
    CASE WHEN len(toks) > 0 THEN floor((CAST(len(list_filter(toks, x -> x IN ({de}))) AS DOUBLE) / len(toks)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END AS r_de
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
)
SELECT doc_id,
  CASE WHEN greatest(r_en, r_es, r_fr, r_de) >= 0.05 THEN
    CASE WHEN r_fr = greatest(r_en, r_es, r_fr, r_de) THEN 'fr'
         WHEN r_es = greatest(r_en, r_es, r_fr, r_de) THEN 'es'
         WHEN r_en = greatest(r_en, r_es, r_fr, r_de) THEN 'en'
         ELSE 'de' END
  ELSE 'unk' END AS pred_lang,
  greatest(r_en, r_es, r_fr, r_de) AS best_ratio
FROM r ORDER BY doc_id
""",
        "quality_score": r"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  floor((CASE WHEN len(string_split(text, ' ')) > 0
        THEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(string_split(text, ' '))
        ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS mean_token_len,
  floor((CASE WHEN length(text) > 0
        THEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text)
        ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS alpha_ratio,
  floor((CASE WHEN len(string_split(text, ' ')) > 0
        THEN CAST(len(list_filter(list_transform(string_split(text, ' '), x -> lower(x)),
             x -> x IN ('the','and','of','to','in','is','it','that','for','was'))) AS DOUBLE)
             / len(string_split(text, ' '))
        ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
  floor((CAST(
    (CASE WHEN length(text) BETWEEN 20 AND 2000 THEN 1 ELSE 0 END)
    + (CASE WHEN (CASE WHEN len(string_split(text, ' ')) > 0
         THEN CAST(len(list_filter(list_transform(string_split(text, ' '), x -> lower(x)),
              x -> x IN ('the','and','of','to','in','is','it','that','for','was'))) AS DOUBLE)
              / len(string_split(text, ' ')) ELSE 0.0 END) >= 0.05 THEN 1 ELSE 0 END)
    + (CASE WHEN (CASE WHEN len(string_split(text, ' ')) > 0
         THEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(string_split(text, ' '))
         ELSE 0.0 END) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END)
  AS DOUBLE) / 3) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM documents ORDER BY doc_id
""",
        "token_counts": r"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
FROM documents ORDER BY doc_id
""",
        "doc_fingerprints": f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
mins AS (
  SELECT doc_id, min({PORTABLE_HASH.format(col='sh')}) AS msh
  FROM shingles WHERE sh IS NOT NULL GROUP BY doc_id
)
SELECT d.doc_id,
       {PORTABLE_HASH.format(col='d.text')} AS content_hash,
       coalesce(m.msh, {PORTABLE_HASH.format(col='d.text')}) AS min_shingle_hash
FROM documents d LEFT JOIN mins m ON m.doc_id = d.doc_id
ORDER BY d.doc_id
""",
        "events_tumbling": """
SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "events_sessionize": """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
),
y AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM x
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id
""",
        "events_pivot": """
SELECT user_id,
  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY user_id ORDER BY user_id
""",
        "events_json_props": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k, CAST(max(k) AS BIGINT) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
""",
        # the streaming variant must agree with the batch tumbling oracle
        "events_tumbling_stream": """
SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS window_start,
       event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        # streaming sliding variant shares the batch sliding oracle
        "events_sliding_stream": """
WITH offs AS (SELECT 0 AS k UNION ALL SELECT 1),
ev AS (
  SELECT make_timestamp(((CAST(floor(epoch(ts) / 300) AS BIGINT) - k) * 300)
                        * 1000000) AS window_start,
         event_type, value
  FROM events CROSS JOIN offs)
SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ev GROUP BY 1, 2 ORDER BY 1, 2
""",
    }
    out["order_rank_stats"] = """
SELECT o_orderkey, o_orderstatus,
       CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_band,
       CAST(rank() OVER wb AS INTEGER) AS band_rank,
       CAST(dense_rank() OVER wb AS INTEGER) AS band_dense_rank,
       percent_rank() OVER wb AS band_pct_rank,
       cume_dist() OVER wb AS band_cume_dist,
       CAST(ntile(4) OVER wu AS INTEGER) AS price_quartile,
       floor(lag(o_totalprice) OVER wu * 100.0 + 0.5) / 100.0 AS prev_price,
       floor(lead(o_totalprice) OVER wu * 100.0 + 0.5) / 100.0 AS next_price
FROM orders
WINDOW wb AS (PARTITION BY o_orderstatus ORDER BY floor(o_totalprice / 50000)),
       wu AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_orderkey
"""
    out["kmeans_cells"] = _kmeans_sql(k=8, iters=2)
    # per-cell tightness: final assignment keeps its rounded cosine,
    # quantized to BIGINT micro-units before the per-cell sum
    _kq_parts = _kmeans_cte_parts(8, 2)
    _kq_cos = ("sum(au.x * c.m) / (sqrt(sum(au.x * au.x)) "
               "* sqrt(sum(c.m * c.m)))")
    out["kmeans_quality"] = (
        f"WITH {AU_ORIG}, " + ",\n".join(_kq_parts) + f""",
scF AS (
  SELECT au.vec_id, c.cell, {_r6(_kq_cos)} AS cos
  FROM au JOIN cent2 c USING (d)
  GROUP BY au.vec_id, c.cell),
bestF AS (
  SELECT vec_id, cell, cos FROM (
    SELECT vec_id, cell, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cell ASC) AS rk
    FROM scF) WHERE rk = 1)
SELECT cell AS cell_id, CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cos_micro
FROM bestF GROUP BY cell ORDER BY cell_id
""")
    out["pq_trained_codes"] = _pq_kmeans_sql()
    out["ivf_topk"] = _ivf_sql(2)
    out["orders_by_month"] = """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mon,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2, 3 ORDER BY month_start
"""
    out["cube_order_stats"] = """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""
    out["tweets_parse_naive"] = f"""
WITH {TWEETS_LINES_CTE}
SELECT p[1] AS tweet_id, p[2] AS sentiment,
       CASE WHEN len(p) > 4 THEN p[4] || array_to_string(p[5:], '')
            ELSE p[4] END AS text
FROM parts ORDER BY tweet_id
"""
    out["tweets_parse_svm"] = f"""
WITH {TWEETS_LINES_CTE}
SELECT p[1] AS tweet_id, p[2] AS sentiment, p[4] AS text
FROM parts WHERE len(p) >= 4 ORDER BY tweet_id
"""
    out["tweets_parse_strict"] = f"""
SELECT column0 AS tweet_id, column1 AS sentiment, column3 AS text
FROM read_csv('{TWEETS_STRICT_FIXTURE}', header=false, quote='"', escape='"',
              columns={{'column0':'VARCHAR','column1':'VARCHAR',
                        'column2':'VARCHAR','column3':'VARCHAR'}})
ORDER BY tweet_id
"""
    out["tweets_clean_chain_b"] = f"""
WITH {TWEETS_LINES_CTE}
SELECT p[1] AS tweet_id,
       trim(regexp_replace(regexp_replace(regexp_replace(lower(p[4]),
            '(?i)(https?://\\S+)', ' ', 'g'),
            '[^a-zA-Z ]', ' ', 'g'),
            '\\s+', ' ', 'g')) AS cleaned
FROM parts WHERE len(p) >= 4 ORDER BY tweet_id
"""
    out["tfidf_long"] = f"""
WITH {DOCS_CTE},
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM docs WHERE length(text) > 0
),
toks_ne AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
       FROM toks_ne GROUP BY doc_id, word),
dfreq AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM toks_ne GROUP BY word)
SELECT tf.doc_id, tf.word, tf.tf, dfreq.df,
       floor((tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1.0))) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
FROM tf JOIN dfreq USING (word), n
ORDER BY tf.doc_id, tf.word
"""
    # JL random projection: ±1 weights from the portable hash's parity,
    # so products are exact and only the fold's additions round (6 dp)
    out["random_projection"] = f"""
WITH grid AS (
  SELECT j, d,
         CASE WHEN {PORTABLE_HASH.format(col=chr(39) + 'rp' + chr(39) + " || j || ':' || d")} % 2 = 0
              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
  FROM (SELECT unnest(range(0, 16)) AS j)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
),
ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT e.vec_id, CAST(g.j AS INTEGER) AS d_out,
       floor((sum(e.x * g.w) / sqrt(CAST(16 AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS value
FROM ev e JOIN grid g ON g.d = e.d
GROUP BY e.vec_id, g.j
ORDER BY vec_id, d_out
"""
    # ANN in the projected space: both engines search over the SAME
    # 6-dp-rounded projected components, so only the 16-term cosine
    # fold touches engine addition order (the accepted cosine pattern)
    out["rp_ann_topk"] = f"""
WITH grid AS (
  SELECT j, d,
         CASE WHEN {PORTABLE_HASH.format(col=chr(39) + 'rp' + chr(39) + " || j || ':' || d")} % 2 = 0
              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END AS w
  FROM (SELECT unnest(range(0, 16)) AS j)
  CROSS JOIN (SELECT unnest(range(0, 64)) AS d)
),
ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
proj AS (
  SELECT e.vec_id, g.j,
         floor((sum(e.x * g.w) / sqrt(CAST(16 AS DOUBLE)))
               * 1000000.0 + 0.5) / 1000000.0 AS v
  FROM ev e JOIN grid g ON g.d = e.d GROUP BY e.vec_id, g.j
),
q AS (SELECT j, v FROM proj WHERE vec_id = 0),
z AS (SELECT p.vec_id, p.v AS ex, q.v AS qx FROM proj p JOIN q ON q.j = p.j),
prods AS (
  SELECT vec_id, sum(ex * qx) AS dot, sum(ex * ex) AS na2,
         sum(qx * qx) AS nq2
  FROM z GROUP BY vec_id
),
scored AS (
  SELECT vec_id, floor((dot / (sqrt(na2) * sqrt(nq2)))
                       * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
),
ranked AS (
  SELECT vec_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10 ORDER BY rank
"""
    # all-integer packing arithmetic: token counts, hash buckets, and
    # the cumsum are bigints — engine-exact, no rounding contract needed
    out["pack_sequences"] = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST({PORTABLE_HASH.format(col=chr(39) + 'pack:' + chr(39) + " || doc_id")} % 8 AS INTEGER) AS bucket
  FROM documents
),
c AS (
  SELECT doc_id, bucket, n_tok,
         sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
  FROM d
)
SELECT doc_id, bucket,
       CAST(cum_before // 2048 AS BIGINT) AS seq_id,
       CAST(cum_before % 2048 AS BIGINT) AS offset_in_seq,
       n_tok
FROM c ORDER BY doc_id
"""
    out["pack_sequences_ffd"] = _pack_ffd_sql(
        PACK_FFD_BUDGET, PACK_FFD_DOCS_PER_BUCKET)
    out["packed_shards_readback"] = _packed_shards_census_sql(
        PACK_FFD_BUDGET, PACK_FFD_DOCS_PER_BUCKET)
    # chunk j covers tokens [j*24+1, j*24+32] (1-based, clamped slice);
    # chunk count = 1 + ceil(max(0, n-32)/24) via nonnegative int div
    out["chunk_documents"] = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
),
j AS (
  SELECT doc_id, toks, n,
         unnest(range(0, 1 + (greatest(0, n - 32) + 23) // 24)) AS chunk_id
  FROM d
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       array_to_string(list_slice(toks, chunk_id * 24 + 1,
                                  chunk_id * 24 + 32), ' ') AS chunk_text,
       CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_chunk_tokens
FROM j ORDER BY doc_id, chunk_id
"""
    out["token_freq_histogram"] = """
WITH toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE length(w) > 0
),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w)
SELECT CAST(floor(log2(cnt)) AS INTEGER) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(cnt) AS BIGINT) AS n_tokens
FROM counts GROUP BY 1 ORDER BY log2_bucket
"""
    # Zipf fit: regression moments as exact integer sums of micro-nat
    # logs; slope/intercept from those scalars with identical double
    # op order — no double accumulation anywhere
    out["zipf_fit"] = """
WITH toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE length(w) > 0
),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank
  FROM counts
),
xy AS (
  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM ranked
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_types,
  floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS slope,
  floor(((CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE)) / n / 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS intercept
FROM m
"""
    out["ann_recall_at10"] = f"""
WITH a AS ({out["cosine_topk"]}),
b AS ({out["ann_lsh_topk"]})
SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
FROM a JOIN b ON b.vec_id = a.vec_id
"""
    # Matryoshka truncation: exact top-k in the first-16-dim prefix,
    # and its recall vs the full-dimension exact top-10
    out["mrl_topk"] = _cosine_sql("vec_id = 0", k=10, partition=False,
                                  dims=16)
    out["mrl_recall_at10"] = f"""
WITH a AS ({out["cosine_topk"]}),
b AS ({out["mrl_topk"]})
SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
FROM a JOIN b ON b.vec_id = a.vec_id
"""
    # forward as-of: first click at-or-after each purchase (the Spark
    # side is the linear union+window form; this join is oracle-only)
    # linear multi-touch credit: BIGINT micro-unit division with the
    # remainder surfaced (theta-join spec of the bucketized plan)
    out["multitouch_attribution"] = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, p.v, count(c.ts) AS n
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id AND c.ts <= p.ts
   AND c.ts >= p.ts - INTERVAL 5 MINUTE
  GROUP BY p.purchase_id, p.v
)
SELECT purchase_id,
       CAST(n AS BIGINT) AS n_touches,
       CAST(CASE WHEN n > 0 THEN v // n ELSE 0 END AS BIGINT)
         AS credit_per_touch_micro,
       CAST(v - n * (CASE WHEN n > 0 THEN v // n ELSE 0 END) AS BIGINT)
         AS residual_micro
FROM j ORDER BY purchase_id
"""
    out["next_click_attribution"] = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       CAST(min(c.ts) AS TIMESTAMP) AS next_click_ts,
       epoch_us(min(c.ts)) - epoch_us(p.ts) AS gap_us
FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
GROUP BY p.event_id, p.user_id, p.ts
ORDER BY purchase_id
"""
    # Heaps fit: V(n) via each token's first doc (one corpus pass);
    # checkpoints = powers of two ≤ n_docs plus n_docs itself
    out["heaps_fit"] = """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0
),
firsts AS (SELECT w, min(doc_id) AS fd FROM toks GROUP BY w),
nd AS (SELECT count(*) AS n_docs FROM documents),
cps AS (
  SELECT DISTINCT cp FROM (
    SELECT CAST(power(2, g) AS BIGINT) AS cp
    FROM (SELECT unnest(range(3, 40)) AS g), nd
    WHERE CAST(power(2, g) AS BIGINT) <= n_docs
    UNION ALL
    SELECT n_docs FROM nd)
),
vocab AS (
  SELECT cp, count(*) AS v FROM cps, firsts WHERE fd < cp GROUP BY cp
),
xy AS (
  SELECT CAST(floor(ln(CAST(cp AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y
  FROM vocab
),
m AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_points,
  floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS beta,
  floor(exp((CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE)) / n / 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS k
FROM m
"""
    out["bigram_lm"] = """
WITH t AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
),
bi AS (
  SELECT w1, w2 FROM (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM t))
  WHERE length(w1) > 0 AND length(w2) > 0
),
cnt AS (SELECT w1, w2, count(*) AS cnt FROM bi GROUP BY w1, w2),
marg AS (SELECT w1, sum(cnt) AS w1_total FROM cnt GROUP BY w1),
scored AS (
  SELECT c.w1, c.w2, c.cnt,
         floor(ln(CAST(c.cnt AS DOUBLE) / m.w1_total)
               * 1000000.0 + 0.5) / 1000000.0 AS cond_logp
  FROM cnt c JOIN marg m ON m.w1 = c.w1
),
rk AS (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC)
              AS INTEGER) AS rank,
         w1, w2, CAST(cnt AS BIGINT) AS cnt, cond_logp
  FROM scored
)
SELECT * FROM rk WHERE rank <= 100 ORDER BY rank
"""
    bigram_ppl_ctes = f"""t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
bi_pos AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t))
  WHERE length(w1) > 0 AND length(w2) > 0
),
cnt AS (SELECT w1, w2, count(*) AS bcnt FROM bi_pos GROUP BY w1, w2),
marg AS (SELECT w1, sum(bcnt) AS w1_total FROM cnt GROUP BY w1),
bim AS (
  SELECT c.w1, c.w2, CAST(c.bcnt AS DOUBLE) / m.w1_total AS p_bi
  FROM cnt c JOIN marg m ON m.w1 = c.w1
),
toku AS (
  SELECT w FROM (SELECT unnest(toks) AS w FROM t) WHERE length(w) > 0
),
ucnt AS (SELECT w, count(*) AS cnt FROM toku GROUP BY w),
tot AS (SELECT sum(cnt) AS n_total, count(*) AS v FROM ucnt),
uni AS (
  SELECT w AS w2,
         (cnt + CAST(0.5 AS DOUBLE))
         / (CAST(n_total AS DOUBLE) + 0.5 * (v + 1)) AS p_u
  FROM ucnt, tot
),
pos_scored AS (
  SELECT b.doc_id,
         CAST(floor(ln({0.7!r} * COALESCE(bm.p_bi, 0.0)
                       + {1 - 0.7!r} * u.p_u)
                    * 1000000.0 + 0.5) AS BIGINT) AS lp
  FROM bi_pos b
  LEFT JOIN bim bm ON bm.w1 = b.w1 AND bm.w2 = b.w2
  JOIN uni u ON u.w2 = b.w2
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs, sum(lp) AS s
  FROM pos_scored GROUP BY doc_id
)"""
    out["doc_bigram_ppl"] = f"""
WITH {bigram_ppl_ctes}
SELECT d.doc_id,
       COALESCE(p.n_pairs, 0) AS n_pairs,
       floor((CAST(p.s AS DOUBLE) / p.n_pairs / 1000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_logp_nats
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""
    # perplexity-band pruning: quantile bounds rounded to the same 6 dp
    # as the scores, so the band comparison is rounded-vs-rounded on
    # both engines
    out["ppl_band_docs"] = f"""
WITH {bigram_ppl_ctes},
scored AS (
  SELECT doc_id, n_pairs,
         floor((CAST(s AS DOUBLE) / n_pairs / 1000000.0)
               * 1000000.0 + 0.5) / 1000000.0 AS avg_logp_nats
  FROM per_doc WHERE n_pairs > 0
),
bounds AS (
  SELECT floor(quantile_cont(avg_logp_nats, 0.25) * 1000000.0 + 0.5) / 1000000.0 AS blo,
         floor(quantile_cont(avg_logp_nats, 0.75) * 1000000.0 + 0.5) / 1000000.0 AS bhi
  FROM scored
)
SELECT s.doc_id, s.n_pairs, s.avg_logp_nats
FROM scored s, bounds b
WHERE s.avg_logp_nats >= b.blo AND s.avg_logp_nats <= b.bhi
ORDER BY s.doc_id
"""
    out["top_tokens"] = """
WITH toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE length(w) > 0
),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w)
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS INTEGER) AS rank,
       w, CAST(cnt AS BIGINT) AS cnt
FROM counts ORDER BY cnt DESC, w LIMIT 50
"""
    # C4 cleaning on the seeded multi-line corpus; first-occurrence
    # line dedup arg-mins the encoded (doc_id, pos) key exactly like
    # the Spark side (positions are 0- vs 1-based across engines, but
    # only their per-doc ORDER enters the min)
    out["c4_clean_docs"] = """
WITH seeded AS (
  SELECT doc_id,
         text || '.' || chr(10)
              || 'this page is all rights reserved.' || chr(10)
              || CASE WHEN doc_id % 7 = 0
                      THEN 'please enable javascript to view this page.'
                      ELSE 'a perfectly fine closing line.' END
              || chr(10) || 'too short.' || chr(10)
              || 'a line with no terminal punctuation'
              || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'config { lorem }'
                      ELSE '' END AS text
  FROM documents
),
pre AS (
  SELECT * FROM seeded
  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
),
lines AS (
  SELECT doc_id, i AS pos, l FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS l,
           generate_subscripts(string_split(text, chr(10)), 1) AS i
    FROM pre)
),
kept AS (
  SELECT doc_id, pos, l FROM lines
  WHERE regexp_matches(trim(l), '[.!?"]$')
    AND len(string_split(trim(l), ' ')) >= 4
    AND NOT contains(lower(l), 'javascript')
),
firsts AS (
  SELECT l, min(doc_id * 1000000 + pos) AS mk FROM kept GROUP BY l
),
ded AS (
  SELECT k.doc_id, k.pos, k.l
  FROM kept k JOIN firsts f
    ON f.l = k.l AND k.doc_id * 1000000 + k.pos = f.mk
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
       string_agg(l, chr(10) ORDER BY pos) AS clean_text
FROM ded GROUP BY doc_id
HAVING count(*) >= 1
ORDER BY doc_id
"""
    # Unigram LM scoring: log-probs quantized to INTEGER micro-nats at
    # model build, so the per-doc score is a sum of bigints (exact,
    # associative, engine-independent); only the final division and
    # 6-dp rounding touch doubles, on identical operands both sides.
    out["lm_quality_score"] = """
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0
),
counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
tot AS (SELECT sum(cnt) AS n_total, count(*) AS v FROM counts),
model AS (
  SELECT w,
         CAST(floor(ln((cnt + CAST(0.5 AS DOUBLE))
                       / (CAST(n_total AS DOUBLE)
                          + CAST(0.5 AS DOUBLE) * (v + 1)))
                    * 1000000.0 + 0.5) AS BIGINT) AS logp_u
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_scored, sum(m.logp_u) AS sum_u
  FROM toks t JOIN model m ON m.w = t.w GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_scored, 0) AS BIGINT) AS n_scored,
       floor((CAST(p.sum_u AS DOUBLE) / p.n_scored / 1000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_logp_nats
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""
    # Gopher-style repetition screens: mode-of-list computed as
    # max-over-distinct of filter counts — the same lambda shape Spark
    # runs, so the int/int double divisions see identical operands.
    # The `repetitive` flag compares the UNROUNDED ratios on both sides.
    out["doc_repetition"] = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
b AS (
  SELECT doc_id, toks, len(toks) AS n, list_distinct(toks) AS uniq,
         list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
  FROM t
),
c AS (
  SELECT doc_id, toks, n, uniq, bigrams,
         len(bigrams) AS nb, list_distinct(bigrams) AS uniq_b
  FROM b
),
r AS (
  SELECT doc_id, n,
    CASE WHEN n > 0 THEN CAST(len(uniq) AS DOUBLE) / n
         ELSE CAST(0 AS DOUBLE) END AS distinct_frac,
    CASE WHEN n > 0 THEN CAST(list_max(list_transform(uniq,
              u -> len(list_filter(toks, t2 -> t2 = u)))) AS DOUBLE) / n
         ELSE CAST(0 AS DOUBLE) END AS top_uni,
    CASE WHEN nb > 0 THEN CAST(list_max(list_transform(uniq_b,
              u -> len(list_filter(bigrams, t2 -> t2 = u)))) AS DOUBLE) / nb
         ELSE CAST(0 AS DOUBLE) END AS top_bi,
    CASE WHEN nb > 0 THEN CAST(1 AS DOUBLE) - CAST(len(uniq_b) AS DOUBLE) / nb
         ELSE CAST(0 AS DOUBLE) END AS dup_bi
  FROM c
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
  floor(distinct_frac * 1000000.0 + 0.5) / 1000000.0 AS distinct_frac,
  floor(top_uni * 1000000.0 + 0.5) / 1000000.0 AS top_unigram_frac,
  floor(top_bi * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac,
  floor(dup_bi * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_frac,
  CAST((top_bi > CAST(0.18 AS DOUBLE))
       OR (distinct_frac < CAST(0.30 AS DOUBLE)) AS INTEGER) AS repetitive
FROM r ORDER BY doc_id
"""
    # PII scrub: patterns come from TA.PII_PATTERNS (valid in both Java
    # regex and RE2); counts on the ORIGINAL seeded text, replacements
    # chained in declaration order exactly like the Spark side.
    pii_seed = ("text || ' contact user' || CAST(doc_id AS VARCHAR)"
                " || '@example.com or 555-867-5309 from 10.0.'"
                " || CAST(doc_id % 200 AS VARCHAR) || '.7'")
    pii_counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in TA.PII_PATTERNS)
    pii_clean = "t"
    for _, pat, rep in TA.PII_PATTERNS:
        pii_clean = f"regexp_replace({pii_clean}, '{pat}', '{rep}', 'g')"
    out["pii_scrub"] = f"""
WITH seeded AS (SELECT doc_id, {pii_seed} AS t FROM documents)
SELECT doc_id,
  {pii_counts},
  {pii_clean} AS clean_text
FROM seeded ORDER BY doc_id
"""
    out["events_sessionize_stream"] = """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
),
y AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM x
)
SELECT user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM y GROUP BY user_id, session_id ORDER BY user_id, session_start
"""
    out["stream_dedup_docs"] = """
SELECT md5(text) AS text_hash FROM documents
GROUP BY md5(text) ORDER BY text_hash
"""
    out["stream_dedup_native"] = out["stream_dedup_docs"]
    # watermark-bounded dedup of a 2x-duplicated co-arriving stream ==
    # one row per event_id
    out["stream_dedup_watermarked"] = """
SELECT event_id, user_id, event_type
FROM events ORDER BY event_id
"""
    # stream-stream interval join == the batch theta join (no late data
    # in a replayed file stream, so the watermark never drops a row)
    out["stream_stream_join"] = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 5 MINUTE
ORDER BY purchase_id, click_id
"""
    # stream-static broadcast enrichment == the batch left join
    # at-ingest fingerprinting == the batch winnow computation
    out["stream_winnow_fingerprints"] = out["winnow_fingerprints"]
    # lossless ORC write/read == the parquet identity
    out["orc_roundtrip"] = \
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    out["stream_static_enrich"] = """
SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""
    # result-identical demonstrations share their baseline's oracle:
    # the salted two-phase aggregation must equal the naive group-by,
    # and the spark.sql entry point runs the literal oracle text.
    out["word_counts_salted"] = out["word_counts"]
    # the salted JOIN must be result-invariant vs the plain join
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import sql_dsum
    out["salted_segment_revenue"] = f"""
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum('o.o_totalprice')} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""
    out["sql_pricing_summary"] = out["pricing_summary"]
    # identical semantics, different distributed algorithm — same oracle
    out["dedup_canonical_alternating"] = out["dedup_canonical"]
    # lossless text-KV roundtrip — same model, same oracle
    out["nb_model_kv_roundtrip"] = out["nb_model"]
    out["dq_orders_report"] = _dq_oracle_sql()
    out["dup_kgram_stats"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
hashed AS (
  SELECT doc_id, {PORTABLE_HASH.format(col='sh')} AS h
  FROM shingles WHERE sh IS NOT NULL
),
corpus AS (
  SELECT h FROM (SELECT h, count(*) AS c FROM hashed GROUP BY h)
  WHERE c >= 2
),
tot AS (SELECT doc_id, count(*) AS n_kgrams FROM hashed GROUP BY doc_id),
dups AS (
  SELECT hashed.doc_id, count(*) AS dup_positions,
         count(DISTINCT hashed.h) AS dup_distinct
  FROM hashed JOIN corpus USING (h) GROUP BY hashed.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_kgrams, 0) AS BIGINT) AS n_kgrams,
       CAST(COALESCE(p.dup_positions, 0) AS BIGINT) AS dup_positions,
       CAST(COALESCE(p.dup_distinct, 0) AS BIGINT) AS dup_distinct,
       CASE WHEN COALESCE(t.n_kgrams, 0) > 0
            THEN floor((CAST(COALESCE(p.dup_positions, 0) AS DOUBLE)
                        / t.n_kgrams) * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS dup_frac
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN dups p USING (doc_id)
ORDER BY d.doc_id
"""
    # removal twin of dup_kgram_stats: token i covered iff a duplicated
    # 3-gram starts in [i-2, i] (ROWS frame works because token
    # positions are dense)
    out["dedup_span_removal"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
toks_i AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM docs_all
),
grams AS (
  SELECT doc_id, i AS s,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
  FROM toks_i WINDOW win AS (PARTITION BY doc_id ORDER BY i)
),
hashed AS (
  SELECT doc_id, s, {PORTABLE_HASH.format(col='sh')} AS h
  FROM grams WHERE sh IS NOT NULL
),
dup AS (
  SELECT h FROM (SELECT h, count(*) AS c FROM hashed GROUP BY h)
  WHERE c >= 2
),
starts AS (SELECT DISTINCT doc_id, s FROM hashed JOIN dup USING (h)),
flags AS (
  SELECT t.doc_id, t.i, t.w,
         CASE WHEN st.s IS NOT NULL THEN 1 ELSE 0 END AS f
  FROM toks_i t LEFT JOIN starts st
    ON st.doc_id = t.doc_id AND st.s = t.i
),
cov AS (
  SELECT doc_id, i, w,
         max(f) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
  FROM flags
)
SELECT doc_id,
       COALESCE(string_agg(w, ' ' ORDER BY i) FILTER (WHERE covered = 0),
                '') AS clean_text,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(covered) AS BIGINT) AS n_removed
FROM cov GROUP BY doc_id ORDER BY doc_id
"""
    out["event_transitions"] = """
WITH s AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
cnt AS (
  SELECT from_type, to_type, count(*) AS n
  FROM s WHERE from_type IS NOT NULL GROUP BY from_type, to_type
),
marg AS (SELECT from_type, sum(n) AS rt FROM cnt GROUP BY from_type)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
       floor((CAST(c.n AS DOUBLE) / m.rt) * 1000000.0 + 0.5) / 1000000.0 AS p
FROM cnt c JOIN marg m USING (from_type)
ORDER BY from_type, to_type
"""
    # the band explode has exact recall (|len diff| <= max_dist < band
    # width), so the oracle is the plain theta join
    out["fuzzy_part_names"] = """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY key_a, key_b
"""
    out["part_entity_resolution"] = """
WITH RECURSIVE fp AS MATERIALIZED (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand
   AND string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
   AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM fp
  UNION
  SELECT id_b AS src, id_a AS dst FROM fp),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, min(w.label) FROM walk w JOIN edges e ON e.src = w.node
  GROUP BY e.dst),
comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)
SELECT p.p_partkey AS key,
       coalesce(c.component, p.p_partkey) AS entity_id,
       n.p_name AS canonical_name
FROM part p
LEFT JOIN comp c ON c.node = p.p_partkey
JOIN part n ON n.p_partkey = coalesce(c.component, p.p_partkey)
ORDER BY p.p_partkey
"""
    out["dedup_canonical_best"] = out["dedup_canonical"].replace(
        """comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS canonical_id,
       CAST(CASE WHEN coalesce(c.component, d.doc_id) <> d.doc_id
            THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM docs_all d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id""",
        """comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
best AS (
  SELECT component, node AS best_id FROM (
    SELECT c.component, c.node,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY length(d.text) DESC, c.node ASC) AS rn
    FROM comp c JOIN docs_all d ON d.doc_id = c.node)
  WHERE rn = 1
)
SELECT d.doc_id,
       coalesce(b.best_id, d.doc_id) AS canonical_id,
       CAST(CASE WHEN coalesce(b.best_id, d.doc_id) <> d.doc_id
            THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM docs_all d
LEFT JOIN comp c ON c.node = d.doc_id
LEFT JOIN best b ON b.component = c.component
ORDER BY d.doc_id""")
    out["pps_sample_docs"] = """
WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents),
tot AS (SELECT sum(wt) AS total FROM w),
c AS (
  SELECT doc_id, wt,
         sum(wt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS ce
  FROM w
)
SELECT c.doc_id, c.wt AS weight
FROM c, tot
WHERE (c.ce * 50) // total > ((c.ce - c.wt) * 50) // total
ORDER BY c.doc_id
"""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import zorder_key_txt
    _duck_day = "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
    _duck_z = zorder_key_txt(
        ["(o_custkey & 65535)", f"(({_duck_day}) & 65535)"], bits=16)
    out["zorder_keys"] = f"""
SELECT o_orderkey, {_duck_z} AS zkey
FROM orders ORDER BY o_orderkey
"""

    out["user_running_stats"] = """
SELECT user_id, event_id,
       CAST(row_number() OVER win AS INTEGER) AS seq,
       epoch_us(ts) - epoch_us(lag(ts) OVER win) AS gap_us,
       floor((sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING))
             * 1000000.0 + 0.5) / 1000000.0 AS running_value
FROM events
WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, seq
"""
    # ANSI as-of join: greatest click ts at-or-before each purchase.
    # (The Spark side is the linear union+window form; this quadratic
    # join is oracle-only.)
    out["purchase_attribution"] = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       CAST(max(c.ts) AS TIMESTAMP) AS last_click_ts,
       epoch_us(p.ts) - epoch_us(max(c.ts)) AS gap_us
FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
GROUP BY p.event_id, p.user_id, p.ts
ORDER BY purchase_id
"""
    # strict sequential funnel: each stage's reach time = earliest
    # stage event at-or-after the previous stage's reach time
    out["funnel_conversion"] = """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id),
s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
       JOIN s3 ON s3.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id),
c AS (SELECT (SELECT count(*) FROM s1) AS c1, (SELECT count(*) FROM s2) AS c2,
             (SELECT count(*) FROM s3) AS c3, (SELECT count(*) FROM s4) AS c4)
SELECT * FROM (
  SELECT CAST(1 AS INTEGER) AS stage_order, 'signup' AS stage,
         CAST(c1 AS BIGINT) AS users,
         CAST(c1 AS DOUBLE) / nullif(CAST(c1 AS DOUBLE), 0.0) AS pct_of_prev
  FROM c
  UNION ALL SELECT 2, 'view', c2,
         CAST(c2 AS DOUBLE) / nullif(CAST(c1 AS DOUBLE), 0.0) FROM c
  UNION ALL SELECT 3, 'click', c3,
         CAST(c3 AS DOUBLE) / nullif(CAST(c2 AS DOUBLE), 0.0) FROM c
  UNION ALL SELECT 4, 'purchase', c4,
         CAST(c4 AS DOUBLE) / nullif(CAST(c3 AS DOUBLE), 0.0) FROM c
) ORDER BY stage_order
"""
    out["cohort_retention"] = """
WITH u AS (SELECT user_id, ts,
                  min(ts) OVER (PARTITION BY user_id) AS ft FROM events)
SELECT make_timestamp(CAST(floor(epoch(ft) / 604800) * 604800 AS BIGINT)
                      * 1000000) AS cohort_start,
       CAST(floor(epoch(ts) / 604800)
            - floor(epoch(ft) / 604800) AS INTEGER) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
FROM u GROUP BY 1, 2 ORDER BY 1, 2
"""
    # the Bloom bitmap is a pre-filter only — false positives are
    # removed by the exact semi-join, so the plain IN-subquery is the
    # exact oracle
    out["bloom_prefilter_join"] = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'
                       AND o_totalprice > 150000.0)
GROUP BY l_returnflag ORDER BY l_returnflag
"""
    bands_values = ", ".join(f"('{b}', {lo}, {hi})"
                             for b, lo, hi in R.QUANTITY_BANDS)
    out["quantity_band_totals"] = f"""
WITH bands(band, lo, hi) AS (VALUES {bands_values})
SELECT band, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
GROUP BY band ORDER BY band
"""
    out["price_quantiles"] = """
SELECT l_returnflag,
       floor((quantile_cont(l_extendedprice, 0.25)) * 1000000.0 + 0.5) / 1000000.0 AS p25,
       floor((quantile_cont(l_extendedprice, 0.50)) * 1000000.0 + 0.5) / 1000000.0 AS p50,
       floor((quantile_cont(l_extendedprice, 0.75)) * 1000000.0 + 0.5) / 1000000.0 AS p75,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
    # exact raw sums (integer quantities / decimal money), closed-form
    # moments in double — mirrors relational.price_quantity_corr's op
    # order exactly so the doubles are bit-identical
    out["price_quantity_corr"] = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS BIGINT) AS _n,
         sum(l_quantity) AS sx,
         sum(l_quantity * l_quantity) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,0))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       floor(((CAST(_n AS DOUBLE) * sxy - sx * sy)
              / sqrt((CAST(_n AS DOUBLE) * sxx - sx * sx)
                     * (CAST(_n AS DOUBLE) * syy - sy * sy))) * 1000000.0 + 0.5) / 1000000.0 AS qty_price_corr,
       floor(((sxy - (sx * sy) / CAST(_n AS DOUBLE)) / (CAST(_n AS DOUBLE) - 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS qty_price_covar,
       floor((sqrt((syy - (sy * sy) / CAST(_n AS DOUBLE)) / (CAST(_n AS DOUBLE) - 1.0))) * 1000000.0 + 0.5) / 1000000.0 AS price_stddev,
       _n AS n
FROM s ORDER BY l_returnflag
"""
    out["grouping_sets_order_stats"] = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""
    out["intersect_except_customers"] = """
SELECT 'open_and_finished' AS bucket, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT 'open_only' AS bucket, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
ORDER BY bucket, o_custkey
"""
    out["decontaminate_train"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
shd AS (
  SELECT DISTINCT doc_id, {PORTABLE_HASH.format(col='sh')} AS shash
  FROM shingles WHERE sh IS NOT NULL
),
test_sh AS (SELECT DISTINCT shash FROM shd WHERE doc_id % 8 IN (0, 5)),
train_sh AS (SELECT * FROM shd WHERE doc_id % 8 NOT IN (0, 5))
SELECT t.doc_id, CAST(count(DISTINCT t.shash) AS BIGINT) AS n_shared
FROM train_sh t JOIN test_sh s ON s.shash = t.shash
GROUP BY t.doc_id ORDER BY t.doc_id
"""
    # Bloom-prefiltered decontamination: the oracle rebuilds the SAME
    # bitmap (portable md5 fingerprints, Kirsch–Mitzenmacher double
    # hashing, 63-bit words) and replays probe + exact-confirm — the
    # false_pos column is therefore hash-checked too, not asserted.
    _bm = 1 << 18     # m_bits   (operators/dedup.bloom_decontaminate)
    _b8 = " || ' ' || ".join(
        ["w"] + [f"lead(w, {j}) OVER win" for j in range(1, 8)])
    _bpos = (f"((shash % {_bm}) + j.j * "
             f"(1 + ((shash // {_bm}) % {_bm - 1}))) % {_bm}")
    out["bloom_decontaminate"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
toks_i AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM docs_all
),
shingles AS (
  SELECT doc_id, {_b8} AS sh
  FROM toks_i WINDOW win AS (PARTITION BY doc_id ORDER BY i)
),
shd AS (
  SELECT DISTINCT doc_id, {PORTABLE_HASH.format(col='sh')} AS shash
  FROM shingles WHERE sh IS NOT NULL
),
test_fp AS MATERIALIZED (
  SELECT DISTINCT shash FROM shd WHERE doc_id % 8 IN (0, 5)),
train_sh AS MATERIALIZED (
  SELECT doc_id, shash FROM shd WHERE doc_id % 8 NOT IN (0, 5)),
words AS MATERIALIZED (
  SELECT pos // 63 AS wd,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS word
  FROM (SELECT {_bpos} AS pos
        FROM test_fp, (VALUES (0), (1), (2), (3)) j(j))
  GROUP BY pos // 63
),
hits AS (
  SELECT p.doc_id, p.shash,
         min(CASE WHEN (coalesce(w.word, 0)
                        & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT)))
                      = (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT))
                  THEN 1 ELSE 0 END) AS all_set
  FROM (SELECT doc_id, shash, {_bpos} AS pos
        FROM train_sh, (VALUES (0), (1), (2), (3)) j(j)) p
  LEFT JOIN words w ON w.wd = p.pos // 63
  GROUP BY p.doc_id, p.shash
),
flagged AS MATERIALIZED (SELECT DISTINCT doc_id FROM hits WHERE all_set = 1),
exact AS (
  SELECT t.doc_id, CAST(count(DISTINCT t.shash) AS BIGINT) AS n_shared
  FROM train_sh t JOIN test_fp s USING (shash) JOIN flagged f USING (doc_id)
  GROUP BY t.doc_id
)
SELECT f.doc_id,
       CAST(coalesce(e.n_shared, 0) AS BIGINT) AS n_shared,
       coalesce(e.n_shared, 0) = 0 AS false_pos
FROM flagged f LEFT JOIN exact e USING (doc_id)
ORDER BY f.doc_id
"""
    # Asymmetric containment (dedup.containment_pairs): 5-gram
    # fingerprint universe df-guarded at 64, sizes + shared counts both
    # over the FILTERED universe, exact integer micro containments.
    _c5 = " || ' ' || ".join(
        ["w"] + [f"lead(w, {j}) OVER win" for j in range(1, 5)])
    out["containment_pairs"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
toks_i AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM docs_all
),
shingles AS (
  SELECT doc_id, {_c5} AS sh
  FROM toks_i WINDOW win AS (PARTITION BY doc_id ORDER BY i)
),
shd AS (
  SELECT DISTINCT doc_id, {PORTABLE_HASH.format(col='sh')} AS shash
  FROM shingles WHERE sh IS NOT NULL
),
keep AS (SELECT shash FROM shd GROUP BY shash HAVING count(*) <= 64),
f AS MATERIALIZED (SELECT shd.* FROM shd JOIN keep USING (shash)),
sizes AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
                       FROM f GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM f a JOIN f b ON a.shash = b.shash AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT id_a, id_b, n_shared,
       sa.sz AS size_a, sb.sz AS size_b,
       (n_shared * 1000000) // sa.sz AS cont_a_micro,
       (n_shared * 1000000) // sb.sz AS cont_b_micro
FROM pr JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest((n_shared * 1000000) // sa.sz,
               (n_shared * 1000000) // sb.sz) >= 500000
ORDER BY id_a, id_b
"""
    out["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey,
       floor(o_totalprice * 100.0 + 0.5) / 100.0 AS price,
       CAST(rk AS INTEGER) AS rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
WHERE rk <= 3
ORDER BY o_custkey, rk
"""
    out["orders_above_global_avg"] = """
SELECT o_orderkey, o_custkey,
       floor(o_totalprice * 100.0 + 0.5) / 100.0 AS price
FROM orders
WHERE o_totalprice > 1.5 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) FROM orders)
ORDER BY o_orderkey
"""
    # quadratic theta-join oracle for the bucketized interval join
    out["interval_pair_counts"] = """
SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS sum_gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 300000000
 AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
GROUP BY a.user_id ORDER BY a.user_id
"""
    # sliding window = UNION ALL of D/S shifted tumbling aggregations:
    # windows containing t (D=600s, S=300s) start at (floor(t/300)-k)*300
    out["events_sliding"] = """
WITH offs AS (SELECT 0 AS k UNION ALL SELECT 1),
ev AS (
  SELECT make_timestamp(((CAST(floor(epoch(ts) / 300) AS BIGINT) - k) * 300)
                        * 1000000) AS window_start,
         event_type, value
  FROM events CROSS JOIN offs)
SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM ev GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["order_stats_unpivot"] = """
WITH s AS (
  SELECT o_orderstatus,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0 AS avg_price,
         floor(min(o_totalprice) * 100.0 + 0.5) / 100.0 AS min_price,
         floor(max(o_totalprice) * 100.0 + 0.5) / 100.0 AS max_price
  FROM orders GROUP BY 1)
SELECT o_orderstatus, 'sum_price' AS stat, sum_price AS value FROM s
UNION ALL SELECT o_orderstatus, 'avg_price', avg_price FROM s
UNION ALL SELECT o_orderstatus, 'min_price', min_price FROM s
UNION ALL SELECT o_orderstatus, 'max_price', max_price FROM s
ORDER BY o_orderstatus, stat
"""
    # approx_distinct_users: the sketch value itself is engine-specific,
    # so the Spark side exports a bound-check boolean instead of the raw
    # estimate; the oracle pins the exact counts and asserts the bound.
    # GK-sketch bound check (relational.approx_quantile_bounds): the
    # sketch value is engine-specific, so the oracle recomputes the
    # EXACT interpolated quantile (quantile_cont == Spark percentile,
    # the price_quantiles precedent) and asserts the Spark-computed
    # rank-contract boolean — same pattern as approx_distinct_users.
    out["approx_quantile_bounds"] = "\nUNION ALL ".join(
        f"""SELECT CAST({int(q * 1_000_000)} AS BIGINT) AS quantile_micro,
       CAST(count(*) AS BIGINT) AS n_rows,
       floor((quantile_cont(l_extendedprice, {q!r})) * 1000000.0 + 0.5)
         / 1000000.0 AS exact_p,
       TRUE AS within_rank_eps
FROM lineitem"""
        for q in (0.25, 0.5, 0.75, 0.9, 0.99)) + "\nORDER BY quantile_micro"
    out["approx_distinct_users"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS approx_within_3rsd
FROM events GROUP BY event_type ORDER BY event_type
"""
    out["hash_sample_docs"] = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE ({PORTABLE_HASH.format(col="'sample:v1' || CAST(doc_id AS VARCHAR)")} % 100) < 10
ORDER BY doc_id
"""
    # the streaming twin re-runs the identical narrow screen per file
    out["stream_doc_repetition"] = out["doc_repetition"]
    # stateless verdict on the stream == the batch gate composition
    out["stream_curation_gates"] = f"""
WITH lang AS ({out["lang_id"]}),
qual AS ({out["quality_score"]}),
rep AS ({out["doc_repetition"]})
SELECT d.doc_id, l.pred_lang, q.quality, r.repetitive,
       CAST(CASE WHEN l.pred_lang = 'unk' THEN 0
                 WHEN q.quality < CAST(0.6 AS DOUBLE) THEN 0
                 WHEN r.repetitive = 1 THEN 0 ELSE 1 END AS INTEGER)
         AS kept_narrow,
       CASE WHEN l.pred_lang = 'unk' THEN 'lang'
            WHEN q.quality < CAST(0.6 AS DOUBLE) THEN 'quality'
            WHEN r.repetitive = 1 THEN 'repetitive'
            ELSE NULL END AS reject_reason
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN qual q ON q.doc_id = d.doc_id
JOIN rep r ON r.doc_id = d.doc_id
ORDER BY d.doc_id
"""
    # the JSON sink→source roundtrip must reproduce the parquet agg
    out["events_json_roundtrip"] = out["events_tumbling"]
    # native session_window == the lag/cumsum sessionizer (no exact
    # 1800.000000s gap exists at any SF — boundary verified); the
    # ordinal session_id is internal here, only the span is output
    out["events_session_window_native"] = """
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS ns
  FROM events
),
y AS (
  SELECT user_id, ts,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
  FROM x
)
SELECT user_id,
       CAST(min(ts) AS TIMESTAMP) AS session_start,
       CAST(max(ts) AS TIMESTAMP) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM y GROUP BY user_id, session_id ORDER BY user_id, session_start
"""
    out["rolling_revenue"] = """
SELECT o_orderkey, o_custkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey
         ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS rolling_revenue
FROM orders ORDER BY o_orderkey
"""
    out["mm_frame_dedup"] = f"""
WITH {DOCS_ALL_AUGMENTED},
frames AS (
  SELECT doc_id, frame_idx,
         {PORTABLE_HASH.format(col="'frame:' || substr(text, frame_idx * 64 + 1, 64)")} AS frame_checksum
  FROM (
    SELECT doc_id, text,
           unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 2)) AS frame_idx
    FROM docs_all
  )
)
SELECT frame_checksum, CAST(count(*) AS BIGINT) AS dup_count,
       CAST(min(doc_id * 100000 + frame_idx) // 100000 AS BIGINT) AS keeper_doc,
       CAST(min(doc_id * 100000 + frame_idx) % 100000 AS BIGINT) AS keeper_frame
FROM frames GROUP BY frame_checksum ORDER BY frame_checksum
"""
    # Per-group centroids: components quantized to integer micro-units
    # pre-aggregation — exact associative sums, so the mean is immune
    # to partial-agg order (the LM micro-nat contract)
    out["lang_centroids"] = """
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS xu
  FROM embeddings
),
j AS (
  SELECT doc.lang AS label, ev.d, ev.xu
  FROM ev JOIN documents doc ON doc.doc_id = ev.vec_id
)
SELECT label, d,
       floor((CAST(sum(xu) AS DOUBLE) / count(*) / 1000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS centroid
FROM j GROUP BY label, d ORDER BY label, d
"""
    # Flagship composition: the per-doc curation verdict. Reuses the
    # individually-verified oracle texts as subqueries (lang / quality /
    # repetition) plus the plain-corpus MinHash pair graph resolved by
    # the recursive-CTE reachability walk — gate order = Spark's CASE.
    out["mixture_sample"] = f"""
WITH w(lang, w) AS (VALUES ('en', 1.5), ('de', 1.0), ('fr', 0.75), ('es', 0.5), ('zh', 0.25)),
j AS (
  SELECT d.doc_id, d.lang,
         CAST(floor(w.w) AS INTEGER)
         + CASE WHEN ({PORTABLE_HASH.format(col="'mix:v1:' || CAST(d.doc_id AS VARCHAR)")} % 1000000)
                     / 1000000.0 < w.w - floor(w.w)
                THEN 1 ELSE 0 END AS n
  FROM documents d JOIN w USING (lang))
SELECT doc_id, lang,
       CAST(unnest(generate_series(1, n)) AS INTEGER) AS epoch
FROM j WHERE n >= 1
ORDER BY doc_id, epoch
"""
    out["curation_pipeline"] = f"""
WITH RECURSIVE docs_all AS (SELECT doc_id, text FROM documents),
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
pairs AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, min(w.label) FROM walk w JOIN edges e ON e.src = w.node
  GROUP BY e.dst
),
comp AS (SELECT node, min(label) AS component FROM walk GROUP BY node),
lang AS ({out["lang_id"]}),
qual AS ({out["quality_score"]}),
rep AS ({out["doc_repetition"]}),
verdict AS (
  SELECT d.doc_id,
         CASE WHEN l.pred_lang = 'unk' THEN 'lang'
              WHEN q.quality < CAST(0.6 AS DOUBLE) THEN 'quality'
              WHEN r.repetitive = 1 THEN 'repetitive'
              WHEN c.component IS NOT NULL AND c.component <> d.doc_id
                   THEN 'duplicate'
              ELSE NULL END AS reject_reason
  FROM documents d
  JOIN lang l ON l.doc_id = d.doc_id
  JOIN qual q ON q.doc_id = d.doc_id
  JOIN rep r ON r.doc_id = d.doc_id
  LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id,
       CAST(CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept,
       reject_reason
FROM verdict ORDER BY doc_id
"""
    # PQ encode: the codebook is SELECTed from the table itself
    # (vec_id < 8), so the oracle needs no literal dump; argmin ties
    # break to the lowest code on both sides (array_position first
    # match == row_number ordered by dist, cid)
    out["pq_codes"] = """
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
corp AS (SELECT vec_id, d // 16 AS s, d % 16 AS i, x FROM ev),
code AS (
  SELECT vec_id AS cid, d // 16 AS s, d % 16 AS i, x AS c
  FROM ev WHERE vec_id < 8
),
dists AS (
  SELECT corp.vec_id, corp.s, code.cid,
         floor(sum((corp.x - code.c) * (corp.x - code.c))
               * 1000000.0 + 0.5) / 1000000.0 AS dist
  FROM corp JOIN code ON code.s = corp.s AND code.i = corp.i
  GROUP BY corp.vec_id, corp.s, code.cid
),
best AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM dists)
  WHERE rn = 1
)
SELECT vec_id, CAST(s AS INTEGER) AS segment, CAST(cid AS BIGINT) AS code
FROM best ORDER BY vec_id, segment
"""
    # ADC: the query LUT is exactly vec 0's segment-to-codeword
    # distances (already in `dists`); integer micro-unit sums per vector
    out["pq_adc_topk"] = """
WITH ev AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
corp AS (SELECT vec_id, d // 16 AS s, d % 16 AS i, x FROM ev),
code AS (
  SELECT vec_id AS cid, d // 16 AS s, d % 16 AS i, x AS c
  FROM ev WHERE vec_id < 8
),
dists AS (
  SELECT corp.vec_id, corp.s, code.cid,
         floor(sum((corp.x - code.c) * (corp.x - code.c))
               * 1000000.0 + 0.5) / 1000000.0 AS dist
  FROM corp JOIN code ON code.s = corp.s AND code.i = corp.i
  GROUP BY corp.vec_id, corp.s, code.cid
),
best AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY dist ASC, cid ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
tab AS (
  SELECT s, cid, CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT) AS du
  FROM dists WHERE vec_id = 0
),
su AS (
  SELECT b.vec_id, sum(t.du) AS su
  FROM best b JOIN tab t ON t.s = b.s AND t.cid = b.cid
  GROUP BY b.vec_id
),
sc AS (
  SELECT vec_id,
         floor((CAST(su AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS approx_dist
  FROM su
),
rk AS (
  SELECT vec_id, approx_dist,
         CAST(row_number() OVER (ORDER BY approx_dist ASC, vec_id ASC)
              AS INTEGER) AS rank
  FROM sc
)
SELECT * FROM rk WHERE rank <= 10 ORDER BY rank
"""
    # Count-min sketch over the salted portable hash: bit-deterministic
    # (unlike the HLL registers), so the sketch itself is hash-checked
    cms_terms_sql = ", ".join(
        f"('{w}')" for w in sorted({t for t in BM25_QUERY.lower().split(" ") if t}))
    out["cms_token_counts"] = f"""
WITH toks AS (
  SELECT w FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE length(w) > 0
),
grid AS (SELECT unnest(range(0, 4)) AS j),
cells AS (
  SELECT g.j,
         CAST({PORTABLE_HASH.format(col="'cms' || g.j || ':' || t.w")} % 1024 AS INTEGER) AS col
  FROM toks t CROSS JOIN grid g
),
sketch AS (SELECT j, col, count(*) AS cnt FROM cells GROUP BY j, col),
terms(w) AS (VALUES {cms_terms_sql}),
probes AS (
  SELECT t.w, g.j,
         CAST({PORTABLE_HASH.format(col="'cms' || g.j || ':' || t.w")} % 1024 AS INTEGER) AS col
  FROM terms t CROSS JOIN grid g
),
est AS (
  SELECT p.w, min(s.cnt) AS est_count
  FROM probes p JOIN sketch s ON s.j = p.j AND s.col = p.col
  GROUP BY p.w
),
exact AS (
  SELECT w, count(*) AS exact_count FROM toks
  WHERE w IN (SELECT w FROM terms) GROUP BY w
)
SELECT e.w, CAST(e.est_count AS BIGINT) AS est_count,
       CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count
FROM est e LEFT JOIN exact x ON x.w = e.w
ORDER BY e.w
"""
    out["inverted_index"] = """
WITH pairs AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0
)
SELECT w, CAST(count(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM pairs GROUP BY w ORDER BY w
"""
    # BM25: every fp constant is emitted via repr() of the exact Python
    # double the Spark literal carries, and the SQL expression mirrors
    # the Spark operand order token-for-token; per-term weights are
    # integer-quantized before the per-doc sum (the micro-nat contract)
    from text_sentiment_classification_hadoop_spark_spark.operators.search import BM25_B, BM25_K1
    terms_sql = ", ".join(
        f"'{w}'" for w in sorted({t for t in BM25_QUERY.lower().split(" ") if t}))
    k1p1, k1r, onebr, br = (repr(BM25_K1 + 1.0), repr(BM25_K1),
                            repr(1.0 - BM25_B), repr(BM25_B))
    out["bm25_search"] = f"""
WITH toks AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents)
  WHERE length(w) > 0
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
scalars AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl),
qt AS (SELECT doc_id, w FROM toks WHERE w IN ({terms_sql})),
tf AS (SELECT doc_id, w, count(*) AS tf FROM qt GROUP BY doc_id, w),
dfreq AS (
  SELECT w, count(*) AS dfreq
  FROM (SELECT DISTINCT doc_id, w FROM qt) GROUP BY w
),
j AS (
  SELECT t.doc_id, t.tf, f.dfreq, d.dl, s.sum_dl, s.n_docs
  FROM tf t JOIN dfreq f ON f.w = t.w
  JOIN dl d ON d.doc_id = t.doc_id, scalars s
),
wt AS (
  SELECT doc_id,
    CAST(floor((ln((n_docs - dfreq + CAST(0.5 AS DOUBLE))
                   / (dfreq + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
      * (tf * CAST({k1p1} AS DOUBLE))
      / (tf + CAST({k1r} AS DOUBLE)
              * (CAST({onebr} AS DOUBLE)
                 + CAST({br} AS DOUBLE) * dl
                   / (CAST(sum_dl AS DOUBLE) / n_docs))))
      * 1000000.0 + 0.5) AS BIGINT) AS wu
  FROM j
),
sc AS (
  SELECT doc_id,
         floor((CAST(sum(wu) AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS score
  FROM wt GROUP BY doc_id
),
rk AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
  FROM sc
)
SELECT * FROM rk WHERE rank <= 20 ORDER BY rank
"""
    # SQ8 scalar quantization: per-dim min/max bounds derived in-query
    # (the Spark side embeds the same collected bounds as literals)
    sq8_au = ("au AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, "
              "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
              "bds AS (SELECT d, min(x) AS mn, max(x) AS mx FROM au GROUP BY d)")
    sq8_code = ("CAST(CASE WHEN b.mx = b.mn THEN 0 ELSE "
                "greatest(0.0, least(255.0, "
                "floor((au.x - b.mn) * 255.0 / (b.mx - b.mn) + 0.5))) END "
                "AS INTEGER)")
    out["sq8_codes"] = f"""
WITH {sq8_au}
SELECT au.vec_id, au.d, {sq8_code} AS code
FROM au JOIN bds b ON au.d = b.d
ORDER BY au.vec_id, au.d
"""
    out["sq8_recall_at10"] = f"""
WITH {sq8_au},
xh AS (
  SELECT au.vec_id, au.d,
         b.mn + CAST({sq8_code} AS DOUBLE)
              * (CASE WHEN b.mx = b.mn THEN 0.0
                      ELSE (b.mx - b.mn) / 255.0 END) AS x
  FROM au JOIN bds b ON au.d = b.d
),
q AS (SELECT generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS qx
      FROM embeddings WHERE vec_id = 0),
prods AS (
  SELECT xh.vec_id, sum(xh.x * q.qx) AS dot,
         sum(xh.x * xh.x) AS na2, sum(q.qx * q.qx) AS nq2
  FROM xh JOIN q ON xh.d = q.d GROUP BY xh.vec_id
),
ranked AS (
  SELECT vec_id,
         CAST(row_number() OVER (
           ORDER BY floor((dot / (sqrt(na2) * sqrt(nq2))) * 1000000.0 + 0.5)
                    / 1000000.0 DESC, vec_id) AS INTEGER) AS rank
  FROM prods
),
sq AS (SELECT vec_id FROM ranked WHERE rank <= 10),
a AS ({out["cosine_topk"]})
SELECT CAST(count(*) AS DOUBLE) / 10.0 AS recall_at_10
FROM a JOIN sq ON sq.vec_id = a.vec_id
"""
    # reciprocal-rank fusion of the BM25 top-20 and dense cosine top-20
    out["hybrid_rrf_search"] = f"""
WITH lex AS ({out["bm25_search"]}),
dense AS ({_cosine_sql("vec_id = 0", k=20, partition=False)}),
u AS (
  SELECT doc_id, CAST(1000000 AS BIGINT) // (60 + rank) AS c FROM lex
  UNION ALL
  SELECT vec_id AS doc_id, CAST(1000000 AS BIGINT) // (60 + rank) AS c
  FROM dense
),
s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro FROM u GROUP BY doc_id),
r AS (
  SELECT doc_id, rrf_micro,
         CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS rank
  FROM s
)
SELECT * FROM r WHERE rank <= 10 ORDER BY rank
"""
    # snapshot diff: FULL OUTER join over content digests; v2 is the
    # same deterministic perturbation the Spark side constructs
    out["corpus_diff"] = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 19 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN md5(o.text) <> md5(n.text) THEN 'changed'
            ELSE 'unchanged' END AS status
FROM documents o FULL OUTER JOIN v2 n ON n.doc_id = o.doc_id
ORDER BY doc_id
"""
    # per-source health report: means from exact integer sums (quality
    # is already 6-dp-quantized, so floor(q*1e6+0.5) is lossless)
    out["corpus_report"] = f"""
WITH qual AS ({out["quality_score"]}),
rep AS ({out["doc_repetition"]}),
tok AS ({out["token_counts"]}),
j AS (
  SELECT d.source AS "group", q.quality, r.repetitive, t.ws_tokens
  FROM documents d
  JOIN qual q ON q.doc_id = d.doc_id
  JOIN rep r ON r.doc_id = d.doc_id
  JOIN tok t ON t.doc_id = d.doc_id
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
  floor((CAST(sum(CAST(floor(quality * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_quality,
  floor((CAST(sum(repetitive) AS DOUBLE) / count(*))
        * 1000000.0 + 0.5) / 1000000.0 AS pct_repetitive,
  floor((CAST(sum(ws_tokens) AS DOUBLE) / count(*))
        * 1000000.0 + 0.5) / 1000000.0 AS mean_ws_tokens
FROM j GROUP BY "group" ORDER BY "group"
"""
    rate_case = ("CASE " + " ".join(
        f"WHEN lang = '{s}' THEN {p}"
        for s, p in sorted(STRATIFIED_RATES.items(), reverse=True))
        + " ELSE 100 END")
    out["stratified_sample_docs"] = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE ({PORTABLE_HASH.format(col="'sample:v1' || CAST(doc_id AS VARCHAR)")} % 100) < {rate_case}
ORDER BY doc_id
"""
    # DSIR (Xie et al. 2023): hashed unigram+bigram features, bucket
    # log-ratios in INTEGER micro-nats (the unigram_lm discipline), so
    # per-doc sums are exact and order-independent. Division shape
    # mirrors the Spark expression exactly: (x/y)/(u/v).
    _db = 4096  # curation.DSIR_BUCKETS
    _dh = PORTABLE_HASH.format(col="'dsir:v1:' || g")
    out["dsir_scores"] = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
),
uni AS (
  SELECT doc_id, lang, g FROM (SELECT doc_id, lang, unnest(toks) AS g FROM t)
  WHERE length(g) > 0
),
bi AS (
  SELECT doc_id, lang, w1 || ' ' || w2 AS g FROM (
    SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
    FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t))
),
feats AS (
  SELECT doc_id, lang, ({_dh}) % {_db} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
raw AS (SELECT b, count(*) AS cnt_r FROM feats GROUP BY b),
tgt AS (SELECT b, count(*) AS cnt_t FROM feats WHERE lang = 'en' GROUP BY b),
tots AS (
  SELECT (SELECT sum(cnt_r) FROM raw) AS n_r,
         (SELECT sum(cnt_t) FROM tgt) AS n_t
),
lam AS (
  SELECT r.b,
         CAST(floor(ln(((coalesce(t.cnt_t, 0) + 0.5) / (n_t + 0.5 * {_db}))
                       / ((r.cnt_r + 0.5) / (n_r + 0.5 * {_db})))
                    * 1000000.0 + 0.5) AS BIGINT) AS lam
  FROM raw r LEFT JOIN tgt t ON t.b = r.b, tots
),
per_doc AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(l.lam) AS BIGINT) AS dsir_micro_nats
  FROM feats f JOIN lam l ON l.b = f.b GROUP BY f.doc_id
)
SELECT d.doc_id, coalesce(p.n_feats, 0) AS n_feats,
       coalesce(p.dsir_micro_nats, 0) AS dsir_micro_nats
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""
    out["shuffle_split_docs"] = f"""
WITH k AS (
  SELECT doc_id,
         {PORTABLE_HASH.format(col="'split:v1:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       CASE WHEN shuffle_key % 100 < 10 THEN 'test'
            WHEN shuffle_key % 100 < 20 THEN 'val'
            ELSE 'train' END AS split,
       CAST((shuffle_key // 100) % 16 AS INTEGER) AS shard
FROM k ORDER BY doc_id
"""
    out["quota_select_docs"] = """
WITH r AS (
  SELECT doc_id, lang AS grp, CAST(n_chars AS BIGINT) AS score,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id ASC)
              AS INTEGER) AS rk
  FROM documents
)
SELECT doc_id, grp, score, rk FROM r WHERE rk <= 50 ORDER BY grp, rk
"""
    # per-dimension embedding stats: micro-unit integers before any
    # aggregation; variance off exact integers with ONE double division
    out["embedding_dim_stats"] = """
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS xu
  FROM embeddings
),
a AS (
  SELECT d, count(*) AS n, sum(xu) AS su,
         sum(CAST(xu AS HUGEINT) * xu) AS ssq,
         min(xu) AS mn_u, max(xu) AS mx_u
  FROM x GROUP BY d
)
SELECT CAST(d AS INTEGER) AS d, CAST(n AS BIGINT) AS n,
       floor((CAST(su AS DOUBLE) / n / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean,
       floor((CAST(CAST(n AS HUGEINT) * ssq - CAST(su AS HUGEINT) * su
                   AS DOUBLE) / (n * n) / 1000000000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS pop_var,
       CAST(mn_u AS DOUBLE) / 1000000.0 AS mn,
       CAST(mx_u AS DOUBLE) / 1000000.0 AS mx
FROM a ORDER BY d
"""
    out["hard_negatives"] = f"""
WITH hn AS ({_cosine_sql("vec_id < 3", k=15, partition=True)})
SELECT qid, vec_id, cosine, rank FROM hn WHERE rank >= 6
ORDER BY qid, rank
"""
    out["stream_neardup_candidates"] = f"""
WITH {DOCS_ALL_AUGMENTED},
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
)
SELECT a.doc_id, CAST(a.band AS INTEGER) AS band, b.doc_id AS cand_id
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id != b.doc_id
ORDER BY a.doc_id, band, cand_id
"""
    # largest-remainder apportionment in BIGINT: Σw = 4000 mills,
    # budget 1e6 tokens; targets sum to exactly the budget
    out["mixture_token_plan"] = """
WITH stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  t -> length(t) > 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
w(lang, w_mill) AS (
  VALUES ('en', 1500), ('de', 1000), ('fr', 750), ('es', 500), ('zh', 250)
),
j AS (
  SELECT s.lang, s.n_docs, s.n_tokens, w.w_mill
  FROM stats s JOIN w USING (lang)
),
p AS (
  -- Σw over PRESENT languages (not the static weight-list total): a
  -- weighted language absent from the corpus renormalizes away, which
  -- keeps leftover < row count and the exact-budget invariant intact
  SELECT lang, n_docs, n_tokens, w_mill,
         (1000000 * w_mill) // (SELECT sum(w_mill) FROM j) AS base,
         (1000000 * w_mill) % (SELECT sum(w_mill) FROM j) AS rem
  FROM j
),
r AS (
  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, lang ASC) AS BIGINT) AS rk,
         (SELECT 1000000 - sum(base) FROM p) AS leftover
  FROM p
)
SELECT lang, n_docs, n_tokens,
       CAST(w_mill AS DOUBLE) / 1000.0 AS w,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS target_tokens,
       CAST(CASE WHEN n_tokens > 0 THEN
         (CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             * 1000000) // n_tokens END AS BIGINT) AS epochs_micro
FROM r ORDER BY lang
"""
    out["training_manifest"] = f"""
WITH q AS ({out["quota_select_docs"]}),
ds AS ({out["dsir_scores"]}),
sp AS ({out["shuffle_split_docs"]})
SELECT q.doc_id, q.grp AS lang, q.score AS n_chars, q.rk,
       ds.dsir_micro_nats, sp.split, sp.shard
FROM q JOIN ds USING (doc_id) JOIN sp USING (doc_id)
ORDER BY q.doc_id
"""
    # Persistent-store drives: final store contents are
    # batch-order-invariant, so the oracles are plain batch recomputes.
    out["count_store_contents"] = """
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents)
GROUP BY word ORDER BY word
"""
    out["dedup_store_contents"] = """
SELECT DISTINCT md5(text) AS text_hash FROM documents ORDER BY text_hash
"""
    out["band_index_store_contents"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{_minhash_long_cte()}
SELECT doc_id, CAST(p // 4 AS INTEGER) AS band,
       md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
FROM sig_long GROUP BY doc_id, p // 4
ORDER BY doc_id, band
"""
    out["training_shards_readback"] = f"""
WITH sp AS ({out["shuffle_split_docs"]}),
m AS (SELECT sp.split, sp.shard, sp.shuffle_key, d.n_chars
      FROM sp JOIN documents d USING (doc_id))
SELECT split, shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(shuffle_key) AS min_key, max(shuffle_key) AS max_key
FROM m GROUP BY split, shard ORDER BY split, shard
"""
    out["mmr_rerank"] = _mmr_sql()
    out["knn_graph"] = _knn_graph_sql()
    out["dsir_resample_docs"] = f"""
WITH ds AS ({out["dsir_scores"]}),
keyed AS (
  -- log-space A-ES key ln(-ln u) - s/tau: monotone in -ln(u)/exp(s/tau)
  -- but saturation-proof (mirrors operators/curation.dsir_resample);
  -- u = 1 maps to -inf explicitly
  SELECT doc_id, dsir_micro_nats,
         CASE WHEN u >= 1.0 THEN CAST('-infinity' AS DOUBLE)
              ELSE ln(-ln(u))
                   - CAST(dsir_micro_nats AS DOUBLE) / 1000000.0 / 1.0
         END AS k
  FROM (
    SELECT doc_id, dsir_micro_nats,
           (({PORTABLE_HASH.format(col="'dsir-sample:v1:' || CAST(doc_id AS VARCHAR)")} % 1000000) + 1)
             / 1000000.0 AS u
    FROM ds
  )
),
ranked AS (
  SELECT doc_id, dsir_micro_nats,
         CAST(row_number() OVER (ORDER BY k ASC, doc_id ASC)
              AS INTEGER) AS rk
  FROM keyed
)
SELECT doc_id, dsir_micro_nats, rk FROM ranked WHERE rk <= 100 ORDER BY rk
"""
    out["textrank_keywords"] = _textrank_sql()
    _probe_arms = "\nUNION ALL\n".join(
        f"SELECT {n} AS n_probe, CAST((SELECT count(*) FROM exact e "
        f"JOIN p{n} ON p{n}.vec_id = e.vec_id) AS DOUBLE) / 10.0 "
        f"AS recall_at_10"
        for n in (1, 2, 3, 4))
    out["ivf_probe_sweep"] = (
        f"WITH exact AS MATERIALIZED ({out['cosine_topk']}),\n"
        + ",\n".join(
            f"p{n} AS MATERIALIZED (SELECT vec_id FROM ({_ivf_sql(n)}) t{n})"
            for n in (1, 2, 3, 4))
        + f"\n{_probe_arms}\nORDER BY n_probe")
    out["pmi_collocations"] = """
WITH post AS (
  SELECT doc_id, pos, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
           generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS pos
    FROM documents)
  WHERE length(term) > 0
),
pairs AS (
  SELECT least(a.term, b.term) AS w1, greatest(a.term, b.term) AS w2
  FROM post a
  JOIN (SELECT unnest(range(1, 4)) AS o) ofs ON TRUE
  JOIN post b ON b.doc_id = a.doc_id AND b.pos = a.pos + ofs.o
  WHERE a.term <> b.term
),
pc AS (SELECT w1, w2, count(*) AS n_pair FROM pairs GROUP BY w1, w2),
uni AS (SELECT term, count(*) AS n_term FROM post GROUP BY term),
tot AS (
  SELECT (SELECT sum(n_pair) FROM pc) AS n_p,
         (SELECT sum(n_term) FROM uni) AS n_u
),
scored AS (
  SELECT pc.w1, pc.w2, CAST(pc.n_pair AS BIGINT) AS n_pair,
         floor(ln((CAST(pc.n_pair AS DOUBLE) / n_p)
                  / ((CAST(ua.n_term AS DOUBLE) / n_u)
                     * (CAST(ub.n_term AS DOUBLE) / n_u)))
               * 1000000.0 + 0.5) / 1000000.0 AS pmi
  FROM pc
  JOIN uni ua ON ua.term = pc.w1
  JOIN uni ub ON ub.term = pc.w2, tot
  WHERE pc.n_pair >= 5
)
SELECT w1, w2, n_pair, pmi,
       CAST(row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)
            AS INTEGER) AS rank
FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
"""
    out["funnel_time_to_convert"] = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1
    ON s1.user_id = e.user_id AND e.ts >= s1.t
  WHERE e.event_type = 'view' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2
    ON s2.user_id = e.user_id AND e.ts >= s2.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3
    ON s3.user_id = e.user_id AND e.ts >= s3.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
g1 AS (SELECT CAST(floor(epoch(s2.t)) AS BIGINT) - CAST(floor(epoch(s1.t)) AS BIGINT)
         AS gap FROM s2 JOIN s1 USING (user_id)),
g2 AS (SELECT CAST(floor(epoch(s3.t)) AS BIGINT) - CAST(floor(epoch(s2.t)) AS BIGINT)
         AS gap FROM s3 JOIN s2 USING (user_id)),
g3 AS (SELECT CAST(floor(epoch(s4.t)) AS BIGINT) - CAST(floor(epoch(s3.t)) AS BIGINT)
         AS gap FROM s4 JOIN s3 USING (user_id)),
m1 AS (SELECT gap, row_number() OVER (ORDER BY gap) AS r,
              count(*) OVER () AS n FROM g1),
m2 AS (SELECT gap, row_number() OVER (ORDER BY gap) AS r,
              count(*) OVER () AS n FROM g2),
m3 AS (SELECT gap, row_number() OVER (ORDER BY gap) AS r,
              count(*) OVER () AS n FROM g3)
SELECT 1 AS stage_order, 'signup' AS from_stage, 'view' AS to_stage,
       CAST(n AS BIGINT) AS n_converted, CAST(gap AS BIGINT)
         AS median_gap_s
FROM m1 WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
UNION ALL
SELECT 2, 'view', 'click', CAST(n AS BIGINT), CAST(gap AS BIGINT)
FROM m2 WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
UNION ALL
SELECT 3, 'click', 'purchase', CAST(n AS BIGINT), CAST(gap AS BIGINT)
FROM m3 WHERE r = CAST(ceil(n / 2.0) AS BIGINT)
ORDER BY stage_order
"""
    out["cohort_value"] = """
WITH b AS (
  SELECT CAST(floor(CAST(epoch(min(ts) OVER (PARTITION BY user_id))
                         AS DOUBLE) / 604800) AS BIGINT) AS cw,
         CAST(floor(CAST(epoch(ts) AS DOUBLE) / 604800) AS BIGINT) AS ew,
         value
  FROM events
)
SELECT make_timestamp(cw * 604800 * 1000000) AS cohort_start,
       CAST(ew - cw AS INTEGER) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM b GROUP BY cw, ew ORDER BY cohort_start, week_offset
"""
    out["corpus_datacard"] = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         len(list_filter(string_split(text, ' '),
                         t -> length(t) > 0)) AS nt,
         md5(text) AS h
  FROM documents
),
dup AS (
  SELECT coalesce(sum(c), 0) AS n_dup FROM (
    SELECT count(*) AS c FROM base GROUP BY h HAVING count(*) > 1)
),
head AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(nt) AS BIGINT) AS total_ws_tokens
  FROM base
)
SELECT n_docs, n_langs, n_sources, total_ws_tokens,
       {IR("total_ws_tokens", "n_docs")} AS mean_doc_tokens,
       CAST(n_dup AS BIGINT) AS n_exact_dup_docs,
       {IR("n_dup", "n_docs")} AS dup_rate
FROM head, dup
"""
    out["user_entropy"] = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS c FROM events
  GROUP BY user_id, event_type
),
u AS (
  SELECT user_id,
         CAST(sum(c) AS BIGINT) AS n_events,
         sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT)) AS su
  FROM c GROUP BY user_id
)
SELECT user_id, n_events,
       floor((ln(CAST(n_events AS DOUBLE))
              - (CAST(su AS DOUBLE) / 1000000.0)
                / CAST(n_events AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS entropy_nats
FROM u ORDER BY user_id
"""
    out["events_hourly_profile"] = """
SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       floor(CAST(sum(CAST(value AS DECIMAL(18,2))) * 2000000
                  + count(*) AS DOUBLE) / CAST(2 * count(*) AS DOUBLE))
         / 1e6 AS mean_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["stream_hourly_profile"] = out["events_hourly_profile"]
    out["top_session_paths"] = """
WITH lagd AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid
  FROM lagd
),
firsts AS (
  SELECT user_id, sid, event_type,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM firsts WHERE rn <= 3 GROUP BY user_id, sid
),
counts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
  FROM paths GROUP BY path
)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
            AS INTEGER) AS rank
FROM counts ORDER BY n_sessions DESC, path ASC LIMIT 20
"""
    out["weighted_sample_docs"] = f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         -ln((({PORTABLE_HASH.format(col="'wsample:v1:' || CAST(doc_id AS VARCHAR)")} % 1000000) + 1)
             / 1000000.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, weight,
         CAST(row_number() OVER (ORDER BY k ASC, doc_id ASC)
              AS INTEGER) AS rk
  FROM keyed
)
SELECT doc_id, weight, rk FROM ranked WHERE rk <= 200 ORDER BY rk
"""
    out["pareto_orders"] = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
           AS day
  FROM orders
),
tiers AS (SELECT price, max(day) AS tier_day FROM base GROUP BY price),
tf AS (
  SELECT price, tier_day,
         max(tier_day) OVER (ORDER BY price ASC
                             ROWS BETWEEN 1 FOLLOWING
                             AND UNBOUNDED FOLLOWING) AS hi_day
  FROM tiers
),
front AS (
  SELECT price, tier_day FROM tf
  WHERE hi_day IS NULL OR tier_day > hi_day
)
SELECT b.o_orderkey, CAST(b.price AS DOUBLE) AS price,
       CAST(b.day AS BIGINT) AS day
FROM base b JOIN front f ON f.price = b.price AND b.day = f.tier_day
ORDER BY b.o_orderkey
"""
    out["cluster_keywords"] = _cluster_keywords_sql()
    out["events_gap_interp"] = """
WITH src AS (
  SELECT user_id, event_id, ts, value,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS slot
  FROM events WHERE user_id < 20
),
obs AS (
  SELECT user_id, slot, v FROM (
    SELECT user_id, slot, value AS v,
           row_number() OVER (PARTITION BY user_id, slot
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM src) WHERE rn = 1
),
bounds AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM bounds
),
j AS (
  SELECT g.user_id, g.slot, o.v, CAST(epoch(g.slot) AS BIGINT) AS se
  FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot
),
w AS (
  SELECT user_id, slot, v, se,
         last_value(v IGNORE NULLS) OVER wback AS pv,
         first_value(v IGNORE NULLS) OVER wfwd AS nv,
         last_value(CASE WHEN v IS NOT NULL THEN se END IGNORE NULLS)
           OVER wback AS ps,
         first_value(CASE WHEN v IS NOT NULL THEN se END IGNORE NULLS)
           OVER wfwd AS ns
  FROM j
  WINDOW wback AS (PARTITION BY user_id ORDER BY slot
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wfwd AS (PARTITION BY user_id ORDER BY slot
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, slot AS slot_ts,
       floor((CASE WHEN v IS NOT NULL THEN v
              ELSE pv + (nv - pv) * (CAST(se - ps AS DOUBLE)
                                     / CAST(ns - ps AS DOUBLE)) END)
             * 1000000.0 + 0.5) / 1000000.0 AS interp_value,
       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS observed
FROM w ORDER BY user_id, slot_ts
"""
    out["nb_pr_curve"] = f"""
WITH {DOCS_CTE},
sums AS (
  SELECT t.doc_id,
         sum(ln((m.pos_count + 1) / (s.pos_w + vb.v))) AS s_pos,
         sum(ln((m.neg_count + 1) / (s.neg_w + vb.v))) AS s_neg
  FROM tok_test t JOIN model m USING (word), stats s, vocab vb
  GROUP BY t.doc_id
),
marg AS (
  SELECT d.label,
         floor(((ln(s.pos_t / s.tweets) + coalesce(su.s_pos, 0.0))
                - (ln(s.neg_t / s.tweets) + coalesce(su.s_neg, 0.0)))
               * 1000000.0 + 0.5) / 1000000.0 AS m
  FROM test d LEFT JOIN sums su USING (doc_id), stats s
),
nsz AS (SELECT count(*) AS n FROM marg),
rk AS (SELECT m, row_number() OVER (ORDER BY m) AS r FROM marg),
thr AS (
  SELECT i, r.m AS threshold
  FROM (SELECT unnest(range(1, 10)) AS i), nsz, rk r
  WHERE r.r = CAST(ceil(i * n / 10.0) AS BIGINT)
),
pr AS (
  SELECT t.i, t.threshold,
         sum(CASE WHEN mg.m >= t.threshold AND mg.label = 1.0
                  THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN mg.m >= t.threshold AND mg.label <> 1.0
                  THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN mg.m < t.threshold AND mg.label = 1.0
                  THEN 1 ELSE 0 END) AS fn
  FROM thr t CROSS JOIN marg mg GROUP BY t.i, t.threshold
)
SELECT CAST(i AS INTEGER) AS thr_idx, threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp > 0 THEN {IR("tp", "tp + fp")} END AS "precision",
       CASE WHEN tp + fn > 0 THEN {IR("tp", "tp + fn")} END AS recall
FROM pr ORDER BY thr_idx
"""
    # Active-learning batch (_active_learning_batch): NB margin in
    # integer micro-nats on the test split, minus docs that are the
    # larger id of any MinHash-LSH near-dup pair over the full corpus,
    # then a per-predicted-class uncertainty quota. The plain
    # row_number here is what quota_select_salted equals by its
    # result-invariance contract (pytest-pinned equality).
    out["active_learning_batch"] = f"""
WITH {DOCS_CTE},
sums AS (
  SELECT t.doc_id,
         sum(ln((m.pos_count + 1) / (s.pos_w + vb.v))) AS s_pos,
         sum(ln((m.neg_count + 1) / (s.neg_w + vb.v))) AS s_neg
  FROM tok_test t JOIN model m USING (word), stats s, vocab vb
  GROUP BY t.doc_id
),
marg AS (
  SELECT d.doc_id,
         CAST(floor(((ln(s.pos_t / s.tweets) + coalesce(su.s_pos, 0.0))
                     - (ln(s.neg_t / s.tweets) + coalesce(su.s_neg, 0.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS m_micro
  FROM test d LEFT JOIN sums su USING (doc_id), stats s
),
docs_all AS (SELECT doc_id, text FROM docs),
{_minhash_long_cte()},
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY p)) AS bucket
  FROM sig_long GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS DOUBLE) / 16 AS est_jaccard
  FROM cand c
  JOIN sig_long sa ON sa.doc_id = c.id_a
  JOIN sig_long sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY c.id_a, c.id_b
),
excl AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE est_jaccard >= 0.5),
pool AS (
  SELECT m.doc_id,
         CASE WHEN m.m_micro > 0 THEN 'POS' ELSE 'NEG' END AS grp,
         -abs(m.m_micro) AS score
  FROM marg m WHERE m.doc_id NOT IN (SELECT doc_id FROM excl)
),
r AS (
  SELECT doc_id, grp, score,
         CAST(row_number() OVER (PARTITION BY grp
               ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rk
  FROM pool)
SELECT doc_id, grp, score, rk FROM r WHERE rk <= 25 ORDER BY grp, rk
"""
    # Exact tie-corrected ROC-AUC (_nb_auc): same scoring + margin
    # CTEs as nb_pr_curve, then the rank-sum identity over margin
    # tiers — U2 = Σ p·(2·cum_q_before + q) in pure BIGINT.
    out["nb_auc"] = f"""
WITH {DOCS_CTE},
sums AS (
  SELECT t.doc_id,
         sum(ln((m.pos_count + 1) / (s.pos_w + vb.v))) AS s_pos,
         sum(ln((m.neg_count + 1) / (s.neg_w + vb.v))) AS s_neg
  FROM tok_test t JOIN model m USING (word), stats s, vocab vb
  GROUP BY t.doc_id
),
marg AS (
  SELECT d.label,
         floor(((ln(s.pos_t / s.tweets) + coalesce(su.s_pos, 0.0))
                - (ln(s.neg_t / s.tweets) + coalesce(su.s_neg, 0.0)))
               * 1000000.0 + 0.5) / 1000000.0 AS m
  FROM test d LEFT JOIN sums su USING (doc_id), stats s
),
t AS MATERIALIZED (
  SELECT m,
         CAST(sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(sum(CASE WHEN label <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS q
  FROM marg GROUP BY m
),
c AS (
  SELECT p, q,
         coalesce(sum(q) OVER (ORDER BY m
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS qb
  FROM t
),
a AS (
  SELECT CAST(sum(p * (2 * qb + q)) AS BIGINT) AS u2,
         CAST(sum(p) AS BIGINT) AS np, CAST(sum(q) AS BIGINT) AS nq,
         CAST(count(*) AS BIGINT) AS nt
  FROM c
)
SELECT np AS n_pos, nq AS n_neg, nt AS n_tiers,
       {sql_ir38("u2", "2 * CAST(np AS DECIMAL(38,0)) * nq")} AS auc
FROM a
"""
    out["lang_id_confusion"] = f"""
WITH pred AS ({out["lang_id"]})
SELECT d.lang AS actual, p.pred_lang AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["events_anomalies"] = """
WITH observed AS (
  SELECT event_type,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS slot_ts,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS tot
  FROM events GROUP BY event_type, slot_ts
),
bounds AS (
  SELECT event_type, min(slot_ts) AS lo, max(slot_ts) AS hi
  FROM observed GROUP BY event_type
),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot_ts
  FROM bounds
),
hourly AS (
  -- dense zero-filled series: the 24-PRECEDING-ROWS frame below is a
  -- true wall-clock 24 h (mirrors operators/events.hourly_anomalies)
  SELECT g.event_type, g.slot_ts,
         CAST(coalesce(o.tot, 0) AS DECIMAL(18,2)) AS tot
  FROM grid g LEFT JOIN observed o
    ON o.event_type = g.event_type AND o.slot_ts = g.slot_ts
),
w AS (
  SELECT event_type, slot_ts, tot,
         count(tot) OVER win AS n,
         CAST(sum(tot) OVER win AS DOUBLE) AS s1,
         CAST(sum(CAST(tot * tot AS DECIMAL(38,4))) OVER win AS DOUBLE) AS s2
  FROM hourly
  WINDOW win AS (PARTITION BY event_type ORDER BY slot_ts
                 ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, slot_ts, CAST(tot AS DOUBLE) AS total,
         CASE WHEN n = 24
               AND (CAST(n AS DOUBLE) * s2 - s1 * s1)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) > 0
              THEN floor(((CAST(tot AS DOUBLE) - s1 / n)
                          / sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1)
                                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                         * 1000000.0 + 0.5) / 1000000.0
         END AS z
  FROM w
)
SELECT event_type, slot_ts, total, z,
       CAST(CASE WHEN z IS NOT NULL AND abs(z) >= 2.0 THEN 1 ELSE 0 END
            AS INTEGER) AS is_anomaly
FROM scored ORDER BY event_type, slot_ts
"""
    out["events_gap_fill"] = """
WITH src AS (
  SELECT user_id, event_id, ts, value,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS slot
  FROM events WHERE user_id < 20
),
obs AS (
  SELECT user_id, slot, v FROM (
    SELECT user_id, slot, value AS v,
           row_number() OVER (PARTITION BY user_id, slot
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM src) WHERE rn = 1
),
bounds AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi FROM obs GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot
  FROM bounds
)
SELECT g.user_id, g.slot AS slot_ts,
       last_value(o.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       CAST(CASE WHEN o.v IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS observed
FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.slot = g.slot
ORDER BY g.user_id, slot_ts
"""
    out["curation_observed_metrics"] = f"""
WITH g AS ({out["stream_curation_gates"]})
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept_narrow) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN reject_reason = 'lang' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN reject_reason = 'quality' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN reject_reason = 'repetitive' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive
FROM g
"""
    out["phrase_search"] = _phrase_sql(PHRASE_QUERY)
    # the 7th-line corruption never reaches the oracle: parseability is
    # decided by event_id arithmetic, so the counts come straight off
    # the table
    out["events_json_malformed"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT CASE WHEN event_id % 7 = 0 THEN '_corrupt'
              ELSE event_type END AS event_type
  FROM events)
GROUP BY event_type ORDER BY event_type
"""
    _split_case = (
        "CASE WHEN "
        + PORTABLE_HASH.format(col="'split:v1:' || CAST(doc_id AS VARCHAR)")
        + " % 100 < 10 THEN 'test' WHEN "
        + PORTABLE_HASH.format(col="'split:v1:' || CAST(doc_id AS VARCHAR)")
        + " % 100 < 20 THEN 'val' ELSE 'train' END")
    out["split_leakage_report"] = f"""
WITH nd AS ({out["near_dup_pairs"]}),
sp AS (
  SELECT doc_id, {_split_case} AS split
  FROM (SELECT doc_id FROM documents
        UNION ALL SELECT doc_id + 1000000 AS doc_id FROM documents)
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM nd
JOIN sp sa ON sa.doc_id = nd.id_a
JOIN sp sb ON sb.doc_id = nd.id_b
GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["ctfidf_keywords"] = """
WITH toks AS (
  SELECT grp, g AS term FROM (
    SELECT lang AS grp, unnest(string_split(lower(text), ' ')) AS g
    FROM documents)
  WHERE length(g) > 0
),
t AS (SELECT grp, term, count(*) AS tfc FROM toks GROUP BY grp, term),
ftab AS (SELECT term, count(*) AS f_t FROM toks GROUP BY term),
ar AS (
  SELECT sum(n) AS tot, count(*) AS g
  FROM (SELECT grp, sum(tfc) AS n FROM t GROUP BY grp)
),
idf AS (
  SELECT term,
         CAST(floor(ln(1.0 + (CAST(tot AS DOUBLE) / g) / f_t)
                    * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
  FROM ftab, ar
),
scored AS (
  SELECT t.grp, t.term, CAST(t.tfc AS BIGINT) AS tf,
         t.tfc * idf.idf_micro AS score_micro
  FROM t JOIN idf USING (term)
),
ranked AS (
  SELECT grp, term, tf, CAST(score_micro AS BIGINT) AS score_micro,
         CAST(row_number() OVER (PARTITION BY grp
                                 ORDER BY score_micro DESC, term ASC)
              AS INTEGER) AS rk
  FROM scored
)
SELECT grp, term, tf, score_micro, rk FROM ranked
WHERE rk <= 10 ORDER BY grp, rk
"""
    import math as _math
    _L = _math.lcm(*range(1, 11))
    _wd = [1 * (9 ** (d - 1)) * (10 ** (10 - d)) * (_L // d)
           for d in range(1, 11)]
    _W = [sum(_wd[m - 1:]) for m in range(1, 11)]
    _case = "CASE m " + " ".join(
        f"WHEN {m} THEN CAST({_W[m - 1]} AS BIGINT)"
        for m in range(1, 11)) + " END"
    out["ann_rbo_at10"] = f"""
WITH a AS ({out["cosine_topk"]}),
b AS ({out["ann_lsh_topk"]}),
j AS (
  SELECT greatest(a.rank, b.rank) AS m
  FROM a JOIN b ON b.vec_id = a.vec_id
)
SELECT CAST(coalesce(sum({_case}), 0) AS DOUBLE) / {float(_L * 10 ** 10)!r}
         AS rbo_min,
       CAST(count(*) AS BIGINT) AS n_common
FROM j
"""
    _ndcg_case = ("CASE b.rank " + " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)) + " END")
    out["ann_ndcg_at10"] = f"""
WITH a AS ({out["cosine_topk"]}),
b AS ({out["ann_lsh_topk"]}),
j AS (
  SELECT coalesce(11 - a.rank, 0) AS rel, {_ndcg_case} AS w
  FROM b LEFT JOIN a ON a.vec_id = b.vec_id
)
SELECT CAST((coalesce(sum(rel * w), 0) * 1000000) // {_NDCG_IDCG}
            AS BIGINT) AS ndcg_micro
FROM j
"""
    # The two MLlib fits: literal-VALUES oracles of the sf0.01 golden
    # counts (the driver compares at sf0.01 only). Deterministic because
    # the query pins an 8-partition sorted layout before the seeded
    # randomSplit — see _mllib_confusion / _MLLIB_GOLDEN_SF001.
    out["mllib_nb_confusion"] = _mllib_confusion_oracle("nb")
    out["mllib_svm_confusion"] = _mllib_confusion_oracle("svm")
    # Range join: the oracle runs the THETA form (interval containment,
    # no equi key) the Spark side replaces with a bin-bucketed equi
    # join — same pairs, O(candidates) instead of O(n·m).
    out["events_range_join"] = """
WITH hourly AS (
  SELECT event_type AS w_type,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS slot,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tops AS (
  SELECT w_type,
         slot - INTERVAL 30 MINUTE AS lo,
         slot + INTERVAL 90 MINUTE AS hi
  FROM (SELECT *, row_number() OVER (PARTITION BY w_type
                                     ORDER BY n DESC, slot ASC) AS rk
        FROM hourly)
  WHERE rk <= 3
),
pairs AS (
  SELECT t.w_type, t.lo, e.user_id
  FROM events e JOIN tops t ON e.ts >= t.lo AND e.ts < t.hi
)
SELECT w_type, lo AS w_lo, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["source_quality_report"] = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         len(list_filter(string_split(text, ' '),
                         t -> length(t) > 0)) AS nt,
         md5(text) AS h
  FROM documents
),
digests AS (
  SELECT h, count(*) AS c, count(DISTINCT source) AS nsrc
  FROM base GROUP BY h
),
enriched AS (
  SELECT b.*, d.c, d.nsrc FROM base b JOIN digests d USING (h)
),
per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(nt) AS BIGINT) AS total_ws_tokens,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         CAST(sum(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cross_source_dups
  FROM enriched GROUP BY source
),
modal AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           row_number() OVER (PARTITION BY source
                              ORDER BY count(*) DESC, lang ASC) AS rk
    FROM base GROUP BY source, lang)
  WHERE rk = 1
)
SELECT p.source, n_docs, n_langs, total_ws_tokens,
       {IR("total_ws_tokens", "n_docs")} AS mean_doc_tokens,
       n_dup_docs, n_cross_source_dups, top_lang
FROM per_source p JOIN modal m ON m.source = p.source
ORDER BY p.source
"""
    # Bitext mining: banded (2×8-plane) sign-LSH candidate generation
    # mirrored exactly (band b = planes [8b, 8b+8)), then mutual-best
    # alignment — the same plane literals similarity.plane_component
    # embeds in the Spark plan.
    out["bitext_mined_pairs"] = f"""
WITH {AU_ORIG},
planes AS (
  SELECT p.p, d.d,
         ({PORTABLE_HASH.format(col="'plane' || p.p || ':' || d.d")} % 2001 - 1000) / 1000.0 AS w
  FROM (SELECT unnest(range(0, 16)) AS p) p,
       (SELECT unnest(range(0, 64)) AS d) d
),
dots AS (
  SELECT au.vec_id, pl.p, sum(au.x * pl.w) AS dot
  FROM au JOIN planes pl ON au.d = pl.d
  GROUP BY au.vec_id, pl.p
),
buckets AS (
  SELECT vec_id, CAST(p // 8 AS INTEGER) AS band,
         sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << (p % 8))
                  ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM dots GROUP BY vec_id, p // 8
),
en_b AS (
  SELECT b.* FROM buckets b JOIN documents dd
    ON dd.doc_id = b.vec_id AND dd.lang = 'en'),
de_b AS (
  SELECT b.* FROM buckets b JOIN documents dd
    ON dd.doc_id = b.vec_id AND dd.lang = 'de'),
cand AS (
  SELECT DISTINCT e.vec_id AS src_id, g.vec_id AS tgt_id
  FROM en_b e JOIN de_b g ON e.band = g.band AND e.bucket = g.bucket
),
prods AS (
  SELECT c.src_id, c.tgt_id,
         sum(xa.x * xb.x) AS dot,
         sum(xa.x * xa.x) AS na2,
         sum(xb.x * xb.x) AS nb2
  FROM cand c
  JOIN au xa ON xa.vec_id = c.src_id
  JOIN au xb ON xb.vec_id = c.tgt_id AND xb.d = xa.d
  GROUP BY c.src_id, c.tgt_id
),
scored AS (
  SELECT src_id, tgt_id,
         floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM prods
  WHERE floor((dot / (sqrt(na2) * sqrt(nb2))) * 1000000.0 + 0.5) / 1000000.0 >= 0.25
),
r AS (
  SELECT src_id, tgt_id, cosine,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY cosine DESC, tgt_id ASC) AS rs,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY cosine DESC, src_id ASC) AS rt
  FROM scored
)
SELECT src_id, tgt_id, cosine FROM r WHERE rs = 1 AND rt = 1
ORDER BY src_id
"""
    # Streaming range join: batch theta-join oracle with exact decimal
    # value totals (windows = the same busiest-hour table).
    out["stream_range_join"] = """
WITH hourly AS (
  SELECT event_type AS w_type,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS slot,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tops AS (
  SELECT w_type,
         slot - INTERVAL 30 MINUTE AS lo,
         slot + INTERVAL 90 MINUTE AS hi
  FROM (SELECT *, row_number() OVER (PARTITION BY w_type
                                     ORDER BY n DESC, slot ASC) AS rk
        FROM hourly)
  WHERE rk <= 3
)
SELECT t.w_type, t.lo AS w_lo,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN tops t ON e.ts >= t.lo AND e.ts < t.hi
GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["shipping_priority"] = """
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       o.o_orderdate
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-30'
  AND l.l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
"""
    out["user_state_scd2"] = """
WITH runs AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
starts AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM runs WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER w AS valid_to,
       CAST(lead(valid_from) OVER w IS NULL AS INTEGER) AS is_current
FROM starts
WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
ORDER BY user_id, valid_from
"""
    out["events_asof_enrich"] = """
WITH v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
best AS (
  SELECT user_id, event_id, pid, pts FROM (
    SELECT v.user_id, v.event_id, p.event_id AS pid, p.ts AS pts,
           row_number() OVER (PARTITION BY v.user_id, v.event_id
                              ORDER BY p.ts, p.event_id) AS rk
    FROM v JOIN p ON p.user_id = v.user_id AND p.ts >= v.ts)
  WHERE rk = 1
)
SELECT v.user_id, v.event_id, v.ts,
       b.pid AS next_purchase_id, b.pts AS next_purchase_ts,
       CAST(epoch_us(b.pts) - epoch_us(v.ts) AS BIGINT) AS lag_us
FROM v LEFT JOIN best b ON b.user_id = v.user_id
                        AND b.event_id = v.event_id
ORDER BY v.user_id, v.event_id
"""
    out["ngram_novelty"] = f"""
WITH docs_all AS (SELECT doc_id, text FROM documents),
{SHINGLES_CTE},
h AS (
  SELECT DISTINCT doc_id, {PORTABLE_HASH.format(col='sh')} AS hh
  FROM shingles WHERE sh IS NOT NULL
),
firsts AS (SELECT hh, min(doc_id) AS first_doc FROM h GROUP BY hh),
per AS (
  SELECT h.doc_id, count(*) AS n_grams,
         sum(CASE WHEN f.first_doc = h.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM h JOIN firsts f USING (hh) GROUP BY h.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       {IR("n_novel", "n_grams")} AS novelty
FROM per ORDER BY doc_id
"""
    # table-maintenance round trips: the Spark side writes + reads back
    # scratch parquet; the oracle derives the SAME rollup straight from
    # the base table, so equality proves the layout op was lossless
    out["evolved_union_read"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN length(text) ELSE 0 END)
            AS BIGINT) AS sum_chars_v2,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_legacy
FROM documents GROUP BY lang ORDER BY lang
"""
    out["compaction_identity"] = f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price,
       CAST(sum({PORTABLE_HASH.format(col="CAST(o_orderkey AS VARCHAR)")}
                % 1000003) AS BIGINT) AS key_hash_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
    # round-7 TPC-H plan shapes. Shares (Q8/Q14) floor-divide exact
    # scaled integers — DuckDB's decimal // routes through float, so
    # the oracle scales the decimal sums to HUGEINT first.
    out["forecast_revenue_change"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""
    out["volume_shipping"] = """
WITH n AS (SELECT n_nationkey, n_name FROM nation
           WHERE n_name IN ('NATION_1', 'NATION_2'))
SELECT supp_nation, cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN (SELECT s_suppkey, n_name AS supp_nation
      FROM supplier JOIN n ON s_nationkey = n_nationkey) s
  ON l_suppkey = s.s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN (SELECT c_custkey, n_name AS cust_nation
      FROM customer JOIN n ON c_nationkey = n_nationkey) c
  ON o_custkey = c.c_custkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
    OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""
    out["market_share"] = """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         sn.n_name AS supp_nation,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
),
g AS (
  SELECT o_year,
         CAST(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
                            ELSE CAST(0 AS DECIMAL(18,2)) END)
                   AS DECIMAL(30,4)) * 10000 AS HUGEINT) AS num_i,
         CAST(CAST(sum(vol) AS DECIMAL(30,4)) * 10000 AS HUGEINT) AS den_i
  FROM j GROUP BY o_year
)
SELECT o_year,
       CAST((num_i * 1000000) // den_i AS BIGINT) AS mkt_share_micro
FROM g ORDER BY o_year
"""
    out["ship_delay_priority"] = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) < 30 THEN 'fast'
            WHEN date_diff('day', CAST(o_orderdate AS DATE),
                           CAST(l_shipdate AS DATE)) < 90 THEN 'medium'
            ELSE 'slow' END AS delay_band,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY delay_band ORDER BY delay_band
"""
    out["promo_revenue_share"] = """
WITH g AS (
  SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                            THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                 * (1 - CAST(l_discount AS DECIMAL(18,2)))
                            ELSE CAST(0 AS DECIMAL(18,2)) END)
                   AS DECIMAL(30,4)) * 10000 AS HUGEINT) AS num_i,
         CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS DECIMAL(30,4)) * 10000 AS HUGEINT) AS den_i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY ship_month
)
SELECT ship_month,
       CAST((num_i * 1000000) // den_i AS BIGINT) AS promo_share_micro
FROM g ORDER BY ship_month
"""
    out["disjunctive_band_revenue"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30
       AND l_quantity BETWEEN 20 AND 30)
"""
    out["dormant_customers"] = """
WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / count(*) AS a
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""
    out["nation_profit"] = """
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, o_year ORDER BY n_name, o_year
"""
    out["customer_order_distribution"] = """
WITH pc AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""
    out["top_supplier_revenue"] = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(r AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
ORDER BY s_suppkey
"""
    out["min_cost_supplier"] = """
WITH offers AS (
  SELECT p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
  GROUP BY p_partkey, p_brand, s_suppkey, s_name, s_acctbal, n_name
),
best AS (
  SELECT p_partkey AS pk, min(supply_cost) AS b FROM offers
  GROUP BY p_partkey
)
SELECT s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_brand, supply_cost
FROM offers JOIN best ON p_partkey = pk AND supply_cost = b
ORDER BY s_acctbal DESC, s_name, p_partkey
LIMIT 100
"""
    out["important_part_value"] = """
WITH val AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_9'
  GROUP BY l_partkey
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       CAST(v AS DOUBLE) AS part_value
FROM val
WHERE v * 1000 > (SELECT sum(v) FROM val) * 1
ORDER BY part_value DESC, p_partkey
"""
    out["parts_supplier_counts"] = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, CAST(p_size AS INTEGER) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""
    out["excess_stock_suppliers"] = """
WITH pairs AS (
  SELECT l_partkey, l_suppkey,
         sum(l_quantity) AS stock,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate <  TIMESTAMP '1997-01-01'
                  THEN l_quantity ELSE 0.0 END) AS demand
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY l_partkey, l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_9'
  AND s_suppkey IN (SELECT l_suppkey FROM pairs
                    WHERE stock > 2.0 * demand)
ORDER BY s_suppkey
"""
    out["waiting_suppliers"] = """
WITH po AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS nsupp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate
                                  + INTERVAL 90 DAY
                             THEN l_suppkey END) AS nlate,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN l_suppkey END) AS latesk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM po
JOIN supplier ON latesk = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE nsupp > 1 AND nlate = 1 AND n_name = 'NATION_9'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""
    out["embedding_drift_report"] = """
WITH ev AS (
  SELECT vec_id % 2 = 1 AS b,
         generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS xu
  FROM embeddings
),
g AS (
  SELECT d,
         sum(CASE WHEN NOT b THEN xu ELSE 0 END) AS sa,
         sum(CASE WHEN b THEN xu ELSE 0 END) AS sb,
         sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN b THEN 1 ELSE 0 END) AS nb
  FROM ev GROUP BY d
)
SELECT d,
       floor((CAST(sa AS DOUBLE) / na / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_a,
       floor((CAST(sb AS DOUBLE) / nb / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS mean_b,
       floor(((CAST(sb AS DOUBLE) / nb / 1000000.0)
              - (CAST(sa AS DOUBLE) / na / 1000000.0))
             * 1000000.0 + 0.5) / 1000000.0 AS shift
FROM g ORDER BY d
"""
    # IVM: the oracle is the FULL RECOMPUTE over the post-CDC snapshot
    # — equality proves the delta merge reconstructed it exactly
    out["incremental_agg_maintenance"] = """
WITH o AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
log AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 50 AS DOUBLE)
           AS new_price, 'update' AS op, 1 AS version
  FROM o WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete', 1
  FROM o WHERE o_orderkey % 5 = 3
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete', 2
  FROM o WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 25 AS DOUBLE),
         'update', 2
  FROM o WHERE o_orderkey % 5 = 2
),
latest AS (
  SELECT o_orderkey, new_price, op FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC) AS rk
    FROM log) WHERE rk = 1
),
applied AS (
  SELECT o.o_orderstatus,
         coalesce(l.new_price, o.o_totalprice) AS p
  FROM o LEFT JOIN latest l USING (o_orderkey)
  WHERE coalesce(l.op, 'keep') <> 'delete'
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM applied GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
    out["k_anonymity_report"] = """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS group_n,
       count(*) < 5 AS at_risk
FROM customer GROUP BY c_nationkey, c_mktsegment
ORDER BY c_nationkey, c_mktsegment
"""
    out["brand_median_price"] = """
WITH j AS (
  SELECT p_brand, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
r AS (
  SELECT p_brand, l_extendedprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY p_brand) AS n
  FROM j
)
SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
       CAST((n + 1) // 2 AS BIGINT) AS k,
       l_extendedprice AS median
FROM r WHERE rn = (n + 1) // 2 ORDER BY p_brand
"""
    out["supplier_cooccurrence"] = """
WITH rel AS (
  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT supp, count(*) AS d FROM rel GROUP BY supp),
pairs AS (
  SELECT a.supp AS supp_a, b.supp AS supp_b, count(*) AS n_co
  FROM rel a JOIN rel b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY a.supp, b.supp
)
SELECT CAST(supp_a AS BIGINT) AS supp_a, CAST(supp_b AS BIGINT) AS supp_b,
       CAST(n_co AS BIGINT) AS n_co,
       CAST((n_co * 1000000) // (da.d + db.d - n_co) AS BIGINT)
         AS jaccard_micro
FROM pairs
JOIN deg da ON pairs.supp_a = da.supp
JOIN deg db ON pairs.supp_b = db.supp
ORDER BY jaccard_micro DESC, supp_a ASC, supp_b ASC
LIMIT 20
"""
    out["events_rfm_segments"] = """
WITH p AS (SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
t0 AS (SELECT max(ts) AS t0 FROM p),
pu AS (
  SELECT user_id,
         min(date_diff('day', CAST(ts AS DATE), CAST(t0.t0 AS DATE)))
           AS rec_days,
         count(*) AS freq,
         sum(CAST(value AS DECIMAL(18,2))) AS spend
  FROM p, t0 GROUP BY user_id
),
b AS (
  SELECT CASE WHEN rec_days < 3 THEN 3 WHEN rec_days < 10 THEN 2
              ELSE 1 END AS r_band,
         CASE WHEN freq >= 10 THEN 3 WHEN freq >= 3 THEN 2
              ELSE 1 END AS f_band,
         CASE WHEN spend >= 500 THEN 3 WHEN spend >= 100 THEN 2
              ELSE 1 END AS m_band,
         spend
  FROM pu
)
SELECT CAST(r_band AS INTEGER) AS r_band,
       CAST(f_band AS INTEGER) AS f_band,
       CAST(m_band AS INTEGER) AS m_band,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(spend) AS DOUBLE) AS total_value
FROM b GROUP BY r_band, f_band, m_band
ORDER BY r_band, f_band, m_band
"""
    out["orders_merge_upsert"] = """
WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
upd AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE)
           AS new_price,
         'update' AS op
  FROM o WHERE o_orderkey % 7 = 0
),
del AS (
  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS new_price, 'delete' AS op
  FROM o WHERE o_orderkey % 13 = 5
),
ins AS (
  SELECT o_orderkey + 1000000000000 AS o_orderkey,
         o_totalprice AS new_price, 'insert' AS op
  FROM o WHERE o_orderkey % 11 = 2
),
ch0 AS (
  SELECT * FROM upd UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins
),
ch AS (
  SELECT o_orderkey, new_price, op FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY op) AS rk
    FROM ch0) WHERE rk = 1
)
SELECT o_orderkey,
       CASE WHEN c.op = 'delete' THEN o.o_totalprice
            ELSE coalesce(c.new_price, o.o_totalprice) END AS o_totalprice,
       coalesce(c.op, 'keep') AS action
FROM o FULL OUTER JOIN ch c USING (o_orderkey)
ORDER BY o_orderkey
"""
    out["weekly_active_users"] = """
WITH fan AS (
  SELECT make_timestamp(CAST(
           ((CAST(floor(epoch(ts)) AS BIGINT) // 86400) - k)
           * 86400 * 1000000 AS BIGINT)) AS window_start,
         user_id
  FROM events, (SELECT unnest(range(0, 7)) AS k)
)
SELECT window_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM fan GROUP BY window_start ORDER BY window_start
"""
    out["revenue_trend_ols"] = """
WITH m AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS mi,
         sum(CAST(value AS DECIMAL(18,2))) AS y
  FROM events GROUP BY 1
),
a AS (
  SELECT count(*) AS n, sum(mi) AS sx, sum(mi * mi) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(mi AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxy
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_days,
  floor(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        * 1000000.0 + 0.5) / 1000000.0 AS slope,
  floor(((sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS intercept
FROM a
"""
    out["holdout_ab_lift"] = f"""
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
arm AS (
  SELECT conv,
         CASE WHEN ({PORTABLE_HASH.format(col="'ab:v1:' || CAST(user_id AS VARCHAR)")} % 100) < 50
              THEN 1 ELSE 0 END AS b
  FROM pu
),
a AS (
  SELECT sum(1 - b) AS n_a, sum(b) AS n_b,
         sum(CASE WHEN b = 0 THEN conv ELSE 0 END) AS conv_a,
         sum(CASE WHEN b = 1 THEN conv ELSE 0 END) AS conv_b
  FROM arm
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
       {IR("conv_a", "n_a")} AS rate_a,
       {IR("conv_b", "n_b")} AS rate_b,
       CASE WHEN conv_a * n_b > 0
            THEN CAST((CAST(conv_b AS HUGEINT) * n_a * 1000000)
                      // (CAST(conv_a AS HUGEINT) * n_b) AS BIGINT)
       END AS lift_micro
FROM a
"""
    # CUPED (events.cuped_ab_lift): the twelve sufficient statistics
    # are re-derived in plain SQL; the output arithmetic is the SAME
    # shared-dialect text cuped_output_exprs() returns — the engines
    # share one definition of theta/delta/rho2 by construction.
    from text_sentiment_classification_hadoop_spark_spark.operators.events import cuped_output_exprs
    _cu = cuped_output_exprs()
    out["cuped_ab_lift"] = f"""
WITH bounds AS (
  SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
          + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS mid
  FROM events
),
pu AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase'
                   AND epoch_us(ts) < (SELECT mid FROM bounds)
                  THEN 1 ELSE 0 END) AS x,
         sum(CASE WHEN event_type = 'purchase'
                   AND epoch_us(ts) >= (SELECT mid FROM bounds)
                  THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
arm AS (
  SELECT x, y,
         CASE WHEN ({PORTABLE_HASH.format(col="'ab:v1:' || CAST(user_id AS VARCHAR)")} % 100) < 50
              THEN 1 ELSE 0 END AS b
  FROM pu
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(1 - b) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN b = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         CAST(sum(CASE WHEN b = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         CAST(sum(CASE WHEN b = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         CAST(sum(CASE WHEN b = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
  FROM arm
)
SELECT n_a, n_b,
       {_cu["theta"]} AS theta,
       {_cu["delta_raw"]} AS delta_raw,
       {_cu["delta_cuped"]} AS delta_cuped,
       {_cu["rho2"]} AS rho2
FROM a
"""
    # Theil–Sen (events.theilsen_trend): pairwise slopes re-derived with
    # the SAME sql_ir38 quantization text, lower medians as the same
    # ⌈n/2⌉-th order statistic.
    _ts_slope = sql_ir38("b.yc - a.yc", "100 * (b.d - a.d)")
    out["theilsen_trend"] = f"""
WITH daily AS MATERIALIZED (
  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1
),
pairs AS MATERIALIZED (
  SELECT {_ts_slope} AS s
  FROM daily a JOIN daily b ON a.d < b.d
),
med AS MATERIALIZED (
  SELECT s AS slope, (SELECT count(*) FROM pairs) AS n_pairs
  FROM (SELECT s, row_number() OVER (ORDER BY s) AS rk FROM pairs)
  WHERE rk = ((SELECT count(*) FROM pairs) + 1) // 2
),
resid AS (
  SELECT m.slope, m.n_pairs, (d.yc / 100.0 - m.slope * d.d) AS r
  FROM daily d CROSS JOIN med m
)
SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       slope,
       floor(r * 1000000.0 + 0.5) / 1000000.0 AS intercept
FROM (SELECT slope, n_pairs, r,
             row_number() OVER (ORDER BY r) AS rk FROM resid)
WHERE rk = ((SELECT count(*) FROM daily) + 1) // 2
"""
    # Exact two-sample KS (relational.ks_price_shift): the oracle's
    # plain window prefix sums replay the engine's two-phase form; the
    # gap stays cross-multiplied DECIMAL(38,0) until the one sql_ir38
    # quantization, and the argmax tie-break is the same min-cents.
    _ks_gap = ("abs(CAST(ca AS DECIMAL(38,0)) * (SELECT nb FROM tot) "
               "- CAST(cb AS DECIMAL(38,0)) * (SELECT na FROM tot))")
    out["ks_price_shift"] = f"""
WITH t AS MATERIALIZED (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM lineitem GROUP BY 1
),
tot AS MATERIALIZED (SELECT sum(a) AS na, sum(b) AS nb FROM t),
cums AS (
  SELECT c, sum(a) OVER (ORDER BY c) AS ca, sum(b) OVER (ORDER BY c) AS cb
  FROM t
),
d AS MATERIALIZED (SELECT c, {_ks_gap} AS dv FROM cums),
m AS (SELECT max(dv) AS mx FROM d)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST((SELECT count(*) FROM t) AS BIGINT) AS n_tiers,
       {sql_ir38("(SELECT mx FROM m)", "CAST(na AS DECIMAL(38,0)) * nb")}
         AS ks,
       (SELECT min(c) FROM d WHERE dv = (SELECT mx FROM m)) / 100.0
         AS at_price
FROM tot
"""
    out["stream_asof_enrich"] = """
WITH v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT v.user_id, v.event_id, v.ts, p.event_id AS pid, p.ts AS pts,
         row_number() OVER (PARTITION BY v.user_id, v.event_id
                            ORDER BY p.ts DESC, p.event_id DESC) AS rk
  FROM v JOIN p ON p.user_id = v.user_id AND p.ts <= v.ts
)
SELECT user_id, event_id, ts, pid AS last_purchase_id,
       CAST(epoch_us(ts) - epoch_us(pts) AS BIGINT) AS gap_us
FROM b WHERE rk = 1 ORDER BY user_id, event_id
"""
    out["temperature_mixture_plan"] = f"""
WITH stats AS (
  SELECT lang,
         CAST(sum(len(list_filter(string_split(text, ' '),
                                  t -> length(t) > 0))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_tokens) AS total FROM stats),
p AS (
  SELECT lang, n_tokens,
         CAST(floor({IR("n_tokens", "total")} * 1000000.0 + 0.5)
              AS BIGINT) AS p_micro
  FROM stats, tot
),
w AS (
  SELECT lang, n_tokens, p_micro,
         CAST(floor(pow(p_micro / 1000000.0, 0.3) * 1000000.0 + 0.5)
              AS BIGINT) AS w_micro
  FROM p
),
tw AS (SELECT sum(w_micro) AS tw FROM w),
base AS (
  SELECT w.*, (1000000 * w_micro) // tw.tw AS b,
         (1000000 * w_micro) % tw.tw AS rem
  FROM w, tw
),
lo AS (SELECT 1000000 - sum(b) AS leftover FROM base),
rk AS (
  SELECT base.*, row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
  FROM base
)
SELECT lang, n_tokens, p_micro, w_micro,
       CAST(b + CASE WHEN rk <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
         AS target_tokens
FROM rk, lo ORDER BY lang
"""
    out["exact_median_price"] = """
WITH n AS (SELECT count(*) AS n FROM lineitem),
r AS (
  SELECT l_extendedprice,
         row_number() OVER (ORDER BY l_extendedprice) AS rn
  FROM lineitem
)
SELECT CAST(n.n AS BIGINT) AS n_rows,
       CAST((n.n + 1) // 2 AS BIGINT) AS k,
       r.l_extendedprice AS median
FROM r, n WHERE r.rn = (n.n + 1) // 2
"""
    out["orders_cdc_apply"] = """
WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
log AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 50 AS DOUBLE)
           AS new_price, 'update' AS op, 1 AS version
  FROM o WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete', 1
  FROM o WHERE o_orderkey % 5 = 3
  UNION ALL
  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete', 2
  FROM o WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 25 AS DOUBLE),
         'update', 2
  FROM o WHERE o_orderkey % 5 = 2
),
latest AS (
  SELECT o_orderkey, new_price, op, version FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC) AS rk
    FROM log) WHERE rk = 1
)
SELECT o.o_orderkey,
       coalesce(l.new_price, o.o_totalprice) AS o_totalprice,
       CAST(coalesce(l.version, 0) AS INTEGER) AS last_version
FROM o LEFT JOIN latest l USING (o_orderkey)
WHERE coalesce(l.op, 'keep') <> 'delete'
ORDER BY o.o_orderkey
"""
    out["small_quantity_revenue"] = """
WITH l AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
pp AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           / count(*) AS avg_qty
  FROM l GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / 7.0 AS avg_yearly
FROM l JOIN pp USING (l_partkey)
WHERE l.l_quantity < 0.2 * pp.avg_qty
"""
    out["label_silhouette"] = """
WITH ev AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS lbl, d,
         floor((CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
                     AS DOUBLE)
                / count(*) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS c
  FROM ev GROUP BY label, d
),
cn AS (SELECT lbl, sqrt(sum(c * c)) AS nc FROM cent GROUP BY lbl),
nv AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM ev GROUP BY vec_id),
vc AS (
  SELECT ev.vec_id, ev.label, cent.lbl, sum(ev.x * cent.c) AS dot
  FROM ev JOIN cent ON ev.d = cent.d
  GROUP BY ev.vec_id, ev.label, cent.lbl
),
scored AS (
  SELECT vc.vec_id, vc.label, vc.lbl,
         floor((vc.dot / (nv.nv * cn.nc)) * 1000000.0 + 0.5) / 1000000.0
           AS cos
  FROM vc JOIN cn USING (lbl) JOIN nv USING (vec_id)
),
own AS (SELECT vec_id, label, cos AS own_cos FROM scored WHERE lbl = label),
oth AS (
  SELECT vec_id, cos AS other_cos FROM (
    SELECT vec_id, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, lbl ASC) AS rk
    FROM scored WHERE lbl <> label) WHERE rk = 1
),
per AS (
  SELECT o.vec_id, o.label,
         CAST(floor(o.own_cos * 1000000.0 + 0.5) AS BIGINT) AS mo,
         CAST(floor(t.other_cos * 1000000.0 + 0.5) AS BIGINT) AS mt,
         CASE WHEN t.other_cos > o.own_cos THEN 1 ELSE 0 END AS conf
  FROM own o JOIN oth t USING (vec_id)
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
  floor((CAST(sum(mo) AS DOUBLE) / count(*) / 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_own_cos,
  floor((CAST(sum(mt) AS DOUBLE) / count(*) / 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_other_cos,
  floor((CAST(sum(mo) - sum(mt) AS DOUBLE) / count(*) / 1000000.0)
        * 1000000.0 + 0.5) / 1000000.0 AS mean_margin,
  CAST(sum(conf) AS BIGINT) AS n_confused
FROM per GROUP BY label ORDER BY label
"""
    out["embedding_outliers"] = """
WITH ev AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS lbl, d,
         floor((CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
                     AS DOUBLE)
                / count(*) / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS c
  FROM ev GROUP BY label, d
),
cn AS (SELECT lbl, sqrt(sum(c * c)) AS nc FROM cent GROUP BY lbl),
nv AS (SELECT vec_id, sqrt(sum(x * x)) AS nv FROM ev GROUP BY vec_id),
vc AS (
  SELECT ev.vec_id, ev.label, sum(ev.x * cent.c) AS dot
  FROM ev JOIN cent ON ev.d = cent.d AND ev.label = cent.lbl
  GROUP BY ev.vec_id, ev.label
),
scored AS (
  SELECT vc.vec_id, vc.label,
         floor((vc.dot / (nv.nv * cn.nc)) * 1000000.0 + 0.5) / 1000000.0
           AS own_cos
  FROM vc JOIN cn ON vc.label = cn.lbl JOIN nv USING (vec_id)
)
SELECT label, CAST(vec_id AS BIGINT) AS vec_id, own_cos,
       CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY own_cos ASC, vec_id ASC) AS rnk
      FROM scored)
WHERE rnk <= 5
ORDER BY label, rnk
"""
    out["source_overlap"] = """
WITH fp AS (
  SELECT DISTINCT source, substr(text, 1, 80) AS f FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(DISTINCT a.f) AS BIGINT) AS shared_fingerprints
FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY shared_fingerprints DESC, source_a, source_b
"""
    out["length_percentile_docs"] = f"""
WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cle FROM h),
nn AS (SELECT count(*) AS n FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       {IR("cle", "n")} AS pct_rank
FROM documents JOIN cum ON n_chars = v CROSS JOIN nn
ORDER BY doc_id
"""
    out["doc_length_gini"] = f"""
WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
cum AS (SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cb
        FROM h),
s AS (SELECT sum(v * (c * cb + (c * (c + 1)) // 2)) AS sr,
             sum(v * c) AS t, sum(c) AS n
      FROM cum)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS total_chars,
       {IR("2 * sr - (n + 1) * t", "n * t")} AS gini
FROM s
"""
    from text_sentiment_classification_hadoop_spark_spark.operators.relational import (
        BENFORD_MICRO)
    _bvals = ", ".join(f"({d}, {int(BENFORD_MICRO[d])})" for d in range(1, 10))
    out["benford_prices"] = f"""
WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  AS cents FROM orders),
per AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER)
               AS digit, count(*) AS n
        FROM c GROUP BY 1),
tt AS (SELECT count(*) AS t FROM c),
b(digit, bexp) AS (VALUES {_bvals}),
o AS (SELECT per.digit, n, bexp,
             CAST(floor(((CAST(n AS DECIMAL(30,0)) * 2000000 + t)
                         - (CAST(n AS DECIMAL(30,0)) * 2000000 + t)
                           % (CAST(t AS DECIMAL(30,0)) * 2))
                        / (CAST(t AS DECIMAL(30,0)) * 2) + 0.5) AS BIGINT)
               AS obs
      FROM per CROSS JOIN tt JOIN b ON b.digit = per.digit)
SELECT digit, CAST(n AS BIGINT) AS n_orders, obs AS observed_micro,
       CAST(bexp AS BIGINT) AS benford_micro,
       abs(obs - CAST(bexp AS BIGINT)) AS dev_micro
FROM o ORDER BY digit
"""
    out["revenue_mom_growth"] = f"""
WITH m AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month_key,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1),
l AS (SELECT month_key, rev_cents,
             lag(rev_cents) OVER (ORDER BY month_key) AS prev_cents
      FROM m)
SELECT CAST(month_key AS INTEGER) AS month_key, rev_cents, prev_cents,
       CASE WHEN prev_cents IS NOT NULL
            THEN {IR("rev_cents", "prev_cents")} END AS mom_ratio
FROM l ORDER BY month_key
"""
    out["cusum_changepoint"] = f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM events GROUP BY 1),
cum AS (SELECT day,
               CAST(sum(y) OVER (ORDER BY day) AS DECIMAL(38,0)) AS c,
               CAST(row_number() OVER (ORDER BY day) AS DECIMAL(38,0)) AS k
        FROM d),
tot AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
               CAST(sum(y) AS DECIMAL(38,0)) AS gt
        FROM d),
s AS (SELECT day, n, gt, abs(n * c - k * gt) AS ns
      FROM cum CROSS JOIN tot)
SELECT day AS change_day, CAST(n AS BIGINT) AS n_days,
       CAST(gt AS BIGINT) AS total_cents,
       {IR("ns", "n * gt")} AS cusum_frac
FROM s ORDER BY ns DESC, day LIMIT 1
"""
    out["interarrival_hist"] = f"""
WITH g AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events),
gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
per AS (SELECT CASE WHEN gap = 0 THEN 0
                    ELSE CAST(length(bin(gap)) AS INTEGER) END AS bucket,
               count(*) AS n
        FROM gg GROUP BY 1),
tt AS (SELECT count(*) AS t FROM gg)
SELECT bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE 1 << (bucket - 1) END AS BIGINT) AS lo_seconds,
       CAST(n AS BIGINT) AS n_gaps,
       {IR("n", "t")} AS share_frac
FROM per CROSS JOIN tt ORDER BY bucket
"""
    out["doc_lexical_stats"] = rf"""
WITH s AS (
  SELECT doc_id,
    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT)
      AS n_distinct,
    CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS chars,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS vg
  FROM documents)
SELECT doc_id, n_tokens, n_distinct,
       {IR("n_distinct", "n_tokens")} AS ttr_frac,
       {IR("chars", "n_tokens")} AS mean_word_len_frac,
       {IR("vg", "n_tokens")} AS vgroups_per_word_frac
FROM s ORDER BY doc_id
"""
    _mp = """SELECT node, min(cost) AS cost FROM (
    SELECT node, cost FROM {prev}
    UNION ALL
    SELECT e.dst AS node, d.cost + e.cost AS cost
    FROM {prev} d JOIN edges e ON e.src = d.node) GROUP BY node"""
    out["copurchase_cheapest_paths"] = f"""
WITH rel AS MATERIALIZED (
  SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp, count(*) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT cust AS src, supp AS dst, CAST(1000000 // w AS BIGINT) AS cost
  FROM rel
  UNION ALL
  SELECT supp AS src, cust AS dst, CAST(1000000 // w AS BIGINT) AS cost
  FROM rel),
d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),
r1 AS MATERIALIZED ({_mp.format(prev="d0")}),
r2 AS MATERIALIZED ({_mp.format(prev="r1")}),
r3 AS MATERIALIZED ({_mp.format(prev="r2")}),
r4 AS MATERIALIZED ({_mp.format(prev="r3")})
SELECT node, CAST(cost AS BIGINT) AS cost FROM r4 ORDER BY node
"""
    _pit = []
    for _k in range(1, 9):
        _pv = "v0" if _k == 1 else f"v{_k - 1}"
        _pit.append(f"""w{_k} AS MATERIALIZED (
  SELECT c.i AS d, sum(c.cij * v.v) AS w
  FROM c JOIN {_pv} v ON v.d = c.j GROUP BY 1),
v{_k} AS MATERIALIZED (
  SELECT d, CASE WHEN w < 0 THEN -1 ELSE 1 END
            * ((abs(w) * 1000000) // (SELECT max(abs(w)) FROM w{_k}))
            AS v
  FROM w{_k})""")
    out["embedding_pca_power"] = f"""
WITH au AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS xu
  FROM embeddings),
gram AS MATERIALIZED (
  SELECT a.d AS i, b.d AS j,
         CAST(sum(CAST(a.xu AS HUGEINT) * b.xu) AS HUGEINT) AS g
  FROM au a JOIN au b ON a.vec_id = b.vec_id GROUP BY 1, 2),
su AS (SELECT d, CAST(sum(xu) AS HUGEINT) AS s FROM au GROUP BY d),
c AS MATERIALIZED (
  SELECT gram.i, gram.j,
         (SELECT count(*) FROM embeddings) * g - si.s * sj.s AS cij
  FROM gram JOIN su si ON si.d = gram.i JOIN su sj ON sj.d = gram.j),
v0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v FROM su),
{", ".join(_pit)}
SELECT CAST(d AS INTEGER) AS d, CAST(v AS BIGINT) AS loading_micro
FROM v8 ORDER BY d
"""

    def _imicro(n: str, t: str) -> str:
        a = f"(CAST({n} AS DECIMAL(30,0)) * 2000000 + {t})"
        b = f"(CAST({t} AS DECIMAL(30,0)) * 2)"
        return f"CAST(floor(({a} - {a} % {b}) / {b} + 0.5) AS BIGINT)"

    out["events_value_drift"] = f"""
WITH bnd AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
                    CAST(floor(epoch(max(ts))) AS BIGINT) AS hi
             FROM events),
x AS (SELECT CASE WHEN c = 0 THEN 0
                  ELSE CAST(length(bin(c)) AS INTEGER) END AS bucket,
             CASE WHEN s > (lo + hi) // 2 THEN 1 ELSE 0 END AS half
      FROM (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s
            FROM events) CROSS JOIN bnd),
per AS (SELECT bucket, sum(1 - half) AS na, sum(half) AS nb
        FROM x GROUP BY 1),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM per),
m AS (SELECT bucket, na, nb,
             {_imicro("na", "ta")} AS p,
             {_imicro("nb", "tb")} AS q
      FROM per CROSS JOIN tot)
SELECT bucket, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       p AS p_micro, q AS q_micro,
       CASE WHEN p + q > 0 THEN (p - q) * (p - q) // (p + q)
            ELSE CAST(0 AS BIGINT) END AS contrib_micro
FROM m ORDER BY bucket
"""
    out["basket_rules_topk"] = """
WITH rel AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
nn AS (SELECT count(DISTINCT cust) AS nt FROM rel),
deg AS (SELECT supp, count(*) AS deg FROM rel GROUP BY 1),
pairs AS (
  SELECT a.supp AS sa, b.supp AS sb, count(*) AS n_co
  FROM rel a JOIN rel b ON a.cust = b.cust AND a.supp < b.supp
  GROUP BY 1, 2 HAVING count(*) >= 2),
dirs AS (
  SELECT sa AS ante, sb AS cons, n_co FROM pairs
  UNION ALL
  SELECT sb AS ante, sa AS cons, n_co FROM pairs),
j AS (SELECT ante, cons, da.deg AS na, dc.deg AS nc, n_co, nt
      FROM dirs
      JOIN deg da ON da.supp = ante
      JOIN deg dc ON dc.supp = cons
      CROSS JOIN nn)
SELECT ante, cons, CAST(na AS BIGINT) AS n_ante,
       CAST(nc AS BIGINT) AS n_cons, CAST(n_co AS BIGINT) AS n_co,
       CAST((n_co * 1000000) // nt AS BIGINT) AS support_micro,
       CAST((n_co * 1000000) // na AS BIGINT) AS confidence_micro,
       CAST((CAST(n_co AS HUGEINT) * nt * 1000000)
            // (CAST(na AS HUGEINT) * nc) AS BIGINT) AS lift_micro
FROM j ORDER BY lift_micro DESC, ante, cons LIMIT 20
"""
    out["nb_calibration"] = f"""
WITH {DOCS_CTE},
sums AS (
  SELECT t.doc_id,
         sum(ln((m.pos_count + 1) / (s.pos_w + vb.v))) AS s_pos,
         sum(ln((m.neg_count + 1) / (s.neg_w + vb.v))) AS s_neg
  FROM tok_test t JOIN model m USING (word), stats s, vocab vb
  GROUP BY t.doc_id
),
marg AS (
  SELECT d.doc_id, d.label,
         floor(((ln(s.pos_t / s.tweets) + coalesce(su.s_pos, 0.0))
                - (ln(s.neg_t / s.tweets) + coalesce(su.s_neg, 0.0)))
               * 1000000.0 + 0.5) / 1000000.0 AS m
  FROM test d LEFT JOIN sums su USING (doc_id), stats s
),
bk AS (
  SELECT ntile(10) OVER (ORDER BY m, doc_id) AS bucket, label, m
  FROM marg
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos,
       {IR("sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END)", "count(*)")}
         AS pos_rate_micro,
       min(m) AS min_m, max(m) AS max_m
FROM bk GROUP BY bucket ORDER BY bucket
"""
    out["brand_price_deciles"] = """
WITH x AS (SELECT p_brand, p_partkey,
                  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS c
           FROM part),
t AS (SELECT p_brand,
             ntile(10) OVER (PARTITION BY p_brand
                             ORDER BY c, p_partkey) AS decile, c
      FROM x)
SELECT p_brand, decile, CAST(count(*) AS BIGINT) AS n_parts,
       min(c) AS lo_cents, max(c) AS hi_cents
FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["l_diversity_report"] = """
WITH x AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c = 0 THEN 0
              WHEN c < 0 THEN -CAST(length(bin(abs(c))) AS INTEGER)
              ELSE CAST(length(bin(abs(c))) AS INTEGER) END AS band
  FROM (SELECT c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        FROM customer))
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS group_n,
       CAST(count(DISTINCT band) AS BIGINT) AS n_sensitive,
       count(DISTINCT band) < 3 AS at_risk
FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""
    out["conversion_lifetable"] = f"""
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN d END) AS fv,
         min(CASE WHEN event_type = 'purchase' THEN d END) AS fp
  FROM (SELECT user_id, event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events) GROUP BY user_id),
hz AS (SELECT max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
              AS h
       FROM events),
u AS (SELECT CASE WHEN fp IS NOT NULL AND fp >= fv THEN 1 ELSE 0 END
               AS ev,
             CASE WHEN fp IS NOT NULL AND fp >= fv THEN fp - fv
                  ELSE h - fv END AS dur
      FROM pu CROSS JOIN hz WHERE fv IS NOT NULL),
per AS (SELECT CASE WHEN dur = 0 THEN 0
                    ELSE CAST(length(bin(dur)) AS INTEGER) END AS bucket,
               sum(ev) AS nev, sum(1 - ev) AS ncen
        FROM u GROUP BY 1),
nt AS (SELECT count(*) AS n FROM u),
cum AS (SELECT bucket, nev, ncen,
               coalesce(sum(nev + ncen)
                        OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS xb
        FROM per)
SELECT bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE 1 << (bucket - 1) END AS BIGINT) AS lo_days,
       CAST(nev AS BIGINT) AS n_events, CAST(ncen AS BIGINT) AS n_censored,
       CAST(n - xb AS BIGINT) AS at_risk,
       {IR("nev", "n - xb")} AS hazard_frac
FROM cum CROSS JOIN nt ORDER BY bucket
"""
    out["concurrent_sessions"] = f"""
WITH sess AS ({out["events_sessionize"]}),
deltas AS (
  SELECT CAST(floor(epoch(session_start)) AS BIGINT) // 3600 AS h,
         1 AS d
  FROM sess
  UNION ALL
  SELECT CAST(floor(epoch(session_end)) AS BIGINT) // 3600 + 1 AS h,
         -1 AS d
  FROM sess),
net AS (SELECT h, sum(d) AS net FROM deltas GROUP BY h)
SELECT CAST(h AS BIGINT) AS hour_idx, CAST(net AS BIGINT) AS net,
       CAST(sum(net) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS concurrent
FROM net ORDER BY hour_idx
"""
    out["stream_funnel_stages"] = """
WITH s AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase'))
SELECT user_id,
       CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
            ELSE 3 END AS INTEGER) AS stage_idx,
       event_type AS stage
FROM s ORDER BY user_id, stage_idx
"""
    from text_sentiment_classification_hadoop_spark_spark.functions.rounding import (
        sql_pround_avg2 as AV2)
    out["winsorized_revenue"] = f"""
WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS p
           FROM lineitem),
nn AS (SELECT count(*) AS n FROM v),
rk AS (SELECT p, row_number() OVER (ORDER BY p) AS r FROM v),
cuts AS (SELECT
  (SELECT p FROM rk, nn WHERE r = greatest(1, (n * 5 + 99) // 100))
    AS lo,
  (SELECT p FROM rk, nn WHERE r = greatest(1, (n * 95 + 99) // 100))
    AS hi),
c AS (SELECT CASE WHEN p < lo THEN lo WHEN p > hi THEN hi ELSE p END
             AS cp, p, lo, hi
      FROM v CROSS JOIN cuts)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(lo) AS DOUBLE) AS lo_cut,
       CAST(max(hi) AS DOUBLE) AS hi_cut,
       CAST(sum(CASE WHEN p < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_lo,
       CAST(sum(CASE WHEN p > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped_hi,
       {AV2("cp")} AS winsorized_mean
FROM c
"""
    out["referential_integrity"] = """
SELECT * FROM (
  SELECT 'customer.c_nationkey -> nation' AS fk,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_child,
         CAST((SELECT count(*) FROM customer
               WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
              AS BIGINT) AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_orderkey -> orders',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
              AS BIGINT)
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem
               WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
              AS BIGINT)
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem
               WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
              AS BIGINT)
  UNION ALL
  SELECT 'nation.n_regionkey -> region',
         CAST((SELECT count(*) FROM nation) AS BIGINT),
         CAST((SELECT count(*) FROM nation
               WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
              AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         CAST((SELECT count(*) FROM orders) AS BIGINT),
         CAST((SELECT count(*) FROM orders
               WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
              AS BIGINT)
) ORDER BY fk
"""
    out["join_key_skew"] = f"""
WITH pk AS (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1),
h AS (SELECT c AS v, count(*) AS n FROM pk GROUP BY 1),
cum AS (SELECT v, n,
               coalesce(sum(n) OVER (ORDER BY v
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cb
        FROM h),
s AS (SELECT sum(v * (n * cb + (n * (n + 1)) // 2)) AS sr,
             sum(v * n) AS t, sum(n) AS k, max(v) AS mx
      FROM cum)
SELECT CAST(t AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_keys,
       CAST(mx AS BIGINT) AS max_key_rows,
       {IR("mx", "t")} AS top_share_frac,
       {IR("2 * sr - (k + 1) * t", "k * t")} AS gini_frac
FROM s
"""
    # Poisson(1) bootstrap: multiplicities read off the portable
    # 60-bit hash against exact pre-quantized CDF cut points
    # (operators/relational.POISSON1_CUTS_2POW60) — bit-identical to
    # the Spark side by construction; mean via the remainder-exact
    # protocol, CI bounds as order statistics of the 16 replicate sums.
    out["revenue_bootstrap_ci"] = """
WITH rep AS (
  SELECT b, CAST(sum(m * CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DECIMAL(30,2)) AS rev
  FROM (
    SELECT b, l_extendedprice,
      CASE WHEN h < 424136118829305329 THEN 0
           WHEN h < 848272237658610659 THEN 1
           WHEN h < 1060340297073263324 THEN 2
           WHEN h < 1131029650211480879 THEN 3
           WHEN h < 1148701988496035267 THEN 4
           ELSE 5 END AS m
    FROM (
      SELECT r.b AS b, l_extendedprice,
        CAST(('0x' || substr(md5(concat(l_orderkey, '-', l_linenumber,
                                        '-', r.b)), 1, 15)) AS BIGINT) AS h
      FROM lineitem CROSS JOIN (SELECT unnest(range(0, 16)) AS b) r) q1) q2
  GROUP BY b)
SELECT CAST(count(*) AS INT) AS n_replicates,
       floor((CAST(sum(rev) AS DECIMAL(32,2)) * 2000000 + count(*)
              - (CAST(sum(rev) AS DECIMAL(32,2)) * 2000000 + count(*))
                % (2 * count(*)))
             / (2 * count(*)) + 0.5) / 1e6 AS mean_rev,
       CAST(list_sort(list(rev))[2] AS DOUBLE) AS lo_rev,
       CAST(list_sort(list(rev))[15] AS DOUBLE) AS hi_rev
FROM rep
"""
    # Brute-force all-pairs twin of the lossless prefix-filter join:
    # the oracle deliberately does the O(n²) intersection work the
    # engine side prunes, so hash-green == zero false negatives. The
    # ONLY pruning allowed is the length-ratio bound IMPLIED by the
    # threshold itself, independent of the engine's prefix scheme:
    # J(A,B) >= t  =>  |A∩B| >= t(|A|+|B|-|A∩B|) and |A∩B| <= min
    # =>  min(n_a,n_b) >= t*max(n_a,n_b)  (integer-exact 5*min >= 4*max
    # at t=0.8). Cuts the 12.5M list_intersect calls at sf0.1 to the
    # ratio-compatible band — the sweep went from ~15 min to seconds
    # with zero effect on the result set (r11, sf0.1 selfcheck seam).
    out["jaccard_prefix_pairs"] = f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])) AS toks
  FROM tk WHERE len(w) >= 2),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(a.toks) AS BIGINT) AS n_a,
         CAST(len(b.toks) AS BIGINT) AS n_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common
  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
   AND 5 * least(len(a.toks), len(b.toks))
       >= 4 * greatest(len(a.toks), len(b.toks)))
SELECT doc_a, doc_b, n_a, n_b, n_common,
       {IR("n_common", "n_a + n_b - n_common")} AS jac_frac
FROM p
WHERE n_common * 1000000 >= 800000 * (n_a + n_b - n_common)
ORDER BY doc_a, doc_b
"""
    # MAD: both order statistics replayed with window ranks; rank
    # ⌈n/2⌉ picks the same VALUE as the two-phase selection under any
    # tie order. Deviations of 2-dp money from a 2-dp median are exact
    # 2-dp decimals, so the 3·MAD compare is exact on both engines.
    out["revenue_mad_outliers"] = """
WITH v AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS p
           FROM lineitem),
nn AS (SELECT count(*) AS n FROM v),
rk AS (SELECT p, row_number() OVER (ORDER BY p) AS r FROM v),
med AS (SELECT p AS m FROM rk, nn WHERE r = greatest(1, (n + 1) // 2)),
d AS (SELECT CAST(abs(p - m) AS DECIMAL(18,2)) AS dv
      FROM v CROSS JOIN med),
rk2 AS (SELECT dv, row_number() OVER (ORDER BY dv) AS r FROM d),
mad AS (SELECT dv AS md FROM rk2, nn WHERE r = greatest(1, (n + 1) // 2))
SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_rows,
       CAST((SELECT m FROM med) AS DOUBLE) AS median_price,
       CAST((SELECT md FROM mad) AS DOUBLE) AS mad,
       CAST((SELECT count(*) FROM d CROSS JOIN mad WHERE dv > 3 * md)
            AS BIGINT) AS n_outliers
"""
    # Exact-integer OLS (HUGEINT mirror of the DECIMAL(38,0) form):
    # one double division per statistic — the grouped intercept's
    # cancellation makes any earlier double op engine-variant.
    out["nation_trend_ols"] = """
WITH m AS (
  SELECT n_name,
         year(o_orderdate) * 12 + month(o_orderdate) AS mi,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS HUGEINT) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
a AS (
  SELECT n_name, count(*) AS n, sum(mi) AS sx, sum(mi * mi) AS sxx,
         sum(y) AS sy,
         sum(CAST(mi AS HUGEINT) * y) AS sxy
  FROM m GROUP BY 1
),
f AS (
  SELECT n_name, n,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den,
         sy, CAST(sx AS HUGEINT) AS sxh
  FROM a
)
SELECT n_name, CAST(n AS BIGINT) AS n_months,
  CASE WHEN n > 1 THEN
    floor(CAST(num AS DOUBLE) / CAST(den * 100 AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0 END AS slope,
  CASE WHEN n > 1 THEN
    floor(CAST(sy * den - num * sxh AS DOUBLE)
          / CAST(CAST(n AS HUGEINT) * den * 100 AS DOUBLE)
          * 1000000.0 + 0.5) / 1000000.0 END AS intercept
FROM f ORDER BY n_name
"""
    # UNPIVOT mirror: the long form is just the per-(user, type)
    # count with zero cells dropped — which is also the direct
    # aggregate, so the oracle doubles as a pivot→unpivot round-trip
    # identity check.
    out["events_unpivot"] = """
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""
    # ROLLUP with the same exact-decimal protocol at every level;
    # GROUPING(a, b) carries Spark's grouping_id bit convention.
    out["pricing_rollup"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       {AV2("l_extendedprice")} AS avg_price
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""
    # Fertility: the BPE dictionary CTE chain (unrolled merges,
    # MATERIALIZED against DuckDB CTE re-inlining) + one group-by;
    # seg covers every distinct corpus word so the join drops nothing.
    out["bpe_fertility"] = (
        f"WITH {_bpe_dict_ctes(BPE_MERGES)},\n"
        f"seg AS MATERIALIZED (SELECT word, "
        f"CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub "
        f"FROM s{BPE_MERGES}),\n"
        "dw AS (SELECT lang, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS word FROM documents)\n"
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_words,\n"
        "       CAST(sum(s.n_sub) AS BIGINT) AS n_subwords,\n"
        f"       {IR('sum(s.n_sub)', 'count(*)')} AS fertility_frac\n"
        "FROM dw d JOIN seg s ON d.word = s.word\n"
        "GROUP BY lang ORDER BY lang")
    # Cluster-size census: one aggregate over the dedup_canonical
    # assignment — reuse its full recursive-CC oracle as a subquery.
    out["neardup_cluster_sizes"] = f"""
SELECT CAST(_sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(_sz) AS BIGINT) AS n_docs
FROM (
  SELECT canonical_id, count(*) AS _sz
  FROM ({out["dedup_canonical"]}) a
  GROUP BY canonical_id HAVING count(*) >= 2) s
GROUP BY _sz ORDER BY cluster_size
"""
    out["source_diversity"] = f"""
WITH per AS (
  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2),
g AS (
  SELECT source, sum(c) AS n, count(*) AS k, max(c) AS mx,
         sum(c * c) AS ssq
  FROM per GROUP BY 1)
SELECT source, CAST(n AS BIGINT) AS n_docs, CAST(k AS BIGINT) AS n_langs,
       {IR("mx", "n")} AS top_lang_share_frac,
       {IR("n * n - ssq", "n * n")} AS simpson_frac
FROM g ORDER BY source
"""
    out["stream_trending_topk"] = """
WITH wc AS (
  SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                        * 1000000) AS window_start,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n, CAST(rnk AS INTEGER) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, event_type ASC) AS rnk
      FROM wc)
WHERE rnk <= 3
ORDER BY window_start, rnk
"""
    out["local_supplier_volume"] = """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
"""
    out["order_priority_counts"] = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""
    out["returned_item_report"] = """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       n.n_name
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""
    out["large_volume_customers"] = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY b.sum_qty DESC, o.o_orderkey ASC
"""
    # Weight-mode LPA, 3 synchronous rounds UNROLLED (a recursive CTE
    # can't express "all nodes update simultaneously from round t"):
    # each round is one vote aggregate + one (ws DESC, label ASC)
    # argmax, mirroring graph.lpa_communities term for term.
    _lpa_round = """
v{r} AS MATERIALIZED (
  SELECT e.dst AS node, l.label, sum(e.w) AS ws
  FROM edges e JOIN l{p} l ON e.src = l.node GROUP BY 1, 2),
l{r} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY ws DESC, label ASC) AS rn
    FROM v{r}) WHERE rn = 1)"""
    def _lpa_sql(rounds: int) -> str:
        return ("""
WITH rel AS MATERIALIZED (
  SELECT o_custkey AS cust, l_suppkey + 1000000 AS supp,
         CAST(count(*) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
edges AS MATERIALIZED (
  SELECT cust AS src, supp AS dst, w FROM rel
  UNION ALL
  SELECT supp AS src, cust AS dst, w FROM rel),
l0 AS MATERIALIZED (SELECT DISTINCT dst AS node, dst AS label FROM edges),"""
            + ",".join(_lpa_round.format(r=r, p=r - 1)
                       for r in range(1, rounds + 1)) + f"""
SELECT node, CAST(label AS BIGINT) AS community
FROM l{rounds} ORDER BY node
""")

    out["copurchase_communities"] = _lpa_sql(3)
    # rounds=6: the deepest lazy LPA plan in the registry (no barrier
    # in graph.lpa_communities) under the driver's hash gate
    out["copurchase_communities_deep"] = _lpa_sql(6)
    # Sequential rules: the top_session_paths gap-session CTE, then a
    # session-keyed rn<rn self-join (gap-allowed A-then-B), DISTINCT
    # per session, exact integer floor confidence.
    out["sequential_rules"] = """
WITH lagd AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid
  FROM lagd
),
ev AS MATERIALIZED (
  SELECT user_id, sid, event_type, rn FROM (
    SELECT user_id, sid, event_type,
           row_number() OVER (PARTITION BY user_id, sid
                              ORDER BY ts, event_id) AS rn
    FROM sess) WHERE rn <= 50
),
pat AS (
  SELECT DISTINCT a.user_id, a.sid,
         a.event_type AS antecedent, b.event_type AS consequent
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.sid = b.sid AND a.rn < b.rn
),
nab AS (
  SELECT antecedent, consequent, CAST(count(*) AS BIGINT) AS n_sessions
  FROM pat GROUP BY 1, 2
),
na AS (
  SELECT antecedent, CAST(count(*) AS BIGINT) AS n_antecedent
  FROM (SELECT DISTINCT user_id, sid, event_type AS antecedent FROM ev)
  GROUP BY 1
),
rules AS (
  SELECT nab.antecedent, nab.consequent, nab.n_sessions, na.n_antecedent,
         CAST((nab.n_sessions * 1000000) // na.n_antecedent AS BIGINT)
           AS confidence_micro
  FROM nab JOIN na ON nab.antecedent = na.antecedent
)
SELECT antecedent, consequent, n_sessions, n_antecedent, confidence_micro,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, antecedent ASC,
                               consequent ASC) AS INTEGER) AS rank
FROM rules
ORDER BY n_sessions DESC, antecedent ASC, consequent ASC
LIMIT 20
"""
    out["sequential_patterns3"] = """
WITH lagd AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sid
  FROM lagd
),
ev AS MATERIALIZED (
  SELECT user_id, sid, event_type, rn FROM (
    SELECT user_id, sid, event_type,
           row_number() OVER (PARTITION BY user_id, sid
                              ORDER BY ts, event_id) AS rn
    FROM sess) WHERE rn <= 50
),
pm AS MATERIALIZED (
  SELECT a.user_id, a.sid, a.event_type AS first_type,
         b.event_type AS second_type, min(b.rn) AS jmin
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.sid = b.sid AND a.rn < b.rn
  GROUP BY 1, 2, 3, 4
),
tri AS (
  SELECT DISTINCT p.user_id, p.sid, p.first_type, p.second_type,
         c.event_type AS third_type
  FROM pm p JOIN ev c
    ON p.user_id = c.user_id AND p.sid = c.sid AND c.rn > p.jmin
),
nabc AS (
  SELECT first_type, second_type, third_type,
         CAST(count(*) AS BIGINT) AS n_sessions
  FROM tri GROUP BY 1, 2, 3
),
nab AS (
  SELECT first_type, second_type, CAST(count(*) AS BIGINT) AS n_pair
  FROM pm GROUP BY 1, 2
),
rules AS (
  SELECT nabc.first_type, nabc.second_type, nabc.third_type,
         nabc.n_sessions, nab.n_pair,
         CAST((nabc.n_sessions * 1000000) // nab.n_pair AS BIGINT)
           AS confidence_micro
  FROM nabc JOIN nab ON nabc.first_type = nab.first_type
                    AND nabc.second_type = nab.second_type
)
SELECT first_type, second_type, third_type, n_sessions, n_pair,
       confidence_micro,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, first_type ASC,
                               second_type ASC, third_type ASC)
            AS INTEGER) AS rank
FROM rules
ORDER BY n_sessions DESC, first_type ASC, second_type ASC, third_type ASC
LIMIT 20
"""
    return out
