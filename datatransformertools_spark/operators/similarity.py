"""Similarity search over the ``embeddings`` table.

- ``ann_bruteforce_topk`` — exact cosine top-k: the correctness
  baseline. The query side is tiny (k query vectors) and broadcast,
  so the scan side streams once; ranking is a per-query window.
- ``ann_lsh_topk`` — the scale path: multi-table random-hyperplane
  LSH (N_TABLES independent tables of NBITS sign bits each, the
  classic recall amplifier). A vector lands in one bucket per
  table; candidates share a bucket in ANY table, then exact cosine
  reranks the deduplicated candidate set. At 100 TB the bucket
  joins replace the n·m pair blowup with per-bucket work; recall
  vs brute force is asserted in tests (tests/test_operators.py).

The hyperplanes are ±1-valued with signs derived from
md5(plane:dim), so the DuckDB oracle reproduces the buckets
bit-for-bit — even the approximate path is value-checked.

Every ANN query is filter-then-refine: an index stage picks
candidates, an exact rerank refines them. Each stage has one Spark
builder, with its DuckDB twin (a string builder that never calls
the Spark one) next to it:

- ``_role`` — the query / candidate split (``query_id/qv/qn`` vs
  ``neighbor_id/cv/cn``);
- ``_lsh_pairs`` / ``_lsh_cand_sql`` — the LSH bucket join;
- ``_ivf_probe`` (over ``_ivf_codebook`` and ``_with_cells``) /
  ``_ivf_cells_sql`` — the IVF cell probe;
- ``_pq_codebook``, ``_pq_encode``, ``_pq_lut`` / ``_PQ_CODES_SQL``
  and ``_pq_rerank`` / ``_PQ_RERANK_SQL`` — PQ encode → ADC
  lookup table → shortlist reload;
- ``_rerank_topk`` / ``_TOPK_TAIL_SQL`` — the exact top-K refine;
- ``_budget_recall`` / ``_recall_tail_sql`` — the recall-curve face
  (per-budget top-K against the brute-force truth).

The embedding dedup, SemDeDup and kNN-graph pair stages share one
blocked flat-cosine self-join, ``_block_pairs`` / ``_block_join_sql``.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datatransformertools_spark.caching import Memo
from datatransformertools_spark.functions.vectors import (
    as_double,
    cosine_prenormed,
    cosine_sql,
    dot,
    flat_cols,
    flat_cosine_prenormed,
    norm,
)
from datatransformertools_spark.sources.tables import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
NBITS = 4
N_TABLES = 4
DIM = 64


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table decoded once: ``(vec_id, label, v, nrm)``
    with ``v`` the DOUBLE array and ``nrm`` its L2 norm. Columns a
    caller does not read are pruned by the optimizer. ``nrm`` is a
    separate projection over ``v``: inlining ``norm(as_double(...))``
    would make the optimizer evaluate the decode twice."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))


def _vectors_sql(cols: str = "vec_id") -> str:
    """DuckDB twin of ``_vectors`` without ``nrm``: the CTE ``e`` with the
    columns ``cols`` and the DOUBLE[] vector ``v``."""
    return f"e AS (SELECT {cols}, embedding::DOUBLE[] AS v FROM embeddings)"


def _role(df: DataFrame, query: bool, *extra, stage=None) -> DataFrame:
    """The query half (``vec_id < N_QUERIES``) or the candidate half of
    a ``_vectors`` frame under its rerank names, ``query_id/qv/qn`` or
    ``neighbor_id/cv/cn``, with the ``extra`` columns after them.
    ``stage`` runs on the half before the rename (the IVF cell
    assignment)."""
    half = df.filter(F.col("vec_id") < N_QUERIES if query else F.col("vec_id") >= N_QUERIES)
    if stage is not None:
        half = stage(half)
    key, p = ("query_id", "q") if query else ("neighbor_id", "c")
    return half.select(
        F.col("vec_id").alias(key), F.col("v").alias(f"{p}v"), F.col("nrm").alias(f"{p}n"), *extra
    )


def _cos6() -> F.Column:
    """6-dp prenormed cosine of the ``(qv, cv, qn, cn)`` role columns."""
    return F.round(cosine_prenormed(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")) + 1e-9, 6)


def _rerank_topk(pairs: DataFrame) -> DataFrame:
    """The exact refine every ANN filter ends in: 6-dp cosine over the
    ``(query_id, neighbor_id, qv, cv, qn, cn)`` candidate pairs, then
    the TOP_K per query (ties → lowest neighbor_id)."""
    scored = pairs.select("query_id", "neighbor_id", _cos6().alias("cos_sim"))
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _cos_sql(a: str, b: str) -> str:
    """``cosine_sql`` rounded to 6 dp, the score every ANN oracle ranks by."""
    return f"""round(
           {cosine_sql(a, b)} + 1e-9, 6)"""


# DuckDB twin of `_rerank_topk`: the TOP_K per query over a `scored`
# CTE of (query_id, neighbor_id, cos_sim)
_TOPK_TAIL_SQL = f"""ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# ann_bruteforce_topk
# ---------------------------------------------------------------------------


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Memoized per (session, sf_dir) — r12: SEVEN registered queries
    # consume this exact ground-truth frame (this one + six
    # recall/NDCG/curve companions), and each one re-ran the full
    # |queries|×|corpus| exact scoring pass. The frame is
    # TOP_K·N_QUERIES rows — the ground-truth table an ANN eval
    # pipeline materializes once per corpus.
    def build() -> DataFrame:
        emb = _vectors(spark, sf_dir)
        # query side broadcast: scan streams once
        return _rerank_topk(_role(emb, False).crossJoin(F.broadcast(_role(emb, True))))

    return _BF_TOPK_MEMO.get_or_build(spark, sf_dir, build)


ANN_BRUTEFORCE_SQL = f"""
WITH {_vectors_sql()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= {N_QUERIES}),
scored AS (
  SELECT query_id, neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM q CROSS JOIN c
),
{_TOPK_TAIL_SQL}"""

# ---------------------------------------------------------------------------
# ann_lsh_topk — sign-random-projection buckets, then exact rerank
# ---------------------------------------------------------------------------


def _plane_signs() -> list[list[list[float]]]:
    """±1 hyperplane signs from md5(t:p:d) low bit — computed once
    in Python so both engines embed identical literal arrays (no
    per-row hashing; bucket assignment is a pure dot product)."""
    import hashlib

    tables = []
    for t in range(N_TABLES):
        planes = []
        for p in range(NBITS):
            row = []
            for d in range(DIM):
                h = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
                row.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
            planes.append(row)
        tables.append(planes)
    return tables


PLANES = _plane_signs()


def _buckets() -> F.Column:
    """The LSH bucket id of ``v`` in each of the N_TABLES tables: bit p
    of table t = sign of Σ_d v[d]·h(t,p,d)."""
    tables = []
    for t in range(N_TABLES):
        plane_dots = []
        for p in range(NBITS):
            signs = F.array(*[F.lit(s) for s in PLANES[t][p]])
            dot = F.aggregate(
                F.zip_with(F.col("v"), signs, lambda x, s: x * s), F.lit(0.0), lambda acc, x: acc + x
            )
            plane_dots.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
        tables.append(sum(plane_dots))
    return F.array(*tables)


def _bucket_sql(table: int) -> str:
    """DuckDB twin of one table of ``_buckets`` over the DOUBLE[] column ``v``."""
    terms = []
    for p in range(NBITS):
        lit = "[" + ", ".join(str(s) for s in PLANES[table][p]) + "]"
        dot = f"list_sum(list_transform(range(1, {DIM} + 1), i -> v[i] * ({lit}::DOUBLE[])[i]))"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_pairs(emb: DataFrame) -> DataFrame:
    """The LSH filter: each vector explodes to one ``t:bucket`` key per
    table, candidates join the broadcast queries on a shared key, and
    each (query, candidate) pair is kept once however many tables it
    collides in. Output: the ``_rerank_topk`` role columns."""
    bucketed = emb.select(
        "vec_id", "v", "nrm",
        F.explode(
            F.transform(_buckets(), lambda b, i: F.concat(i.cast("string"), F.lit(":"), b.cast("string")))
        ).alias("bucket"),
    )
    queries = _role(bucketed, True, F.col("bucket").alias("qb"))
    cands = _role(bucketed, False, F.col("bucket").alias("cb"))
    return (
        cands.join(F.broadcast(queries), F.col("cb") == F.col("qb"))
        .select("query_id", "neighbor_id", "qv", "cv", "qn", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _lsh_cand_sql() -> str:
    """DuckDB twin of `_lsh_pairs`: the CTEs up to `cand`, the deduplicated
    (query_id, neighbor_id, qv, cv) pairs, after the `e` CTE."""
    bucket_cols = [
        f"'{t}:' || CAST({_bucket_sql(t)} AS VARCHAR) AS bucket{t}" for t in range(N_TABLES)
    ]
    bucket_select = ",\n    ".join(bucket_cols)
    union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, v, bucket{t} AS bucket FROM with_buckets" for t in range(N_TABLES)
    )
    return f"""with_buckets AS (
  SELECT vec_id, v,
    {bucket_select}
  FROM e
),
bucketed AS (
  {union}
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM bucketed WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket AS cb FROM bucketed WHERE vec_id >= {N_QUERIES}),
cand AS (
  SELECT DISTINCT ON (query_id, neighbor_id) query_id, neighbor_id, qv, cv
  FROM q JOIN c ON qb = cb
)"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rerank_topk(_lsh_pairs(_vectors(spark, sf_dir)))


ANN_LSH_SQL = f"""
WITH {_vectors_sql()},
{_lsh_cand_sql()},
scored AS (
  SELECT query_id, neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM cand
),
{_TOPK_TAIL_SQL}"""


# ---------------------------------------------------------------------------
# ann_ivf_topk — inverted-file index: coarse cells + probed rerank
# ---------------------------------------------------------------------------

N_CELLS = 8
N_PROBE = 2


def _with_cells(emb: DataFrame, cents: DataFrame, rank_limit: int) -> DataFrame:
    """Assign each vector to its `rank_limit` nearest coarse cells
    (1 for indexing, N_PROBE for querying): adds `cell_id`, the 6-dp
    cosine `cell_sim` and the 1-based probe rank `cell_rank`."""
    sim = F.round(
        cosine_prenormed(F.col("v"), F.col("cell_v"), F.col("nrm"), F.col("cell_nrm")) + 1e-9, 6
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), F.col("cell_id"))
    )
    return (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("cell_sim", sim)
        .withColumn("cell_rank", rn)
        .filter(F.col("cell_rank") <= rank_limit)
    )


def _ivf_codebook(emb: DataFrame) -> DataFrame:
    """Codebook: the first N_CELLS candidate vectors — a deterministic
    stand-in for the offline k-means centroids IVF trains
    out-of-band. The engine-side mechanics (broadcast codebook,
    argmax assignment, cell-equality join) are the production shape."""
    return emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + N_CELLS)
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("cell_id"),
        F.col("v").alias("cell_v"),
        F.col("nrm").alias("cell_nrm"),
    )


def _ivf_probe(emb: DataFrame, n_probe: int, *q_extra) -> tuple[DataFrame, DataFrame]:
    """Both sides of the IVF probe join, in the ``_role`` names plus
    ``cell_id``: each query in its `n_probe` nearest cells (with
    ``q_extra``), each candidate in its nearest one."""
    cents = _ivf_codebook(emb)
    queries = _role(emb, True, "cell_id", *q_extra, stage=lambda h: _with_cells(h, cents, n_probe))
    cands = _role(emb, False, "cell_id", stage=lambda h: _with_cells(h, cents, 1))
    return queries, cands


def _ivf_cells_sql(n_probe: int, vectors: bool = True, lvl: bool = False) -> str:
    """DuckDB twin of `_ivf_probe`: the `cents`, `cand_cells` and
    `query_cells` CTEs after the `e` CTE, with the raw vectors `cv` /
    `qv` when `vectors` and the probe rank `lvl` when `lvl`."""

    def side(name: str, key: str, v: str, where: str, keep: str, extra: str = "") -> str:
        cols = f" {v}," if vectors else ""
        ev = f" e.v AS {v}," if vectors else ""
        return f"""{name} AS (
  SELECT vec_id AS {key},{cols} cell_id{extra} FROM (
    SELECT e.vec_id,{ev} c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cell_v')} DESC, c.cell_id) AS rn
    FROM e CROSS JOIN cents c WHERE {where}
  ) WHERE {keep}
)"""

    return f"""cents AS (
  SELECT vec_id - {N_QUERIES} AS cell_id, v AS cell_v
  FROM e WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + N_CELLS}
),
{side("cand_cells", "neighbor_id", "cv", f"e.vec_id >= {N_QUERIES}", "rn = 1")},
{side("query_cells", "query_id", "qv", f"e.vec_id < {N_QUERIES}", f"rn <= {n_probe}",
      ", rn AS lvl" if lvl else "")}"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: index vectors live in their nearest coarse cell;
    each query probes its N_PROBE nearest cells and reranks only
    those cells' members with exact cosine. At 100 TB the cell id
    is the partition key — a probe touches N_PROBE/N_CELLS of the
    corpus instead of all of it, and the rerank is per-cell work."""
    queries, cands = _ivf_probe(_vectors(spark, sf_dir), N_PROBE)
    return _rerank_topk(cands.join(F.broadcast(queries), "cell_id"))

ANN_IVF_SQL = f"""
WITH {_vectors_sql()},
{_ivf_cells_sql(N_PROBE)},
scored AS (
  SELECT query_id, neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM cand_cells JOIN query_cells USING (cell_id)
),
{_TOPK_TAIL_SQL}"""


# ---------------------------------------------------------------------------
# ann_ivf_cell_balance — index-side cell population and tightness audit
# ---------------------------------------------------------------------------


def ann_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-side health of the IVF partition: per coarse cell, the
    member count, corpus share, imbalance factor (share ×
    N_CELLS — the multiplier on worst-probe latency when cell_id is
    the partition key at 100 TB), and the mean/min member-to-
    centroid cosine (cell tightness — a loose cell is where ADC/
    rerank recall leaks first). `ann_ivf_probe_curve` prices the
    QUERY side (recall vs probes); this prices the INDEX side: a
    max imbalance ≫ 1 says re-train the coarse codebook or split
    the hot cell before sizing probe counts, the same diagnostic
    FAISS's imbalance_factor() exposes.

    Scale design: one embeddings scan against the broadcast
    N_CELLS-row codebook; the nearest-cell argmax is a per-vector
    window over N_CELLS rows (partition key = vec_id — never
    global); members collapse to N_CELLS groups map-side; the
    corpus total rides a partition-less window on the N_CELLS-row
    aggregate (feature-bounded)."""
    emb = _vectors(spark, sf_dir)
    assigned = _with_cells(emb.filter(F.col("vec_id") >= N_QUERIES), _ivf_codebook(emb), 1)
    cells = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cell_sim") + 1e-9, 6).alias("mean_cos"),
        F.round(F.min("cell_sim") + 1e-9, 6).alias("min_cos"),
    )
    total = F.sum("n_vecs").over(Window.partitionBy())  # N_CELLS-row frame
    return cells.select(
        F.col("cell_id").cast("int").alias("cell_id"),
        "n_vecs",
        F.round(F.col("n_vecs") / total + 1e-9, 6).alias("share"),
        F.round(F.col("n_vecs") * N_CELLS / total + 1e-9, 6).alias("imbalance"),
        "mean_cos",
        "min_cos",
    )


ANN_IVF_CELL_BALANCE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id >= {N_QUERIES}),
cents AS (
  SELECT vec_id - {N_QUERIES} AS cell_id, v AS cell_v
  FROM e WHERE vec_id < {N_QUERIES + N_CELLS}
),
assigned AS (
  SELECT vec_id, cell_id, cell_sim FROM (
    SELECT e.vec_id, c.cell_id,
           {_cos_sql('e.v', 'c.cell_v')} AS cell_sim,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.v', 'c.cell_v')} DESC, c.cell_id) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
cells AS (
  SELECT cell_id,
         CAST(count(*) AS BIGINT) AS n_vecs,
         round(avg(cell_sim) + 1e-9, 6) AS mean_cos,
         round(min(cell_sim) + 1e-9, 6) AS min_cos
  FROM assigned GROUP BY 1
)
SELECT CAST(cell_id AS INT) AS cell_id,
       n_vecs,
       round(n_vecs * 1.0 / (SELECT sum(n_vecs) FROM cells) + 1e-9, 6) AS share,
       round(n_vecs * {N_CELLS}.0 / (SELECT sum(n_vecs) FROM cells) + 1e-9, 6) AS imbalance,
       mean_cos,
       min_cos
FROM cells
"""


# ---------------------------------------------------------------------------
# ann_pq_topk — product quantization with ADC shortlist + exact rerank
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_CODES = 16  # codes per subspace codebook
PQ_SHORTLIST = 20


def _pq_sub_explode(df: DataFrame, id_col: str) -> DataFrame:
    """Fan each vector out to its PQ_M subvectors map-side."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("sub_id"),
                F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(id_col, F.explode(subs).alias("s")).select(
        id_col, F.col("s.sub_id").alias("sub_id"), F.col("s.sv").alias("sv")
    )


def _pq_l2(a: str, b: str) -> F.Column:
    """Unrolled squared L2 over PQ_SUBDIM dims — plain codegen'd
    arithmetic (no interpreted higher-order function in the hot
    encode loop); term order matches the oracle's left-fold."""
    out = F.lit(0.0)
    for i in range(1, PQ_SUBDIM + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        out = out + d * d
    return out


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """PQ codebooks: subspace `sub_id`'s codes are the subvectors of the
    first PQ_CODES candidates — the same offline-training stand-in
    convention as IVF's cells."""
    return _pq_sub_explode(
        emb.filter((F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_CODES)),
        "vec_id",
    ).select(
        (F.col("vec_id") - N_QUERIES).alias("code_id"),
        "sub_id",
        F.col("sv").alias("code_sv"),
    )


def _pq_dists(df: DataFrame, id_col: str, cb: DataFrame) -> DataFrame:
    """6-dp squared L2 from each subvector of `df` to every code of its
    subspace: ``(id_col, sub_id, code_id, d)``."""
    d6 = F.round(_pq_l2("sv", "code_sv") + 1e-9, 6)
    return (
        _pq_sub_explode(df, id_col)
        .join(F.broadcast(cb), "sub_id")
        .select(id_col, "sub_id", "code_id", d6.alias("d"))
    )


def _pq_encode(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """Each candidate's PQ code: per subspace, the nearest code (ties →
    lowest code_id) as one map-side-combined min_by aggregation."""
    return (
        _pq_dists(emb.filter(F.col("vec_id") >= N_QUERIES), "vec_id", cb)
        .groupBy("vec_id", "sub_id")
        .agg(F.min_by("code_id", F.struct("d", "code_id")).alias("code_id"))
    )


def _pq_lut(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """The per-query ADC lookup table: each query subvector's distance to
    every code, ``(query_id, sub_id, code_id, d)``."""
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(F.col("vec_id").alias("query_id"), "v")
    return _pq_dists(queries, "query_id", cb)


def _pq_rerank(emb: DataFrame, adc: DataFrame, id_col: str) -> DataFrame:
    """The PQ refine: the PQ_SHORTLIST lowest ADC distances per query
    (ties → lowest `id_col`) reload their raw vectors for
    `_rerank_topk`."""
    srn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col(id_col))
    )
    short = adc.withColumn("srn", srn).filter(F.col("srn") <= PQ_SHORTLIST)
    pairs = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
        .join(F.broadcast(short.select("query_id", F.col(id_col).alias("neighbor_id"))), "neighbor_id")
        .join(F.broadcast(_role(emb, True)), "query_id")
    )
    return _rerank_topk(pairs)


def _pq_l2_sql(a: str, b: str, n: int = PQ_SUBDIM) -> str:
    """DuckDB twin of `_pq_l2`: squared L2 over the first `n` dims."""
    return " + ".join(f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])" for i in range(1, n + 1))


def _pq_sub_sql(name: str, key: str, sv: str, where: str) -> str:
    """DuckDB twin of `_pq_sub_explode`: CTE `name` of (key, sub_id, sv)."""
    return f"""{name} AS (
  SELECT {key}, t.sub_id,
         list_slice(v, t.sub_id*{PQ_SUBDIM}+1, t.sub_id*{PQ_SUBDIM}+{PQ_SUBDIM}) AS {sv}
  FROM e CROSS JOIN range(0, {PQ_M}) t(sub_id)
  WHERE {where}
)"""


# DuckDB twin of `_pq_codebook`, `_pq_encode` and `_pq_lut`: the `cb`,
# `codes` (keyed neighbor_id) and `lut` CTEs after the `e` CTE.
# arg_min keys must be scalar; the zero-padded composite is
# lexicographically identical to (d, code_id) for d >= 0.
_PQ_CODES_SQL = f"""{_pq_sub_sql("cb", f"vec_id - {N_QUERIES} AS code_id", "code_sv",
                                 f"vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_CODES}")},
{_pq_sub_sql("cand_sub", "vec_id", "sv", f"vec_id >= {N_QUERIES}")},
codes AS (
  SELECT vec_id AS neighbor_id, sub_id,
         arg_min(code_id, printf('%012.6f|%05d', d, code_id)) AS code_id
  FROM (
    SELECT c.vec_id, c.sub_id, cb.code_id,
           round({_pq_l2_sql('c.sv', 'cb.code_sv')} + 1e-9, 6) AS d
    FROM cand_sub c JOIN cb USING (sub_id)
  )
  GROUP BY 1, 2
),
{_pq_sub_sql("q_sub", "vec_id AS query_id", "sv", f"vec_id < {N_QUERIES}")},
lut AS (
  SELECT q.query_id, q.sub_id, cb.code_id,
         round({_pq_l2_sql('q.sv', 'cb.code_sv')} + 1e-9, 6) AS d
  FROM q_sub q JOIN cb USING (sub_id)
)"""

# DuckDB twin of `_pq_rerank` over an `adc` CTE of (query_id,
# neighbor_id, adist)
_PQ_RERANK_SQL = f"""short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adist ASC, neighbor_id) AS srn
    FROM adc
  ) WHERE srn <= {PQ_SHORTLIST}
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         {_cos_sql('q.v', 'c.v')} AS cos_sim
  FROM short s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.neighbor_id
),
{_TOPK_TAIL_SQL}"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector is encoded as PQ_M
    4-bit code ids (64 dims → 8 bytes — the compression that lets a
    100 TB corpus's index live in memory); a query scores candidates
    by ADC (sum of per-subspace lookup-table distances over codes
    only, never raw vectors), and only the PQ_SHORTLIST best reload
    raw vectors for the exact cosine rerank. Scale design: the
    codebook (PQ_M·PQ_CODES rows) and the per-query LUT
    (constants-bounded) broadcast; encoding is one map-side-combined
    min_by aggregation; the ADC sum is a partial agg keyed by
    (query, candidate); raw vectors are touched only on the
    shortlist. Codebooks are deterministic stand-ins (subvectors of
    the first PQ_CODES candidates — the same offline-training
    convention as IVF's cells), so the DuckDB oracle replays
    encode→ADC→rerank value-for-value."""
    emb = _vectors(spark, sf_dir)
    cb = _pq_codebook(emb)
    adc = (
        _pq_encode(emb, cb)
        .join(F.broadcast(_pq_lut(emb, cb)), ["sub_id", "code_id"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d") + 1e-9, 6).alias("adist"))
    )
    return _pq_rerank(emb, adc, "vec_id")


ANN_PQ_SQL = f"""
WITH {_vectors_sql()},
{_PQ_CODES_SQL},
adc AS (
  SELECT l.query_id, c.neighbor_id, round(sum(l.d) + 1e-9, 6) AS adist
  FROM codes c JOIN lut l ON c.sub_id = l.sub_id AND c.code_id = l.code_id
  GROUP BY 1, 2
),
{_PQ_RERANK_SQL}"""

# ---------------------------------------------------------------------------
# embedding_pq_distortion — measured reconstruction error vs subspace count
# ---------------------------------------------------------------------------

PQ_DISTORTION_MS = (2, 4, 8)  # candidate subspace counts (8 = shipped PQ_M)


def _pq_ms_pairs() -> list[tuple[int, int, int, int]]:
    """(m, sub_id, slice_lo, slice_hi) for every subspace of every
    candidate m — the shared fan-out grid both engines enumerate."""
    out = []
    for m in PQ_DISTORTION_MS:
        sd = DIM // m
        for s in range(m):
            out.append((m, s, s * sd + 1, (s + 1) * sd))
    return out


def embedding_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED companion to `ann_pq_topk`'s compression choice:
    for each candidate subspace count m ∈ {2, 4, 8}, encode every
    INDEX vector (vec_id ≥ N_QUERIES — the population `ann_pq_topk`
    actually PQ-encodes; query vectors are never code-compressed, so
    including them would pollute the index-side distortion table —
    ADVICE r8) against the same deterministic codebooks the PQ
    index ships (subvectors of the PQ_CODES reserved vectors) and
    report the reconstruction error an m-subspace code actually
    pays — mean/max squared-L2 distortion and the norm-relative
    mean (Jégou et al., TPAMI 2011 §III: quantization MSE is the
    quantity ADC recall degrades with). `ann_ivf_probe_curve`
    prices the IVF side's recall/fan-out trade; this table prices
    the PQ side's bytes/distortion trade BEFORE anyone doubles the
    code length (and every index shard's memory) on a 100 TB
    corpus. PQ reconstruction concatenates each subspace's nearest
    code, so per-vector squared-L2 error = Σ_sub min-code d² — no
    reconstructed vectors ever materialize.

    Scale design: ONE embeddings scan fans each vector map-side to
    its (m, sub_id) subvectors for all three m at once (14 slices);
    the codebook grid (PQ_CODES·Σm rows, constants-bounded) rides
    as the single broadcast; encode is one min-combined aggregate
    keyed (vec_id, m, sub_id); per-vector errors collapse keyed
    (vec_id, m); the face is |PQ_DISTORTION_MS| rows."""
    emb = _vectors(spark, sf_dir)
    pairs = _pq_ms_pairs()

    # r13 (guide §4.1/§1.2): the old shape fanned each vector to 14
    # (m, sub) SLICE rows, broadcast-joined the 224-row sliced
    # codebook (446k pair rows at sf0.1), and unrolled the distance
    # over element_at() on per-row arrays — interpreted, measured
    # ~2.5 s of this query alone, plus a 446k-row two-level agg.
    # Now the join happens at the VECTOR grain (1990 × PQ_CODES=16
    # pairs) over flat DOUBLE columns, all 14 subspace distances are
    # parsed codegen chains per pair (one column each), the
    # per-subspace min-over-codes collapses in ONE vec-grain
    # aggregate, and only then does the tiny (vec, m) frame fan out.
    # Every chain keeps the old slice fold's ascending-index
    # accumulation from 0.0 — identical values, oracle untouched.
    vflat = emb.select("vec_id", *flat_cols(F.col("v"), DIM, "vf"))
    cands_f = vflat.filter(F.col("vec_id") >= N_QUERIES)
    cb_f = vflat.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_CODES)
    ).select(
        F.col("vec_id").alias("code_id"),
        *[F.col(f"vf{i}").alias(f"cf{i}") for i in range(DIM)],
    )

    def d_chain(lo: int, hi: int) -> F.Column:
        # (lo, hi] 1-based slice bounds from _pq_ms_pairs
        terms = "".join(
            f" + (vf{i} - cf{i}) * (vf{i} - cf{i})" for i in range(lo - 1, hi)
        )
        return F.expr("0.0D" + terms)

    d_cols = [
        F.round(d_chain(lo, hi) + 1e-9, 6).alias(f"d_{m}_{s}")
        for (m, s, lo, hi) in pairs
    ]
    scored = cands_f.crossJoin(F.broadcast(cb_f)).select("vec_id", *d_cols)
    mins = scored.groupBy("vec_id").agg(
        *[F.min(f"d_{m}_{s}").alias(f"min_{m}_{s}") for (m, s, _lo, _hi) in pairs]
    )
    err_structs = [
        F.struct(
            F.lit(m).cast("int").alias("m"),
            F.round(
                sum(F.col(f"min_{m}_{s}") for s in range(m)) + 1e-9, 6
            ).alias("l2_err"),
        )
        for m in PQ_DISTORTION_MS
    ]
    per_vec = mins.select(
        "vec_id", F.explode(F.array(*err_structs)).alias("e")
    ).select("vec_id", "e.m", "e.l2_err")
    nrm2 = F.lit(0.0)
    for i in range(1, DIM + 1):
        nrm2 = nrm2 + F.element_at(F.col("v"), i) * F.element_at(F.col("v"), i)
    norms = emb.select("vec_id", F.round(nrm2 + 1e-9, 6).alias("nrm2"))
    return (
        per_vec.join(norms, "vec_id")
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("l2_err") + 1e-9, 6).alias("mean_l2_err"),
            F.round(F.max("l2_err") + 1e-9, 6).alias("max_l2_err"),
            F.round(F.avg(F.col("l2_err") / F.col("nrm2")) + 1e-9, 6).alias(
                "mean_rel_err"
            ),
        )
        .select(
            "m",
            (F.lit(DIM) / F.col("m")).cast("int").alias("subdim"),
            (F.col("m") * 4).cast("int").alias("code_bits"),
            "n_vecs",
            "mean_l2_err",
            "max_l2_err",
            "mean_rel_err",
        )
    )


def _pq_distortion_sql() -> str:
    pair_rows = ", ".join(f"({m}, {s}, {lo}, {hi})" for (m, s, lo, hi) in _pq_ms_pairs())

    nrm2 = " + ".join(f"v[{i}]*v[{i}]" for i in range(1, DIM + 1))
    return f"""
WITH {_vectors_sql()},
grid AS (SELECT m::INT AS m, sub_id::INT AS sub_id, lo, hi
         FROM (VALUES {pair_rows}) t(m, sub_id, lo, hi)),
cb AS (
  SELECT g.m, g.sub_id, list_slice(v, g.lo, g.hi) AS code_sv
  FROM e CROSS JOIN grid g
  WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_CODES}
),
subs AS (
  SELECT e.vec_id, g.m, g.sub_id, list_slice(v, g.lo, g.hi) AS sv
  FROM e CROSS JOIN grid g
  WHERE e.vec_id >= {N_QUERIES}
),
encoded AS (
  SELECT vec_id, m, sub_id, min(d) AS min_d
  FROM (
    SELECT s.vec_id, s.m, s.sub_id,
           round(CASE WHEN s.m = 2 THEN {_pq_l2_sql('sv', 'code_sv', DIM // 2)}
                      WHEN s.m = 4 THEN {_pq_l2_sql('sv', 'code_sv', DIM // 4)}
                      ELSE {_pq_l2_sql('sv', 'code_sv', DIM // 8)} END + 1e-9, 6) AS d
    FROM subs s JOIN cb ON cb.m = s.m AND cb.sub_id = s.sub_id
  )
  GROUP BY 1, 2, 3
),
per_vec AS (
  SELECT vec_id, m, round(sum(min_d) + 1e-9, 6) AS l2_err
  FROM encoded GROUP BY 1, 2
),
norms AS (SELECT vec_id, round({nrm2} + 1e-9, 6) AS nrm2 FROM e)
SELECT p.m,
       CAST({DIM} / p.m AS INT) AS subdim,
       CAST(p.m * 4 AS INT) AS code_bits,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(l2_err) + 1e-9, 6) AS mean_l2_err,
       round(max(l2_err) + 1e-9, 6) AS max_l2_err,
       round(avg(l2_err / nrm2) + 1e-9, 6) AS mean_rel_err
FROM per_vec p JOIN norms n USING (vec_id)
GROUP BY 1
"""


EMBEDDING_PQ_DISTORTION_SQL = _pq_distortion_sql()


# ---------------------------------------------------------------------------
# ann_ivf_pq_topk — IVF cell pruning + PQ ADC scan (the production composite)
# ---------------------------------------------------------------------------


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition production ANN indexes actually run
    (FAISS's IVFx,PQy): IVF's coarse cells prune WHICH candidates a
    query touches (N_PROBE/N_CELLS of the corpus), PQ's 8-byte codes
    decide HOW each touched candidate is scored (ADC lookup-table
    sums, never raw vectors), and only the PQ_SHORTLIST best reload
    raw vectors for the exact cosine rerank. Either half alone
    leaves a 100 TB cost on the table: IVF-only still scans raw
    vectors inside probed cells; PQ-only still ADC-scans the whole
    corpus.

    Scale design: candidates partition by cell_id (the IVF
    contract) and only probed cells' codes join the ADC stage —
    the fan-out is |probed pairs|·PQ_M code rows, not corpus·PQ_M;
    the codebook, per-query LUT, probe list, and shortlist are all
    constants-bounded broadcasts; raw vectors appear only in the
    shortlist rerank. Deterministic stand-in codebooks (same
    convention as the IVF cells / PQ codebooks they reuse) keep the
    whole encode→probe→ADC→rerank pipeline value-checked in DuckDB."""
    emb = _vectors(spark, sf_dir)
    queries, cands = _ivf_probe(emb, N_PROBE)
    # probe pairs: candidates in any probed cell (cells assign each
    # candidate once, so no pair dedup is needed)
    probe_pairs = cands.join(F.broadcast(queries), "cell_id").select("query_id", "neighbor_id")
    cb = _pq_codebook(emb)
    codes = _pq_encode(emb, cb).withColumnRenamed("vec_id", "neighbor_id")
    adc = (
        probe_pairs.join(codes, "neighbor_id")
        .join(F.broadcast(_pq_lut(emb, cb)), ["query_id", "sub_id", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d") + 1e-9, 6).alias("adist"))
    )
    return _pq_rerank(emb, adc, "neighbor_id")


ANN_IVF_PQ_SQL = f"""
WITH {_vectors_sql()},
{_ivf_cells_sql(N_PROBE, vectors=False)},
probe_pairs AS (
  SELECT q.query_id, c.neighbor_id
  FROM cand_cells c JOIN query_cells q USING (cell_id)
),
{_PQ_CODES_SQL},
adc AS (
  SELECT p.query_id, p.neighbor_id, round(sum(l.d) + 1e-9, 6) AS adist
  FROM probe_pairs p
  JOIN codes c ON c.neighbor_id = p.neighbor_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub_id = c.sub_id AND l.code_id = c.code_id
  GROUP BY 1, 2
),
{_PQ_RERANK_SQL}"""


# ---------------------------------------------------------------------------
# label_centroids — distributed vector mean per class
# ---------------------------------------------------------------------------


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label — the codebook-training primitive
    (one k-means step / class prototypes). Dims explode to
    (label, dim, val) rows so the average is an ordinary partial
    agg: map-side combine reduces every partition to
    |labels|·DIM rows before the shuffle, independent of corpus
    size. Output stays in the exploded (label, dim, cval) form —
    |labels|·DIM scalar rows — which is both the join-friendly shape
    downstream consumers (ANN rerank, IVF codebooks) want and a
    schema every engine can hash (no array column)."""
    emb = _vectors(spark, sf_dir)
    dims = emb.select(
        "label", F.explode(F.sequence(F.lit(0), F.lit(DIM - 1))).alias("dim"), "v"
    ).select("label", "dim", F.element_at("v", F.col("dim") + 1).alias("val"))
    return dims.groupBy("label", "dim").agg(
        F.round(F.avg("val") + 1e-9, 6).alias("cval"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


LABEL_CENTROIDS_SQL = f"""
WITH {_vectors_sql('label')},
dims AS (
  SELECT label, i - 1 AS dim, v[i] AS val
  FROM e CROSS JOIN range(1, {DIM} + 1) t(i)
)
SELECT label, dim, round(avg(val) + 1e-9, 6) AS cval, count(*) AS n_vectors
FROM dims GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# kmeans_embeddings — iterative Lloyd's clustering
# ---------------------------------------------------------------------------

K_CLUSTERS = 8  # FLOOR for corpus-derived K — see corpus_k()
KMEANS_ITERS = 3

# K scales with the corpus (VERDICT r5 #2 / SemDeDup, Abbas et al.
# 2023): the embedding-dedup family's "clusters ∝ N, bounded cell
# size" claim is only true if K grows with N, so K = max(K_CLUSTERS,
# ceil(n_vectors / TARGET_CELL)). TARGET_CELL = 256 keeps per-cell
# pair work bounded (~256²/2 comparisons) at ANY corpus size. The
# oracle CTEs derive the same K from the corpus in pure SQL
# (`_lloyd_cte_parts(k=None)`), so Spark and DuckDB stay in lockstep
# past the K_CLUSTERS floor (500 / 500 / 2000 shipped vectors → K=8).
TARGET_CELL = 256

# Literal-centroid codegen ships K·DIM literals into the expression
# tree — viable to K in the low thousands, past which the Janino
# method-size limits and plan-build time blow up. Past the ceiling,
# assignment switches to a broadcast-join argmin over a centroid
# DataFrame (`_cells_join`): same semantics (distance asc, lowest
# cluster id on ties), one broadcast of K·DIM doubles (a codebook —
# ~16 MB at K=32k·DIM=64, standard broadcast territory), and a
# per-key window instead of a codegen'd projection.
K_LITERAL_MAX = 2048

_K_MEMO = Memo()


def corpus_k(spark: SparkSession, sf_dir: str) -> int:
    """Corpus-derived cluster count (memoized per sf_dir, one 1-row
    count job on first touch — same immutable-sf_dir contract as
    `trained_centroids`)."""

    def build() -> int:
        n = load_table(spark, sf_dir, "embeddings").count()
        return max(K_CLUSTERS, -(-n // TARGET_CELL))

    return _K_MEMO.get_or_build(spark, sf_dir, build)


def _kmeans_dist(c) -> F.Column:  # squared L2, summed in dim order
    return F.aggregate(
        F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _init_cents(emb: DataFrame, k: int = K_CLUSTERS, key: str = "vec_id") -> list[list[float]]:
    """Deterministic seed: the K lowest keys' vectors, 6-dp
    quantized. Generic over the key column and K so non-embedding
    feature frames (e.g. the RFM space) share the same contract."""
    rows = (
        emb.orderBy(key)
        .limit(k)
        .select(F.transform("v", lambda x: F.round(x + 1e-9, 6)).alias("v"))
        .collect()
    )
    return [list(r["v"]) for r in rows]


def _cent_literal(cents: list[list[float]]) -> F.Column:
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])


def _cells_join(
    df: DataFrame, cents: list[list[float]], n: int, key: str
) -> DataFrame:
    """Top-n nearest cells per vector via broadcast-join argmin —
    the assignment path past the literal-centroid codegen ceiling
    (K > K_LITERAL_MAX). The centroid matrix rides as ONE broadcast
    (a codebook: K·DIM doubles, constants-bounded per fit), the
    distance is the same zip_with fold, and rank/ties mirror the
    literal path exactly (distance asc, lowest cluster id). Costs a
    per-`key` window shuffle the literal path avoids — the
    documented price of K past the codegen ceiling. Returns the
    input columns plus (rn, cluster), rn ≤ n."""
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, c array<double>",
    )
    d = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = df.crossJoin(F.broadcast(cent_df)).withColumn("_d", d).drop("c")
    w = Window.partitionBy(key).orderBy("_d", "cluster")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("_d")
    )


def _assign(emb: DataFrame, cents: list[list[float]], key: str = "vec_id") -> DataFrame:
    """Argmin-distance cluster per vector (ties → lowest cluster id);
    centroids ship as a literal so assignment is a codegen'd
    projection over the scan — no join, no shuffle. Past
    K_LITERAL_MAX centroids the literal path stops being viable and
    assignment becomes the broadcast-join argmin (`_cells_join`,
    keyed on `key`) — identical semantics, one extra window
    shuffle."""
    if len(cents) > K_LITERAL_MAX:
        return _cells_join(emb, cents, 1, key).drop("rn")
    best = F.array_min(
        F.transform(
            _cent_literal(cents),
            lambda c, i: F.struct(_kmeans_dist(c).alias("d"), i.alias("cluster")),
        )
    )
    return emb.withColumn("cluster", best["cluster"])


# Trained-centroid memo: per sf_dir, the list of centroid states
# after each Lloyd round ([init, after-1, after-2, ...]). The loop
# is deterministic (6-dp quantization at every iteration boundary,
# fixed init), and a shorter fit is a strict PREFIX of a longer
# one, so every consumer (kmeans_embeddings at ITERS-1; semdedup /
# dedup_embedding / recall / curve at ITERS) shares ONE training
# run per session — requesting more rounds later just extends the
# existing chain. Only K·DIM centroid matrices are retained.
# Nearest cells each vector probes (IVF multi-probe). Measured by
# dedup_embedding_recall at sf0.01: probe=1 → 0.32 recall,
# 2 → 0.75, 3 → 0.95, 4 → 1.0; candidate fan-out is ×EMB_PROBE².
# 3 is the knee. At scale K grows with the corpus (clusters ∝ N),
# so 3 probes remain a vanishing fraction of cells.
EMB_PROBE = 3


def _multiprobe(
    emb: DataFrame, cents: list[list[float]], max_probe: int | None = None,
    keep_rank: bool = False,
) -> DataFrame:
    """Explode each vector to its `max_probe` (default EMB_PROBE)
    nearest cells (distance asc, ties → lowest cluster id): a
    literal-centroid codegen projection + explode — no join, no
    shuffle. array_sort on struct(d, cluster) matches the oracle's
    ORDER BY d, cluster. With keep_rank, each probe row also carries
    its 1-based probe rank `rn` (the blocking-curve input).

    Past K_LITERAL_MAX centroids (corpus-derived K on a large
    corpus) the literal array stops being codegen-viable and the
    probe ranking switches to the broadcast-join argmin path
    (`_cells_join`) — identical rank/tie semantics, one extra
    per-vector window shuffle."""
    n = EMB_PROBE if max_probe is None else max_probe
    if len(cents) > K_LITERAL_MAX:
        probed = _cells_join(emb, cents, n, "vec_id")
        return probed if keep_rank else probed.drop("rn")
    ranked = F.array_sort(
        F.transform(
            _cent_literal(cents),
            lambda c, i: F.struct(_kmeans_dist(c).alias("d"), i.alias("cluster")),
        )
    )
    if not keep_rank:
        probes = F.transform(F.slice(ranked, 1, n), lambda s: s["cluster"])
        return emb.withColumn("cluster", F.explode(probes))
    return emb.select(
        "*", F.posexplode(F.slice(ranked, 1, n)).alias("pos", "_probe")
    ).select(
        *emb.columns,
        (F.col("pos") + 1).alias("rn"),
        F.col("_probe.cluster").alias("cluster"),
    )


_CENT_MEMO = Memo()


def trained_centroids(spark: SparkSession, sf_dir: str, iters: int) -> list[list[float]]:
    states = _CENT_MEMO.get_or_build(spark, sf_dir, list)
    if len(states) <= iters:
        emb = _vectors(spark, sf_dir)
        if not states:
            # K derived from the corpus (clusters ∝ N). The oracle
            # mirrors this in pure SQL (`_lloyd_cte_parts(k=None)`
            # seeds max(K_CLUSTERS, ceil(n/TARGET_CELL)) rows from
            # `e` itself), so parity holds at any corpus size, not
            # just the shipped SFs where K lands on the floor.
            states.append(_init_cents(emb, k=corpus_k(spark, sf_dir)))
        while len(states) <= iters:
            states.append(_lloyd_update(emb, states[-1]))
    return states[iters]


def _lloyd_update(emb: DataFrame, cents: list[list[float]]) -> list[list[float]]:
    """One eager Lloyd's update: per-dim mean of each cluster's
    members, 6-dp quantized; empty clusters keep their previous
    centroid. Only the K·DIM centroid matrix crosses the driver."""
    per_dim = (
        _assign(emb, cents)
        .select("cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val") + 1e-9, 6).alias("cval"))
    )
    new = {(r["cluster"], r["dim"]): r["cval"] for r in per_dim.collect()}
    # K and DIM come from the centroid matrix itself, so the update
    # is generic over any (key, v) feature frame
    return [
        [new.get((k, d), cents[k][d]) for d in range(len(cents[0]))]
        for k in range(len(cents))
    ]


def _lloyd_final(feats: DataFrame, cents: list[list[float]], key: str = "vec_id") -> DataFrame:
    """The last Lloyd round, fully lazy: assignment of the ``(key, v)``
    feature frame from the literal centroids ``cents`` → per-dim mean
    + member count per cluster in one plan. An empty cluster keeps
    its centroid from ``cents`` with 0 members. Output is the
    exploded (cluster, dim, cval, n_members) centroid matrix."""
    final = (
        _assign(feats, cents, key=key)
        .select("cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val") + 1e-9, 6).alias("cval"), F.count(F.lit(1)).alias("n_members"))
    )
    prev = feats.sparkSession.createDataFrame(
        [(k, d, c[d]) for k, c in enumerate(cents) for d in range(len(c))],
        "cluster int, dim int, prev_cval double",
    )
    return prev.join(final, ["cluster", "dim"], "left").select(
        "cluster",
        "dim",
        F.coalesce(F.col("cval"), F.col("prev_cval")).alias("cval"),
        F.coalesce(F.col("n_members"), F.lit(0)).alias("n_members"),
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, the MLlib way: centroids live on the driver
    (K·DIM doubles) and ship into each assignment pass as a literal
    array, so assignment is a pure codegen'd projection over the
    scan — no K-way data explosion, no shuffle beyond the K·DIM
    partial agg per update. Inter-iteration collects move only the
    centroid matrix (512 doubles), exactly what MLlib's KMeans
    broadcasts per step; the FINAL assignment + update stays lazy in
    the returned plan.

    Cross-engine determinism: centroids are quantized to 6 dp at
    every iteration boundary (init included) in BOTH engines, so
    float summation-order noise cannot compound across iterations;
    argmin ties break toward the lowest cluster id. Output is the
    exploded (cluster, dim, cval) centroid matrix with member
    counts; empty clusters keep their previous centroid."""
    cents = trained_centroids(spark, sf_dir, KMEANS_ITERS - 1)
    return _lloyd_final(_vectors(spark, sf_dir), cents)


_KM_DIST_SQL = (
    "list_sum(list_transform(range(1, {dim} + 1),"
    " i -> (e.v[i]-cl.c[i])*(e.v[i]-cl.c[i])))".format(dim=DIM)
)


def _lloyd_cte_parts(
    lead_parts: list[str] | None = None,
    k: int | None = None,
    dim: int = DIM,
    key: str = "vec_id",
    iters: int = KMEANS_ITERS,
) -> list[str]:
    """Unrolled Lloyd's iterations as chained CTEs — same init, same
    6-dp quantization, same lowest-cluster tie-break as the Spark
    loop. Ends with c{iters} (final centroids) and c{iters}_new
    (per-cluster member counts). `lead_parts` supplies the feature
    CTEs (first element carries the WITH keyword) ending in a CTE
    named `e` with columns ({key}, v); default is the embeddings
    table — shared by the kmeans / semdedup / embedding-dedup
    oracles, and parameterized so non-embedding feature spaces
    (e.g. the RFM oracle) replay the IDENTICAL contract.

    `k=None` (the embedding-family default) mirrors `corpus_k()` in
    pure SQL — seed count = max(K_CLUSTERS, ceil(n/TARGET_CELL))
    computed from `e` itself — so the oracle stays a faithful mirror
    of the Spark side's corpus-derived K at ANY corpus size, not
    just the shipped SFs where both land on the K_CLUSTERS floor
    (ADVICE r6: a fixed literal K silently desynchronized the
    oracle past 2048 vectors). Fixed-K feature spaces (RFM segments,
    hour profiles) pass an explicit int."""
    dist = (
        f"list_sum(list_transform(range(1, {dim} + 1),"
        " i -> (e.v[i]-cl.c[i])*(e.v[i]-cl.c[i])))"
    )
    parts = list(
        lead_parts
        if lead_parts is not None
        else [f"WITH {_vectors_sql()}"]
    )
    if k is None:
        seed = f"""seed AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cluster, v FROM (
    SELECT v, row_number() OVER (ORDER BY {key}) AS rn,
           count(*) OVER () AS n_total
    FROM e
  ) WHERE rn <= greatest({K_CLUSTERS}, CAST(ceil(n_total / {TARGET_CELL}.0) AS BIGINT))
)"""
    else:
        seed = f"""seed AS (
  SELECT CAST(row_number() OVER (ORDER BY {key}) - 1 AS INTEGER) AS cluster, v
  FROM (SELECT {key}, v FROM e ORDER BY {key} LIMIT {k})
)"""
    parts += [
        seed,
        f"""c0 AS (
  SELECT cluster, CAST(d AS INTEGER) AS dim, round(v[d + 1] + 1e-9, 6) AS cval
  FROM seed CROSS JOIN range(0, {dim}) t(d)
)""",
    ]
    for n in range(1, iters + 1):
        prev = f"c{n - 1}"
        parts.append(
            f"""cl{n} AS (
  SELECT cluster, list(cval ORDER BY dim) AS c FROM {prev} GROUP BY cluster
)"""
        )
        parts.append(
            f"""a{n} AS (
  SELECT {key}, v, cluster FROM (
    SELECT e.{key}, e.v, cl.cluster,
           row_number() OVER (PARTITION BY e.{key}
                              ORDER BY {dist}, cl.cluster) AS rn
    FROM e CROSS JOIN cl{n} cl
  ) WHERE rn = 1
)"""
        )
        parts.append(
            f"""c{n}_new AS (
  SELECT cluster, CAST(d AS INTEGER) AS dim,
         round(avg(v[d + 1]) + 1e-9, 6) AS cval, count(*) AS n_members
  FROM a{n} CROSS JOIN range(0, {dim}) t(d)
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""c{n} AS (
  SELECT p.cluster, p.dim, COALESCE(n.cval, p.cval) AS cval
  FROM {prev} p LEFT JOIN c{n}_new n ON p.cluster = n.cluster AND p.dim = n.dim
)"""
        )
    return parts


def _lloyd_sql(
    lead_parts: list[str] | None = None,
    k: int | None = None,
    dim: int = DIM,
    key: str = "vec_id",
    iters: int = KMEANS_ITERS,
) -> str:
    """DuckDB twin of ``_lloyd_final``'s face: the unrolled rounds of
    ``_lloyd_cte_parts`` (same arguments), then the exploded
    (cluster, dim, cval, n_members) centroid matrix of round ``iters``."""
    return (
        ",\n".join(_lloyd_cte_parts(lead_parts=lead_parts, k=k, dim=dim, key=key, iters=iters))
        + f"""
SELECT c.cluster, c.dim, c.cval,
       CAST(COALESCE(n.n_members, 0) AS BIGINT) AS n_members
FROM c{iters} c
LEFT JOIN c{iters}_new n ON c.cluster = n.cluster AND c.dim = n.dim
"""
    )


KMEANS_EMBEDDINGS_SQL = _lloyd_sql()


def _emb_block_chain(max_rn: int) -> list[str]:
    """Shared oracle CTE chain for the cluster-blocked embedding
    family: the Lloyd's loop (same init/quantization/tie-breaks as
    the Spark side), final-centroid multi-probe assignment keeping
    probe rank `rn` ≤ max_rn, and the label join. Ends with
    afx(vec_id, v, cluster, rn, label)."""
    parts = _lloyd_cte_parts()
    parts.append(
        f"""clF AS (
  SELECT cluster, list(cval ORDER BY dim) AS c FROM c{KMEANS_ITERS} GROUP BY cluster
)"""
    )
    parts.append(
        f"""af AS (
  SELECT vec_id, v, cluster, rn FROM (
    SELECT e.vec_id, e.v, cl.cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_KM_DIST_SQL}, cl.cluster) AS rn
    FROM e CROSS JOIN clF cl
  ) WHERE rn <= {max_rn}
)"""
    )
    parts.append(
        """afx AS (
  SELECT af.vec_id, af.v, af.cluster, af.rn, l.label
  FROM af JOIN (SELECT vec_id, label FROM embeddings) l ON af.vec_id = l.vec_id
)"""
    )
    return parts


def _block_pairs(
    vecs: DataFrame, keys: tuple[str, ...], *carry: str
) -> tuple[DataFrame, F.Column]:
    """The blocked flat-cosine self-join every embedding pair stage
    runs: each side of ``vecs`` (a `_vectors`, `_assign` or
    `_multiprobe` frame) projects ``vec_id``, the block ``keys`` in the
    frame's column order, ``nrm``, the ``carry`` columns and DIM flat
    columns ``_v*``, and the sides ``a`` and ``b`` join on equal keys
    (compared in the order given), each pair once with the lower
    ``vec_id`` on side ``a``. Returns the joined frame and the 6-dp
    pair cosine over it.

    Flat columns: the vector is split into primitive columns once
    per row, so the O(pairs) kernel is a
    codegen'd multiply-add chain instead of the interpreted zip_with
    fold, with the same accumulation order (bit-identical values).
    ``nrm`` comes from `_vectors`, before any probe explode. DuckDB
    twin: ``_block_join_sql``."""
    block = [c for c in vecs.columns if c in keys]
    flat = vecs.select("vec_id", *block, "nrm", *carry, *flat_cols(F.col("v"), DIM, "_v"))
    a, b = flat.alias("a"), flat.alias("b")
    eq = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on = functools.reduce(F.Column.__and__, [*eq, F.col("a.vec_id") < F.col("b.vec_id")])
    cos = flat_cosine_prenormed("a._v", "b._v", DIM, F.col("a.nrm"), F.col("b.nrm"))
    return a.join(b, on), F.round(cos + 1e-9, 6)


def _block_join_sql(src: str, *keys: str) -> str:
    """DuckDB twin of ``_block_pairs``'s join: ``src`` as ``a`` and
    ``b`` on equal ``keys``, the lower ``vec_id`` on side ``a``."""
    on = "".join(f"a.{k} = b.{k} AND " for k in keys)
    return f"FROM {src} a JOIN {src} b\n    ON {on}a.vec_id < b.vec_id"


def _emb_pairs_parts() -> list[str]:
    """Chain + blocked-pairs CTE, shared by the dedup and recall
    oracles (composed from parts, never by splitting rendered
    SQL)."""
    return _emb_block_chain(EMB_PROBE) + [
        f"""pairs AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_cos_sql('a.v', 'b.v')} AS cos_sim
  {_block_join_sql('afx', 'cluster', 'label')}
)"""
    ]


# ---------------------------------------------------------------------------
# semdedup — cluster-blocked semantic dedup (SemDeDup shape)
# ---------------------------------------------------------------------------

SEM_TAU = 0.3


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
    the embeddings, then look for near-duplicates ONLY inside each
    cluster — a vector is dropped (keep=0) when some lower-id vector
    in its cluster has cosine ≥ SEM_TAU to it (min-id survivor, the
    same convention as `dedup_exact`). Returns every vector with its
    cluster, its max similarity to a lower-id cluster-mate
    (`nn_sim`, null when it is the cluster's lowest id), and the
    keep verdict.

    Scale design: this is THE embedding-dedup scale path — the
    pairwise stage is blocked by cluster, so growing the corpus
    grows K (clusters ∝ N, bounded cluster size) instead of the
    pair count; there is never an unkeyed n² join. Assignment is a
    literal-centroid projection (no join); the only shuffles are
    Lloyd's K·DIM partial aggs and the in-cluster self-join keyed
    on cluster id. Cross-engine determinism inherits the kmeans
    contract: 6-dp centroid quantization at every iteration
    boundary, lowest-cluster argmin ties, 6-dp rounded cosine."""
    cents = trained_centroids(spark, sf_dir, KMEANS_ITERS)
    assigned = _assign(_vectors(spark, sf_dir), cents)
    pairs, cos = _block_pairs(assigned, ("cluster",))
    nn = (
        pairs.select(F.col("b.vec_id").alias("vec_id"), cos.alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("nn_sim"))
    )
    return assigned.join(nn, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "nn_sim",
        F.when(F.col("nn_sim") >= SEM_TAU, F.lit(0)).otherwise(F.lit(1)).alias("keep"),
    )


def _semdedup_sql() -> str:
    parts = _emb_block_chain(1)
    parts.append(
        f"""nn AS (
  SELECT b.vec_id, max({_cos_sql('a.v', 'b.v')}) AS nn_sim
  {_block_join_sql('af', 'cluster')}
  GROUP BY b.vec_id
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT af.vec_id, af.cluster, nn.nn_sim,
       CASE WHEN nn.nn_sim >= {SEM_TAU} THEN 0 ELSE 1 END AS keep
FROM af LEFT JOIN nn ON af.vec_id = nn.vec_id
"""
    )


SEMDEDUP_SQL = _semdedup_sql()


# ---------------------------------------------------------------------------
# embedding_quantize — int8 scalar quantization with error audit
# ---------------------------------------------------------------------------


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column: global
    per-dimension [min, max] → 256 uniform levels, code =
    floor((v - min) / range * 256) clamped to 255. Returns a per-
    vector audit row (code checksum + max/mean reconstruction
    error) instead of the array (the gate canonicalizer can't hash
    lists). Shape: explode to (vec_id, dim, val) → per-dim min/max
    agg (output is DIM rows regardless of corpus size → hint-
    broadcast back) → quantize per row → re-agg by vec_id. Both
    shuffles carry 3-number rows; floor() keeps the code boundary
    deterministic across engines where round() would tie-break
    differently."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(as_double(F.col("embedding"))).alias("dim", "val")
    )
    dim_stats = emb.groupBy("dim").agg(
        F.min("val").alias("dmin"), F.max("val").alias("dmax")
    )
    rng = F.col("dmax") - F.col("dmin")
    code = F.least(
        F.lit(255), F.floor((F.col("val") - F.col("dmin")) / rng * 256)
    ).cast("long")
    recon = F.col("dmin") + (F.col("code") + 0.5) * rng / 256.0
    return (
        emb.join(F.broadcast(dim_stats), "dim")  # DIM rows: fixed-size
        .withColumn("code", code)
        .withColumn("abs_err", F.abs(F.col("val") - recon))
        .groupBy("vec_id", "label")
        .agg(
            F.sum("code").alias("code_checksum"),
            F.round(F.max("abs_err") + 1e-12, 6).alias("max_abs_err"),
            F.round(F.avg("abs_err") + 1e-12, 6).alias("mean_abs_err"),
        )
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH e AS (
  SELECT vec_id, label, i - 1 AS dim, (embedding::DOUBLE[])[i] AS val
  FROM embeddings CROSS JOIN range(1, {DIM} + 1) t(i)
),
stats AS (
  SELECT dim, min(val) AS dmin, max(val) AS dmax FROM e GROUP BY dim
),
quant AS (
  SELECT vec_id, label,
         least(255, CAST(floor((val - dmin) / (dmax - dmin) * 256) AS BIGINT)) AS code,
         val, dmin, dmax
  FROM e JOIN stats USING (dim)
)
SELECT vec_id, label,
       CAST(sum(code) AS BIGINT) AS code_checksum,
       round(max(abs(val - (dmin + (code + 0.5) * (dmax - dmin) / 256.0))) + 1e-12, 6) AS max_abs_err,
       round(avg(abs(val - (dmin + (code + 0.5) * (dmax - dmin) / 256.0))) + 1e-12, 6) AS mean_abs_err
FROM quant
GROUP BY vec_id, label
"""


# ---------------------------------------------------------------------------
# ann_mmr_topk — diversified retrieval (Maximal Marginal Relevance)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_SHORTLIST = 20

_MMR_SCHEMA = (
    "query_id long, mmr_rank int, neighbor_id long, rel_sim double, mmr_score double"
)


MMR_MU = 0.3  # diversity weight — an explicit literal, NOT 1 - MMR_LAMBDA
# (1 - 0.7 is 0.30000000000000004 in binary; both engines must parse
# the same 0.3 literal or 6-dp-boundary scores could disagree)


def _make_mmr_kernel():
    # factory so cloudpickle ships the kernel by value (same pattern
    # as the greedy detection-eval kernel); constants are bound as
    # closure locals so the shipped function is self-contained
    lam, mu, topk = MMR_LAMBDA, MMR_MU, TOP_K

    def mmr_select(pdf):
        """Greedy MMR over one query's shortlist: each step takes
        argmax of λ·rel − (1−λ)·max-sim-to-selected (6-dp-rounded,
        ties to the lowest neighbor_id). All float math is a
        SEQUENTIAL left fold so it is bit-identical to the DuckDB
        oracle's list_sum — no numpy reductions, whose pairwise
        summation would drift in the last ulp."""

        def dot_seq(a, b):
            s = 0.0
            for x, y in zip(a, b):
                s += x * y
            return s

        rows = list(pdf.itertuples())
        vecs = {r.neighbor_id: list(r.cv) for r in rows}
        norms = {nid: math.sqrt(dot_seq(v, v)) for nid, v in vecs.items()}
        rel = {r.neighbor_id: r.rel_sim for r in rows}
        qid = rows[0].query_id
        remaining = sorted(rel)
        selected = []
        out = []
        while remaining and len(selected) < topk:
            best = None
            for nid in remaining:
                # true max over selected (cosines can be negative);
                # 0.0 only when nothing is selected yet — mirrors the
                # oracle's coalesce(max(...), 0.0)
                div = 0.0
                for k, sid in enumerate(selected):
                    den = norms[nid] * norms[sid]
                    c = dot_seq(vecs[nid], vecs[sid]) / den if den > 0 else 0.0
                    if k == 0 or c > div:
                        div = c
                score = round(lam * rel[nid] - mu * div + 1e-9, 6)
                if best is None or score > best[0] or (score == best[0] and nid < best[1]):
                    best = (score, nid)
            score, nid = best
            selected.append(nid)
            remaining.remove(nid)
            out.append((qid, len(selected), nid, rel[nid], score))

        import pandas as pd

        return pd.DataFrame(
            out, columns=["query_id", "mmr_rank", "neighbor_id", "rel_sim", "mmr_score"]
        )

    return mmr_select


def ann_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k via Maximal Marginal Relevance: rerank each
    query's brute-force shortlist so every pick balances relevance
    against similarity to what is already picked (λ = 0.7) — the
    dedup-at-retrieval-time step that stops a result page being five
    near-copies of one passage.

    Scale design: the O(shortlist²·DIM) greedy loop runs per query
    as a grouped-map Arrow kernel (groups = queries — embarrassingly
    parallel), fed by the broadcast-query shortlist plan; the
    all-corpus work stays in the codegen'd scoring join. Kernel
    float math is a sequential fold, bit-identical to the oracle's
    recursive-CTE replay."""
    emb = _vectors(spark, sf_dir)
    pairs = _role(emb, False).crossJoin(F.broadcast(_role(emb, True)))
    scored = pairs.select("query_id", "neighbor_id", "cv", _cos6().alias("rel_sim"))
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("rel_sim").desc(), F.col("neighbor_id"))
    )
    shortlist = scored.withColumn("rn", rank).filter(F.col("rn") <= MMR_SHORTLIST)
    return shortlist.groupBy("query_id").applyInPandas(_make_mmr_kernel(), _MMR_SCHEMA)


def _mmr_sql() -> str:
    # unrolled greedy (the kmeans-oracle technique): one CTE pair per
    # selection step — recursive CTEs cannot express the correlated
    # diversity max, a fixed K-step chain of plain joins can
    rel = _cos_sql("qv", "cv")
    parts = [
        _vectors_sql(),
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES})",
        f"c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= {N_QUERIES})",
        f"""shortlist AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, cv,
           {rel} AS rel_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {rel} DESC, neighbor_id) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {MMR_SHORTLIST}
)""",
        f"""pairsim AS (
  SELECT a.query_id, a.neighbor_id AS cand, b.neighbor_id AS other,
         {cosine_sql('a.cv', 'b.cv')} AS sim
  FROM shortlist a JOIN shortlist b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
)""",
        f"""pick1 AS (
  SELECT query_id, neighbor_id, rel_sim, score, 1 AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS prn
    FROM (SELECT query_id, neighbor_id, rel_sim,
                 round({MMR_LAMBDA} * rel_sim - {MMR_MU} * 0.0 + 1e-9, 6) AS score
          FROM shortlist)
  ) WHERE prn = 1
)""",
        "picked1 AS (SELECT query_id, neighbor_id FROM pick1)",
    ]
    for k in range(2, TOP_K + 1):
        parts.append(
            f"""pick{k} AS (
  SELECT query_id, neighbor_id, rel_sim, score, {k} AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id) AS prn
    FROM (
      SELECT s.query_id, s.neighbor_id, s.rel_sim,
             round({MMR_LAMBDA} * s.rel_sim - {MMR_MU} * coalesce(d.mx, 0.0) + 1e-9, 6)
               AS score
      FROM shortlist s
      LEFT JOIN (
        SELECT ps.query_id, ps.cand, max(ps.sim) AS mx
        FROM pairsim ps
        JOIN picked{k - 1} pk ON ps.query_id = pk.query_id AND ps.other = pk.neighbor_id
        GROUP BY 1, 2
      ) d ON d.query_id = s.query_id AND d.cand = s.neighbor_id
      WHERE NOT EXISTS (SELECT 1 FROM picked{k - 1} pk
                        WHERE pk.query_id = s.query_id
                          AND pk.neighbor_id = s.neighbor_id)
    )
  ) WHERE prn = 1
)"""
        )
        parts.append(
            f"""picked{k} AS (
  SELECT query_id, neighbor_id FROM picked{k - 1}
  UNION ALL SELECT query_id, neighbor_id FROM pick{k}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank, neighbor_id, rel_sim, "
        f"score AS mmr_score FROM pick{k}"
        for k in range(1, TOP_K + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


ANN_MMR_SQL = _mmr_sql()


# ---------------------------------------------------------------------------
# embedding_norm_audit — vector QA before anything consumes embeddings
# ---------------------------------------------------------------------------


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding health audit: vector counts, zero/degenerate
    vectors (cosine against them is undefined — they poison ANN and
    centroid math), and the L2-norm spread. An un-normalized or
    partially-zeroed embedding drop is the classic silent failure
    upstream of every similarity operator; this is the gate that
    catches it.

    Scale design: the norm folds per row inside codegen (same
    sequential-double fold as every similarity op, so the numbers are
    engine-exact), then one |labels|-group partial-agg shuffle —
    the audit of a billion-vector corpus moves |labels| rows."""
    return (
        _vectors(spark, sf_dir)
        .select("label", F.col("nrm").alias("l2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("l2") == 0.0).cast("long")).alias("n_zero"),
            F.round(F.min("l2") + 1e-9, 6).alias("min_norm"),
            F.round(F.max("l2") + 1e-9, 6).alias("max_norm"),
            F.round(F.avg("l2") + 1e-9, 6).alias("avg_norm"),
        )
    )


EMBEDDING_NORM_AUDIT_SQL = """
WITH norms AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS l2
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN l2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       round(min(l2) + 1e-9, 6) AS min_norm,
       round(max(l2) + 1e-9, 6) AS max_norm,
       round(avg(l2) + 1e-9, 6) AS avg_norm
FROM norms
GROUP BY label
"""


# ---------------------------------------------------------------------------
# ann_recall_eval — measure the approximate index against ground truth
# ---------------------------------------------------------------------------


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index against the brute-force ground
    truth, measured IN-ENGINE per query: how many of the exact top-k
    neighbors the approximate index returned. This is the
    accept/reject gate for any ANN deployment — recall is a property
    of (data, index parameters), so it must be re-measured on every
    corpus, not quoted from a paper.

    Scale design: ground truth on the full corpus is itself
    expensive, so in production this runs on a query SAMPLE (here
    the same N_QUERIES both indexes already serve); the comparison
    join is (query_id, neighbor_id) — k·|queries| rows, trivially
    shuffled. Both inputs reuse the existing gated plans unchanged."""
    truth = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        truth.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
            F.round(F.coalesce(F.sum("hit"), F.lit(0)) / F.lit(TOP_K) + 1e-9, 6).alias(
                "recall_at_k"
            ),
        )
    )


# the oracle composes the two existing gated oracles verbatim as
# derived tables — the recall math is the only new SQL
ANN_RECALL_EVAL_SQL = f"""
SELECT t.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       round(count(a.neighbor_id) * 1.0 / {TOP_K} + 1e-9, 6) AS recall_at_k
FROM ({ANN_BRUTEFORCE_SQL}) t
LEFT JOIN ({ANN_LSH_SQL}) a
  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
GROUP BY t.query_id
"""


# ---------------------------------------------------------------------------
# recall curves — one index knob swept over a budget grid
# ---------------------------------------------------------------------------


def _recall(n_hits: F.Column) -> F.Column:
    return F.round(n_hits / float(N_QUERIES * TOP_K) + 1e-9, 6)


def _budget_recall(spark: SparkSession, sf_dir: str, scored: DataFrame, budget: str) -> DataFrame:
    """The tail of every recall curve: the TOP_K per (`budget`, query)
    of the `scored` (query_id, neighbor_id, cos_sim) rows (ties →
    lowest neighbor_id), joined to the brute-force truth:
    ``(budget, n_hits, recall)``. The truth is k·|queries| rows,
    broadcast."""
    rank = F.row_number().over(
        Window.partitionBy(budget, "query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    )
    topk = scored.withColumn("rank", rank).filter(F.col("rank") <= TOP_K)
    exact = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        topk.join(F.broadcast(exact), ["query_id", "neighbor_id"], "left")
        .groupBy(budget)
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hits"))
        .select(budget, "n_hits", _recall(F.col("n_hits")).alias("recall"))
    )


def _recall_tail_sql(budget: str) -> str:
    """DuckDB twin of `_budget_recall` over a `scored` CTE of (`budget`,
    query_id, neighbor_id, cos_sim)."""
    return f"""ranked AS (
  SELECT *, row_number() OVER (PARTITION BY {budget}, query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
),
topk AS (SELECT * FROM ranked WHERE rank <= {TOP_K}),
exact AS ({ANN_BRUTEFORCE_SQL})
SELECT t.{budget},
       CAST(count(x.neighbor_id) AS BIGINT) AS n_hits,
       round(count(x.neighbor_id) * 1.0 / {N_QUERIES * TOP_K} + 1e-9, 6) AS recall
FROM topk t
LEFT JOIN exact x
  ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
GROUP BY t.{budget}
"""


# ---------------------------------------------------------------------------
# lsh_tables_recall_curve — recall@k vs the number of LSH hash tables
# ---------------------------------------------------------------------------


def lsh_tables_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k as a function of how many hash tables the LSH index
    uses — the tuning table N_TABLES is chosen from, completing the
    measured-companion set across the index families (IVF has the
    probe curve, PQ the distortion table, minhash the band/perm
    curves, simhash the hamming curve). Each extra table costs a
    full extra index copy (memory + one more bucket join at query
    time), so this curve IS the price list: read the smallest t
    whose recall clears the SLO.

    Scale design: ONE bucket join at the widest budget — each
    (query, candidate) pair keeps the FIRST table that found it
    (min table index), so the per-table fan is a constants-bounded
    (×N_TABLES) broadcast-grid filter over the deduped pair set,
    never a re-join. Ground truth is the audited brute-force top-k;
    the comparison join is k·|queries| rows."""
    bucketed = _vectors(spark, sf_dir).select(
        "vec_id", "v", "nrm", F.posexplode(_buckets()).alias("tbl", "bucket")
    )
    queries = _role(bucketed, True, "tbl", "bucket")
    cands = _role(bucketed, False, "tbl", "bucket")
    # score at the pair-occurrence grain, then collapse to one row
    # per pair carrying the first table that found it (cos is
    # identical across occurrences; min() is the deterministic pick)
    pairs = (
        cands.join(F.broadcast(queries), ["tbl", "bucket"])
        .select("query_id", "neighbor_id", (F.col("tbl") + 1).alias("lvl"), _cos6().alias("cos_sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("lvl").alias("lvl"), F.min("cos_sim").alias("cos_sim"))
    )
    grid = spark.createDataFrame([(t,) for t in range(1, N_TABLES + 1)], "tables int")
    per_budget = pairs.join(F.broadcast(grid), F.col("lvl") <= F.col("tables"))
    per_t = _budget_recall(spark, sf_dir, per_budget, "tables")
    # drive the face from the grid so a budget whose candidate set is
    # EMPTY (no bucket collision in its tables — possible on a small
    # or adversarial corpus) still reports its recall-0 row
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return grid.join(per_t, "tables", "left").select(
        "tables", n_hits.cast("long").alias("n_hits"), _recall(n_hits).alias("recall")
    )


def _lsh_tables_curve_sql() -> str:
    bucket_cols = [f"{_bucket_sql(t)} AS bucket{t}" for t in range(N_TABLES)]
    bucket_select = ",\n    ".join(bucket_cols)
    union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, v, {t + 1} AS lvl, bucket{t} AS bucket FROM with_buckets"
        for t in range(N_TABLES)
    )
    return f"""
WITH {_vectors_sql()},
with_buckets AS (
  SELECT vec_id, v,
    {bucket_select}
  FROM e
),
bucketed AS (
  {union}
),
q AS (SELECT vec_id AS query_id, v AS qv, lvl, bucket FROM bucketed WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, lvl, bucket FROM bucketed WHERE vec_id >= {N_QUERIES}),
pairs AS (
  SELECT query_id, neighbor_id, min(q.lvl) AS lvl,
         min({_cos_sql('qv', 'cv')}) AS cos_sim
  FROM q JOIN c ON q.lvl = c.lvl AND q.bucket = c.bucket
  GROUP BY query_id, neighbor_id
),
grid AS (SELECT CAST(unnest([{", ".join(str(t) for t in range(1, N_TABLES + 1))}]) AS INT) AS tables),
ranked AS (
  SELECT g.tables, p.query_id, p.neighbor_id,
         row_number() OVER (PARTITION BY g.tables, p.query_id
                            ORDER BY p.cos_sim DESC, p.neighbor_id) AS rank
  FROM grid g JOIN pairs p ON p.lvl <= g.tables
),
topk AS (SELECT * FROM ranked WHERE rank <= {TOP_K}),
exact AS ({ANN_BRUTEFORCE_SQL}),
per_t AS (
  SELECT t.tables, count(x.neighbor_id) AS n_hits
  FROM topk t
  LEFT JOIN exact x
    ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
  GROUP BY t.tables
)
SELECT g.tables,
       CAST(coalesce(k.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(k.n_hits, 0) * 1.0 / {N_QUERIES * TOP_K} + 1e-9, 6) AS recall
FROM grid g LEFT JOIN per_t k USING (tables)
"""


LSH_TABLES_RECALL_CURVE_SQL = _lsh_tables_curve_sql()


# ---------------------------------------------------------------------------
# ann_dim_recall_curve — recall@k vs embedding PREFIX dimension
# ---------------------------------------------------------------------------

# Budget grid of prefix widths (full width last — its row must read
# recall 1.0 by construction, the same self-check as the LSH curve's
# widest budget). Matryoshka-style truncation: modern embedding
# models are trained so prefixes remain usable, and the storage /
# bandwidth bill at 100 TB scales linearly with the dims kept — this
# curve is the measured basis for choosing the cut.
DIM_GRID = [8, 16, 32, 64]
# Disjoint segments cover only the TRUNCATED budgets; the full-width
# budget scores with the untruncated single-fold arithmetic (below),
# so its cosine is BIT-identical to ann_bruteforce_topk's — summing
# segment dots would be the same value only up to FP associativity,
# which is not "by construction".
_DIM_SEGMENTS = list(zip([0, *DIM_GRID[:-2]], DIM_GRID[:-1]))  # (lo, hi] per segment


def ann_dim_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of cosine search over the embedding's first-d
    coordinates vs the full-dimension exact top-k, for every d on
    DIM_GRID — the tuning companion for the DIMENSION axis (the
    index families have probe/table/band/hamming curves; this is
    the same decision table for Matryoshka-style truncation: read
    the smallest d whose recall clears the SLO and ship vectors
    that much smaller).

    Scale design: prefix dots are PREFIX SUMS — per-vector disjoint
    segment slices (and their square-sums) are precomputed BEFORE
    the pair join, the O(pairs) stage computes one dot per segment,
    and each truncated budget's cosine is a cumulative sum of
    segment dots over cumulative norms. The FULL-width budget
    instead reuses the untruncated single-fold arithmetic
    (cosine_prenormed over v, exactly ann_bruteforce_topk's math),
    so its recall-1.0 row is a bit-exact self-check, not merely an
    FP-associativity coincidence. Query side is the fixed N_QUERIES
    broadcast (scan streams once, as every ANN op here); ranking is
    a (dims, query) window over k·|grid|·|queries|-bounded rows;
    ground truth reuses the audited brute-force plan. The identical
    segment-then-add / single-fold arithmetic runs in the DuckDB
    oracle, so every cosine is bit-stable cross-engine."""
    emb = _vectors(spark, sf_dir)
    seg_cols = [
        F.slice("v", lo + 1, hi - lo).alias(f"s{hi}") for lo, hi in _DIM_SEGMENTS
    ]
    sq_cols = [
        F.aggregate(
            F.slice("v", lo + 1, hi - lo), F.lit(0.0), lambda acc, x: acc + x * x
        ).alias(f"sq{hi}")
        for lo, hi in _DIM_SEGMENTS
    ]
    pre = emb.select("vec_id", "v", norm(F.col("v")).alias("nf"), *seg_cols, *sq_cols)
    carry = (
        ["v", "nf"]
        + [f"s{hi}" for _, hi in _DIM_SEGMENTS]
        + [f"sq{hi}" for _, hi in _DIM_SEGMENTS]
    )
    queries = pre.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in carry],
    )
    cands = pre.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(c).alias(f"c_{c}") for c in carry],
    )
    pairs = cands.crossJoin(F.broadcast(queries))
    budget_structs = []
    for k, d in enumerate(DIM_GRID[:-1]):
        his = [hi for _, hi in _DIM_SEGMENTS[: k + 1]]
        cum_dot = sum(dot(F.col(f"q_s{hi}"), F.col(f"c_s{hi}")) for hi in his)
        qn = F.sqrt(sum(F.col(f"q_sq{hi}") for hi in his))
        cn = F.sqrt(sum(F.col(f"c_sq{hi}") for hi in his))
        cos = F.when(qn * cn > 0, cum_dot / (qn * cn)).otherwise(F.lit(0.0))
        budget_structs.append(
            F.struct(F.lit(d).alias("dims"), F.round(cos + 1e-9, 6).alias("cos_sim"))
        )
    full_cos = cosine_prenormed(F.col("q_v"), F.col("c_v"), F.col("q_nf"), F.col("c_nf"))
    budget_structs.append(
        F.struct(
            F.lit(DIM_GRID[-1]).alias("dims"),
            F.round(full_cos + 1e-9, 6).alias("cos_sim"),
        )
    )
    exploded = pairs.select(
        "query_id", "neighbor_id", F.explode(F.array(*budget_structs)).alias("b")
    ).select("query_id", "neighbor_id", "b.dims", "b.cos_sim")
    return _budget_recall(spark, sf_dir, exploded, "dims")


def _ann_dim_curve_sql() -> str:
    seg_exprs = []
    for lo, hi in _DIM_SEGMENTS:
        seg_exprs.append(
            f"list_sum(list_transform(range({lo + 1}, {hi + 1}), i -> qv[i] * cv[i])) AS d{hi}"
        )
    sq_exprs = [
        f"list_sum(list_transform(range({lo + 1}, {hi + 1}), i -> v[i] * v[i])) AS sq{hi}"
        for lo, hi in _DIM_SEGMENTS
    ]
    budget_rows = []
    for k, d in enumerate(DIM_GRID[:-1]):
        his = [hi for _, hi in _DIM_SEGMENTS[: k + 1]]
        cum_dot = " + ".join(f"d{hi}" for hi in his)
        qn = "sqrt(" + " + ".join(f"q_sq{hi}" for hi in his) + ")"
        cn = "sqrt(" + " + ".join(f"c_sq{hi}" for hi in his) + ")"
        budget_rows.append(
            f"SELECT query_id, neighbor_id, {d} AS dims,\n"
            f"       round(CASE WHEN {qn} * {cn} > 0\n"
            f"                  THEN ({cum_dot}) / ({qn} * {cn})\n"
            f"                  ELSE 0.0 END + 1e-9, 6) AS cos_sim\n"
            f"FROM segdots"
        )
    # full width: the single-fold cosine, NOT a sum of segment dots —
    # bit-exact vs the ground truth by construction
    budget_rows.append(
        f"SELECT query_id, neighbor_id, {DIM_GRID[-1]} AS dims,\n"
        f"       {_cos_sql('qv', 'cv')} AS cos_sim\n"
        "FROM segdots"
    )
    budgets = "\n  UNION ALL\n  ".join(budget_rows)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {", ".join(sq_exprs)}
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, {", ".join(f"sq{hi}" for _, hi in _DIM_SEGMENTS)}
      FROM e WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, v AS cv, {", ".join(f"sq{hi}" for _, hi in _DIM_SEGMENTS)}
      FROM e WHERE vec_id >= {N_QUERIES}),
segdots AS (
  SELECT q.query_id, c.neighbor_id, qv, cv,
         {", ".join(seg_exprs)},
         {", ".join(f"q.sq{hi} AS q_sq{hi}" for _, hi in _DIM_SEGMENTS)},
         {", ".join(f"c.sq{hi} AS c_sq{hi}" for _, hi in _DIM_SEGMENTS)}
  FROM q CROSS JOIN c
),
scored AS (
  {budgets}
),
{_recall_tail_sql('dims')}"""


ANN_DIM_RECALL_CURVE_SQL = _ann_dim_curve_sql()


# ---------------------------------------------------------------------------
# ann_quantization_recall_curve — recall@k vs bits per coordinate
# ---------------------------------------------------------------------------

# Scalar-quantization budget grid: int2/int4/int8 plus the float
# passthrough (bits=32, no quantization — its row must read recall
# 1.0 by construction, the same self-check as the dim curve's full
# width). Together with `ann_dim_recall_curve` this completes the
# embedding-compression decision table: dims kept × bits per dim is
# the whole storage bill, and PQ (`embedding_pq_distortion` /
# `ann_pq_topk`) is the third point on the same tradeoff.
QUANT_BITS_GRID = [2, 4, 8, 32]


def ann_quantization_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of cosine search over scalar-quantized embeddings vs
    the full-precision exact top-k, for every budget on
    QUANT_BITS_GRID — the bits-per-coordinate tuning companion
    (int8 is a 4× storage/bandwidth cut vs float32; this curve is
    the measured basis for taking it, or going lower).

    Scale design: quantize-dequantize and the per-variant norms are
    computed ONCE per vector BEFORE the pair join (the expensive
    O(pairs) stage only folds dot products, the same prenormed
    discipline as every ANN op here); the query side is the fixed
    N_QUERIES broadcast; ranking is a (bits, query) window over
    bounded rows; ground truth reuses the audited brute-force plan.
    Quantization arithmetic (max-abs scale, floor(+0.5), dequant
    multiply) is replayed exactly in the DuckDB oracle."""
    emb = _vectors(spark, sf_dir)
    # Symmetric per-vector max-abs scalar quantization, immediately
    # dequantized: q = floor(x/scale + 0.5), x̂ = q·scale with scale =
    # max|x| / (2^(bits-1) − 1). floor(+0.5) — not round() — because
    # the two engines disagree on round()'s tie rule; floor(+0.5) is
    # half-up in both. A zero vector (scale 0) passes through
    # unchanged; bits ≥ 32 is the float passthrough.
    # Each budget's max-abs scale is hoisted into its own column
    # BEFORE the dequantize transform: inside it, the O(DIM)
    # array_max would re-evaluate in every element's lambda — O(DIM²)
    # interpreted work per vector, measured ~2.5 s of this query
    # alone at sf0.1.
    scaled = emb.select(
        "vec_id",
        "v",
        *[
            (
                F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
                / F.lit(float((1 << (b - 1)) - 1))
            ).alias(f"sc{b}")
            for b in QUANT_BITS_GRID
            if b < 32
        ],
    )

    def _dq_col(b: int) -> F.Column:
        if b >= 32:
            return F.col("v").alias(f"dq{b}")
        sc = F.col(f"sc{b}")
        return (
            F.when(
                sc > 0,
                F.transform(F.col("v"), lambda x: F.floor(x / sc + 0.5) * sc),
            )
            .otherwise(F.col("v"))
            .alias(f"dq{b}")
        )

    pre = scaled.select("vec_id", *[_dq_col(b) for b in QUANT_BITS_GRID])
    pre = pre.select(
        "vec_id",
        *[F.col(f"dq{b}") for b in QUANT_BITS_GRID],
        *[norm(F.col(f"dq{b}")).alias(f"n{b}") for b in QUANT_BITS_GRID],
    )
    cols = [f"dq{b}" for b in QUANT_BITS_GRID] + [f"n{b}" for b in QUANT_BITS_GRID]
    queries = pre.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), *[F.col(c).alias(f"q_{c}") for c in cols]
    )
    cands = pre.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), *[F.col(c).alias(f"c_{c}") for c in cols]
    )
    pairs = cands.crossJoin(F.broadcast(queries))
    budget_structs = []
    for b in QUANT_BITS_GRID:
        cos = cosine_prenormed(
            F.col(f"q_dq{b}"), F.col(f"c_dq{b}"), F.col(f"q_n{b}"), F.col(f"c_n{b}")
        )
        budget_structs.append(
            F.struct(F.lit(b).alias("bits"), F.round(cos + 1e-9, 6).alias("cos_sim"))
        )
    exploded = pairs.select(
        "query_id", "neighbor_id", F.explode(F.array(*budget_structs)).alias("s")
    ).select("query_id", "neighbor_id", "s.bits", "s.cos_sim")
    return _budget_recall(spark, sf_dir, exploded, "bits")


def _ann_quant_curve_sql() -> str:
    dq_exprs = []
    for b in QUANT_BITS_GRID:
        if b >= 32:
            dq_exprs.append("v AS dq32")
            continue
        qmax = float((1 << (b - 1)) - 1)
        scale = f"(list_max(list_transform(v, x -> abs(x))) / {qmax})"
        dq_exprs.append(
            f"CASE WHEN {scale} > 0\n"
            f"          THEN list_transform(v, x -> floor(x / {scale} + 0.5) * {scale})\n"
            f"          ELSE v END AS dq{b}"
        )
    cos_rows = []
    for b in QUANT_BITS_GRID:
        qn = f"sqrt(list_sum(list_transform(q.dq{b}, x -> x * x)))"
        cn = f"sqrt(list_sum(list_transform(c.dq{b}, x -> x * x)))"
        dot_ = (
            f"list_sum(list_transform(range(1, len(q.dq{b}) + 1), "
            f"i -> q.dq{b}[i] * c.dq{b}[i]))"
        )
        cos_rows.append(
            f"SELECT q.query_id, c.neighbor_id, {b} AS bits,\n"
            f"       round(CASE WHEN {qn} * {cn} > 0 THEN {dot_} / ({qn} * {cn})\n"
            f"                  ELSE 0.0 END + 1e-9, 6) AS cos_sim\n"
            f"FROM q CROSS JOIN c"
        )
    budgets = "\n  UNION ALL\n  ".join(cos_rows)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
dq AS (
  SELECT vec_id,
         {", ".join(dq_exprs)}
  FROM e
),
q AS (SELECT vec_id AS query_id, * EXCLUDE (vec_id) FROM dq WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, * EXCLUDE (vec_id) FROM dq WHERE vec_id >= {N_QUERIES}),
scored AS (
  {budgets}
),
{_recall_tail_sql('bits')}"""


ANN_QUANTIZATION_RECALL_CURVE_SQL = _ann_quant_curve_sql()


# ---------------------------------------------------------------------------
# ann_ndcg_eval — rank-aware index quality (NDCG@k + MRR vs brute force)
# ---------------------------------------------------------------------------

# 1/log2(rank+1) discounts and the ideal DCG, precomputed once in
# Python and inlined as LITERALS in both engines — NDCG's only
# transcendental, so neither engine ever calls log2 at query time
# (same idiom as the PLANES sign matrix above).
_NDCG_DISCOUNTS = [1.0 / math.log2(r + 1) for r in range(1, TOP_K + 1)]
_IDCG = sum((TOP_K + 1 - r) * d for r, d in zip(range(1, TOP_K + 1), _NDCG_DISCOUNTS))


def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k and MRR of the LSH index against the brute-force
    ground truth — the rank-AWARE companion to `ann_recall_eval`
    (recall says "did the true neighbors appear"; NDCG says "did
    they appear in the right ORDER", with graded relevance
    k+1−truth_rank, and MRR says "how deep is the true nearest
    neighbor"). Two indexes with identical recall can differ badly
    here, which is why ranking evals report both.

    Scale design: identical to `ann_recall_eval` — both inputs
    reuse the existing gated plans unchanged, the comparison join
    is (query_id, neighbor_id) over k·|queries| rows, and the
    discount/IDCG constants ride as literals, so the only new work
    is a k-row-per-query aggregate. Per-query NDCG on a sample is
    the production shape (truth is expensive, so it's measured on
    the query panel, never the full corpus)."""
    truth = ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("truth_rank")
    )
    approx = ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("approx_rank")
    )
    discount = F.element_at(
        F.array(*[F.lit(d) for d in _NDCG_DISCOUNTS]), F.col("approx_rank")
    )
    rel = F.coalesce(F.lit(TOP_K + 1) - F.col("truth_rank"), F.lit(0)).cast("double")
    per_query = (
        approx.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.sum(rel * discount) / F.lit(_IDCG) + 1e-9, 6).alias("ndcg_at_k"),
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("truth_rank") == 1, F.lit(1.0) / F.col("approx_rank"))),
                    F.lit(0.0),
                )
                + 1e-9,
                6,
            ).alias("mrr"),
        )
    )
    # drive the output from the truth's query panel so a query whose
    # LSH shortlist came back empty still reports ndcg/mrr = 0
    panel = truth.select("query_id").distinct()
    return panel.join(per_query, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("ndcg_at_k"), F.round(F.lit(0.0) + 1e-9, 6)).alias("ndcg_at_k"),
        F.coalesce(F.col("mrr"), F.round(F.lit(0.0) + 1e-9, 6)).alias("mrr"),
    )


# the oracle composes the two gated oracles verbatim; discounts and
# IDCG are the same Python-computed literals the Spark plan embeds
ANN_NDCG_EVAL_SQL = f"""
WITH t AS ({ANN_BRUTEFORCE_SQL}),
a AS ({ANN_LSH_SQL}),
joined AS (
  SELECT a.query_id,
         a.rank AS approx_rank,
         t.rank AS truth_rank,
         COALESCE({TOP_K + 1} - t.rank, 0)::DOUBLE AS rel
  FROM a LEFT JOIN t
    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
),
per_query AS (
  SELECT query_id,
         round(sum(rel * ([{", ".join(repr(d) for d in _NDCG_DISCOUNTS)}]::DOUBLE[])[approx_rank])
               / {_IDCG!r} + 1e-9, 6) AS ndcg_at_k,
         round(COALESCE(max(CASE WHEN truth_rank = 1 THEN 1.0 / approx_rank END), 0.0)
               + 1e-9, 6) AS mrr
  FROM joined
  GROUP BY query_id
)
SELECT p.query_id,
       COALESCE(q.ndcg_at_k, round(0.0 + 1e-9, 6)) AS ndcg_at_k,
       COALESCE(q.mrr, round(0.0 + 1e-9, 6)) AS mrr
FROM (SELECT DISTINCT query_id FROM t) p
LEFT JOIN per_query q USING (query_id)
"""


# ---------------------------------------------------------------------------
# embedding_covariance — upper-triangle covariance of the embedding space
# ---------------------------------------------------------------------------


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns —
    the input to PCA / whitening / anisotropy diagnostics on an
    embedding store. E[x_i·x_j] − E[x_i]·E[x_j] per (i ≤ j) pair.

    Scale design: the N·d²/2 product grain is the irreducible work;
    it is generated map-side (two nested explodes, vec sliced so
    only j ≥ i survives) and collapses through partial aggregation
    into exactly d(d+1)/2 groups — the shuffle carries d² partial
    sums per map partition, never N·d² rows. The d-row mean frame
    is broadcast (bounded by schema, not data)."""
    emb = _vectors(spark, sf_dir)
    d = F.size(F.col("v"))
    ex_i = emb.select(F.posexplode("v").alias("i", "xi"), "v", d.alias("d"))
    pairs = ex_i.select(
        "i",
        "xi",
        F.posexplode(F.slice(F.col("v"), F.col("i") + 1, F.col("d") - F.col("i"))).alias(
            "j0", "xj"
        ),
    ).select("i", (F.col("i") + F.col("j0")).alias("j"), "xi", "xj")
    e_ij = pairs.groupBy("i", "j").agg(F.avg(F.col("xi") * F.col("xj")).alias("e_xy"))
    means = ex_i.groupBy("i").agg(F.avg("xi").alias("mean"))
    return (
        e_ij.join(F.broadcast(means.select(F.col("i"), F.col("mean").alias("mean_i"))), "i")
        .join(
            F.broadcast(means.select(F.col("i").alias("j"), F.col("mean").alias("mean_j"))), "j"
        )
        .select(
            "i",
            "j",
            # + 0.0 after rounding collapses IEEE −0.0 to +0.0 (a
            # near-zero covariance rounds to −0.0 in one engine and
            # +0.0 in the other otherwise)
            (F.round(F.col("e_xy") - F.col("mean_i") * F.col("mean_j") + 1e-9, 6) + F.lit(0.0)).alias("cov"),
        )
    )


EMBEDDING_COVARIANCE_SQL = """
WITH ex_i AS (
  SELECT i, embedding[i]::DOUBLE AS xi, embedding AS v, len(embedding) AS d
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
pairs AS (
  SELECT i, j, xi, v[j]::DOUBLE AS xj
  FROM ex_i, unnest(range(i, d + 1)) AS t2(j)
),
e_ij AS (SELECT i, j, avg(xi * xj) AS e_xy FROM pairs GROUP BY 1, 2),
means AS (SELECT i, avg(xi) AS mean FROM ex_i GROUP BY 1)
SELECT e_ij.i - 1 AS i, e_ij.j - 1 AS j,
       round(e_xy - mi.mean * mj.mean + 1e-9, 6) + 0.0 AS cov
FROM e_ij
JOIN means mi ON e_ij.i = mi.i
JOIN means mj ON e_ij.j = mj.i
"""


# ---------------------------------------------------------------------------
# knn_label_eval — leave-one-out kNN majority-vote classification
# ---------------------------------------------------------------------------

KNN_K = 5
KNN_EVAL_N = 50  # fixed eval set: vec_id < 50


def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label prediction over the embedding table:
    each of the 50 fixed eval vectors is classified by the majority
    label of its 5 nearest (cosine) neighbors among ALL other
    vectors. The eval set is a fixed-size frame → broadcast (same
    shape as ann_bruteforce_topk: the corpus streams once, queries
    ride with every task); votes tie-break to the smallest label in
    both engines. At cluster scale the exact scan swaps for the IVF
    shortlist (ann_ivf_topk) without changing this vote/accuracy
    stage."""
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "true_label", "neighbor_id", "n_label", _cos6().alias("cos_sim"))
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    )
    topk = scored.withColumn("rank", rank).filter(F.col("rank") <= KNN_K)
    votes = topk.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    pick = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), F.col("n_label").asc())
    )
    return (
        votes.withColumn("pick", pick)
        .filter(F.col("pick") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            "n_votes",
            (F.col("n_label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )


KNN_LABEL_EVAL_SQL = f"""
WITH {_vectors_sql('vec_id, label')},
q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv FROM e WHERE vec_id < {KNN_EVAL_N}),
c AS (SELECT vec_id AS neighbor_id, label AS n_label, v AS cv FROM e),
scored AS (
  SELECT query_id, true_label, neighbor_id, n_label,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM q CROSS JOIN c
  WHERE neighbor_id != query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, true_label, n_label, count(*) AS n_votes
  FROM ranked WHERE rank <= {KNN_K}
  GROUP BY 1, 2, 3
),
picked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY n_votes DESC, n_label ASC) AS pick
  FROM votes
)
SELECT query_id, true_label, n_label AS pred_label, n_votes,
       CASE WHEN n_label = true_label THEN 1 ELSE 0 END AS correct
FROM picked WHERE pick = 1
"""


# ---------------------------------------------------------------------------
# embedding_pca_project — PCA via distributed covariance + driver eigh
# ---------------------------------------------------------------------------

PCA_K = 2


def _cov_fit(spark: SparkSession, sf_dir: str):
    """Distributed covariance (embedding_covariance's map-side
    d(d+1)/2 reduction): only the d×d matrix reaches the driver
    (d=64: 32 KB, cluster-size-independent). Returns (mu, cov) as
    numpy arrays — the shared fit for PCA and ZCA whitening."""
    import numpy as np

    emb = _vectors(spark, sf_dir)
    ex = emb.select(F.posexplode("v").alias("i", "xi"), F.size("v").alias("d"), "v")
    pairs = ex.select(
        "i",
        "xi",
        F.posexplode(F.slice(F.col("v"), F.col("i") + 1, F.col("d") - F.col("i"))).alias("j0", "xj"),
    ).select("i", (F.col("i") + F.col("j0")).alias("j"), "xi", "xj")
    e_ij = pairs.groupBy("i", "j").agg(F.avg(F.col("xi") * F.col("xj")).alias("e_xy"))
    means_rows = ex.groupBy("i").agg(F.avg("xi").alias("mean")).collect()
    cov_rows = e_ij.collect()
    d = max(r["i"] for r in means_rows) + 1
    mu = np.zeros(d)
    for r in means_rows:
        mu[r["i"]] = r["mean"]
    cov = np.zeros((d, d))
    for r in cov_rows:
        c = r["e_xy"] - mu[r["i"]] * mu[r["j"]]
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c
    return mu, cov


def _pca_fit(spark: SparkSession, sf_dir: str):
    """Covariance fit + driver-side numpy eigh. Returns (mu,
    components, shares, eigenvalues descending, total_var) with
    sign-normalized components."""
    import numpy as np

    mu, cov = _cov_fit(spark, sf_dir)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    total_var = float(evals.sum())
    comps, shares = [], []
    for idx in order[:PCA_K]:
        vec = evecs[:, idx]
        nz = np.nonzero(np.abs(vec) > 1e-12)[0]
        if len(nz) and vec[nz[0]] < 0:
            vec = -vec
        comps.append(vec)
        shares.append(float(evals[idx]) / total_var if total_var > 0 else 0.0)
    evals_desc = [float(evals[idx]) for idx in order]
    return mu, comps, shares, evals_desc, total_var


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding store onto its top-K
    principal components, the MLlib pattern end to end: the
    covariance reduces distributed (the N·d²/2 grain collapses
    map-side to d(d+1)/2 sums — embedding_covariance's plan), ONLY
    the d×d matrix reaches the driver for numpy eigh (d=64: 32 KB,
    cluster-size-independent), and the top-K eigenvectors ride
    back as literals inside a codegen'd dot-product projection —
    one scan, zero Python in the per-row path.

    Eigenvector sign is normalized (first nonzero component > 0)
    so output is deterministic. No SQL oracle — eigh has no SQL
    form (rows-only gate); the hash-gated companion
    `embedding_pca_invariants` certifies the numbers DuckDB CAN
    check (trace, projection-mean/variance/orthonormality
    residuals, share bounds)."""
    mu, comps, shares, _evals, _total_var = _pca_fit(spark, sf_dir)
    emb = _vectors(spark, sf_dir)

    # project: centered dot product as a zip_with sum — pure JVM
    out_cols = [emb["vec_id"], emb["label"]]
    for k, vec in enumerate(comps):
        w = F.array(*[F.lit(float(x)) for x in vec])
        centered = F.zip_with(F.col("v"), F.array(*[F.lit(float(m)) for m in mu]), lambda x, m: x - m)
        score = F.aggregate(
            F.zip_with(centered, w, lambda x, wk: x * wk),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out_cols.append(F.round(score + 1e-9, 6).alias(f"pc{k + 1}"))
        out_cols.append(F.lit(round(shares[k] + 1e-9, 6)).alias(f"pc{k + 1}_var_share"))
    return emb.select(*out_cols)


def embedding_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated companion certifying `embedding_pca_project`'s
    error contract — the sketch-companion recipe
    (events_user_count_hll_error): the projection itself has no SQL
    form (eigh), so this query emits the numbers DuckDB CAN verify
    independently, one row per principal component:

    - ``total_var``: trace of the covariance matrix, computed by
      the distributed d(d+1)/2 reduction + driver sum — the oracle
      recomputes it from the raw embeddings as Σ_i var(x_i), so a
      wrong covariance pass cannot hash-match.
    - ``mean_residual``: |mean of the projected component over the
      data| at 6 dp — centered projections have exactly zero mean,
      so both engines must see 0.0.
    - ``ortho_residual``: max |⟨c_k,c_j⟩ − δ_kj| over j ≤ k at
      6 dp — components are orthonormal, must be 0.0.
    - ``var_matches_eigenvalue``: the data-side population variance
      of pc_k (a second, independent Spark aggregation over the
      projected scores) equals λ_k within 1e-5 relative — ties the
      projection path to the eigendecomposition.
    - ``share_ok`` / ``recon_bound_ok``: explained shares in (0,1],
      non-increasing, cumulative ≤ 1; reconstruction error
      total_var − Σ_{j≤k} λ_j is non-negative.

    Scale design: one extra scan of the embedding table collapsing
    to a single 1-row aggregate (2 avgs per component); everything
    else is driver-side arithmetic on the d²-bounded fit."""
    import numpy as np

    mu, comps, shares, evals_desc, total_var = _pca_fit(spark, sf_dir)
    emb = _vectors(spark, sf_dir)
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    aggs = []
    for k, vec in enumerate(comps):
        w = F.array(*[F.lit(float(x)) for x in vec])
        centered = F.zip_with(F.col("v"), mu_lit, lambda x, m: x - m)
        score = F.aggregate(
            F.zip_with(centered, w, lambda x, wk: x * wk),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        aggs.append(F.avg(score).alias(f"m{k}"))
        aggs.append(F.avg(score * score).alias(f"s{k}"))
    stats = emb.agg(*aggs)  # 1 row

    # ONE aggregate row → K output rows via array+explode (a Union
    # of per-component selects would re-run the scan+agg per branch)
    rows = []
    cum = 0.0
    tol = 1e-5
    for k in range(PCA_K):
        lam = evals_desc[k]
        cum += lam
        ortho = max(
            abs(float(np.dot(comps[k], comps[j])) - (1.0 if j == k else 0.0))
            for j in range(k + 1)
        )
        share_ok = (
            0.0 < shares[k] <= 1.0 + 1e-12
            and (k == 0 or shares[k] <= shares[k - 1] + 1e-12)
            and sum(shares[: k + 1]) <= 1.0 + 1e-9
        )
        recon_ok = total_var - cum >= -1e-9 * max(total_var, 1.0)
        var_k = F.col(f"s{k}") - F.col(f"m{k}") * F.col(f"m{k}")
        rows.append(
            F.struct(
                F.lit(k + 1).cast("int").alias("component"),
                F.lit(round(total_var + 1e-9, 6)).alias("total_var"),
                (F.round(F.abs(F.col(f"m{k}")), 6) + F.lit(0.0)).alias("mean_residual"),
                F.lit(round(ortho + 1e-9, 6) + 0.0).alias("ortho_residual"),
                (F.abs(var_k - F.lit(lam)) <= F.lit(tol) * F.greatest(F.lit(lam), F.lit(1e-9))).alias(
                    "var_matches_eigenvalue"
                ),
                F.lit(bool(share_ok)).alias("share_ok"),
                F.lit(bool(recon_ok)).alias("recon_bound_ok"),
            )
        )
    return stats.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


EMBEDDING_PCA_INVARIANTS_SQL = f"""
WITH ex AS (
  SELECT i, embedding[i]::DOUBLE AS xi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
dims AS (SELECT i, avg(xi * xi) AS e2, avg(xi) AS m FROM ex GROUP BY i),
trace AS (SELECT round(sum(e2 - m * m) + 1e-9, 6) AS total_var FROM dims)
SELECT CAST(k AS INT) AS component, total_var,
       0.0::DOUBLE AS mean_residual, 0.0::DOUBLE AS ortho_residual,
       TRUE AS var_matches_eigenvalue, TRUE AS share_ok, TRUE AS recon_bound_ok
FROM trace, unnest(range(1, {PCA_K} + 1)) AS t(k)
"""


# ---------------------------------------------------------------------------
# embedding_whitening — ZCA whitening (covariance → identity)
# ---------------------------------------------------------------------------

WHITEN_K = 4  # leading whitened coordinates emitted / probed
WHITEN_EPS = 1e-12  # eigenvalue floor (rank-deficiency guard)


def _whiten_fit(spark: SparkSession, sf_dir: str):
    """ZCA whitening matrix W = V Λ^(-1/2) Vᵀ from the distributed
    covariance fit; driver-side d×d arithmetic only."""
    import numpy as np

    mu, cov = _cov_fit(spark, sf_dir)
    evals, evecs = np.linalg.eigh(cov)
    inv_sqrt = 1.0 / np.sqrt(np.maximum(evals, WHITEN_EPS))
    w = (evecs * inv_sqrt) @ evecs.T  # ZCA: V Λ^-1/2 Vᵀ
    return mu, w, float(cov.trace())


def _whiten_scores(mu, w, n: int) -> list:
    """Column expressions for the first n whitened coordinates —
    centered dot products against literal W rows, pure JVM."""
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(F.col("v"), mu_lit, lambda x, m: x - m)
    scores = []
    for k in range(n):
        wk = F.array(*[F.lit(float(x)) for x in w[k]])
        scores.append(
            F.aggregate(
                F.zip_with(centered, wk, lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return scores


def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding store — the feature
    preprocessing that maps the covariance to the identity while
    staying closest (least-squares) to the original basis, the
    standard decorrelation step before linear probes / nearest-
    centroid classifiers. Same execution shape as
    `embedding_pca_project`: the d(d+1)/2 covariance reduction is
    the only distributed fit work, W = V Λ^(-1/2) Vᵀ is d×d
    driver-side arithmetic, and the whitened coordinates ride back
    as literal-array dot products inside codegen (no per-row
    Python). Emits the first WHITEN_K whitened coordinates per
    vector. Rows-only at the gate (eigh has no SQL form); the
    hash-gated companion `embedding_whiten_invariants` certifies
    the contract."""
    mu, w, _total_var = _whiten_fit(spark, sf_dir)
    emb = _vectors(spark, sf_dir)
    scores = _whiten_scores(mu, w, WHITEN_K)
    return emb.select(
        "vec_id",
        "label",
        *[
            (F.round(s + 1e-9, 6) + F.lit(0.0)).alias(f"w{k + 1}")
            for k, s in enumerate(scores)
        ],
    )


def embedding_whiten_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated companion for `embedding_whitening` (the PCA
    companion's recipe): one row per probe pair (j ≤ k ≤ WHITEN_K)
    carrying

    - ``total_var``: the covariance trace, independently recomputed
      by the oracle from the raw embeddings (anchors the
      distributed fit to data);
    - ``mean_residual``: |mean of whitened coordinate j| at 6 dp —
      centering makes it exactly 0.0;
    - ``cov_matches_identity``: the data-side covariance of
      (y_j, y_k) — a second, independent Spark aggregation over the
      whitened scores — equals δ_jk within 1e-5 (whitening's
      defining property, verified on data, not assumed from
      algebra).

    One extra scan collapsing to a single 1-row aggregate
    (WHITEN_K means + WHITEN_K(WHITEN_K+1)/2 product means)."""
    mu, w, total_var = _whiten_fit(spark, sf_dir)
    emb = _vectors(spark, sf_dir)
    scores = _whiten_scores(mu, w, WHITEN_K)
    aggs = []
    for j in range(WHITEN_K):
        aggs.append(F.avg(scores[j]).alias(f"m{j}"))
        for k in range(j, WHITEN_K):
            aggs.append(F.avg(scores[j] * scores[k]).alias(f"p{j}_{k}"))
    stats = emb.agg(*aggs)  # 1 row

    tol = 1e-5
    rows = []
    for j in range(WHITEN_K):
        for k in range(j, WHITEN_K):
            target = 1.0 if j == k else 0.0
            cov_jk = F.col(f"p{j}_{k}") - F.col(f"m{j}") * F.col(f"m{k}")
            rows.append(
                F.struct(
                    F.lit(j + 1).cast("int").alias("j"),
                    F.lit(k + 1).cast("int").alias("k"),
                    F.lit(round(total_var + 1e-9, 6)).alias("total_var"),
                    (F.round(F.abs(F.col(f"m{j}")), 6) + F.lit(0.0)).alias("mean_residual"),
                    (F.abs(cov_jk - F.lit(target)) <= F.lit(tol)).alias("cov_matches_identity"),
                )
            )
    return stats.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


EMBEDDING_WHITEN_INVARIANTS_SQL = f"""
WITH ex AS (
  SELECT i, embedding[i]::DOUBLE AS xi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
),
dims AS (SELECT i, avg(xi * xi) AS e2, avg(xi) AS m FROM ex GROUP BY i),
trace AS (SELECT round(sum(e2 - m * m) + 1e-9, 6) AS total_var FROM dims)
SELECT CAST(j AS INT) AS j, CAST(k AS INT) AS k, total_var,
       0.0::DOUBLE AS mean_residual, TRUE AS cov_matches_identity
FROM trace,
     unnest(range(1, {WHITEN_K} + 1)) AS t1(j),
     unnest(range(1, {WHITEN_K} + 1)) AS t2(k)
WHERE j <= k
"""


# ---------------------------------------------------------------------------
# ann_range_search — cosine radius search over LSH candidates
# ---------------------------------------------------------------------------

RANGE_TAU = 0.3


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every neighbor with cosine
    ≥ RANGE_TAU of each query vector — the dedup/contamination
    primitive ("give me EVERYTHING close", where top-k's fixed
    cutoff under- or over-shoots per query). Candidates come from
    the same multi-table sign-random-projection buckets as
    ann_lsh_topk (a vector pair is compared only if it shares a
    bucket in ≥1 of the N_TABLES tables), then exact cosine filters
    at the radius. The approximate contract — LSH-candidates, not
    all pairs — is itself the oracle-checked semantics: the DuckDB
    SQL replays the identical ±1 hyperplanes, so recall loss is
    deterministic and certified, never silent.

    Scale design: identical to the top-k path — bucket keys are the
    join keys, the query side broadcasts, and the radius filter
    runs before any window, so output is the only per-query
    variable cost. No all-pairs stage anywhere."""
    return (
        _lsh_pairs(_vectors(spark, sf_dir))
        .select("query_id", "neighbor_id", _cos6().alias("cos_sim"))
        .filter(F.col("cos_sim") >= RANGE_TAU)
    )


ANN_RANGE_SQL = f"""
WITH {_vectors_sql()},
{_lsh_cand_sql()},
scored AS (
  SELECT query_id, neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM cand
)
SELECT query_id, neighbor_id, cos_sim FROM scored WHERE cos_sim >= {RANGE_TAU}
"""


# ---------------------------------------------------------------------------
# embedding_drift — reference-vs-candidate centroid drift per label
# ---------------------------------------------------------------------------

DRIFT_COSINE_MIN = 0.995


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift audit between a reference slice (even
    vec_ids — the stand-in for "last snapshot") and a candidate
    slice (odd vec_ids — "new batch"): per label, both slice
    centroids, their cosine, the centroid-norm ratio, and a drift
    flag when cosine falls under DRIFT_COSINE_MIN. This is the
    check run before swapping an embedding model or ingesting a new
    crawl — a label whose centroid rotated is a semantics change
    the downstream ANN index will silently mis-serve.

    Scale design: everything reduces map-side to (label, half, dim)
    partial sums — |labels|·2·DIM rows leave the scan regardless of
    corpus size; centroids are 6-dp quantized before the cosine so
    cross-engine float-sum order can't flip the flag."""
    emb = _vectors(spark, sf_dir).select(
        "label", (F.col("vec_id") % 2).alias("half"), "v"
    )
    dims = emb.select(
        "label", "half", F.posexplode("v").alias("dim", "val")
    )
    cent = dims.groupBy("label", "half", "dim").agg(
        F.round(F.avg("val") + 1e-9, 6).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    ref = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("n_ref")
    )
    cand = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("n_cand")
    )
    joined = ref.join(cand, ["label", "dim"])
    agg = joined.groupBy("label").agg(
        F.first("n_ref").alias("n_ref"),
        F.first("n_cand").alias("n_cand"),
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
        F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")) + 1e-9, 6)
    return agg.select(
        "label",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cand").cast("long").alias("n_cand"),
        cos.alias("centroid_cosine"),
        F.round(F.col("nb") / F.col("na") + 1e-9, 6).alias("centroid_norm_ratio"),
        (cos < DRIFT_COSINE_MIN).alias("drifted"),
    )


EMBEDDING_DRIFT_SQL = f"""
WITH {_vectors_sql('label, vec_id % 2 AS half')},
dims AS (
  SELECT label, half, i - 1 AS dim, v[i] AS val
  FROM e CROSS JOIN range(1, {DIM} + 1) t(i)
),
cent AS (
  SELECT label, half, dim, round(avg(val) + 1e-9, 6) AS c, count(*) AS n
  FROM dims GROUP BY 1, 2, 3
),
joined AS (
  SELECT a.label, a.c AS ca, b.c AS cb, a.n AS n_ref, b.n AS n_cand
  FROM cent a JOIN cent b ON a.label = b.label AND a.dim = b.dim
  WHERE a.half = 0 AND b.half = 1
),
agg AS (
  SELECT label, min(n_ref) AS n_ref, min(n_cand) AS n_cand,
         sum(ca * cb) AS dot,
         sqrt(sum(ca * ca)) AS na, sqrt(sum(cb * cb)) AS nb
  FROM joined GROUP BY label
)
SELECT label, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cand AS BIGINT) AS n_cand,
       round(dot / (na * nb) + 1e-9, 6) AS centroid_cosine,
       round(nb / na + 1e-9, 6) AS centroid_norm_ratio,
       round(dot / (na * nb) + 1e-9, 6) < {DRIFT_COSINE_MIN} AS drifted
FROM agg
"""


# ---------------------------------------------------------------------------
# ann_ivf_probe_curve — nprobe tuning table for the IVF index
# ---------------------------------------------------------------------------

IVF_CURVE_MAX_PROBE = 4


def ann_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k as a function of the IVF probe budget — the tuning
    table N_PROBE is chosen from (the `emb_blocking_curve` analogue
    for the query path): for p = 1..IVF_CURVE_MAX_PROBE, run the IVF
    top-k restricted to each query's p nearest cells and measure
    recall against the exact brute-force top-k. "Measure, don't
    guess" for the latency/recall knob every IVF deployment turns.

    Scale: ONE candidate join at the widest budget (probe rank rides
    along), then a probe-grid explode (×4, constants-bounded) and
    per-(p, query) windows; ground truth is the brute-force top-k
    (its own audited broadcast shape)."""
    queries, cands = _ivf_probe(
        _vectors(spark, sf_dir), IVF_CURVE_MAX_PROBE, F.col("cell_rank").alias("lvl")
    )
    scored = cands.join(F.broadcast(queries), "cell_id").select(
        "query_id", "neighbor_id", "lvl", _cos6().alias("cos_sim")
    )
    grid = spark.createDataFrame(
        [(p,) for p in range(1, IVF_CURVE_MAX_PROBE + 1)], "probe int"
    )
    per_budget = scored.join(F.broadcast(grid), F.col("lvl") <= F.col("probe"))
    return _budget_recall(spark, sf_dir, per_budget, "probe")


ANN_IVF_PROBE_CURVE_SQL = f"""
WITH {_vectors_sql()},
{_ivf_cells_sql(IVF_CURVE_MAX_PROBE, lvl=True)},
grid AS (SELECT CAST(unnest([{", ".join(str(p) for p in range(1, IVF_CURVE_MAX_PROBE + 1))}]) AS INTEGER) AS probe),
scored AS (
  SELECT g.probe, query_id, neighbor_id,
         {_cos_sql('qv', 'cv')} AS cos_sim
  FROM cand_cells JOIN query_cells USING (cell_id) JOIN grid g ON lvl <= g.probe
),
{_recall_tail_sql('probe')}"""


# ---------------------------------------------------------------------------
# embedding_knn_graph — blocked kNN graph (the graph-ANN building block)
# ---------------------------------------------------------------------------

EMB_KNN_K = 3

# Cross-query memo for the ranked kNN edge list (src, rank, dst,
# cos_sim): three registered queries (`embedding_knn_graph`,
# `embedding_knn_outlier`, `embedding_intrinsic_dim`) consume the
# SAME blocked self-join + per-src top-k, so it is built once per
# (applicationId, sf_dir) as a caching.Memo. At cluster scale the
# same role is a materialized edge table written once per corpus
# snapshot.
_KNN_EDGES_MEMO = Memo()
# ground-truth exact top-k shared by the ANN eval/curve family
# (resolved at call time by ann_bruteforce_topk above)
_BF_TOPK_MEMO = Memo()


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked directed kNN edges (src, rank, dst, cos_sim) over the
    cluster-blocked candidate set, memoized per (session, sf_dir).

    Scale: candidates come from the SAME (k-means cell, label)
    multi-probe blocking as `dedup_embedding` — K grows with the
    corpus (corpus_k), so per-block fan-out is bounded and there is
    never an all-pairs stage. One undirected blocked self-join +
    mirror, then a per-src window for the top-k (src-partitioned —
    parallel)."""

    def build() -> DataFrame:
        cents = trained_centroids(spark, sf_dir, KMEANS_ITERS)
        pairs, cos = _block_pairs(_multiprobe(_vectors(spark, sf_dir), cents), ("cluster", "label"))
        und = pairs.select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"), cos.alias("cos_sim")
        ).distinct()
        directed = und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "cos_sim")
        )
        rn = F.row_number().over(
            Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
        )
        return directed.withColumn("rank", rn).filter(F.col("rank") <= EMB_KNN_K)

    return _KNN_EDGES_MEMO.get_or_build(spark, sf_dir, build)


def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed kNN graph over the cluster-blocked candidate set —
    the seed structure every graph-ANN method (NN-descent, HNSW base
    layer) and graph-based dedup/diversity pass starts from: each
    vector's EMB_KNN_K nearest in-block neighbors by cosine, plus
    the reciprocal-edge flag (mutual kNN edges are the high-precision
    subgraph clustering-by-kNN keeps).

    Scale: the ranked edge list comes from the memoized `_knn_edges`
    stage (cluster-blocked candidates — K ∝ N, never all-pairs;
    built once per session/corpus, shared with
    `embedding_knn_outlier` / `embedding_intrinsic_dim`); this query
    adds only the ≤ N·K self-join for reciprocity."""
    knn = _knn_edges(spark, sf_dir)
    rev = knn.select(F.col("src").alias("m_dst"), F.col("dst").alias("m_src"), F.lit(1).alias("m"))
    return (
        knn.join(
            rev,
            (F.col("src") == F.col("m_src")) & (F.col("dst") == F.col("m_dst")),
            "left",
        )
        .select(
            "src", "rank", "dst", "cos_sim", F.col("m").isNotNull().alias("is_mutual")
        )
    )


def _knn_sql() -> str:
    """DuckDB twin of `_knn_edges`: the blocked pair CTEs of
    `_emb_pairs_parts`, then `directed` and the ranked `knn`
    edges."""
    return (
        ",\n".join(_emb_pairs_parts())
        + f""",
directed AS (
  SELECT vec_a AS src, vec_b AS dst, cos_sim FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst, cos_sim FROM pairs
),
knn AS (
  SELECT src, dst, cos_sim,
         CAST(row_number() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS INTEGER) AS rank
  FROM directed
  QUALIFY rank <= {EMB_KNN_K}
)"""
    )


def _embedding_knn_graph_sql() -> str:
    return _knn_sql() + """
SELECT k.src, k.rank, k.dst, k.cos_sim,
       (r.src IS NOT NULL) AS is_mutual
FROM knn k LEFT JOIN knn r ON k.src = r.dst AND k.dst = r.src
"""


# ---------------------------------------------------------------------------
# embedding_silhouette — clustering-quality score per label (new r7)
# ---------------------------------------------------------------------------


def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each
    vector, a = euclidean distance to its OWN label centroid, b =
    distance to the NEAREST other centroid, s = (b−a)/max(a,b) — the
    label-separation health check run before anyone trusts `label`
    as a blocking or stratification key (medoid-free variant, the
    form sklearn calls "simplified silhouette"; full silhouette is
    O(N²) and pointless at corpus scale).

    Scale design: centroids are |labels|·DIM rounded scalars — the
    `trained_centroids` driver-collect class (bounded by schema, not
    data) — inlined as codegen literals, so per-vector a/b/s is a
    zero-join, zero-shuffle projection inside the scan; the only
    shuffles are the |labels|·DIM centroid partial agg and the final
    |labels|-row rollup. Centroids are rounded at 6 dp BEFORE the
    distances so both engines measure against bit-identical
    prototypes."""
    emb = _vectors(spark, sf_dir)
    cent_rows = label_centroids(spark, sf_dir).select("label", "dim", "cval").collect()
    cents: dict[int, list[float]] = {}
    for r in cent_rows:
        cents.setdefault(r["label"], [0.0] * DIM)[r["dim"]] = r["cval"]
    labels = sorted(cents)

    def dist_to(lab: int) -> F.Column:
        c = F.array(*[F.lit(x) for x in cents[lab]])
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    a = None
    for lab in labels:
        a = F.when(F.col("label") == lab, dist_to(lab)) if a is None else a.when(
            F.col("label") == lab, dist_to(lab)
        )
    # append a typed NULL so least() stays arity-valid when the table
    # holds a single label (least skips nulls; b then degrades to
    # NULL exactly like the DuckDB twin's min over an empty set)
    b = F.least(
        *[F.when(F.col("label") != lab, dist_to(lab)) for lab in labels],
        F.lit(None).cast("double"),
    )
    scored = emb.select(
        "label",
        a.alias("a"),
        b.alias("b"),
    ).withColumn(
        "s", (F.col("b") - F.col("a")) / F.nullif(F.greatest("a", "b"), F.lit(0.0))
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("a") + 1e-9, 6).alias("mean_intra"),
        F.round(F.avg("b") + 1e-9, 6).alias("mean_nearest_other"),
        F.round(F.avg("s") + 1e-9, 6).alias("mean_silhouette"),
    )


EMBEDDING_SILHOUETTE_SQL = f"""
WITH {_vectors_sql('vec_id, label')},
dims AS (
  SELECT label, i - 1 AS dim, v[i] AS val
  FROM e CROSS JOIN range(1, {DIM} + 1) t(i)
),
cent AS (
  SELECT label AS clabel, dim, round(avg(val) + 1e-9, 6) AS cval
  FROM dims GROUP BY 1, 2
),
carr AS (SELECT clabel, list(cval ORDER BY dim) AS c FROM cent GROUP BY 1),
d AS (
  SELECT e.vec_id, e.label, carr.clabel,
         sqrt(list_sum(list_transform(range(1, {DIM} + 1), i -> (e.v[i] - carr.c[i]) * (e.v[i] - carr.c[i])))) AS dist
  FROM e CROSS JOIN carr
),
ab AS (
  SELECT vec_id, label,
         max(CASE WHEN clabel = label THEN dist END) AS a,
         min(CASE WHEN clabel <> label THEN dist END) AS b
  FROM d GROUP BY 1, 2
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(a) + 1e-9, 6) AS mean_intra,
       round(avg(b) + 1e-9, 6) AS mean_nearest_other,
       round(avg((b - a) / nullif(greatest(a, b), 0.0)) + 1e-9, 6) AS mean_silhouette
FROM ab GROUP BY 1
"""


# ---------------------------------------------------------------------------
# embedding_knn_outlier — kNN-distance outlier report (new r7)
# ---------------------------------------------------------------------------

KNN_OUTLIER_TOP = 50


def embedding_knn_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier report: each vector's mean cosine
    DISTANCE to its EMB_KNN_K nearest in-block neighbors (the
    classic kNN outlier score / LOF's numerator), top
    KNN_OUTLIER_TOP by score — the "what doesn't belong in this
    corpus" feed a data-curation pass reviews before training.
    Vectors the blocking isolates entirely (no in-block candidate at
    any probe) have nothing near them by construction and surface at
    the maximal score 1.0 with n_neighbors = 0.

    Scale design: edges come from the memoized `_knn_edges` stage
    (the cluster-blocked candidate set — K ∝ N, no all-pairs stage;
    built once per session/corpus, shared across the kNN family);
    the score is one src-keyed aggregate of the ≤ N·K edge list; the
    top-N is TakeOrdered (per-partition heads, never a global sort);
    the isolated-vector backfill is a shuffle join on vec_id."""
    edges = _knn_edges(spark, sf_dir)
    scores = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.round(1.0 - F.avg("cos_sim") + 1e-9, 6).alias("knn_mean_dist"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        emb.join(scores, emb.vec_id == scores.src, "left")
        .select(
            "vec_id",
            "label",
            F.coalesce(F.col("n_neighbors"), F.lit(0)).cast("long").alias("n_neighbors"),
            F.coalesce(F.col("knn_mean_dist"), F.lit(1.0)).alias("knn_mean_dist"),
        )
        .orderBy(F.col("knn_mean_dist").desc(), "vec_id")
        .limit(KNN_OUTLIER_TOP)
    )


def _embedding_knn_outlier_sql() -> str:
    return _knn_sql() + f""",
scores AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_neighbors,
         round(1.0 - avg(cos_sim) + 1e-9, 6) AS knn_mean_dist
  FROM knn GROUP BY 1
)
SELECT e.vec_id, e.label,
       coalesce(s.n_neighbors, 0) AS n_neighbors,
       coalesce(s.knn_mean_dist, 1.0) AS knn_mean_dist
FROM embeddings e LEFT JOIN scores s ON e.vec_id = s.src
ORDER BY knn_mean_dist DESC, e.vec_id
LIMIT {KNN_OUTLIER_TOP}
"""


# ---------------------------------------------------------------------------
# embedding_intrinsic_dim — TwoNN intrinsic-dimension estimate (new r7)
# ---------------------------------------------------------------------------


def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) over
    the blocked kNN edges: per vector, μ = r2/r1 (cosine distances
    to its 2nd and 1st nearest in-block neighbors); the MLE is
    d̂ = n / Σ ln μ — the "are these 64 dims really 64 dims" audit
    that sizes PQ codebooks, PCA targets, and ANN recall
    expectations. Vectors with r1 = 0 (an exact duplicate as the
    nearest neighbor — μ undefined) or fewer than 2 in-block
    neighbors are excluded, and both exclusions are reported.

    Scale design: edges come from the memoized `_knn_edges` stage
    (corpus-proportional blocking, never all-pairs; built once per
    session/corpus, shared across the kNN family); the r1/r2 pivot
    is one src-keyed aggregate of the ≤ N·K edge list; the MLE folds
    to a 1-row output."""
    edges = _knn_edges(spark, sf_dir).select("src", "rank", "cos_sim")
    rr = edges.groupBy("src").agg(
        F.min(F.when(F.col("rank") == 1, 1.0 - F.col("cos_sim"))).alias("r1"),
        F.min(F.when(F.col("rank") == 2, 1.0 - F.col("cos_sim"))).alias("r2"),
    )
    usable = (F.col("r1") > 0) & F.col("r2").isNotNull()
    return rr.agg(
        F.count(F.lit(1)).alias("n_with_neighbors"),
        F.sum(usable.cast("long")).alias("n_used"),
        F.round(
            F.sum(usable.cast("long"))
            / F.nullif(
                F.sum(F.when(usable, F.log(F.col("r2") / F.col("r1")))), F.lit(0.0)
            )
            + 1e-9,
            4,
        ).alias("id_mle"),
    )


def _embedding_intrinsic_dim_sql() -> str:
    return _knn_sql() + """,
rr AS (
  SELECT src,
         min(CASE WHEN rank = 1 THEN 1.0 - cos_sim END) AS r1,
         min(CASE WHEN rank = 2 THEN 1.0 - cos_sim END) AS r2
  FROM knn GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_with_neighbors,
       CAST(sum(CASE WHEN r1 > 0 AND r2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
       round(sum(CASE WHEN r1 > 0 AND r2 IS NOT NULL THEN 1 ELSE 0 END)
             / nullif(sum(CASE WHEN r1 > 0 AND r2 IS NOT NULL THEN ln(r2 / r1) END), 0.0)
             + 1e-9, 4) AS id_mle
FROM rr
"""


QUERIES = {
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTEFORCE_SQL),
    "embedding_knn_graph": (embedding_knn_graph, _embedding_knn_graph_sql()),
    "ann_ivf_probe_curve": (ann_ivf_probe_curve, ANN_IVF_PROBE_CURVE_SQL),
    "ann_dim_recall_curve": (ann_dim_recall_curve, ANN_DIM_RECALL_CURVE_SQL),
    "ann_quantization_recall_curve": (
        ann_quantization_recall_curve,
        ANN_QUANTIZATION_RECALL_CURVE_SQL,
    ),
    "ann_range_search": (ann_range_search, ANN_RANGE_SQL),
    "embedding_drift": (embedding_drift, EMBEDDING_DRIFT_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_ivf_pq_topk": (ann_ivf_pq_topk, ANN_IVF_PQ_SQL),
    "ann_pq_topk": (ann_pq_topk, ANN_PQ_SQL),
    "ann_ivf_cell_balance": (ann_ivf_cell_balance, ANN_IVF_CELL_BALANCE_SQL),
    "embedding_pq_distortion": (embedding_pq_distortion, EMBEDDING_PQ_DISTORTION_SQL),
    "label_centroids": (label_centroids, LABEL_CENTROIDS_SQL),
    "kmeans_embeddings": (kmeans_embeddings, KMEANS_EMBEDDINGS_SQL),
    "semdedup": (semdedup, SEMDEDUP_SQL),
    "embedding_quantize": (embedding_quantize, EMBEDDING_QUANTIZE_SQL),
    "embedding_norm_audit": (embedding_norm_audit, EMBEDDING_NORM_AUDIT_SQL),
    "ann_recall_eval": (ann_recall_eval, ANN_RECALL_EVAL_SQL),
    "ann_ndcg_eval": (ann_ndcg_eval, ANN_NDCG_EVAL_SQL),
    "lsh_tables_recall_curve": (lsh_tables_recall_curve, LSH_TABLES_RECALL_CURVE_SQL),
    "ann_mmr_topk": (ann_mmr_topk, ANN_MMR_SQL),
    "embedding_covariance": (embedding_covariance, EMBEDDING_COVARIANCE_SQL),
    "knn_label_eval": (knn_label_eval, KNN_LABEL_EVAL_SQL),
    "embedding_pca_project": (embedding_pca_project, None),
    "embedding_pca_invariants": (embedding_pca_invariants, EMBEDDING_PCA_INVARIANTS_SQL),
    "embedding_whitening": (embedding_whitening, None),
    "embedding_whiten_invariants": (embedding_whiten_invariants, EMBEDDING_WHITEN_INVARIANTS_SQL),
    "embedding_silhouette": (embedding_silhouette, EMBEDDING_SILHOUETTE_SQL),
    "embedding_knn_outlier": (embedding_knn_outlier, _embedding_knn_outlier_sql()),
    "embedding_intrinsic_dim": (embedding_intrinsic_dim, _embedding_intrinsic_dim_sql()),
}
