"""Similarity search over the `embeddings` table (array<float> vectors).

  s01 brute-force top-k cosine — the exactness baseline. Broadcast the query
      vectors, score every row with an Arrow-batched numpy kernel, take
      top-k per query via a rank window. At 100 TB the data side stays
      partitioned; cost is
      a single narrow pass (no shuffle except the final per-query top-k,
      which is #queries*k rows).
  s02 LSH-bucketed ANN — random-hyperplane signatures; only rows sharing a
      signature bucket with the query are scored. The hyperplane family is
      md5-derived (±1 Rademacher signs) over quantized integer components,
      so bucket assignment is bit-reproducible in SQL and s02/s10 are
      oracle-exact, not just deterministic.

Determinism contract for the s01 oracle: the dot product and the squared
norms are quantized per element — round(x*y*1e6) as BIGINT — then summed as
integers (associative), so Spark and DuckDB produce bit-identical scores;
cosine is then a fixed sequence of IEEE ops on identical integers. Top-k
tie-breaks on neighbor id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data import load_table
from ..registry import register
from ..functions.localframe import local_df

def _work_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(query, corpus, process) scratch dir, WIPED and
    recreated per invocation: repeated runs of a vector query overwrite
    their one corpus-sized copy (lance dataset / decoded parquet spill)
    instead of accumulating a fresh mkdtemp per call (round-15 ADVICE).
    The pid in the name keeps CONCURRENT processes (parallel bench /
    pytest-xdist) from rmtree'ing each other's live datasets; within one
    process query execution is serial."""
    import hashlib
    import os
    import shutil
    import tempfile
    from pathlib import Path

    stem = f"lkspark_{kind}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
    root = Path(tempfile.gettempdir())
    # reap siblings left by EXITED processes so the leak stays bounded
    # at one corpus copy per LIVE process, not per historical pid
    for old in root.glob(f"{stem}_*"):
        try:
            pid = int(old.name.rsplit("_", 1)[-1])
            os.kill(pid, 0)  # raises if the owner is gone
        except (ValueError, ProcessLookupError):
            shutil.rmtree(old, ignore_errors=True)
        except PermissionError:
            pass  # someone else's live process
    d = root / f"{stem}_{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True, exist_ok=True)
    return str(d)



N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 10
QUANT = 1_000_000
# 16 tables x 6 bits: for a neighbor at cosine ~0.4 (typical nearest on
# near-random data) collision prob per table is (1-theta/pi)^6 ~ 6%, union
# over 16 tables ~ 63%; a random pair collides in <= ~22% of tables' buckets,
# so candidates stay a small fraction of the corpus.
LSH_TABLES = 16
LSH_BITS = 6


def _dot6(a: str, b: str) -> F.Column:
    """Quantized dot product: sum of round(x*y*1e6) as long (exact)."""
    return F.expr(
        f"aggregate(transform(sequence(1, size({a})), "
        f"i -> CAST(ROUND(CAST(element_at({a}, i) AS DOUBLE) * "
        f"CAST(element_at({b}, i) AS DOUBLE) * {QUANT}) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _sql_dot6(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a})+1), "
        f"i -> CAST(ROUND(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {QUANT}) AS BIGINT)"
        f")) AS BIGINT)"
    )


def dot6_pairs(a_col, b_col) -> F.Column:
    """Vectorized exact quantized dot product for PAIR rows (r17, guide
    §4.2): per element round(x*y*1e6) half-away-from-zero then an exact
    int64 sum — the identical arithmetic _dot6 expresses as an
    interpreted higher-order fold, but numpy-batched. (a*b)*QUANT runs
    the same two IEEE-754 ops in the same order, _quant_round is the
    same exact rounding, and integer summation is order-free, so results
    are bit-identical; the win is ~100x on the per-pair evaluation cost
    for candidate-verify stages with 10^5+ pairs."""

    @F.pandas_udf("bigint")
    def dot6_udf(ea: pd.Series, eb: pd.Series) -> pd.Series:
        a = np.stack(ea.to_numpy()).astype(np.float64)
        b = np.stack(eb.to_numpy()).astype(np.float64)
        return pd.Series(
            _quant_round(a * b * QUANT).sum(axis=1).astype(np.int64)
        )

    # the callers filter on the derived cosine; without this the pushed
    # filter duplicates the ArrowEvalPython node and every surviving pair
    # pays the kernel twice (guide §4.4 — it IS deterministic, the mark
    # only stops the optimizer from cloning it below the filter)
    return dot6_udf.asNondeterministic()(a_col, b_col)


def _quant_round(p):
    """Exact half-away-from-zero rounding of a float64 ndarray — the C
    round() both engines' ROUND reduces to on this data. np.rint (half-even,
    binary-exact) plus an away-from-zero fix at exact .5 fractions; never
    the floor(x+0.5) shortcut, whose +0.5 addition can carry a
    just-under-half value over the boundary."""
    halves = np.abs(p) % 1.0 == 0.5
    return np.where(halves, np.sign(p) * np.ceil(np.abs(p)), np.rint(p))


# --------------------------------------------------------------------------
# s01: brute-force cosine top-k (oracle-exact via quantization)
# --------------------------------------------------------------------------
# Shared by s01 (direct parquet) and s09 (same corpus registered and read
# back through the generic-table vector-dataset API — identical rows by
# construction, so the same oracle pins that the catalog path changes
# nothing about the data).
_S01_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
),
q AS (SELECT e.vec_id, e.embedding, n.norm6 FROM embeddings e
      JOIN norms n USING (vec_id) WHERE e.vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         CAST({_sql_dot6('q.embedding', 'e.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(n2.norm6 AS DOUBLE)) AS cosine
  FROM q, embeddings e
  JOIN norms n2 ON e.vec_id = n2.vec_id
  WHERE e.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
"""


@register(
    "s01_knn_bruteforce",
    oracle=_S01_ORACLE,
    description="Exact top-k cosine neighbors for the first 10 vectors; "
    "broadcast queries x full scan, quantized-integer dot products "
    "scored by an Arrow-batched numpy kernel.",
    tags=("similarity", "llm"),
)
def s01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _s01_exact(load_table(spark, sf_dir, "embeddings"))


def _s01_exact(emb: DataFrame) -> DataFrame:
    spark = emb.sparkSession
    # The 10 query vectors ride to every executor in the UDF closure (the
    # broadcast-small-side pattern); scoring is one Arrow-batched numpy
    # kernel per partition — (batch x queries x dim) vectorized multiply —
    # instead of an interpreted higher-order expression per pair.
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)
    qids = [int(r.vec_id) for r in qrows]
    qnorm6 = [
        int(_quant_round(qmat[i] * qmat[i] * QUANT).sum()) for i in range(len(qids))
    ]

    @F.pandas_udf("struct<norm6: bigint, dots: array<bigint>>")
    def score(embs: pd.Series) -> pd.DataFrame:
        a = np.stack(embs.to_numpy()).astype(np.float64)  # n x d
        norm6 = _quant_round(a * a * QUANT).sum(axis=1).astype(np.int64)
        prods = a[:, None, :] * qmat[None, :, :] * QUANT  # n x q x d
        dots = _quant_round(prods).sum(axis=2).astype(np.int64)
        return pd.DataFrame({"norm6": norm6, "dots": list(dots)})

    qmeta = F.broadcast(
        local_df(spark, 
            [(i, qids[i], qnorm6[i]) for i in range(len(qids))],
            "qidx int, query_id long, q_norm6 long",
        )
    )
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), score("embedding").alias("s"))
        .select("neighbor_id", F.col("s.norm6").alias("norm6"), F.posexplode("s.dots").alias("qidx", "dot6"))
        .join(qmeta, "qidx")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("dot6").cast("double")
                / F.sqrt(F.col("q_norm6").cast("double") * F.col("norm6").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= TOP_K
    )


# --------------------------------------------------------------------------
# s02: random-hyperplane LSH ANN (scale path; oracle-exact md5 family)
# --------------------------------------------------------------------------
def _hyperplanes(dim: int) -> "np.ndarray":
    """Deterministic ±1 (Rademacher) hyperplane family derived from md5 —
    the d11 discipline (queries/dedup.py, _SQL_D11_PAIRS) applied to
    sign-projection LSH: both engines share md5, so DuckDB reproduces
    bucket assignment bit-for-bit and the driver hash-checks the entire
    ANN pipeline (buckets, candidates, scores). Sign-random projections
    are a standard SimHash-family choice (Charikar 2002; Achlioptas-style
    signed projections) with the same per-bit collision law
    P = 1 - theta/pi as Gaussian hyperplanes. Entry for (table t, bit b,
    dim i) is +1 when the 48-bit md5 prefix of "t:b:i" is even, else -1.
    Returns a d x (LSH_TABLES*LSH_BITS) int64 matrix."""
    import hashlib

    s = np.empty((LSH_TABLES * LSH_BITS, dim), dtype=np.int64)
    for t in range(LSH_TABLES):
        for b in range(LSH_BITS):
            for i in range(dim):
                h = int(hashlib.md5(f"{t}:{b}:{i}".encode()).hexdigest()[:12], 16)
                s[t * LSH_BITS + b, i] = 1 if h % 2 == 0 else -1
    return s.T  # d x (T*B)


def lsh_buckets(col: str, smat: "np.ndarray") -> F.Column:
    """array<bigint>: one sign-bit bucket id per hash table.

    Arrow-batched numpy kernel: components quantized to int64 exactly like
    _dot6 (round(x*1e6), half-away-from-zero), then ONE integer
    (batch x dim) @ (dim x tables*bits) matmul + sign-bit packing per
    batch. All-integer dots mean summation order cannot perturb the sign,
    so the SQL oracle's list_sum reproduces every bucket id exactly."""
    t, b = LSH_TABLES, LSH_BITS
    weights = 1 << np.arange(b, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def buckets_udf(embs: pd.Series) -> pd.Series:
        a = np.stack(embs.to_numpy()).astype(np.float64)  # n x d
        q = _quant_round(a * QUANT).astype(np.int64)  # exact int components
        bits = ((q @ smat) > 0).reshape(len(a), t, b)
        sigs = (bits * weights).sum(axis=2).astype(np.int64)  # n x T
        return pd.Series(list(sigs))

    return buckets_udf(col)


# The md5-family bucket pipeline as a reusable CTE block: planes from md5
# parity, components quantized like _sql_dot6, integer dots -> sign bits
# -> one bucket id per (vec, table). Shared by s02/s10 (ANN) and d06
# (embedding near-dup blocking) — ends with ``buckets(vec_id, tbl,
# bucket)``.
SQL_MD5_BUCKETS = f"""planes AS (
  SELECT t.t, b.b,
         list_transform(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1)),
           i -> CASE WHEN ('0x' || substr(md5(t.t || ':' || b.b || ':' || i), 1, 12))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END) AS s
  FROM (SELECT unnest(range(0, {LSH_TABLES})) AS t) t,
       (SELECT unnest(range(0, {LSH_BITS})) AS b) b
),
qcomp AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
buckets AS (
  SELECT e.vec_id, p.t AS tbl,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.q) + 1),
                          i -> e.q[i] * p.s[i])) > 0
                  THEN (1 << p.b) ELSE 0 END) AS BIGINT) AS bucket
  FROM qcomp e, planes p
  GROUP BY e.vec_id, p.t
)"""

# s02/s10 oracle: bucket collisions in any table -> candidate pairs ->
# exact cosine top-k over candidates only.
_S02_ORACLE = f"""
WITH {SQL_MD5_BUCKETS},
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
  FROM buckets qb
  JOIN buckets nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket
  WHERE qb.vec_id < {N_QUERIES} AND nb.vec_id != qb.vec_id
),
norms AS (
  SELECT vec_id, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST({_sql_dot6('q.embedding', 'e.embedding')} AS DOUBLE)
           / sqrt(CAST(nq.norm6 AS DOUBLE) * CAST(ne.norm6 AS DOUBLE)) AS cosine
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
  JOIN norms nq ON nq.vec_id = c.query_id
  JOIN norms ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
)
WHERE rnk <= {TOP_K}
"""


@register(
    "s02_knn_lsh",
    oracle=_S02_ORACLE,
    description=f"Random-hyperplane LSH ANN: {LSH_TABLES} tables x "
    f"{LSH_BITS} sign bits over an md5-derived Rademacher family; "
    "candidates = bucket collisions in any table. Oracle-exact: integer "
    "quantized dots make bucket assignment, the candidate graph and the "
    "scored top-k bit-reproducible in SQL (the d11 discipline applied to "
    "ANN).",
    tags=("similarity", "llm", "lsh"),
)
def s02_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _s02_lsh(load_table(spark, sf_dir, "embeddings"))


def _s02_lsh(emb: DataFrame) -> DataFrame:
    # dim probe: LIMIT-1 scan of a single int — never ships an embedding
    # row to the driver (array schemas don't carry a length).
    dim = emb.select(F.size("embedding").alias("d")).limit(1).collect()[0]["d"]
    tables = _hyperplanes(dim)
    embn = emb.withColumn("norm6", _dot6("embedding", "embedding"))
    # Bucket table carries ids ONLY: the 16x posexplode fan-out amplifies
    # (vec_id, tbl, bucket) triples, never the embedding arrays; embeddings
    # rejoin after the candidate set is distinct.
    buckets = emb.select(
        "vec_id",
        F.posexplode(lsh_buckets("embedding", tables)).alias("tbl", "bucket"),
    )
    qb = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"),
    )
    cand_ids = (
        F.broadcast(qb)
        .join(
            buckets.withColumnRenamed("vec_id", "neighbor_id"),
            (F.col("tbl") == F.col("q_tbl")) & (F.col("bucket") == F.col("q_bucket")),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = embn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm6").alias("q_norm6"),
    )
    # candidate ids (small) broadcast into the embeddings scan: the only
    # embedding rows ever shipped are the distinct candidates themselves.
    scored = (
        embn.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(cand_ids), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot6("q_emb", "embedding").cast("double")
                / F.sqrt(F.col("q_norm6").cast("double") * F.col("norm6").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
    )


# --------------------------------------------------------------------------
# s06: attribute-FILTERED vector search (pre-filter strategy)
# --------------------------------------------------------------------------
# The production ask behind "vector search with a WHERE clause": top-k
# neighbors among only the rows passing an attribute predicate. Engines
# choose between post-filtering an ANN result (recall collapses when the
# predicate is selective: most of the top-k gets filtered away) and
# PRE-filtering: push the predicate into the scan and run exact scoring
# over the survivors. At a fixed selectivity the pre-filter form is a
# plain narrow pass over ~sel% of the data — declarative, pushdown-
# friendly, and exact; it is what Spark does best, so that is the shape
# here (the label predicate reaches the parquet scan as a PushedFilter —
# plan-guarded). ANN-with-filter hybrids (s02/s03/s05 candidates
# intersected with the predicate) bolt on unchanged when selectivity is
# low enough to justify them.
S06_LABEL = 3  # filter: neighbors must carry this label


@register(
    "s06_knn_filtered",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, label, embedding, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
),
q AS (SELECT vec_id, embedding, norm6 FROM norms WHERE vec_id < {N_QUERIES}),
cand AS (SELECT * FROM norms WHERE label = {S06_LABEL}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         CAST({_sql_dot6('q.embedding', 'c.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(c.norm6 AS DOUBLE)) AS cosine
  FROM q, cand c
  WHERE c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) t WHERE rnk <= {TOP_K}
""",
    description="Vector search with a WHERE clause (pre-filter strategy): "
    "the attribute predicate pushes into the scan, exact scoring runs "
    "over the survivors only - full recall at any selectivity, unlike "
    "post-filtering an ANN result. Plan guard asserts the label filter "
    "reaches the parquet scan.",
    tags=("similarity", "llm", "filtered"),
)
def s06_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "label", "embedding", _dot6("embedding", "embedding").alias("norm6")
    )
    q = F.broadcast(
        norms.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm6").alias("q_norm6"),
        )
    )
    cand = norms.filter(F.col("label") == S06_LABEL)
    scored = (
        cand.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot6("q_emb", "embedding").cast("double")
                / F.sqrt(
                    F.col("q_norm6").cast("double") * F.col("norm6").cast("double")
                )
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("int")).filter(
        F.col("rnk") <= TOP_K
    )


# --------------------------------------------------------------------------
# s07: SCALAR-QUANTIZED (int8) ANN — the fourth index family
# --------------------------------------------------------------------------
# LSH (s02) buckets, IVF (s03) partitions, PQ (s05) codebook-compresses;
# scalar quantization is the simplest compression: per-dimension global
# [min,max] maps each float to one uint8 code (4x smaller than float32,
# SIMD-friendly — the FAISS SQ8 index). Approximate scores run against
# DEQUANTIZED codes, the top-C candidates get an exact float rerank —
# the two-stage shape every compressed index shares. Determinism: the
# quantization grid derives from per-dim min/max (exact), codes from one
# correctly-rounded affine transform, and all score sums are fixed-point
# integer additions, so candidates AND final ranks hash-match the oracle.
# Scale: per-dim stats are a D-row aggregate (broadcast back); scoring is
# a narrow map over codes; only C x queries rows are reranked.
SQ_CAND = 50  # candidates per query for the exact rerank
SQ_LEVELS = 255


def _sq_dequant_sql(code: str, mn: str, mx: str) -> str:
    return f"({mn} + {code} * (({mx}) - ({mn})) / {SQ_LEVELS}.0)"


@register(
    "s07_knn_scalar_quant",
    oracle=f"""
WITH dims AS (
  SELECT i.i AS dim0, MIN(CAST(e.embedding[i.i + 1] AS DOUBLE)) AS mn,
         MAX(CAST(e.embedding[i.i + 1] AS DOUBLE)) AS mx
  FROM embeddings e,
       (SELECT unnest(range(0, len((SELECT embedding FROM embeddings LIMIT 1)))) AS i) i
  WHERE e.vec_id >= {N_QUERIES}
  GROUP BY i.i
),
codes AS (
  SELECT e.vec_id, d.dim0,
         CAST(ROUND((CAST(e.embedding[d.dim0 + 1] AS DOUBLE) - d.mn)
              / (CASE WHEN d.mx = d.mn THEN 1 ELSE d.mx - d.mn END)
              * {SQ_LEVELS}) AS BIGINT) AS code,
         d.mn, d.mx
  FROM embeddings e, dims d WHERE e.vec_id >= {N_QUERIES}
),
approx AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         SUM(CAST(ROUND(CAST(q.embedding[c.dim0 + 1] AS DOUBLE)
             * {_sq_dequant_sql("c.code", "c.mn", "CASE WHEN c.mx = c.mn THEN c.mn + 1 ELSE c.mx END")}
             * {QUANT}) AS BIGINT)) AS ascore
  FROM codes c, embeddings q WHERE q.vec_id < {N_QUERIES}
  GROUP BY q.vec_id, c.vec_id
),
cand AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ascore DESC, vec_id) AS crk
  FROM approx
),
rerank AS (
  SELECT c.query_id, c.vec_id,
         {_sql_dot6("q.embedding", "e.embedding")} AS score_fp
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.vec_id
  WHERE c.crk <= {SQ_CAND}
)
SELECT query_id, vec_id, score_fp,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY score_fp DESC, vec_id) AS rank
FROM rerank
QUALIFY rank <= {TOP_K}
""",
    description="Scalar-quantized (uint8) ANN, the fourth index family "
    "after LSH/IVF/PQ: per-dimension global [min,max] grid (D-row "
    "aggregate, broadcast), one affine code per value, approximate "
    "dequantized scoring, exact fixed-point rerank of the top-C - "
    "candidates and final ranks both bit-match the oracle.",
    tags=("embeddings", "ann", "similarity", "quantization"),
)
def s07_knn_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    db = emb.filter(F.col("vec_id") >= N_QUERIES)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # per-dimension quantization grid: D rows, broadcast back
    dims = (
        db.select(F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("dim0")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    d_rows = sorted(dims.collect(), key=lambda r: r["dim0"])  # D scalars only
    mn_arr = F.array(*[F.lit(float(r["mn"])) for r in d_rows])
    mx_arr = F.array(*[F.lit(float(r["mx"])) for r in d_rows])
    coded = (
        db.select("vec_id", "embedding")
        .withColumn("__mn", mn_arr)
        .withColumn("__mx", mx_arr)
        .select(
            "vec_id",
            "__mn",
            "__mx",
            F.expr(
                f"""transform(sequence(1, size(embedding)), i ->
                  CAST(ROUND((CAST(element_at(embedding, i) AS DOUBLE) - element_at(__mn, i))
                    / (CASE WHEN element_at(__mx, i) = element_at(__mn, i) THEN 1
                            ELSE element_at(__mx, i) - element_at(__mn, i) END)
                    * {SQ_LEVELS}) AS BIGINT))"""
            ).alias("codes"),
        )
    )
    # approximate score against the dequantized codes (exact int sums)
    approx = coded.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.expr(
            f"""aggregate(transform(sequence(1, size(codes)), i ->
              CAST(ROUND(CAST(element_at(q_emb, i) AS DOUBLE)
                * (element_at(__mn, i) + element_at(codes, i)
                   * ((CASE WHEN element_at(__mx, i) = element_at(__mn, i)
                            THEN element_at(__mn, i) + 1 ELSE element_at(__mx, i) END)
                      - element_at(__mn, i)) / {SQ_LEVELS}.0)
                * {QUANT}) AS BIGINT)),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
        ).alias("ascore"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ascore").desc(), "vec_id")
    cand = approx.withColumn("crk", F.row_number().over(w)).filter(
        F.col("crk") <= SQ_CAND
    )
    rerank = (
        cand.join(q, "query_id")
        .join(db.select("vec_id", "embedding"), "vec_id")
        .select("query_id", "vec_id", _dot6("q_emb", "embedding").alias("score_fp"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("score_fp").desc(), "vec_id")
    return (
        rerank.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "score_fp", F.col("rank").cast("long").alias("rank"))
    )


# --------------------------------------------------------------------------
# s08: MMR diverse top-k re-ranking (maximal marginal relevance)
# --------------------------------------------------------------------------
# Carbonell & Goldstein 1998: after retrieval, greedily select k results
# balancing relevance against redundancy — argmax over remaining of
# lambda*sim(q,d) - (1-lambda)*max_{s in selected} sim(d,s). The pool is
# the brute-force top-POOL cosine candidates (s01's scoring, quantized
# integer dots); pairwise sims within the pool are POOL^2 per query —
# bounded, never corpus-sized. Each greedy round is a per-query window
# over <= POOL rows, all queries in parallel; k rounds = k tiny stages.
# Floats: sims are fixed IEEE functions of identical integers, and the
# MMR combine uses the same constants in both engines, so scores are
# bit-identical; ties break on neighbor_id. Oracle = the same greedy
# unrolled (t16/s04 pattern).
S08_POOL = 20
S08_K = 5
S08_LAMBDA = 0.7


def _s08_oracle() -> str:
    head = f"""
WITH norms AS (
  SELECT vec_id, {_sql_dot6('embedding', 'embedding')} AS norm6 FROM embeddings
),
q AS (SELECT e.vec_id, e.embedding, n.norm6 FROM embeddings e
      JOIN norms n USING (vec_id) WHERE e.vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.embedding, n2.norm6,
         CAST({_sql_dot6('q.embedding', 'e.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(n2.norm6 AS DOUBLE)) AS relevance
  FROM q, embeddings e JOIN norms n2 ON e.vec_id = n2.vec_id
  WHERE e.vec_id != q.vec_id
),
pool AS (
  SELECT query_id, neighbor_id, embedding, norm6, relevance FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY relevance DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= {S08_POOL}
),
psim AS (
  SELECT a.query_id, a.neighbor_id AS ca, b.neighbor_id AS cb,
         CAST({_sql_dot6('a.embedding', 'b.embedding')} AS DOUBLE)
           / sqrt(CAST(a.norm6 AS DOUBLE) * CAST(b.norm6 AS DOUBLE)) AS sim
  FROM pool a JOIN pool b
    ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, relevance, relevance AS mmr_score, 1 AS pick
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY relevance DESC, neighbor_id) AS rnk FROM pool)
  WHERE rnk = 1
)"""
    parts = [head]
    for i in range(2, S08_K + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id, relevance, mmr_score, pick FROM sel{j}"
            for j in range(1, i)
        )
        parts.append(
            f"""
seln{i} AS ({prev_union}),
cand{i} AS (
  SELECT p.query_id, p.neighbor_id, p.relevance,
         {S08_LAMBDA} * p.relevance
           - {round(1 - S08_LAMBDA, 10)} * MAX(ps.sim) AS mmr_score
  FROM pool p
  JOIN seln{i} s ON s.query_id = p.query_id
  JOIN psim ps ON ps.query_id = p.query_id
   AND ps.ca = p.neighbor_id AND ps.cb = s.neighbor_id
  WHERE p.neighbor_id NOT IN (
    SELECT neighbor_id FROM seln{i} s2 WHERE s2.query_id = p.query_id)
  GROUP BY p.query_id, p.neighbor_id, p.relevance
),
sel{i} AS (
  SELECT query_id, neighbor_id, relevance, mmr_score, {i} AS pick
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY mmr_score DESC, neighbor_id) AS rnk FROM cand{i})
  WHERE rnk = 1
)"""
        )
    final = " UNION ALL ".join(
        f"SELECT query_id, CAST(pick AS INTEGER) AS pick, neighbor_id, relevance, mmr_score FROM sel{j}"
        for j in range(1, S08_K + 1)
    )
    return ",".join(parts) + f"\nSELECT * FROM ({final})"


@register(
    "s08_mmr_rerank",
    oracle=_s08_oracle(),
    description="MMR diverse top-k re-ranking (Carbonell-Goldstein): "
    "greedy lambda-tradeoff between query relevance and max similarity "
    "to already-selected results, over the brute-force top-20 pool; "
    "k rounds of per-query windows over pool-sized frames (all queries "
    "parallel), pairwise sims bounded at POOL^2 per query. Quantized "
    "integer dots keep scores bit-identical cross-engine.",
    tags=("similarity", "llm", "rerank", "iterative"),
)
def s08_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select("vec_id", _dot6("embedding", "embedding").alias("norm6"))
    embn = emb.join(norms, "vec_id")
    q = embn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm6").alias("q_norm6"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(embn.withColumnRenamed("vec_id", "neighbor_id"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "embedding",
            "norm6",
            (
                _dot6("q_emb", "embedding").cast("double")
                / F.sqrt(F.col("q_norm6").cast("double") * F.col("norm6").cast("double"))
            ).alias("relevance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("relevance"), F.asc("neighbor_id"))
    pool = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= S08_POOL)
        .drop("rnk")
        .localCheckpoint(eager=True)  # queries x POOL rows; feeds every round
    )
    a = pool.alias("a")
    b = pool.alias("b")
    psim = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("ca"),
            F.col("b.neighbor_id").alias("cb"),
            (
                _dot6("a.embedding", "b.embedding").cast("double")
                / F.sqrt(F.col("a.norm6").cast("double") * F.col("b.norm6").cast("double"))
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)  # queries x POOL^2 rows, bounded
    )
    lam, one_m = F.lit(S08_LAMBDA), F.lit(round(1 - S08_LAMBDA, 10))
    slim = pool.select("query_id", "neighbor_id", "relevance")
    selected = (
        slim.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
        .select("query_id", "neighbor_id", "relevance",
                F.col("relevance").alias("mmr_score"), F.lit(1).alias("pick"))
    )
    for i in range(2, S08_K + 1):
        remaining = slim.join(
            selected.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti"
        )
        cand = (
            remaining.join(
                selected.select("query_id", F.col("neighbor_id").alias("cb")), "query_id"
            )
            .join(psim.withColumnRenamed("ca", "neighbor_id"), ["query_id", "neighbor_id", "cb"])
            .groupBy("query_id", "neighbor_id", "relevance")
            .agg((lam * F.col("relevance") - one_m * F.max("sim")).alias("mmr_score"))
        )
        wq = Window.partitionBy("query_id").orderBy(F.desc("mmr_score"), F.asc("neighbor_id"))
        pick = (
            cand.withColumn("rnk", F.row_number().over(wq))
            .filter(F.col("rnk") == 1)
            .select("query_id", "neighbor_id", "relevance", "mmr_score", F.lit(i).alias("pick"))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id", F.col("pick").cast("int").alias("pick"), "neighbor_id",
        "relevance", "mmr_score"
    )


# --------------------------------------------------------------------------
# s09: vector search over a generic-table-registered dataset
# --------------------------------------------------------------------------
@register(
    "s09_generic_vector_knn",
    oracle=_S01_ORACLE,
    description="s01-style exact kNN over a vector dataset registered and "
    "read through the generic-table API (reference Lance flow, "
    "tests/integration-tests/lance/test_lance.py:42-110: create-entry -> "
    "vend-credentials -> write -> read; parquet-backed here, lance swap-in "
    "marked in format/generic.py). The oracle is s01's: the catalog path "
    "must change nothing about the data.",
    tags=("similarity", "catalog", "generic-table", "llm"),
)
def s09_generic_vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.vector_dataset import (
        create_vector_dataset,
        read_vector_dataset,
    )

    tmp = _work_dir("vec_s", sf_dir)
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["vectors"])
    src = load_table(spark, sf_dir, "embeddings")
    create_vector_dataset(cat, "wh", ["vectors"], "emb", src, "embedding")
    emb = read_vector_dataset(spark, cat, "wh", ["vectors"], "emb")
    return _s01_exact(emb)


# --------------------------------------------------------------------------
# s10: LSH ANN over a generic-table-registered dataset (approximate path)
# --------------------------------------------------------------------------
@register(
    "s10_generic_vector_lsh",
    oracle=_S02_ORACLE,
    description="s02-style random-hyperplane LSH ANN over a vector dataset "
    "registered and read through the generic-table API — the approximate "
    "operator family exercised through the registered-dataset read path. "
    "The md5-derived family makes it oracle-exact like s02: identical rows "
    "by construction, so the registered read path must reproduce s02's "
    "result bit-for-bit (tests/test_generic_vector.py also pins it).",
    tags=("similarity", "catalog", "generic-table", "llm", "lsh"),
)
def s10_generic_vector_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.vector_dataset import (
        create_vector_dataset,
        read_vector_dataset,
    )

    tmp = _work_dir("vec_s2", sf_dir)
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["vectors"])
    src = load_table(spark, sf_dir, "embeddings")
    create_vector_dataset(cat, "wh", ["vectors"], "emb", src, "embedding")
    emb = read_vector_dataset(spark, cat, "wh", ["vectors"], "emb")
    return _s02_lsh(emb)


# --------------------------------------------------------------------------
# s12: vector search over a LANCE-registered dataset (lancelite codec)
# --------------------------------------------------------------------------
@register(
    "s12_lance_vector_knn",
    oracle=_S01_ORACLE,
    description="s01-style exact kNN over a vector dataset stored in the "
    "Lance v2 container layout (format/lancelite.py) and registered/read "
    "through the generic-table API with format='lance' — the reference's "
    "actual Lance flow (tests/integration-tests/lance/test_lance.py:"
    "42-110) running WITHOUT the lance library. The oracle is s01's over "
    "the source parquet: the write->register->read round through the "
    "lance path must change nothing about the data.",
    tags=("similarity", "catalog", "generic-table", "llm", "lance"),
)
def s12_lance_vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the lancelite sink writes one data file per
    partition EXECUTOR-side (mapInPandas), the read runs one decode task
    per file — only the file list crosses the driver, like a native
    DataSource. The KNN kernel is s01's exact scorer."""
    from ..catalog.catalog import Catalog
    from ..catalog.metastore import Metastore
    from ..format.generic import read_generic_table
    from ..format.lancelite import write_dataset_spark

    tmp = _work_dir("lance_s12", sf_dir)
    cat = Catalog(Metastore(f"{tmp}/metastore.db"))
    cat.create_warehouse("wh", f"{tmp}/warehouse")
    cat.create_namespace("wh", ["vectors"])
    src = load_table(spark, sf_dir, "embeddings")
    dim = src.select(F.size("embedding")).first()[0]  # 1-row probe
    loc = f"{tmp}/warehouse/lance/emb"
    # size data files to the corpus (~1M rows each, the real writer's
    # target), not to the source partitioning — 32 near-empty files
    # would mean 32 decode tasks of nothing at this SF and a too-coarse
    # layout at 100 TB either way. count() is parquet-metadata cheap.
    n_files = max(1, -(-src.count() // (1 << 20)))
    write_dataset_spark(src.repartition(n_files), loc, dims={"embedding": int(dim)})
    cat.create_generic_table(
        "wh",
        ["vectors"],
        "emb",
        format="lance",
        base_location=loc,
        schema={
            "fields": [
                {"name": "vec_id", "type": "int64"},
                {"name": "embedding", "type": f"fixed_size_list<float32, {dim}>"},
                {"name": "label", "type": "string"},
            ]
        },
        properties={"vector-column": "embedding"},
    )
    emb = read_generic_table(spark, cat, "wh", ["vectors"], "emb")
    # decode ONCE: a Python-datasource scan has no Parquet-grade cheap
    # re-scan, and the kNN plan references the corpus from several
    # subtrees (count + norms + broadcast query side + scan side) —
    # without materialization, every subtree re-runs the lance decode.
    # Spill the decoded frame to a tempdir parquet (spread across
    # defaultParallelism files so the scoring doesn't inherit the
    # single ~1M-row decode partition) and re-read it: parquet re-scans
    # are cheap and prunable, and unlike persist()/localCheckpoint()
    # nothing accumulates in executor block storage across repeated
    # invocations (measured 11s -> ~2.7s at sf1). At cluster scale the
    # lance file count itself provides both properties.
    mat = f"{tmp}/decoded"
    emb.select("vec_id", "embedding", "label").repartition(
        spark.sparkContext.defaultParallelism
    ).write.mode("overwrite").parquet(mat)
    return _s01_exact(spark.read.parquet(mat))


# --------------------------------------------------------------------------
# s13: zone-map-filtered kNN over the lance dataset
# --------------------------------------------------------------------------
S13_MAX_ID = 299  #: corpus restriction pushed down to the page zone maps


@register(
    "s13_lance_zonemap_knn",
    oracle=f"""
WITH sub AS (SELECT * FROM embeddings WHERE vec_id <= {S13_MAX_ID}),
norms AS (
  SELECT vec_id, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM sub
),
q AS (SELECT e.vec_id, e.embedding, n.norm6 FROM sub e
      JOIN norms n USING (vec_id) WHERE e.vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         CAST({_sql_dot6('q.embedding', 'e.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(n2.norm6 AS DOUBLE)) AS cosine
  FROM q, sub e
  JOIN norms n2 ON e.vec_id = n2.vec_id
  WHERE e.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) t
WHERE rnk <= {TOP_K}
""",
    description=f"Predicate-pushdown retrieval: exact kNN over the lance "
    f"dataset restricted to vec_id <= {S13_MAX_ID} — the restriction is "
    "pushed to lancelite's page ZONE MAPS (excluded stripes' bytes are "
    "never read; the decoder applies the exact residual), then s01's "
    "numpy kernel scores the surviving subset. The filtered-corpus "
    "retrieval shape every metadata-filtered vector search runs.",
    tags=("similarity", "catalog", "generic-table", "llm", "lance", "pushdown"),
)
def s13_lance_zonemap_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the filter prunes at PAGE granularity inside each
    file task before any value decodes, so executor IO tracks the
    selected id range, not the corpus; the KNN kernel then only sees
    the subset."""
    from ..format.lancelite import read_dataset, write_dataset_spark

    tmp = _work_dir("zmap_s13", sf_dir)
    src = load_table(spark, sf_dir, "embeddings")
    dim = src.select(F.size("embedding")).first()[0]
    loc = f"{tmp}/lance/emb"
    n_files = max(1, -(-src.count() // (1 << 20)))
    # page-aligned sort: zone maps are selective when ids cluster
    write_dataset_spark(
        src.repartition(n_files).sortWithinPartitions("vec_id"),
        loc,
        dims={"embedding": int(dim)},
    )
    emb = read_dataset(
        spark, loc, range_filter={"vec_id": (None, S13_MAX_ID)}
    )
    # decode once + spread the survivors, storage-free; see s12's note
    mat = f"{tmp}/decoded"
    emb.select("vec_id", "embedding", "label").repartition(
        spark.sparkContext.defaultParallelism
    ).write.mode("overwrite").parquet(mat)
    return _s01_exact(spark.read.parquet(mat))


# --------------------------------------------------------------------------
# s11: ANN recall harness — LSH candidates scored against exact top-k
# --------------------------------------------------------------------------
@register(
    "s11_ann_recall",
    oracle=f"""
WITH exact_topk AS ({_S01_ORACLE}),
lsh_topk AS ({_S02_ORACLE}),
hits AS (
  SELECT e.query_id,
         COUNT(l.neighbor_id) AS n_hits,
         COUNT(*) AS n_exact
  FROM exact_topk e
  LEFT JOIN lsh_topk l
    ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
  GROUP BY e.query_id
)
SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_exact AS BIGINT) AS k,
       CAST(n_hits * 1000 / n_exact AS BIGINT) AS recall_millis
FROM hits ORDER BY query_id
""",
    description=f"ANN quality evaluation: recall@{TOP_K} of the "
    f"{LSH_TABLES}x{LSH_BITS}-bit LSH index (s02) against the exact "
    "brute-force top-k (s01), per query — the measurement loop every "
    "production ANN deployment runs before trusting an index. Both "
    "pipelines are oracle-exact (quantized integer dots), so the "
    "intersection counts and millirecall are exact integers.",
    tags=("similarity", "llm", "evaluation"),
)
def s11_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the exact side is the one expensive pass (s01's
    numpy kernel); the LSH side touches only bucket
    collisions. The recall join keys on (query_id, neighbor_id) — at
    N_QUERIES x TOP_K rows per side it broadcasts regardless of corpus
    size, so evaluation cost is dominated by the index builds, never
    the comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _s01_exact(emb).select("query_id", "neighbor_id")
    approx = _s02_lsh(emb).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        .select(
            "query_id",
            "n_hits",
            "k",
            ((F.col("n_hits") * 1000) / F.col("k"))
            .cast("long")
            .alias("recall_millis"),
        )
        .orderBy("query_id")
    )
