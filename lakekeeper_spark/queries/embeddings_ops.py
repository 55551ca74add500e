"""Embedding-space operators: near-duplicate detection and IVF ANN.

  d05 embedding-cosine near-dup — exact cosine pairs within a blocking key
      (the `label` column: at 100 TB the blocker would be a coarse
      quantization/cluster id computed upstream, which is exactly what
      `label` models). Join is co-partitioned on the blocking key, so the
      pair space is sum(|block|^2), not |corpus|^2.
  s03 IVF ANN — inverted-file index with deterministic centroids: assign
      every vector to its nearest centroid (broadcast centroid table, one
      narrow pass), probe the NPROBE closest cells per query, exact-rerank
      within probed cells. This is the scale path for similarity search:
      at 1000 executors the assignment is embarrassingly parallel and the
      probe join touches ~NPROBE/NCELLS of the data.

Both carry exact DuckDB oracles: every dot product is quantized per element
(round(x*y*1e6) as BIGINT) and summed as integers, so scores are
bit-identical across engines (see queries/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data import load_table
from ..functions.localframe import local_df
from ..registry import register
from .similarity import N_QUERIES, SQL_MD5_BUCKETS, TOP_K, _dot6, _sql_dot6

NEAR_DUP_COS = 0.35  # the synthetic embeddings are near-random; see tests
IVF_CELLS = 16
IVF_NPROBE = 4
# centroid vectors: the embeddings with these vec_ids (deterministic, and
# disjoint from the query set 0..N_QUERIES-1). Fixed-id centroids keep the
# harness oracle-exact; a production index would k-means/k-means|| the
# centroids instead — everything downstream (broadcast assignment, probe
# join, exact rerank) is unchanged by that swap.
CENTROID_ID_LO = N_QUERIES
CENTROID_ID_HI = N_QUERIES + IVF_CELLS


# --------------------------------------------------------------------------
# d05: exact cosine near-dup pairs within a blocking key
# --------------------------------------------------------------------------
@register(
    "d05_dedup_embedding",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, label, embedding,
         {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       CAST({_sql_dot6('a.embedding', 'b.embedding')} AS DOUBLE)
         / sqrt(CAST(a.norm6 AS DOUBLE) * CAST(b.norm6 AS DOUBLE)) AS cosine
FROM norms a JOIN norms b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE CAST({_sql_dot6('a.embedding', 'b.embedding')} AS DOUBLE)
        / sqrt(CAST(a.norm6 AS DOUBLE) * CAST(b.norm6 AS DOUBLE)) >= {NEAR_DUP_COS}
""",
    description="Exact cosine near-dup pairs, blocked by label (cluster id): "
    "co-partitioned self-join, pair space bounded per block.",
    tags=("dedup", "similarity", "llm"),
)
def d05_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id", "label", "embedding", _dot6("embedding", "embedding").alias("norm6")
    )
    a = n.select(
        F.col("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm6").alias("norm_a"),
    )
    b = n.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm6").alias("norm_b"),
    )
    pairs = a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
    cosine = _dot6("emb_a", "emb_b").cast("double") / F.sqrt(
        F.col("norm_a").cast("double") * F.col("norm_b").cast("double")
    )
    return (
        pairs.select("vec_a", "vec_b", "label", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


# --------------------------------------------------------------------------
# s03: IVF ANN (deterministic centroids, probe-and-rerank)
# --------------------------------------------------------------------------
@register(
    "s03_knn_ivf",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, embedding, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
),
centroids AS (
  SELECT vec_id AS cell_id, embedding AS c_emb, norm6 AS c_norm6
  FROM norms WHERE vec_id >= {CENTROID_ID_LO} AND vec_id < {CENTROID_ID_HI}
),
assign AS (
  SELECT vec_id, embedding, norm6, cell_id
  FROM (
    SELECT n.vec_id, n.embedding, n.norm6, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY CAST({_sql_dot6('n.embedding', 'c.c_emb')} AS DOUBLE)
                        / sqrt(CAST(n.norm6 AS DOUBLE) * CAST(c.c_norm6 AS DOUBLE)) DESC,
                      c.cell_id) AS rnk
    FROM norms n, centroids c
  ) t WHERE rnk = 1
),
probes AS (
  SELECT vec_id AS query_id, cell_id AS probe_cell
  FROM (
    SELECT n.vec_id, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY CAST({_sql_dot6('n.embedding', 'c.c_emb')} AS DOUBLE)
                        / sqrt(CAST(n.norm6 AS DOUBLE) * CAST(c.c_norm6 AS DOUBLE)) DESC,
                      c.cell_id) AS rnk
    FROM norms n, centroids c
    WHERE n.vec_id < {N_QUERIES}
  ) t WHERE rnk <= {IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST({_sql_dot6('q.embedding', 'a.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(a.norm6 AS DOUBLE)) AS cosine
  FROM probes p
  JOIN assign a ON a.cell_id = p.probe_cell
  JOIN norms q ON q.vec_id = p.query_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) t WHERE rnk <= {TOP_K}
""",
    description="IVF ANN: nearest-centroid assignment (broadcast centroids), "
    "probe 4/16 cells per query, exact rerank in probed cells.",
    tags=("similarity", "llm", "ann"),
)
def s03_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding", _dot6("embedding", "embedding").alias("norm6")
    )
    centroids = (
        norms.filter(
            (F.col("vec_id") >= CENTROID_ID_LO) & (F.col("vec_id") < CENTROID_ID_HI)
        )
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("c_emb"),
            F.col("norm6").alias("c_norm6"),
        )
    )
    cos_to_centroid = _dot6("embedding", "c_emb").cast("double") / F.sqrt(
        F.col("norm6").cast("double") * F.col("c_norm6").cast("double")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_cos"), F.asc("cell_id")
    )
    assign = (
        norms.crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", cos_to_centroid)
        .withColumn("rnk", F.row_number().over(w_assign))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "embedding", "norm6", "cell_id")
    )
    probes = (
        norms.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(centroids))
        .withColumn("c_cos", cos_to_centroid)
        .withColumn("rnk", F.row_number().over(w_assign))
        .filter(F.col("rnk") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cell_id").alias("probe_cell"))
    )
    q = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("norm6").alias("q_norm6"),
    )
    scored = (
        F.broadcast(probes)
        .join(assign, F.col("cell_id") == F.col("probe_cell"))
        .join(F.broadcast(q), F.col("qid") == F.col("query_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot6("q_emb", "embedding").cast("double")
                / F.sqrt(F.col("q_norm6").cast("double") * F.col("norm6").cast("double"))
            ).alias("cosine"),
        )
    )
    w_topk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w_topk).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
    )


# --------------------------------------------------------------------------
# d06: label-free embedding near-dup at scale — LSH blocking + exact verify
# --------------------------------------------------------------------------
@register(
    "d06_dedup_embedding_lsh",
    oracle=f"""
WITH {SQL_MD5_BUCKETS},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
norms AS (
  SELECT vec_id, {_sql_dot6('embedding', 'embedding')} AS norm6 FROM embeddings
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT c.vec_a, c.vec_b,
         CAST({_sql_dot6('a.embedding', 'b.embedding')} AS DOUBLE)
           / sqrt(CAST(na.norm6 AS DOUBLE) * CAST(nb.norm6 AS DOUBLE)) AS cosine
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.vec_a
  JOIN embeddings b ON b.vec_id = c.vec_b
  JOIN norms na ON na.vec_id = c.vec_a
  JOIN norms nb ON nb.vec_id = c.vec_b
)
WHERE cosine >= {NEAR_DUP_COS}
""",
    description="Embedding near-duplicates WITHOUT a blocking label (the "
    "real 100 TB shape): random-hyperplane LSH buckets (md5-derived "
    "Rademacher family — oracle-exact like s02) generate candidate pairs "
    "(bucket-join only, no all-pairs stage anywhere), then exact "
    "quantized cosine verifies. Emitted pairs are all true near-dups; "
    "recall vs the exact pair set is additionally pytest-bounded.",
    tags=("dedup", "similarity", "llm", "lsh"),
)
def d06_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import _hyperplanes, lsh_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    dim = emb.select(F.size("embedding").alias("d")).limit(1).collect()[0]["d"]
    tables = _hyperplanes(dim)
    buckets = emb.select(
        "vec_id", F.posexplode(lsh_buckets("embedding", tables)).alias("tbl", "bucket")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
        # r17 (guide §2.5/§2.6): AQE coalesces the distinct's output by
        # BYTES (id pairs are ~16 B/row -> 1-3 partitions), but the next
        # stage broadcast-joins the embeddings and computes a 64-dim
        # quantized dot per pair — measured running on 3 tasks at sf0.1
        # (464k pairs, ~5 s). A keyless round-robin repartition to the
        # session's parallelism spreads the verify compute evenly: it
        # keeps its REPARTITION_BY_NUM tag (a pair-keyed variant
        # collapses into the distinct's ENSURE_REQUIREMENTS exchange and
        # AQE re-coalesces it — observed), and unlike hashing on vec_a
        # it cannot skew on hot vectors (observed straggler tail). The
        # distinct's output is deterministic and sortBeforeRepartition
        # stays on, so retries are safe (guide §2.5); the rebalance
        # shuffle itself is id pairs only — noise at any scale.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    n = emb.select("vec_id", "embedding", _dot6("embedding", "embedding").alias("norm6"))
    na = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm6").alias("norm_a"),
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm6").alias("norm_b"),
    )
    # r17: verify with the vectorized exact dot kernel (guide §4.2) —
    # the interpreted 64-step fold per candidate pair dominated the query
    # (464k pairs at sf0.1); dot6_pairs is the same arithmetic batched
    from .similarity import dot6_pairs

    cosine = dot6_pairs("emb_a", "emb_b").cast("double") / F.sqrt(
        F.col("norm_a").cast("double") * F.col("norm_b").cast("double")
    )
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


# --------------------------------------------------------------------------
# s04: k-means centroid training (Lloyd's, fixed-point exact, oracle-unrolled)
# --------------------------------------------------------------------------
KM_K = 8  # clusters
KM_ITERS = 3  # Lloyd iterations (the oracle unrolls them as CTE stages)
KM_DIM = 64  # embedding dimensionality of the testdata


def _km_assign_cte() -> str:
    """The unrolled-Lloyd CTE prefix shared by s04's and d12's oracles:
    ends with a{KM_ITERS} = the final (vec_id, embedding, cid)
    assignment and cent{KM_ITERS} = the final centroids."""
    return _km_cte_body()


def _km_oracle() -> str:
    """Unrolled Lloyd's in DuckDB SQL, arithmetic-identical to the Spark
    implementation: distances sum (p[i]-c[i])^2 in dimension order
    (doubles), centroid updates accumulate fixed-point BIGINTs (order-
    independent) and divide back to doubles, empty clusters carry the
    previous centroid forward."""
    last = KM_ITERS
    return (
        _km_cte_body()
        + f"""
SELECT a.cid,
       COUNT(*) AS n_points,
       (SELECT CAST(list_sum(list_transform(c.c,
               v -> CAST(ROUND(v * 1000000) AS BIGINT))) AS BIGINT)
        FROM cent{last} c WHERE c.cid = a.cid) AS centroid_fp
FROM a{last} a
GROUP BY a.cid ORDER BY a.cid"""
    )


def _km_cte_body() -> str:
    d, k = KM_DIM, KM_K
    dist = (
        f"list_sum(list_transform(generate_series(1, {d}), i -> "
        "(CAST(p.embedding[i] AS DOUBLE) - c.c[i])"
        " * (CAST(p.embedding[i] AS DOUBLE) - c.c[i])))"
    )
    sql = [
        "WITH pts AS (SELECT vec_id, embedding FROM embeddings),",
        f"cent0 AS (SELECT vec_id AS cid,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c"
        f" FROM embeddings WHERE vec_id < {k})",
    ]
    for it in range(1, KM_ITERS + 1):
        prev = f"cent{it - 1}"
        sql.append(
            f""", x{it} AS (
  SELECT p.vec_id, p.embedding, c.cid, {dist} AS d2
  FROM pts p CROSS JOIN {prev} c
), a{it} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM x{it}
  ) WHERE rn = 1
), u{it} AS (
  SELECT cid, i AS dim,
         SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))
           AS scaled,
         COUNT(*) AS n
  FROM a{it}, generate_series(1, {d}) g(i)
  GROUP BY cid, i
), newc{it} AS (
  SELECT cid,
         list(CAST(scaled AS DOUBLE) / (n * 1000000.0) ORDER BY dim) AS c
  FROM u{it} GROUP BY cid
), cent{it} AS (
  SELECT p.cid, COALESCE(nc.c, p.c) AS c
  FROM {prev} p LEFT JOIN newc{it} nc ON p.cid = nc.cid
)"""
        )
    return "\n".join(sql)


@register(
    "s04_kmeans_train",
    oracle=_km_oracle(),
    description="K-means centroid TRAINING (Lloyd's algorithm) — the "
    "iterative-algorithm pattern done Spark-right: per iteration, "
    "assignment is a broadcast cross join (K centroid rows) + argmin "
    "window, and the centroid update aggregates fixed-point BIGINTs per "
    "(cluster, dimension); ONLY the K x D centroid matrix ever reaches "
    "the driver between iterations (the MLlib topology). Empty clusters "
    "carry their previous centroid. Deterministic to the bit: distance "
    "sums run in dimension order, updates are integer sums; the DuckDB "
    "oracle unrolls the same three iterations as CTE stages and hash-"
    "matches exactly. Produces the centroids s03's IVF index consumes "
    "(embeddings_ops.py docstring: the production swap-in).",
    tags=("embeddings", "ml", "iterative", "ann"),
)
def s04_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _assigned, centroids, counts = _lloyd_assign(spark, sf_dir)

    # half-away-from-zero, matching SQL ROUND (Python round() is banker's)
    def _r6(v: float) -> int:
        import math

        x = v * 1_000_000
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    fp = {cid: sum(_r6(v) for v in vec) for cid, vec in centroids.items()}
    # r17 (guide §1.2, don't compute things twice): the per-cluster point
    # counts of the final assignment were ALREADY collected by the last
    # iteration's K x D centroid update — re-running
    # assigned.groupBy(cid).count() would re-scan the points and re-run
    # the argmin map a 4th time just to re-derive them. Build the K-row
    # summary from the collected matrix instead (same values by
    # construction; clusters with zero points appear in neither, exactly
    # as the previous inner join produced).
    rows = [(cid, counts[cid], fp[cid]) for cid in sorted(counts)]
    return local_df(
        spark, rows, "cid int, n_points long, centroid_fp long"
    )


def _lloyd_assign(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[int, list[float]], dict[int, int]]:
    """KM_ITERS Lloyd iterations; returns the final (vec_id, embedding,
    cid) assignment DataFrame, the final centroid matrix (K x D driver
    scalars) and the final per-cluster point counts (already collected by
    the last iteration's centroid update — n at any fixed dim is the
    cluster's point count). Shared by s04 (training summary) and d12
    (SemDeDup)."""
    d, k = KM_DIM, KM_K
    # the points are persisted across the iterations (the MLlib
    # topology): each Lloyd pass reads them from memory, not the source
    pts = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").persist()
    init = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in pts.filter(F.col("vec_id") < k).collect()
    }
    centroids = {cid: init[cid] for cid in sorted(init)}

    # r17 optimization (guide §2.4/§2.3): the K centroids are driver-side
    # scalars between iterations anyway (the MLlib topology), so embed
    # them as a LITERAL array<struct<cid, c>> and compute each row's
    # argmin with array_min(transform(...)) — a pure per-row map. The
    # previous shape (crossJoin with a K-row broadcast frame + partial-agg
    # groupBy(vec_id)) materialized K copies of every embedding and paid a
    # full-width N-row exchange per iteration; this one shuffles NOTHING
    # in the assignment step at any scale. The inner distance expression
    # is textually the same dimension-ordered double sum, and
    # array_min(struct(d2, cid)) is the same lexicographic (distance,
    # cluster-id) tie-break as min(struct(d2, cid)) — results bit-equal.
    def cent_lit(c: dict[int, list[float]]):
        return F.array(
            *[
                F.struct(
                    F.lit(cid).cast("int").alias("cid"),
                    F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
                )
                for cid, vec in sorted(c.items())
            ]
        )

    def dist_to(c):
        def step(acc, i):
            diff = F.element_at(F.col("embedding"), i).cast("double") - F.element_at(c, i)
            return acc + diff * diff

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(d)), F.lit(0.0).cast("double"), step
        )

    assigned = None
    for _ in range(KM_ITERS):
        best = F.array_min(
            F.transform(
                cent_lit(centroids),
                lambda t: F.struct(
                    dist_to(t["c"]).alias("d2"), t["cid"].alias("cid")
                ),
            )
        )
        assigned = pts.select(
            "vec_id", "embedding", best["cid"].alias("cid")
        )
        upd = (
            assigned.select(
                "cid", F.posexplode("embedding").alias("dim0", "val")
            )
            .groupBy("cid", "dim0")
            .agg(
                F.sum(
                    F.round(F.col("val").cast("double") * 1_000_000).cast("long")
                ).alias("scaled"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # K x D rows: the centroid matrix, nothing more
        )
        new_c: dict[int, list[float]] = {}
        for r in upd:
            new_c.setdefault(int(r["cid"]), [0.0] * d)[int(r["dim0"])] = r[
                "scaled"
            ] / (r["n"] * 1_000_000.0)
        centroids = {
            cid: new_c.get(cid, centroids[cid]) for cid in sorted(centroids)
        }
        # per-cluster point counts of THIS iteration's assignment: n is
        # identical across dims of a cluster (all embeddings are KM_DIM
        # wide — the same invariant the centroid arithmetic depends on),
        # so read it off dim 0 instead of re-aggregating
        counts = {
            int(r["cid"]): int(r["n"]) for r in upd if int(r["dim0"]) == 0
        }
    # iterations are done; downstream consumers re-read the source
    # once rather than pinning the points for the session
    pts.unpersist()
    return assigned, centroids, counts


# --------------------------------------------------------------------------
# s05: product-quantization ANN (PQ codes + asymmetric distance, exact oracle)
# --------------------------------------------------------------------------
# The third major ANN family next to LSH (s02) and IVF (s03): Jegou et al.
# 2011, "Product Quantization for Nearest Neighbor Search". The vector space
# is split into PQ_M subspaces; each subvector is quantized to one of PQ_K
# codewords, so a 64-dim float vector compresses to PQ_M single-byte codes —
# at 100 TB THE index fits where the raw vectors cannot. Query scoring is
# asymmetric distance computation (ADC): per query, a PQ_M x PQ_K table of
# exact query-subvector x codeword dot products is built once (tiny,
# broadcast), and every database vector's approximate score is a pure
# table-lookup sum over its codes — no vector arithmetic in the scan.
# Candidates then get an exact rerank. Deterministic end-to-end: codewords
# are fixed-id training rows (the k-means swap-in point, like s03's
# centroids), code assignment tie-breaks on codeword id, ADC sums exact
# fixed-point integers — so the whole pipeline carries a DuckDB oracle,
# unlike recall-bounded s02.
PQ_M = 8  # subspaces
PQ_SUB = KM_DIM // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace
PQ_ID_LO = CENTROID_ID_HI  # codebook training rows: disjoint from queries+IVF
PQ_ID_HI = PQ_ID_LO + PQ_K
PQ_CAND = 50  # ADC candidates per query fed to the exact rerank


def _pq_sub_sql(src: str) -> str:
    """DuckDB: the m-th subvector of `src`, elements cast to double."""
    return (
        f"list_transform({src}[m*{PQ_SUB}+1 : m*{PQ_SUB}+{PQ_SUB}], "
        "x -> CAST(x AS DOUBLE))"
    )


@register(
    "s05_knn_pq",
    oracle=f"""
WITH ms AS (SELECT m FROM range(0, {PQ_M}) t(m)),
norms AS (
  SELECT vec_id, embedding, {_sql_dot6('embedding', 'embedding')} AS norm6
  FROM embeddings
),
cb AS (
  SELECT vec_id - {PQ_ID_LO} AS c, m, {_pq_sub_sql('embedding')} AS cvec
  FROM embeddings, ms WHERE vec_id >= {PQ_ID_LO} AND vec_id < {PQ_ID_HI}
),
subs AS (
  SELECT vec_id, m, {_pq_sub_sql('embedding')} AS svec FROM embeddings, ms
),
encx AS (
  SELECT s.vec_id, s.m, cb.c,
         list_sum(list_transform(range(1, {PQ_SUB}+1),
                  i -> (s.svec[i] - cb.cvec[i]) * (s.svec[i] - cb.cvec[i])))
           AS d2
  FROM subs s JOIN cb ON s.m = cb.m
),
enc AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
    FROM encx
  ) WHERE rn = 1
),
qtab AS (
  SELECT s.vec_id AS query_id, s.m, cb.c,
         {_sql_dot6('s.svec', 'cb.cvec')} AS qdot6
  FROM subs s JOIN cb ON s.m = cb.m WHERE s.vec_id < {N_QUERIES}
),
approx AS (
  SELECT q.query_id, e.vec_id, SUM(q.qdot6) AS approx6
  FROM enc e JOIN qtab q ON q.m = e.m AND q.c = e.code
  WHERE e.vec_id != q.query_id
  GROUP BY q.query_id, e.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY approx6 DESC, vec_id) AS rn
    FROM approx
  ) WHERE rn <= {PQ_CAND}
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         CAST({_sql_dot6('q.embedding', 'n.embedding')} AS DOUBLE)
           / sqrt(CAST(q.norm6 AS DOUBLE) * CAST(n.norm6 AS DOUBLE)) AS cosine
  FROM cand c
  JOIN norms n ON n.vec_id = c.vec_id
  JOIN norms q ON q.vec_id = c.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
) t WHERE rnk <= {TOP_K}
""",
    description="Product-quantization ANN: vectors compress to PQ_M codes "
    "(argmin codeword per subspace), queries score the whole corpus via "
    "broadcast ADC lookup tables (integer dot products, zero vector math "
    "in the scan), top candidates get an exact rerank. Fixed-id codebook "
    "+ deterministic tie-breaks make it oracle-exact, unlike typical PQ.",
    tags=("similarity", "llm", "ann", "pq"),
)
def s05_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "vec_id", "embedding", _dot6("embedding", "embedding").alias("norm6")
    )
    # (vec_id, m, svec): subvectors, elements cast to double to mirror the
    # oracle's arithmetic exactly
    sub_expr = F.expr(
        f"posexplode(transform(sequence(0, {PQ_M - 1}), "
        f"m -> transform(slice(embedding, m*{PQ_SUB}+1, {PQ_SUB}), "
        "x -> CAST(x AS DOUBLE))))"
    )
    subs = emb.select("vec_id", sub_expr.alias("m", "svec"))
    # codebook: PQ_K fixed training rows -> PQ_M x PQ_K codewords (tiny)
    cb = F.broadcast(
        subs.filter((F.col("vec_id") >= PQ_ID_LO) & (F.col("vec_id") < PQ_ID_HI))
        .select(
            (F.col("vec_id") - PQ_ID_LO).cast("int").alias("c"),
            F.col("m").alias("cb_m"),
            F.col("svec").alias("cvec"),
        )
    )
    d2 = F.expr(
        f"aggregate(sequence(1, {PQ_SUB}), CAST(0.0 AS DOUBLE), (acc, i) -> "
        "acc + (element_at(svec, i) - element_at(cvec, i))"
        " * (element_at(svec, i) - element_at(cvec, i)))"
    )
    # encode: argmin codeword per (vector, subspace) — min(struct) is the
    # same (d2, c) tie-break as the oracle's ROW_NUMBER but needs no sort
    enc = (
        subs.join(cb, F.col("m") == F.col("cb_m"))
        .withColumn("d2", d2)
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "c")).alias("mc"))
        .select("vec_id", "m", F.col("mc.c").alias("code"))
    )
    # ADC lookup tables: exact integer dot products query-subvector x codeword
    qtab = F.broadcast(
        subs.filter(F.col("vec_id") < N_QUERIES)
        .join(cb, F.col("m") == F.col("cb_m"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("q_m"),
            F.col("c").alias("q_c"),
            _dot6("svec", "cvec").alias("qdot6"),
        )
    )
    approx = (
        enc.join(qtab, (F.col("m") == F.col("q_m")) & (F.col("code") == F.col("q_c")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qdot6").alias("approx6"))
    )
    w_cand = Window.partitionBy("query_id").orderBy(F.desc("approx6"), F.asc("vec_id"))
    cand = (
        approx.withColumn("rn", F.row_number().over(w_cand))
        .filter(F.col("rn") <= PQ_CAND)
        .select("query_id", "vec_id")
    )
    q = F.broadcast(
        norms.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("q_emb"),
            F.col("norm6").alias("q_norm6"),
        )
    )
    scored = (
        cand.join(norms, "vec_id")
        .join(q, F.col("qid") == F.col("query_id"))
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
    w_topk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w_topk).cast("int")).filter(
        F.col("rnk") <= TOP_K
    )


# --------------------------------------------------------------------------
# d12: SemDeDup — semantic deduplication via embedding clusters
# --------------------------------------------------------------------------
# Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication": k-means the corpus embeddings, then
# compare pairs ONLY within a cluster — the clustering is what makes
# pairwise feasible at scale (total pair work ~ N^2/K; K grows with N so
# clusters stay bounded). A vector is a semantic duplicate if a
# LOWER-vec_id member of its cluster has cosine similarity above TAU
# (keep-lowest canonical rule, same as d01/d09). Shares the exact Lloyd
# kernel with s04 (_lloyd_assign) and its unrolled-CTE oracle prefix, so
# the DuckDB oracle replays clustering AND dedup bit-for-bit. Only
# cluster ids and the K x D centroid matrix touch the driver.
D12_TAU = 0.4


@register(
    "d12_semdedup",
    oracle=_km_assign_cte()
    + f""",
norms AS (
  SELECT vec_id, {_sql_dot6("embedding", "embedding")} AS norm6 FROM embeddings
),
pairs AS (
  SELECT x.vec_id,
         CAST({_sql_dot6("x.embedding", "y.embedding")} AS DOUBLE)
           / sqrt(CAST(nx.norm6 AS DOUBLE) * CAST(ny.norm6 AS DOUBLE)) AS cos
  FROM a{KM_ITERS} x JOIN a{KM_ITERS} y
    ON x.cid = y.cid AND y.vec_id < x.vec_id
  JOIN norms nx ON nx.vec_id = x.vec_id
  JOIN norms ny ON ny.vec_id = y.vec_id
),
dups AS (SELECT DISTINCT vec_id FROM pairs WHERE cos > {D12_TAU})
SELECT a.cid,
       COUNT(*) AS n_points,
       COUNT(d.vec_id) AS n_dups,
       COALESCE(CAST(SUM(d.vec_id) AS BIGINT), 0) AS dup_id_sum
FROM a{KM_ITERS} a LEFT JOIN dups d ON a.vec_id = d.vec_id
GROUP BY a.cid
""",
    description="SemDeDup (Abbas et al.): k-means clusters bound the "
    "pairwise stage (N^2/K work, never corpus-wide all-pairs); a vector "
    "is a semantic duplicate if a lower-id cluster member exceeds cosine "
    "TAU. Shares s04's exact Lloyd kernel and unrolled-CTE oracle, so "
    "clustering AND dedup verdicts hash-match end to end.",
    tags=("dedup", "llm", "embeddings", "ml"),
)
def d12_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, _, _ = _lloyd_assign(spark, sf_dir)
    # r17: _lloyd_assign's assignment is now a per-row map (no shuffle
    # whose exchange the x/y pair sides could implicitly reuse), and d12
    # consumes it THREE times (both pair sides + the final rollup) — pin
    # the N-row (vec_id, cid, embedding, norm6) frame once so the
    # 3-iteration argmin and the self-norm run once per vector, not once
    # per reference. norm6 pinned here too: it was previously recomputed
    # on each side of the pair join.
    norms = assigned.select(
        "vec_id", "cid", "embedding", _dot6("embedding", "embedding").alias("norm6")
    ).localCheckpoint(eager=True)
    x = norms.alias("x")
    y = norms.alias("y")
    # r17: within-cluster pair scoring through the vectorized exact dot
    # kernel (guide §4.2) — same arithmetic as _dot6, numpy-batched over
    # the N^2/K pair stream
    from .similarity import dot6_pairs

    cos = dot6_pairs(
        F.col("x.embedding"), F.col("y.embedding")
    ).cast("double") / F.sqrt(
        F.col("x.norm6").cast("double") * F.col("y.norm6").cast("double")
    )
    dups = (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.cid"))
            & (F.col("y.vec_id") < F.col("x.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_id"), cos.alias("cos"))
        .filter(F.col("cos") > D12_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        norms.join(dups, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.count("is_dup").alias("n_dups"),
            F.coalesce(F.sum(F.when(F.col("is_dup") == 1, F.col("vec_id"))), F.lit(0))
            .cast("long")
            .alias("dup_id_sum"),
        )
    )
