"""Deduplication operators for LLM training-data pipelines.

Four tiers, from exact to approximate:

  d01 exact        — hash-groupBy on full text (shuffle on text hash).
  d02 ngram-jaccard— character-3-gram shingle sets, pairwise Jaccard via
                     shingle-explode + self-join (exact near-dup; O(pairs
                     sharing a shingle), oracle-checkable in SQL).
  d03 minhash-lsh  — MinHash signatures + banded LSH bucketing: the 100 TB
                     scale path. Candidate pairs only form within a band
                     bucket (no all-pairs comparison anywhere); candidates
                     are then verified with exact Jaccard on shingle sets.
  d04 simhash      — 64-bit SimHash fingerprints + band bucketing, Hamming
                     distance verification.

d03/d04 depend on Spark's xxhash64/murmur3 — not reproducible in DuckDB SQL,
so they carry no oracle (driver records rows-only check); their correctness
is pytest-verified against pure-Python reference implementations on sampled
docs (tests/test_dedup.py).

Scale design: every stage is a narrow map or a key-partitioned shuffle;
no driver-side collection. Band tables are ~#docs×bands rows; bucket joins
use the band hash as join key, so skew only arises from truly-common
shingles, which AQE skew-join splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.prefix import global_row_number

from ..data import load_table
from ..functions.components import connected_components
from ..registry import register
from ..functions.localframe import local_df

SHINGLE_K = 3  # character shingle width
JACCARD_THRESHOLD = 0.6
MINHASH_PERMS = 64
MINHASH_BANDS = 16  # 16 bands x 4 rows
# 2^31-1 keeps a_i*h + b_i comfortably inside int64 for a_i <= 127
MERSENNE_P = (1 << 31) - 1
SIMHASH_HAMMING_MAX = 8


# --------------------------------------------------------------------------
# d01: exact dedup via hash-groupBy
# --------------------------------------------------------------------------
@register(
    "d01_dedup_exact",
    oracle="""
SELECT MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies,
       length(text) AS n_chars
FROM documents
GROUP BY text
HAVING COUNT(*) >= 1
""",
    description="Exact duplicate groups: shuffle on text, keep min doc_id "
    "as canonical representative.",
    tags=("dedup", "llm"),
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "keep_doc_id",
            "n_copies",
            F.length("text").cast("long").alias("n_chars"),
        )
    )


# --------------------------------------------------------------------------
# shared shingle helper: distinct character k-grams per doc
# --------------------------------------------------------------------------
def _shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) distinct pairs via sequence+transform+explode —
    all JVM-side; one narrow stage then a distinct shuffle keyed by
    (doc_id, shingle)."""
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(f"transform(sequence(1, length(text)-{k - 1}), i -> substr(text, i, {k}))")
                )
            ).alias("shingle"),
        )
    )


_SQL_SHINGLES = f"""
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, length(text)-{SHINGLE_K - 2}),
           i -> substring(text, i, {SHINGLE_K})))) AS shingle
  FROM documents
"""


# --------------------------------------------------------------------------
# d02: n-gram Jaccard near-duplicate pairs (exact, SQL-checkable)
# --------------------------------------------------------------------------
# Above this many distinct shingles, the per-doc bitmap no longer fits in a
# few BIGINT columns and the prefix-filter plan wins; below it the corpus is
# so shingle-dense that prefix filtering degenerates to all-pairs anyway.
_BITMAP_VOCAB_MAX = 4096
# The bitmap plan broadcasts the whole packed corpus and evaluates O(n²)
# candidate pairs in a nested-loop join — only sane when the corpus itself
# is small. At 20k docs the pair space is ~2x10^8 cheap bitmap AND/popcount
# evaluations, the practical ceiling for a single stage; beyond it the
# prefix-filter plan is chosen no matter how small the vocabulary is (the
# earlier 100k gate allowed ~5x10^9 pair evaluations on one stage).
_BITMAP_DOCS_MAX = 20_000


def _d02_choose_vocab(docs: DataFrame) -> list[str] | None:
    """Vocab list if the bitmap all-pairs plan should run, else None.

    Gated on BOTH corpus size (docs.count() is parquet-metadata cheap) and
    observed vocabulary size; the doc gate runs first so oversized corpora
    never pay the vocab probe.
    """
    if docs.count() > _BITMAP_DOCS_MAX:
        return None
    return _probe_vocab(docs)


def _probe_vocab(
    docs: DataFrame, k: int = SHINGLE_K, shingles: DataFrame | None = None
) -> list[str] | None:
    """Distinct shingles if the corpus vocabulary is small, else None.

    LIMIT vocab_max+1 bounds both the scan (Spark stops at the limit) and
    driver memory: at most 4097 short strings are ever collected.
    ``shingles`` lets a caller that already pinned the shingle frame probe
    it directly instead of re-exploding the corpus (d13/d14 checkpoint it).
    """
    rows = (
        (_shingles(docs, k) if shingles is None else shingles)
        .select("shingle")
        .distinct()
        .limit(_BITMAP_VOCAB_MAX + 1)
        .collect()
    )
    if len(rows) > _BITMAP_VOCAB_MAX:
        return None
    return sorted(r["shingle"] for r in rows)


def _d02_bitmap_allpairs(
    spark: SparkSession,
    docs: DataFrame,
    vocab: list[str],
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Small-vocab exact-Jaccard plan: per-doc shingle bitmaps in scalar
    BIGINT columns, intersected via bit_count inside a broadcast
    nested-loop self-join.

    One shuffle total (the groupBy building doc sets); the pair stage is
    shuffle-free because the packed table (|docs| rows x ~vocab/64 longs)
    broadcasts. The Jaccard length filter t*max(|A|,|B|) <= min(|A|,|B|)
    is part of the join predicate, so failing pairs never materialize.
    """
    from functools import reduce

    nw = (len(vocab) + 63) // 64
    dictionary = F.broadcast(
        local_df(spark, 
            [(s, i) for i, s in enumerate(vocab)], "shingle string, sid int"
        )
    )
    sh = _shingles(docs).join(dictionary, "shingle")
    # pack bitmap words directly in the aggregate: bit_or of the shingle's
    # bit, one aggregate per 64-bit word — stays in whole-stage codegen
    # (no collect_set array + interpreted fold) and combines map-side
    word_aggs = [
        F.bit_or(
            F.expr(
                f"IF(sid div 64 = {w}, "
                "shiftleft(CAST(1 AS BIGINT), sid % 64), CAST(0 AS BIGINT))"
            )
        ).alias(f"w{w}")
        for w in range(nw)
    ]
    packed = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *word_aggs)
    a = packed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"w{w}").alias(f"a{w}") for w in range(nw)],
    )
    b = packed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"w{w}").alias(f"b{w}") for w in range(nw)],
    )
    length_ok = (
        F.greatest("n_a", "n_b") * F.lit(t_num) <= F.least("n_a", "n_b") * F.lit(t_den)
    )
    pairs = a.join(F.broadcast(b), (F.col("doc_a") < F.col("doc_b")) & length_ok)
    inter = reduce(
        lambda x, y: x + y,
        [F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(nw)],
    )
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
@register(
    "d02_dedup_ngram_jaccard",
    oracle=f"""
WITH shingles AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
""",
    description="Exact character-3-gram Jaccard near-dup pairs via shingle "
    "self-join; integer intersection/union counts (deterministic ratio).",
    tags=("dedup", "llm", "join"),
)
def d02_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs; plan adapts to the observed shingle vocabulary.

    Two physical strategies, same exact semantics (same oracle):

    SMALL CORPUS + SMALL VOCAB (<= 100k docs AND <= 4096 distinct
    k-grams observed — see _d02_choose_vocab): every
    doc's shingle set is a <=4096-bit bitmap = a handful of BIGINT columns.
    Intersections become bit_count(a&b) over scalar longs — whole-stage
    codegen, no interpreted higher-order functions — evaluated inside a
    broadcast nested-loop join with the Jaccard length filter
    (t*|A| <= |B| <= |A|/t) as the join predicate. Prefix filtering is
    useless in this regime: with a few hundred distinct shingles every
    "rare" shingle still occurs in hundreds of docs, so the candidate join
    degenerates toward all-pairs anyway (measured: 198M raw candidates for
    12.5M total pairs at sf0.1) while paying join+distinct shuffles.

    LARGE VOCAB (real web corpora): AllPairs/PPJoin prefix filtering
    (Bayardo et al. WWW'07):

      1. order each doc's shingles by ascending global frequency;
      2. keep only the PREFIX (n - ceil(t*n) + 1 rarest shingles): two sets
         with Jaccard >= t MUST share a prefix shingle, because
         |A∩B| >= t*|A∪B| >= ceil(t*|A|);
      3. candidate pairs additionally satisfy the length filter;
      4. verify candidates exactly on the full sets.

    ceil(t*n) for t=3/5 is computed in exact integer arithmetic
    ((3n+4) div 5) — no IEEE rounding can shrink the prefix.

    The vocab probe is one distinct-shingle pass with a LIMIT vocab_max+1
    collect, so driver memory is bounded regardless of corpus size.
    """
    t_num, t_den = 3, 5  # JACCARD_THRESHOLD = 0.6 as an exact rational
    docs = load_table(spark, sf_dir, "documents")
    vocab = _d02_choose_vocab(docs)
    if vocab is not None:
        return _d02_bitmap_allpairs(spark, docs, vocab, t_num, t_den)
    sh = _shingles(docs)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    # dictionary-encode shingles: sid in [0, vocab) ordered by (freq, shingle).
    # The rank runs over the DICTIONARY (distinct 3-char shingles) via the
    # distributed global row number (range-repartition + per-range windows
    # + bounded offsets) — this fallback path is the LARGE-vocab one, so
    # no unpartitioned window even over the dictionary frame.
    ranked, _n_vocab = global_row_number(
        freq, [F.col("freq").asc(), F.col("shingle").asc()], out="_vrn"
    )
    dictionary = ranked.withColumn("sid", F.col("_vrn") - F.lit(1)).drop("_vrn")
    shd = sh.join(F.broadcast(dictionary.select("shingle", "sid")), "shingle")
    # per-doc shingle-id BITSET: vocab/64 longs. The synthetic corpus draws
    # from a tiny 3-gram vocabulary (~400), so a doc's set is a handful of
    # longs and set intersection is bit_count(a&b) — branch-free, no
    # shuffle at verify time. (Real web-scale corpora have large vocabs;
    # there the verify join would carry sorted int arrays instead — same
    # plan shape, this bitmap is the small-vocab fast path.)
    n_words = "((smax div 64) + 1)"
    # vocab-wide max sid as a broadcast single-row aggregate (a global
    # window here would single-partition every doc row)
    smax_df = dictionary.agg(F.max("sid").alias("smax"))
    docsets = (
        shd.groupBy("doc_id")
        .agg(
            F.collect_set("sid").alias("sids"),
            F.count(F.lit(1)).alias("n"),
        )
        .crossJoin(F.broadcast(smax_df))
        .withColumn(
            "words",
            F.expr(
                f"transform(sequence(0, {n_words} - 1), w -> "
                "aggregate(filter(sids, i -> i div 64 == w), CAST(0 AS BIGINT), "
                "(acc, i) -> acc | shiftleft(CAST(1 AS BIGINT), i % 64)))"
            ),
        )
        .select("doc_id", "n", "words")
    )
    # AllPairs prefix filter (Bayardo WWW'07): sort each doc's shingles
    # rarest-first; Jaccard >= t pairs must share one of the first
    # n - ceil(t*n) + 1. ceil(t*n) in exact integer arithmetic.
    w_doc = Window.partitionBy("doc_id").orderBy("freq", "shingle")
    w_n = Window.partitionBy("doc_id")
    shf = (
        sh.join(F.broadcast(freq), "shingle")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    ceil_tn = F.expr(f"({t_num}*n + {t_den - 1}) div {t_den}")
    prefix = shf.filter(F.col("pos") <= F.col("n") - ceil_tn + F.lit(1)).select(
        "doc_id", "shingle", "n"
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t*n_a <= n_b <= n_a/t (exact integer form)
            & (F.col("b.n") * t_den >= F.col("a.n") * t_num)
            & (F.col("b.n") * t_num <= F.col("a.n") * t_den),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = docsets.select(
        F.col("doc_id").alias("da"), F.col("words").alias("w_a"), F.col("n").alias("n_a")
    )
    sb = docsets.select(
        F.col("doc_id").alias("db"), F.col("words").alias("w_b"), F.col("n").alias("n_b")
    )
    inter = F.expr(
        "aggregate(zip_with(w_a, w_b, (x, y) -> bit_count(x & y)), 0, (acc, c) -> acc + c)"
    )
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(F.broadcast(sa), F.col("doc_a") == F.col("da"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("db"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# d03: MinHash + banded LSH (the 100 TB scale path)
# --------------------------------------------------------------------------
def minhash_signatures(docs: DataFrame, n_perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig: array<bigint>) — one MinHash per permutation.

    Universal hashing h_i(x) = (a_i*x + b_i) mod p over xxhash64 shingle
    hashes; a_i/b_i derive deterministically from the permutation index, so
    signatures are stable across runs and cluster sizes. Aggregation is
    min-of-longs: order-independent, map-side combinable.
    """
    sh = _shingles(docs)
    hashed = sh.select(
        "doc_id", (F.abs(F.xxhash64("shingle")) % MERSENNE_P).alias("h")
    )
    mins = [
        F.min((F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i + 1)) % MERSENNE_P).alias(f"m{i}")
        for i in range(n_perms)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[f"m{i}" for i in range(n_perms)]).alias("sig"))


@register(
    "d03_dedup_minhash_lsh",
    oracle=None,  # Spark xxhash64 not reproducible in DuckDB; pytest-verified
    description="MinHash(64 perms) + 16-band LSH bucketing -> candidate "
    "pairs -> exact Jaccard verification. No all-pairs stage; "
    "scales to 100 TB (bucket-join only). Rows-only BY DESIGN (native "
    "xxhash64 hot path); d11_minhash_lsh_exact is the oracle-exact twin "
    "running the identical pipeline on the md5 hash family.",
    tags=("dedup", "llm", "lsh"),
)
def d03_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS

    def _bands_of(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.hash(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band)
                            ).alias("bucket"),
                        )
                        for b in range(MINHASH_BANDS)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")

    def _candidates_of(bands: DataFrame) -> DataFrame:
        a = bands.alias("a")
        b = bands.alias("b")
        return a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))

    # verify candidates with exact Jaccard on shingle sets — adaptive,
    # same exact semantics both ways (d02's two-regime design):
    #
    # SMALL OBSERVED VOCAB (<= 4096 distinct shingles, bounded probe):
    # this synthetic template corpus draws from ~400 distinct 3-grams,
    # and the 16-band OR then recalls ~31% of ALL pairs as candidates
    # (3.89M of 12.5M at sf0.1) — the exploded pair x shingle verify
    # join shuffled ~0.5B rows (measured 230 s+ steady at sf0.1), and
    # even a per-doc array_intersect carry is interpreted per pair
    # (measured 148 s). Packed per-doc bitmaps (vocab/64 BIGINT scalar
    # columns) make the verify sum(bit_count(a&b)) in whole-stage
    # codegen: identical intersection counts, identical rows.
    #
    # r18 (guide §2.3/§2.4), two further cuts in this regime:
    # - ONE per-doc aggregate computes the 64 min-hashes AND the packed
    #   bitmap words (+ distinct-shingle count) together — previously two
    #   corpus explodes and two groupBy(doc_id) shuffles (the dictionary
    #   inner join keeps every row: the probe observed the WHOLE
    #   vocabulary, so min-hash values are unchanged by construction);
    # - the Jaccard filter runs BEFORE the candidate distinct: the
    #   bitmap sides broadcast, so raw band collisions verify in a pure
    #   map and only survivors reach the dedup exchange (measured: the
    #   3.9M-distinct-pair exchange was ~3.2 s of the 5.4 s query).
    #   distinct over (doc_a, doc_b, jaccard) == distinct over the pair:
    #   jaccard is a pure function of the pair, bit-identical per copy.
    #
    # LARGE VOCAB (real corpora — where LSH candidates are selective):
    # the candidate-driven shingle join below is the production shape
    # (cost = candidates x doc-shingles, d13's documented plan).
    sh = _shingles(docs)
    vocab = _probe_vocab(docs)
    if vocab is not None:
        from functools import reduce as _reduce

        nw = (len(vocab) + 63) // 64
        dictionary = F.broadcast(
            local_df(spark,
                [(s, i) for i, s in enumerate(vocab)], "shingle string, sid int"
            )
        )
        word_aggs = [
            F.bit_or(
                F.expr(
                    f"IF(sid div 64 = {w}, "
                    "shiftleft(CAST(1 AS BIGINT), sid % 64), CAST(0 AS BIGINT))"
                )
            ).alias(f"w{w}")
            for w in range(nw)
        ]
        min_aggs = [
            F.min(
                (F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i + 1)) % MERSENNE_P
            ).alias(f"m{i}")
            for i in range(MINHASH_PERMS)
        ]
        per_doc = (
            sh.join(dictionary, "shingle")
            .select(
                "doc_id",
                (F.abs(F.xxhash64("shingle")) % MERSENNE_P).alias("h"),
                "sid",
            )
            .groupBy("doc_id")
            .agg(*min_aggs, F.count(F.lit(1)).alias("n"), *word_aggs)
        )
        sigs = per_doc.select(
            "doc_id", F.array(*[f"m{i}" for i in range(MINHASH_PERMS)]).alias("sig")
        )
        za = per_doc.select(
            F.col("doc_id").alias("za_id"),
            F.col("n").alias("n_a"),
            *[F.col(f"w{w}").alias(f"a{w}") for w in range(nw)],
        )
        zb = per_doc.select(
            F.col("doc_id").alias("zb_id"),
            F.col("n").alias("n_b"),
            *[F.col(f"w{w}").alias(f"b{w}") for w in range(nw)],
        )
        inter = _reduce(
            lambda x, y: x + y,
            [F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(nw)],
        )
        jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
        return (
            _candidates_of(_bands_of(sigs))
            .join(za, F.col("doc_a") == F.col("za_id"))
            .join(zb, F.col("doc_b") == F.col("zb_id"))
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .distinct()
        )
    candidates = _candidates_of(_bands_of(minhash_signatures(docs))).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.alias("sa")
    inter = (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    jac = F.col("n_inter").cast("double") / (F.col("za.n") + F.col("zb.n") - F.col("n_inter"))
    return (
        inter.join(za, F.col("doc_a") == F.col("za.doc_id"))
        .join(zb, F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# --------------------------------------------------------------------------
# d04: SimHash fingerprints + banded Hamming candidates
# --------------------------------------------------------------------------
def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash: bigint) — 64-bit SimHash over word tokens.

    Per-bit vote: sum over tokens of (+1 if bit set else -1); bit i of the
    fingerprint is 1 when the vote is positive. All integer sums ->
    order-independent and map-side combinable.
    """
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "\\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    hashed = tokens.select("doc_id", F.xxhash64("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    # shiftleft builds the bit JVM-side (1<<63 overflows a py4j long literal)
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(64)
    ]
    fp = bit_terms[0]
    for t in bit_terms[1:]:
        fp = fp + t
    return agg.select("doc_id", fp.alias("simhash"))


@register(
    "d04_dedup_simhash",
    oracle=None,  # xxhash64-dependent; pytest-verified
    description="64-bit SimHash + 4x16-bit band bucketing -> Hamming<=8 "
    "near-dup pairs. Candidate join keyed on band value. Rows-only BY "
    "DESIGN (native xxhash64 hot path); d15_simhash_exact is the "
    "oracle-exact twin running the identical pipeline on md5 bits.",
    tags=("dedup", "llm", "lsh"),
)
def d04_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs).cache()
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )


# --------------------------------------------------------------------------
# d07: feature-hashing document embeddings (the hashing trick, exact)
# --------------------------------------------------------------------------
FH_DIM = 16
_FH_MUL = 2_654_435_761
_FH_MOD = 1_000_003


@register(
    "d07_feature_hash_embed",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents
),
b AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(1, length(tok)+1),
              i -> ascii(substring(tok, i, 1)) * ((i*{_FH_MUL}) % {_FH_MOD})))
              % {FH_DIM} AS INTEGER) AS bucket
  FROM toks
),
c AS (SELECT doc_id, bucket, COUNT(*) AS n FROM b GROUP BY doc_id, bucket),
t AS (SELECT doc_id, SUM(n) AS total FROM c GROUP BY doc_id)
SELECT c0.doc_id,
       {', '.join(f"CAST(COALESCE(SUM(CASE WHEN bucket = {j} THEN n END), 0) AS DOUBLE) / ANY_VALUE(total) AS f{j}" for j in range(FH_DIM))}
FROM c c0 JOIN t USING (doc_id)
GROUP BY c0.doc_id
""",
    description="Feature-hashing (hashing-trick) document embeddings: "
    f"each token buckets into one of {FH_DIM} dimensions by a "
    "deterministic position-weighted codepoint hash, per-doc bucket "
    "counts normalize to a unit-sum vector — the cheap text->vector "
    "bridge a pipeline uses before the embedding ops (d05/d06/s01-s04) "
    "when no model embedding exists yet. Pure JVM explode + conditional "
    "aggregation (one shuffle on doc_id), exact across engines because "
    "the hash is plain integer arithmetic, not an engine hash function.",
    tags=("dedup", "llm", "embeddings", "hashing-trick"),
)
def d07_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0))
        ).alias("tok"),
    )
    bucket = F.expr(
        f"CAST(aggregate(transform(sequence(1, length(tok)), "
        f"i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT) * ((CAST(i AS BIGINT)*{_FH_MUL}) % {_FH_MOD})), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x) % {FH_DIM} AS INT)"
    )
    counts = (
        toks.withColumn("bucket", bucket)
        .groupBy("doc_id")
        .agg(
            *[
                F.count(F.when(F.col("bucket") == j, 1)).alias(f"c{j}")
                for j in range(FH_DIM)
            ],
            F.count(F.lit(1)).alias("total"),
        )
    )
    return counts.select(
        "doc_id",
        *[
            (F.col(f"c{j}").cast("double") / F.col("total")).alias(f"f{j}")
            for j in range(FH_DIM)
        ],
    )


# --------------------------------------------------------------------------
# d08: chunk-level corpus deduplication (CCNet/RefinedWeb line-dedup shape)
# --------------------------------------------------------------------------
# CCNet (Wenzek et al. 2019) and RefinedWeb (Penedo et al. 2023) dedup at
# sub-document granularity: every paragraph/line is hashed and only its
# FIRST corpus-wide occurrence is kept. The synthetic corpus has no line
# breaks, so the unit here is a fixed window of CHUNK_W consecutive words —
# the same plan shape either way: explode chunks, one exchange partitioned
# by chunk text to find the global first occurrence (min composite key —
# no all-pairs, no broadcast of corpus data), then a per-doc rollup.
# First-occurrence order is (doc_id, chunk_idx) encoded as one BIGINT so
# min() is a plain scalar aggregate in both engines.
CHUNK_W = 8
_CHUNK_IDX_SPAN = 1_000_000  # > max chunks/doc; keeps the composite key exact


@register(
    "d08_chunk_dedup",
    oracle=f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
chunks AS (
  SELECT doc_id,
         i AS chunk_idx,
         array_to_string(words[i*{CHUNK_W}+1 : i*{CHUNK_W}+{CHUNK_W}], ' ') AS chunk,
         doc_id * {_CHUNK_IDX_SPAN} + i AS pos_key
  FROM w, unnest(range(0, CAST(ceil(len(words) / {CHUNK_W}.0) AS BIGINT))) AS t(i)
),
keyed AS (
  SELECT doc_id, chunk_idx, pos_key,
         MIN(pos_key) OVER (PARTITION BY chunk) AS first_key
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       COUNT(*) FILTER (WHERE pos_key = first_key) AS n_kept,
       COUNT(*) FILTER (WHERE pos_key <> first_key) AS n_dup_chunks,
       CAST(COUNT(*) FILTER (WHERE pos_key = first_key) AS DOUBLE) / COUNT(*)
         AS kept_ratio
FROM keyed
GROUP BY doc_id
""",
    description="Sub-document (chunk/line-level) corpus dedup: keep only the "
    "globally-first occurrence of each word chunk. One exchange keyed by "
    "chunk text, then a per-doc rollup — the CCNet/RefinedWeb shape, linear "
    "in corpus size.",
    tags=("dedup", "llm"),
)
def d08_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("words"),
    )
    chunks = w.select(
        "doc_id",
        F.posexplode(
            # sequence(0, n-1) DESCENDS when n = 0 (empty doc), so guard it
            F.expr(
                f"CASE WHEN size(words) = 0 THEN array() ELSE "
                f"transform(sequence(0, CAST(ceil(size(words) / {CHUNK_W}.0) AS INT) - 1), "
                f"i -> array_join(slice(words, i*{CHUNK_W}+1, {CHUNK_W}), ' ')) END"
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        "chunk_idx",
        "chunk",
        (F.col("doc_id") * _CHUNK_IDX_SPAN + F.col("chunk_idx")).alias("pos_key"),
    )
    first_key = F.min("pos_key").over(Window.partitionBy("chunk"))
    keyed = chunks.select("doc_id", "pos_key", first_key.alias("first_key"))
    kept = F.count(F.when(F.col("pos_key") == F.col("first_key"), 1))
    return keyed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        kept.alias("n_kept"),
        F.count(F.when(F.col("pos_key") != F.col("first_key"), 1)).alias("n_dup_chunks"),
        (kept.cast("double") / F.count(F.lit(1))).alias("kept_ratio"),
    )


# --------------------------------------------------------------------------
# d09: duplicate CLUSTERS via distributed connected components
# --------------------------------------------------------------------------
# Pairwise near-dup detection (d02-d08) emits EDGES; a real dedup pipeline
# must then cluster them transitively (A~B, B~C => one cluster) and keep
# one canonical doc per cluster. d09 builds the duplicate graph from
# shared chunks (d08's unit: docs sharing any CHUNK_W-word window are
# connected) and runs connected components to a FIXPOINT: every vertex
# ends labeled with the smallest doc_id reachable from it. The kernel is
# the large/small-star alternation (Kiveris et al. 2014): O(log^2 n)
# rounds whatever the component diameter, each round's edge set
# localCheckpointed to truncate lineage, and ONLY a per-round edge-set
# checksum (two scalars) reaches the driver. The DuckDB oracle computes
# the same fixpoint as a recursive CTE over the identical edge set.
CC_MAX_ITERS = 25  # >> the rounds any real graph needs; loop exits on fixpoint


def _cc_chunk_edges_sql() -> str:
    return f"""
w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
chunks AS (
  SELECT doc_id,
         array_to_string(words[i*{CHUNK_W}+1 : i*{CHUNK_W}+{CHUNK_W}], ' ') AS chunk
  FROM w, unnest(range(0, CAST(ceil(len(words) / {CHUNK_W}.0) AS BIGINT))) AS t(i)
),
edges AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.doc_id < b.doc_id
)"""


@register(
    "d09_dedup_components",
    oracle=f"""
WITH RECURSIVE {_cc_chunk_edges_sql()},
sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.v
),
comp AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v)
SELECT component,
       COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM comp
GROUP BY component
HAVING COUNT(*) > 1
""",
    description="Duplicate clusters via distributed connected components: "
    "chunk-sharing pairs form edges, the large/small-star alternation "
    "iterates to the fixpoint (only an edge-set checksum crosses to the "
    "driver per round), multi-doc clusters reported with their "
    "canonical member. Oracle = recursive-CTE transitive closure.",
    tags=("dedup", "llm", "graph", "iterative"),
)
def d09_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("words"),
    )
    chunks = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(words) = 0 THEN array() ELSE "
                f"transform(sequence(0, CAST(ceil(size(words) / {CHUNK_W}.0) AS INT) - 1), "
                f"i -> array_join(slice(words, i*{CHUNK_W}+1, {CHUNK_W}), ' ')) END"
            )
        ).alias("chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
    # shared CC kernel (functions/components.py): the large/small-star
    # alternation raises ComponentsNotConverged instead of returning
    # partial labels if it needs more than CC_MAX_ITERS rounds
    labels, _ = connected_components(edges, docs.select("doc_id"), CC_MAX_ITERS)
    return (
        labels.groupBy(F.col("label").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("long").alias("canonical_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# d10: sliding-window EXACT substring duplication (Lee et al. 2022 shape)
# --------------------------------------------------------------------------
# "Deduplicating Training Data Makes Language Models Better" removes exact
# substrings repeated anywhere in the corpus. d08's unit is the
# NON-OVERLAPPING chunk; d10's is every OVERLAPPING W-word window (stride
# 1), which is what catches duplicated passages that straddle chunk
# boundaries. A window is duplicated if its text occurs more than once
# corpus-wide (same doc or not — self-repetition is training-data noise
# too). Output is DOC-level (n_windows / n_dup_windows / dup_ratio):
# bounded by corpus size, never by the O(dups^2) pair count.
#
# Plan shape (100 TB): one exchange keyed by the window text for the
# occurrence count, the count joined straight back on the SAME key (the
# exchange is reused — no second shuffle of the window stream), then one
# doc-keyed rollup. The window stream is W x corpus tokens but never
# collects; suffix-array construction (the paper's exact algorithm) is
# the out-of-core swap-in at the same API.
D10_W = 8


@register(
    "d10_substring_dup_windows",
    oracle=f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
),
wins AS (
  SELECT doc_id,
         array_to_string(words[i+1 : i+{D10_W}], ' ') AS win
  FROM w, unnest(range(0, greatest(len(words) - {D10_W} + 1, 0))) AS t(i)
),
counted AS (
  SELECT win, COUNT(*) AS cnt FROM wins GROUP BY win
)
SELECT w.doc_id,
       COUNT(*) AS n_windows,
       COUNT(CASE WHEN c.cnt > 1 THEN 1 END) AS n_dup_windows,
       CAST(COUNT(CASE WHEN c.cnt > 1 THEN 1 END) AS DOUBLE) / COUNT(*)
         AS dup_ratio
FROM wins w JOIN counted c ON w.win = c.win
GROUP BY w.doc_id
""",
    description="Exact substring-level duplication via overlapping W-word "
    "sliding windows (the Lee et al. dedup unit): window occurrence "
    "counts in one text-keyed exchange, count joined back on the same "
    "key (partitioning reused), doc-level duplication rollup - catches "
    "duplicated passages that straddle d08's chunk boundaries.",
    tags=("dedup", "llm"),
)
def d10_substring_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("words"),
    )
    wins = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(words) < {D10_W} THEN array() ELSE "
                f"transform(sequence(0, size(words) - {D10_W}), "
                f"i -> array_join(slice(words, i+1, {D10_W}), ' ')) END"
            )
        ).alias("win"),
    )
    counted = wins.groupBy("win").agg(F.count(F.lit(1)).alias("cnt"))
    dup = F.count(F.when(F.col("cnt") > 1, 1))
    return (
        wins.join(counted, "win")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            dup.alias("n_dup_windows"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------------------------
# d11: ORACLE-CHECKABLE MinHash-LSH (md5-based hash family)
# --------------------------------------------------------------------------
# d03 is the production MinHash-LSH (xxhash64: fast, JVM-side) but carries
# no SQL oracle because DuckDB cannot reproduce Spark's hash. d11 is the
# same pipeline — shingle -> P permuted min-hashes -> banded bucket join ->
# candidate pairs — built on md5 arithmetic both engines share, so the
# driver hash-checks the ENTIRE LSH pipeline end to end: signatures,
# banding, and the candidate graph. P=16 permutations in 4 bands of 4; the
# permutation family (a*h + b) mod M over a 48-bit md5 prefix stays inside
# int64. Plan shape identical to d03: narrow hashing, one (doc,band)
# aggregate, one band-bucket equi-join — no all-pairs stage anywhere.
D11_PERMS = 16
D11_BANDS = 4  # 4 rows per band
_D11_H48 = "('0x' || substr(md5(shingle), 1, 12))::BIGINT"

# the md5 LSH candidate generator as a reusable CTE block (expects a
# previously-defined `sh(doc_id, shingle)`): shared by d11 (candidate
# counts) and d13 (the full dedup pipeline)
_SQL_D11_PAIRS = f"""
hashed AS (
  SELECT doc_id, p.p,
         MIN(((2 * p.p + 3) * {_D11_H48} + 7 * p.p + 1) % {MERSENNE_P}) AS sig
  FROM sh, (SELECT unnest(range(0, {D11_PERMS})) AS p) p
  GROUP BY doc_id, p.p
),
bands AS (
  SELECT doc_id, p // {D11_BANDS} AS band,
         string_agg(CAST(sig AS VARCHAR), ':' ORDER BY p) AS band_key
  FROM hashed GROUP BY doc_id, p // {D11_BANDS}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _md5_minhash_wide(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m{P-1}): the 16 permuted min-hashes per doc on the
    md5-shared family, as ONE wide aggregate — the Spark twin of
    _SQL_D11_PAIRS's ``hashed`` pivoted to columns.

    r18 (guide §2.3/§2.4): the previous shape exploded 16 permutation
    rows per shingle (a 16x-wider aggregate input) and then re-shuffled
    twice more (groupBy(doc_id, band) for band keys, groupBy(doc_id) for
    signature arrays). One groupBy(doc_id) with 16 min columns computes
    the identical values — for fixed p, ((2p+3)*h + 7p+1) % M is the same
    expression the exploded form evaluated — and bands/signature arrays
    derive from the columns with no further shuffle."""
    h48 = F.expr("conv(substr(md5(shingle), 1, 12), 16, 10)").cast("bigint")
    mins = [
        F.min(
            (F.lit(2 * p + 3) * F.col("h") + F.lit(7 * p + 1)) % F.lit(MERSENNE_P)
        ).alias(f"m{p}")
        for p in range(D11_PERMS)
    ]
    return sh.select("doc_id", h48.alias("h")).groupBy("doc_id").agg(*mins)


def _md5_bands(sh: DataFrame, wide: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, band_key): the 4 LSH band keys per doc on the
    md5-shared family — the bucket frame both the full self-join (d11)
    and the filtered incremental join (d14) build on.

    band b covers permutations p with p div D11_BANDS == b; the key is
    the ':'-joined decimal signatures in p order — exactly the string
    the previous collect_list/array_sort/array_join aggregate built (one
    row per (doc, p), sorted by p), now a shuffle-free concat_ws over
    the wide columns."""
    if wide is None:
        wide = _md5_minhash_wide(sh)
    n_bands = D11_PERMS // D11_BANDS
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"m{p}").cast("string")
                                for p in range(b * D11_BANDS, (b + 1) * D11_BANDS)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_key")


def _md5_lsh_pairs(sh: DataFrame, wide: DataFrame | None = None) -> DataFrame:
    """Distinct (doc_a, doc_b) LSH candidate pairs from a (doc_id,
    shingle) frame using the md5-shared permutation family — the Spark
    twin of _SQL_D11_PAIRS. Narrow hashing, one per-doc aggregate,
    one band-bucket equi-join; no all-pairs stage."""
    bands = _md5_bands(sh, wide)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# 48-bit md5 prefix as a BIGINT — the md5-shared hash family's document
# shingle identity (the Spark twin of the oracle's _D11_H48)
_H48_EXPR = "CAST(conv(substr(md5(shingle), 1, 12), 16, 10) AS BIGINT)"


def _h48_packed(
    spark: SparkSession, sh: DataFrame, vocab: list[str]
) -> tuple[DataFrame, int]:
    """Per-doc distinct-h48 set as packed BIGINT bitmap words.

    Returns ((doc_id, w0..w{nw-1}), nw). Bit index = rank of the
    shingle's 48-bit md5 prefix among the sorted distinct prefixes of
    the observed vocabulary, computed driver-side with hashlib —
    bit-identical to the engine's conv(substr(md5(shingle),1,12),16,10)
    on the same UTF-8 bytes. Two vocabulary shingles colliding on the
    prefix share one bit, so popcounts and AND-popcounts equal the
    array_distinct(h48) cardinalities / intersections exactly (the d13/
    d14 verify semantics), collisions included.
    """
    import hashlib

    h48s = sorted(
        {int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16) for s in vocab}
    )
    nw = (len(h48s) + 63) // 64
    dictionary = F.broadcast(
        local_df(spark, 
            [(h, i) for i, h in enumerate(h48s)], "h bigint, sid int"
        )
    )
    word_aggs = [
        F.bit_or(
            F.expr(
                f"IF(sid div 64 = {w}, "
                "shiftleft(CAST(1 AS BIGINT), sid % 64), CAST(0 AS BIGINT))"
            )
        ).alias(f"w{w}")
        for w in range(nw)
    ]
    packed = (
        sh.select("doc_id", F.expr(_H48_EXPR).alias("h"))
        .join(dictionary, "h")
        .groupBy("doc_id")
        .agg(*word_aggs)
    )
    return packed, nw


def _h48_verified_pairs(
    spark: SparkSession,
    docs: DataFrame,
    sh: DataFrame,
    cands: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Exact-Jaccard gate over candidate pairs on distinct-h48 shingle
    sets: (a_col, b_col) rows whose Jaccard clears D13_T_NUM/D13_T_DEN
    (exact integer cross-multiply, no float).

    Two-regime, d02/d03's committed design: a bounded vocab probe picks
    packed per-doc bitmaps (intersection = sum of bit_count(a&b) in
    whole-stage codegen) when the observed vocabulary fits — on
    template-heavy corpora LSH recalls a large fraction of all pairs
    and the per-pair interpreted array_intersect dominated the whole
    pipeline (d03's measurements: 148 s vs ~10 s at sf0.1). Real
    large-vocab corpora — where candidates are selective — keep the
    per-doc LONG-array carry + array_intersect (the production shape,
    cost bounded by candidates x doc-shingles).
    """
    from functools import reduce as _reduce

    vocab = _probe_vocab(docs, shingles=sh)
    if vocab is not None:
        packed, nw = _h48_packed(spark, sh, vocab)
        pa = packed.select(
            F.col("doc_id").alias(a_col),
            *[F.col(f"w{w}").alias(f"a{w}") for w in range(nw)],
        )
        pb = packed.select(
            F.col("doc_id").alias(b_col),
            *[F.col(f"w{w}").alias(f"b{w}") for w in range(nw)],
        )
        inter = _reduce(
            lambda x, y: x + y,
            [F.bit_count(F.col(f"a{w}").bitwiseAND(F.col(f"b{w}"))) for w in range(nw)],
        )
        na = _reduce(
            lambda x, y: x + y, [F.bit_count(F.col(f"a{w}")) for w in range(nw)]
        )
        nb = _reduce(
            lambda x, y: x + y, [F.bit_count(F.col(f"b{w}")) for w in range(nw)]
        )
        return (
            cands.join(pa, a_col)
            .join(pb, b_col)
            .select(
                a_col,
                b_col,
                inter.alias("i"),
                na.alias("na"),
                nb.alias("nb"),
            )
            .filter(
                F.lit(D13_T_DEN) * F.col("i")
                >= F.lit(D13_T_NUM) * (F.col("na") + F.col("nb") - F.col("i"))
            )
            .select(a_col, b_col)
        )
    doc_sh = (
        sh.select("doc_id", F.expr(_H48_EXPR).alias("h"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("h")).alias("shs"))
    )
    return (
        cands.join(
            doc_sh.select(F.col("doc_id").alias(a_col), F.col("shs").alias("sha")),
            a_col,
        )
        .join(
            doc_sh.select(F.col("doc_id").alias(b_col), F.col("shs").alias("shb")),
            b_col,
        )
        .select(
            a_col,
            b_col,
            F.size(F.array_intersect("sha", "shb")).alias("i"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
        .filter(
            F.lit(D13_T_DEN) * F.col("i")
            >= F.lit(D13_T_NUM) * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .select(a_col, b_col)
    )


@register(
    "d11_minhash_lsh_exact",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
{_SQL_D11_PAIRS},
part AS (
  SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
)
SELECT d.doc_id, CAST(COUNT(p.doc_id) AS BIGINT) AS n_candidates
FROM documents d LEFT JOIN part p ON d.doc_id = p.doc_id
GROUP BY d.doc_id
""",
    description="MinHash-LSH with an md5-shared hash family: the exact "
    "pipeline of d03 (shingle -> 16 permuted min-hashes -> 4-band bucket "
    "join -> candidate pairs) made bit-reproducible in SQL, so the "
    "driver hash-checks signatures, banding AND the candidate graph; "
    "no all-pairs stage anywhere.",
    tags=("dedup", "llm", "lsh", "minhash"),
)
def d11_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = _md5_lsh_pairs(_shingles(docs))
    part = pairs.select(F.col("doc_a").alias("doc_id")).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    return (
        docs.select("doc_id")
        .join(part.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_candidates"))
    )


# --------------------------------------------------------------------------
# d13: END-TO-END fuzzy dedup pipeline (candidates -> verify -> clusters
# -> keep/drop decisions)
# --------------------------------------------------------------------------
# The complete production shape (what a RefinedWeb/FineWeb-style corpus
# build actually runs): md5-LSH candidate generation (d11's generator),
# EXACT n-gram-Jaccard verification of candidates only — the false-positive
# filter LSH needs — verified pairs as edges into distributed connected
# components (d09's kernel), one canonical survivor per cluster. Output is
# one DECISION ROW PER DOCUMENT (cluster id, cluster size, keep flag):
# bounded by corpus size, never by the O(dups^2) pair count, so the shape
# survives 100 TB.
#
# Plan: the verify stage drives FROM the candidate pairs (pairs join
# shingles of doc_a on doc_id, then shingles of doc_b on (doc_id,
# shingle)) — cost is candidates x doc-shingles, NOT all shingle-sharing
# pairs; the threshold compare is exact integer cross-multiplication
# (tau = 3/5), no float round-trip in the gate.
D13_T_NUM, D13_T_DEN = 3, 5  # Jaccard threshold 0.6 as an exact rational
# signature prefilter: candidates must agree on >= 8/16 minhashes
# (estimated Jaccard >= 0.5) before exact verification — with tau = 0.6
# the estimator's miss probability at the boundary is Binomial(16, 0.6)
# < 8, ~5%; pairs it drops are overwhelmingly the band-collision noise
D13_SIG_MIN = 8


@register(
    "d13_dedup_pipeline",
    oracle=f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
{_SQL_D11_PAIRS},
sigs AS (SELECT doc_id, array_agg(sig ORDER BY p) AS sig FROM hashed GROUP BY doc_id),
-- signature prefilter: estimated similarity from the 16 minhashes must
-- clear the cutoff before the expensive exact verify (datasketch-style)
pre AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN sigs x ON x.doc_id = p.doc_a
  JOIN sigs y ON y.doc_id = p.doc_b
  WHERE list_sum(list_transform(range(1, {D11_PERMS} + 1),
          i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END))
        >= {D13_SIG_MIN}
),
-- per-doc DISTINCT hashed-shingle sets: the verify compares 48-bit md5
-- prefixes, not strings (both engines hash identically, so even a
-- collision lands on both sides and parity holds)
doc_sh AS (
  SELECT doc_id, array_agg(DISTINCT {_D11_H48}) AS shs FROM sh GROUP BY doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(x.shs, y.shs)) AS i,
         len(x.shs) AS na, len(y.shs) AS nb
  FROM pre p
  JOIN doc_sh x ON x.doc_id = p.doc_a
  JOIN doc_sh y ON y.doc_id = p.doc_b
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst
  FROM inter
  WHERE {D13_T_DEN} * i >= {D13_T_NUM} * (na + nb - i)
),
sym AS (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT s.dst, reach.r FROM sym s JOIN reach ON s.src = reach.v
),
comp AS (SELECT v AS doc_id, MIN(r) AS cluster FROM reach GROUP BY v),
cs AS (SELECT cluster, COUNT(*) AS n FROM comp GROUP BY cluster)
SELECT comp.doc_id,
       CAST(comp.cluster AS BIGINT) AS cluster,
       CAST(cs.n AS BIGINT) AS cluster_size,
       comp.doc_id = comp.cluster AS keep
FROM comp JOIN cs ON cs.cluster = comp.cluster
""",
    description="End-to-end fuzzy dedup pipeline: md5-LSH candidates -> "
    "signature-agreement prefilter (estimated similarity from the 16 "
    "minhashes, the datasketch discipline - on template-heavy corpora "
    "LSH bands collide far below the Jaccard threshold and the "
    "prefilter is what keeps exact verification candidate-bound) -> "
    "exact Jaccard verification of survivors -> verified edges -> "
    "distributed connected components -> one keep/drop decision per doc "
    "(canonical = min doc_id per cluster). Decision-shaped output stays "
    "O(corpus), never O(dup-pairs^2).",
    tags=("dedup", "llm", "lsh", "graph", "pipeline"),
)
def d13_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the shingle frame feeds FOUR consumers (LSH hashing, doc sizes, and
    # both sides of the verify join): materialize it once instead of
    # re-exploding the corpus per consumer. Corpus-shaped, like the
    # shuffle files any one consumer would write anyway; a real pipeline
    # persists this stage too (or re-derives — a config choice).
    sh = _shingles(docs).localCheckpoint(eager=True)
    # one |docs|-row wide frame feeds band keys AND the signature arrays
    # (4 consumers); r18 replaced the exploded (doc, p) shape — see
    # _md5_minhash_wide — so the checkpoint is 16 columns, not 16 rows/doc
    wide = _md5_minhash_wide(sh).localCheckpoint(eager=True)
    pairs = _md5_lsh_pairs(sh, wide=wide)
    sigs = wide.select(
        "doc_id", F.array(*[f"m{p}" for p in range(D11_PERMS)]).alias("sig")
    )
    # estimated-similarity prefilter: 16 integer compares per candidate
    # pair, orders of magnitude cheaper than the shingle join it gates
    pre = (
        pairs.alias("p")
        .join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")), "doc_b")
        .filter(
            F.expr("aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            >= D13_SIG_MIN
        )
        .select("doc_a", "doc_b")
    )
    # exact verify on survivors — two-regime (_h48_verified_pairs):
    # small observed vocab -> packed per-doc h48 bitmaps, intersection =
    # sum(bit_count(a&b)) in whole-stage codegen; large vocab (real
    # corpora, selective candidates) -> per-doc DISTINCT-h48 LONG arrays
    # + array_intersect, one row per candidate pair, never a pair x
    # shingle explosion. Both regimes compare the same 48-bit md5
    # prefixes the oracle computes, so parity holds bit-for-bit even
    # under collisions; threshold stays exact integer cross-multiply.
    edges = _h48_verified_pairs(spark, docs, sh, pre, "doc_a", "doc_b").select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels, _ = connected_components(edges, docs.select("doc_id"), CC_MAX_ITERS)
    sizes_by_label = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes_by_label, "label")
        .select(
            "doc_id",
            F.col("label").cast("long").alias("cluster"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.col("label")).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# d14: INCREMENTAL dedup — new docs against the existing corpus
# --------------------------------------------------------------------------
# The nightly-pipeline form: the base corpus is already deduplicated;
# each INCOMING batch is screened against it. Candidate pairs are
# restricted to incoming x base — base x base (and the intra-batch
# work, which is d13 run on the batch alone) is never generated, so an
# increment costs O(batch), not O(corpus): the property that makes
# continuous corpus construction affordable at 100 TB. Decisions emit
# one row per incoming doc: keep, or drop with the smallest blocking
# base doc. Machinery = d13's md5-LSH + integer-array exact verify.
D14_INCOMING_MOD = 4  # doc_id % 4 == 3 -> incoming batch


@register(
    "d14_incremental_dedup",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
{_SQL_D11_PAIRS},
doc_sh AS (
  SELECT doc_id, array_agg(DISTINCT {_D11_H48}) AS shs FROM sh GROUP BY doc_id
),
touching AS (  -- exactly one side incoming: incoming x base only
  SELECT CASE WHEN doc_a % {D14_INCOMING_MOD} = 3 THEN doc_a ELSE doc_b END AS inc,
         CASE WHEN doc_a % {D14_INCOMING_MOD} = 3 THEN doc_b ELSE doc_a END AS base
  FROM pairs
  WHERE (doc_a % {D14_INCOMING_MOD} = 3) != (doc_b % {D14_INCOMING_MOD} = 3)
),
edges AS (
  SELECT t.inc, t.base
  FROM touching t
  JOIN doc_sh x ON x.doc_id = t.inc
  JOIN doc_sh y ON y.doc_id = t.base
  WHERE {D13_T_DEN} * len(list_intersect(x.shs, y.shs))
        >= {D13_T_NUM} * (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
),
blocked AS (
  SELECT inc AS doc_id, MIN(base) AS blocked_by FROM edges GROUP BY inc
)
SELECT d.doc_id,
       b.doc_id IS NULL AS keep,
       CAST(b.blocked_by AS BIGINT) AS blocked_by
FROM documents d LEFT JOIN blocked b ON b.doc_id = d.doc_id
WHERE d.doc_id % {D14_INCOMING_MOD} = 3
""",
    description="Incremental dedup (continuous corpus construction): "
    "only incoming x base candidate pairs are generated - base x base "
    "is never touched, so each increment costs O(batch) not O(corpus); "
    "incoming docs near-duplicating any base doc (exact Jaccard among "
    "md5-LSH candidates) drop with their smallest blocker, one decision "
    "row per incoming doc. Intra-batch dedup is d13 run on the batch.",
    tags=("dedup", "llm", "lsh", "incremental", "pipeline"),
)
def d14_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs).localCheckpoint(eager=True)
    # split the band frame BEFORE the bucket join: the join's inputs are
    # inc_bands x base_bands, so base x base candidate pairs are never
    # enumerated — candidate generation itself is O(batch x bucket), the
    # property the operator exists for (not a post-filter on a full
    # self-join, which would still materialize the corpus's pair graph)
    bands = _md5_bands(sh)
    is_inc = F.col("doc_id") % D14_INCOMING_MOD == 3
    inc_bands = bands.filter(is_inc).alias("a")
    base_bands = bands.filter(~is_inc).alias("b")
    touching = (
        inc_bands.join(
            base_bands,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(F.col("a.doc_id").alias("inc"), F.col("b.doc_id").alias("base"))
        .distinct()
    )
    # exact verify on touching pairs — same two-regime gate as d13
    # (_h48_verified_pairs): packed-bitmap popcounts under a small
    # observed vocabulary, DISTINCT-h48 arrays + array_intersect on
    # real large-vocab corpora. Identical verified pairs either way.
    blocked = (
        _h48_verified_pairs(spark, docs, sh, touching, "inc", "base")
        .groupBy(F.col("inc").alias("doc_id"))
        .agg(F.min("base").alias("blocked_by"))
    )
    return (
        docs.filter(F.col("doc_id") % D14_INCOMING_MOD == 3)
        .select("doc_id")
        .join(blocked, "doc_id", "left")
        .select(
            "doc_id",
            F.col("blocked_by").isNull().alias("keep"),
            F.col("blocked_by").cast("long").alias("blocked_by"),
        )
    )


# --------------------------------------------------------------------------
# d15: SimHash with an md5-shared bit family (oracle-exact twin of d04)
# --------------------------------------------------------------------------
# d04's fingerprints ride Spark's xxhash64 (fast, JVM-native, not
# reproducible in SQL); d15 is the same pipeline — per-bit token votes ->
# 64-bit fingerprint -> 4x16-bit band bucketing -> Hamming<=8 candidate
# pairs — on token bits both engines share: bits 0..31 from the first 8
# md5 hex chars, bits 32..63 from the next 8. The fingerprint is carried
# as two uint32 halves (lo, hi) so no arithmetic ever touches the int64
# sign bit; Hamming = bit_count(lo^lo') + bit_count(hi^hi'). Tokens are
# the corpus-standard [a-z]+ words (regex parity across engines). Same
# plan shape as d04: one token aggregate with map-side combine, one
# band-bucket equi-join, no all-pairs stage.
def _d15_vote_sql() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (c{i // 32} >> {i % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    lo = " + ".join(
        f"CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END"
        for i in range(32)
    )
    hi = " + ".join(
        f"CASE WHEN v{i} > 0 THEN (CAST(1 AS BIGINT) << {i - 32}) ELSE 0 END"
        for i in range(32, 64)
    )
    return f"""toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents
),
hb AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS c0,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS c1
  FROM toks
),
votes AS (SELECT doc_id, {votes} FROM hb GROUP BY doc_id),
fp AS (SELECT doc_id, {lo} AS lo, {hi} AS hi FROM votes),
bands AS (
  SELECT doc_id, lo, hi, b.b AS band,
         CASE WHEN b.b < 2 THEN (lo >> (16 * b.b)) & 65535
              ELSE (hi >> (16 * (b.b - 2))) & 65535 END AS bucket
  FROM fp, (SELECT unnest(range(0, 4)) AS b) b
)"""


@register(
    "d15_simhash_exact",
    oracle=f"""
WITH {_d15_vote_sql()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
FROM bands a
JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= {SIMHASH_HAMMING_MAX}
""",
    description="SimHash near-dup with an md5-shared bit family: d04's "
    "exact pipeline (per-bit token votes -> 64-bit fingerprint as two "
    "uint32 halves -> 4x16-bit band bucketing -> Hamming<=8 pairs) made "
    "bit-reproducible in SQL, so the driver hash-checks fingerprints, "
    "banding AND the candidate graph; no all-pairs stage anywhere.",
    tags=("dedup", "llm", "lsh", "simhash"),
)
def d15_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tok"),
    )
    hb = toks.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)").alias("c0"),
        F.expr("CAST(conv(substr(md5(tok), 9, 8), 16, 10) AS BIGINT)").alias("c1"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"c{i // 32}"), i % 32).bitwiseAND(F.lit(1)) == 1,
                1,
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    agg = hb.groupBy("doc_id").agg(*votes)

    def _half(lo_bit: int) -> F.Column:
        terms = [
            F.when(
                F.col(f"v{i}") > 0,
                F.shiftleft(F.lit(1).cast("long"), i - lo_bit),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(lo_bit, lo_bit + 32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    fp = agg.select("doc_id", _half(0).alias("lo"), _half(32).alias("hi"))
    bands = fp.select(
        "doc_id",
        "lo",
        "hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("lo" if b < 2 else "hi"), 16 * (b % 2))
                            .bitwiseAND(F.lit(0xFFFF))
                        ).alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "lo", "hi", "bb.band", "bb.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = (
        F.bit_count(F.col("a.lo").bitwiseXOR(F.col("b.lo")))
        + F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi")))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
    )


# --------------------------------------------------------------------------
# d16: exact-substring dedup spans (Lee et al. 2021, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr step)
# --------------------------------------------------------------------------
# The fourth canonical dedup mode next to exact-hash / MinHash / SimHash:
# find character spans of length >= L repeated ACROSS documents and
# report, per document, how much of it is duplicated text. The suffix-
# array formulation is sequential; the distributed shape is Rabin-Karp:
# hash every length-L char gram (stride 1 — the honest ExactSubstr cost,
# one narrow (hash, doc, pos) triple per character), one shuffle keyed by
# gram hash to find grams carried by >= 2 documents, then a per-doc
# interval merge of the flagged [pos, pos+L) windows (running-max window
# partitioned BY DOC — never global). Grams are compared by 48-bit md5
# (hash-defined semantics, the d11 discipline), so both engines flag the
# identical span set and the oracle is exact.
D16_L = 40  # minimum duplicated-span length, in characters


@register(
    "d16_exact_substring_spans",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(substr(text, i + 1, {D16_L})), 1, 12))::BIGINT AS h
  FROM documents,
       unnest(range(0, greatest(length(text) - {D16_L} + 1, 0))) AS t(i)
),
dup AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
flagged AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
),
grp AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM (
    SELECT doc_id, pos,
           MAX(pos + {D16_L}) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM flagged
  )
),
spans AS (
  SELECT doc_id, gid, MIN(pos) AS s, MAX(pos + {D16_L}) AS e
  FROM grp GROUP BY doc_id, gid
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(e - s) AS BIGINT) AS flagged_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.flagged_chars, 0) AS flagged_chars
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
""",
    description="Exact-substring dedup (Lee et al. 2021 ExactSubstr, "
    f"distributed as Rabin-Karp): every length-{D16_L} char gram hashed "
    "(48-bit md5, stride 1), grams carried by >=2 docs flag their "
    "[pos, pos+L) windows, per-doc interval merge (doc-partitioned "
    "running-max window) reports duplicated-span count and chars. One "
    "gram shuffle + one doc-keyed window; exact value-hash oracle.",
    tags=("dedup", "llm", "exact-substring"),
)
def d16_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    L = D16_L
    docs = load_table(spark, sf_dir, "documents")
    # sequence(a, b) DESCENDS when b < a (the m08 phantom-chunk class of
    # bug): docs shorter than L must produce an EMPTY gram array, not
    # negative-position phantoms
    grams = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN length(text) >= {L} THEN "
                f"transform(sequence(0, length(text) - {L}),"
                f" i -> conv(substr(md5(substr(text, i + 1, {L})), 1, 12), 16, 10))"
                " ELSE array() END"
            )
        ).alias("pos", "hs"),
    ).select("doc_id", "pos", F.col("hs").cast("long").alias("h"))
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    flagged = grams.join(dup, "h").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = flagged.withColumn(
        "prev_end", F.max(F.col("pos") + L).over(w_prev)
    ).withColumn(
        "gid",
        F.sum(
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    spans = grp.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("s"), F.max(F.col("pos") + L).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("flagged_chars"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("flagged_chars", F.lit(0)).cast("long").alias("flagged_chars"),
    )
