"""Correctness of the hash-dependent approximate operators that carry no
DuckDB oracle (d03 minhash, d04 simhash, s02 LSH): verified against
pure-Python/numpy reference implementations and against the exact
operators' results."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_minhash_candidates_superset_of_high_jaccard_pairs(spark):
    """Every pair above ~0.9 Jaccard must be caught by 16-band/4-row LSH
    (collision prob 1-(1-s^4)^16 > 0.99 at s=0.9); verified output must
    match exact-Jaccard filtering."""
    from lakekeeper_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        d02_dedup_ngram_jaccard,
        d03_dedup_minhash_lsh,
    )

    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in d02_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    lsh = {(r.doc_a, r.doc_b): r.jaccard for r in d03_dedup_minhash_lsh(spark, SF_DIR).collect()}
    # verification step guarantees: every LSH pair is a true >=threshold pair
    for pair, jac in lsh.items():
        assert pair in exact
        assert jac == pytest.approx(exact[pair])
    # recall on strong pairs
    strong = {p for p, j in exact.items() if j >= 0.9}
    caught = strong & set(lsh)
    if strong:
        assert len(caught) / len(strong) >= 0.95
    # and overall recall at the configured threshold is reasonable
    assert len(lsh) / max(len(exact), 1) >= 0.5, (
        f"LSH recall {len(lsh)}/{len(exact)} too low at tau={JACCARD_THRESHOLD}"
    )


def test_simhash_matches_numpy_reference(spark):
    """Spark simhash fingerprints == numpy reference built from the same
    xxhash64 token hashes (pulled once through Spark for identical hashing)."""
    import numpy as np
    from pyspark.sql import functions as F

    from lakekeeper_spark.data import load_table
    from lakekeeper_spark.queries.dedup import simhash

    docs = load_table(spark, SF_DIR, "documents").limit(50).cache()
    tok = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("t"))
        .filter(F.length("t") > 0)
        .select("doc_id", F.xxhash64("t").alias("h"))
    )
    pdf = tok.toPandas()
    expected = {}
    for doc_id, grp in pdf.groupby("doc_id"):
        h = grp["h"].to_numpy().astype(np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
        votes = np.where(bits == 1, 1, -1).sum(axis=0)
        fp = np.uint64(0)
        for i in range(64):
            if votes[i] > 0:
                fp |= np.uint64(1) << np.uint64(i)
        expected[doc_id] = np.int64(fp)  # Spark long is signed
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert got == {k: int(v) for k, v in expected.items()}


def test_lsh_ann_recall_vs_bruteforce(spark):
    """s02 (4x8-bit hyperplane LSH) must place its returned neighbors among
    the true top-k and reach modest recall on this data."""
    from lakekeeper_spark.queries.similarity import s01_knn_bruteforce, s02_knn_lsh

    exact = s01_knn_bruteforce(spark, SF_DIR).collect()
    approx = s02_knn_lsh(spark, SF_DIR).collect()
    true_top = {(r.query_id, r.neighbor_id) for r in exact}
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    # every approx hit's cosine must equal the exact computation (same math)
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key]
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(got & true_top) / len(true_top)
    assert recall >= 0.3, f"LSH recall {recall:.2f} suspiciously low"


def test_fingerprint_matches_python_reference(spark):
    from lakekeeper_spark.data import load_table
    from lakekeeper_spark.queries.text import _FP_MOD, _POS_MOD, _POS_MUL, t03_fingerprint

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {r.doc_id: r.fingerprint for r in t03_fingerprint(spark, SF_DIR).limit(0).unionAll(
        t03_fingerprint(spark, SF_DIR)
    ).collect() if r.doc_id in texts}

    def ref_fp(text: str) -> int:
        return sum(
            ord(c) * ((i * _POS_MUL) % _POS_MOD) for i, c in enumerate(text, start=1)
        ) % _FP_MOD

    for doc_id, text in texts.items():
        assert got[doc_id] == ref_fp(text)


def test_d02_bitmap_plan_gated_on_doc_count(spark, monkeypatch):
    """Above the doc cap the bitmap all-pairs plan must be rejected even
    when the vocabulary is tiny — a huge corpus with a small vocab would
    otherwise broadcast itself into an O(n^2) nested-loop join."""
    from lakekeeper_spark.data import load_table
    from lakekeeper_spark.queries import dedup

    docs = load_table(spark, SF_DIR, "documents")
    # this corpus is small + small-vocab: bitmap path eligible
    assert dedup._d02_choose_vocab(docs) is not None
    # same corpus above the doc cap: prefix-filter path, no vocab probe
    monkeypatch.setattr(dedup, "_BITMAP_DOCS_MAX", docs.count() - 1)
    assert dedup._d02_choose_vocab(docs) is None


def test_d02_prefix_filter_path_matches_bitmap_path(spark, monkeypatch):
    """Both physical strategies of d02 (bitmap all-pairs vs AllPairs/PPJoin
    prefix filter) must produce identical exact-Jaccard pairs."""
    from lakekeeper_spark.queries import dedup

    bitmap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.d02_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    monkeypatch.setattr(dedup, "_BITMAP_DOCS_MAX", 0)  # force prefix path
    prefix = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.d02_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    assert bitmap == prefix


def test_d03_bitmap_verify_matches_join_verify(spark, monkeypatch):
    """d03's two verify strategies (small-vocab packed-bitmap intersection
    vs the candidate-driven shingle join) must produce identical verified
    pairs with bit-identical jaccard scores."""
    import struct

    from lakekeeper_spark.queries import dedup

    def key(rows):
        return {(r.doc_a, r.doc_b): struct.pack(">d", r.jaccard) for r in rows}

    bitmap = key(dedup.d03_dedup_minhash_lsh(spark, SF_DIR).collect())
    monkeypatch.setattr(dedup, "_probe_vocab", lambda docs, k=dedup.SHINGLE_K, **kw: None)
    joined = key(dedup.d03_dedup_minhash_lsh(spark, SF_DIR).collect())
    assert bitmap == joined


def test_d13_d14_bitmap_verify_matches_join_verify(spark, monkeypatch):
    """The shared d13/d14 exact-verify gate (_h48_verified_pairs) has two
    physical regimes — small-vocab packed-bitmap popcounts vs per-doc
    DISTINCT-h48 arrays + array_intersect — that must emit identical
    verified pairs, hence identical pipeline outputs."""
    from lakekeeper_spark.queries import dedup

    def d13_key(rows):
        return {r.doc_id: (r.cluster, r.cluster_size, r.keep) for r in rows}

    def d14_key(rows):
        return {r.doc_id: (r.keep, r.blocked_by) for r in rows}

    d13_bitmap = d13_key(dedup.d13_dedup_pipeline(spark, SF_DIR).collect())
    d14_bitmap = d14_key(dedup.d14_incremental_dedup(spark, SF_DIR).collect())
    monkeypatch.setattr(dedup, "_probe_vocab", lambda docs, k=dedup.SHINGLE_K, **kw: None)
    assert d13_key(dedup.d13_dedup_pipeline(spark, SF_DIR).collect()) == d13_bitmap
    assert d14_key(dedup.d14_incremental_dedup(spark, SF_DIR).collect()) == d14_bitmap


def test_embedding_lsh_dedup_precision_and_recall(spark):
    """d06 (label-free LSH near-dup): every emitted pair must be a true
    >=threshold cosine pair with the exact same score as the brute-force
    computation; near-identical pairs (cosine >= 0.99) must be caught."""
    from pyspark.sql import functions as F

    from lakekeeper_spark.data import load_table
    from lakekeeper_spark.queries.embeddings_ops import (
        NEAR_DUP_COS,
        _dot6,
        d06_dedup_embedding_lsh,
    )

    # exact all-pairs ground truth (test-only; the operator never does this)
    emb = load_table(spark, SF_DIR, "embeddings")
    n = emb.select("vec_id", "embedding", _dot6("embedding", "embedding").alias("norm6"))
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
                 F.col("norm6").alias("norm_a"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
                 F.col("norm6").alias("norm_b"))
    cosine = _dot6("emb_a", "emb_b").cast("double") / F.sqrt(
        F.col("norm_a").cast("double") * F.col("norm_b").cast("double"))
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b", cosine.alias("cosine"))
             .filter(F.col("cosine") >= NEAR_DUP_COS).collect()}
    got = {(r.vec_a, r.vec_b): r.cosine for r in d06_dedup_embedding_lsh(spark, SF_DIR).collect()}
    # precision 1.0 with identical scores
    for pair, cos in got.items():
        assert pair in exact and cos == exact[pair]
    # near-identical pairs must collide in some bucket
    strong = {p for p, c in exact.items() if c >= 0.99}
    if strong:
        assert len(strong & set(got)) / len(strong) >= 0.9


def test_d08_chunk_dedup_first_occurrence_semantics(spark, tmp_path):
    """Crafted corpus: doc 0 and doc 1 share an identical 8-word chunk; the
    earlier (doc_id, chunk_idx) keeps it, the later one counts a dup."""
    import pyspark.sql.functions as F  # noqa: F401

    from lakekeeper_spark.queries.dedup import CHUNK_W, d08_chunk_dedup

    shared = " ".join(f"tok{i}" for i in range(CHUNK_W))
    uniq_a = " ".join(f"aaa{i}" for i in range(CHUNK_W))
    uniq_b = " ".join(f"bbb{i}" for i in range(CHUNK_W))
    rows = [
        (0, f"{shared} {uniq_a}", "en", "s", 0),
        (1, f"{uniq_b} {shared}", "en", "s", 0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))
    out = {r.doc_id: r for r in d08_chunk_dedup(spark, str(sf)).collect()}
    assert out[0].n_chunks == 2 and out[0].n_kept == 2 and out[0].n_dup_chunks == 0
    assert out[1].n_chunks == 2 and out[1].n_kept == 1 and out[1].n_dup_chunks == 1
    assert out[1].kept_ratio == 0.5


def test_t10_repetition_signals_crafted(spark, tmp_path):
    """'x x x y' -> dup_word_frac = 1 - 2/4, top word x = 3/4, top bigram
    'x x' = 2/3; a 1-word doc is excluded."""
    from lakekeeper_spark.queries.text import t10_repetition_signals

    rows = [(0, "x x x y", "en", "s", 0), (1, "lone", "en", "s", 0)]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))
    out = {r.doc_id: r for r in t10_repetition_signals(spark, str(sf)).collect()}
    assert set(out) == {0}
    r = out[0]
    assert r.n_words == 4 and r.n_distinct_words == 2
    assert r.dup_word_frac == 0.5
    assert r.top_word_frac == 0.75
    assert abs(r.top_bigram_frac - 2 / 3) < 1e-12


def test_s05_pq_recall_vs_exact(spark):
    """PQ+ADC with exact rerank: every emitted cosine is exact, and the
    candidate stage must recover a solid fraction of the true top-k even
    on near-random vectors (PQ's hardest case — no cluster structure for
    the codebook to exploit)."""
    from lakekeeper_spark.queries.embeddings_ops import s05_knn_pq
    from lakekeeper_spark.queries.similarity import s01_knn_bruteforce

    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in s01_knn_bruteforce(spark, SF_DIR).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in s05_knn_pq(spark, SF_DIR).collect()
    }
    # scores of shared pairs are bit-identical (the rerank is exact)
    for pair, cos in pq.items():
        if pair in exact:
            assert cos == exact[pair]
    assert len(set(exact) & set(pq)) / len(exact) >= 0.35


def test_m06_phash_neardup_finds_duplicate_payloads(spark, tmp_path):
    """Crafted corpus: doc 0 and doc 3 (both image-kind: doc_id % 3 == 0)
    share identical payload bytes -> identical pHash -> Hamming 0; doc 6
    is distinct and must not pair. Docs 1, 2 are non-image and excluded
    even though doc 1 duplicates doc 0's text."""
    from lakekeeper_spark.queries.multimodal import m06_phash_neardup

    rows = [
        (0, "same payload bytes", "en", "s", 0),
        (1, "same payload bytes", "en", "s", 0),  # non-image: excluded
        (2, "other", "en", "s", 0),
        (3, "same payload bytes", "en", "s", 0),
        (6, "completely different content", "en", "s", 0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))
    got = [(r.doc_a, r.doc_b, r.hamming) for r in m06_phash_neardup(spark, str(sf)).collect()]
    assert got == [(0, 3, 0)]


def test_d09_components_match_union_find_reference(spark, tmp_path):
    """Randomized corpus (seeded): the distributed min-label propagation
    must produce exactly the clusters a pure-Python union-find computes
    over the same chunk-sharing edge definition."""
    import random

    from lakekeeper_spark.queries.dedup import CHUNK_W, d09_dedup_components

    rng = random.Random(1234)
    # letters only: the operator tokenizes with [a-z]+, so digits would
    # collapse every word to the same token
    vocab = [f"{a}{b}x" for a in "abcde" for b in "abcdefgh"]
    docs = []
    for doc_id in range(60):
        n_chunks = rng.randint(1, 4)
        words = []
        for _ in range(n_chunks):
            if docs and rng.random() < 0.4:
                # reuse a random chunk from an earlier doc -> edge
                src_words = docs[rng.randrange(len(docs))][1]
                k = rng.randrange(max(1, len(src_words) // CHUNK_W))
                words += src_words[k * CHUNK_W : (k + 1) * CHUNK_W]
            else:
                words += [rng.choice(vocab) for _ in range(CHUNK_W)]
        docs.append((doc_id, words))

    # reference: union-find over docs sharing any full chunk
    def chunks_of(words):
        return {
            " ".join(words[i : i + CHUNK_W])
            for i in range(0, len(words), CHUNK_W)
        }

    parent = list(range(len(docs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    owner: dict[str, int] = {}
    for doc_id, words in docs:
        for ch in chunks_of(words):
            if ch in owner:
                union(owner[ch], doc_id)
            else:
                owner[ch] = doc_id
    from collections import defaultdict

    comp = defaultdict(list)
    for doc_id, _ in docs:
        comp[find(doc_id)].append(doc_id)
    expected = {
        (min(v), len(v), min(v), max(v)) for v in comp.values() if len(v) > 1
    }

    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [(d, " ".join(w), "en", "s", 0) for d, w in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))
    got = {
        (r.component, r.n_docs, r.canonical_doc, r.max_doc)
        for r in d09_dedup_components(spark, str(sf)).collect()
    }
    assert got == expected


def test_p05_content_split_never_leaks_duplicates(spark, tmp_path):
    """Crafted corpus with duplicate texts engineered to straddle naive
    doc_id buckets: the content-keyed split must report zero leaked
    texts while the naive split leaks."""
    from lakekeeper_spark.queries.text import p05_leakage_safe_split

    # doc_ids chosen so (id * 2654435761 % 1000003) % 10 differ within
    # each duplicate pair -> naive split separates the copies
    rows = []
    for i in range(40):
        rows.append((i, f"duplicate text {i % 8}", "en", "s", 0))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(sf / "documents.parquet"))
    out = p05_leakage_safe_split(spark, str(sf)).collect()
    content_leak = {r.method_leaked_texts for r in out if r.method == "content"}
    naive_leak = {r.method_leaked_texts for r in out if r.method == "naive"}
    assert content_leak == {0}
    assert all(v > 0 for v in naive_leak)
    # every split's docs are whole multiples of nothing-split duplicates:
    # content split keeps each text's 5 copies together
    content_rows = [r for r in out if r.method == "content"]
    assert sum(r.n_docs for r in content_rows) == 40
    assert all(r.n_docs == 5 * r.n_texts for r in content_rows)
