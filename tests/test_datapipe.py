"""Semantic tests for the hash-based datapipe ops that have no SQL oracle:
MinHash-LSH recall against exact Jaccard, hyperplane-ANN recall against
brute force, SimHash properties, multimodal plumbing shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from proteus_engine_spark.datapipe.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from proteus_engine_spark.datapipe.multimodal import decode_images, sample_frames
from proteus_engine_spark.datapipe.similarity import brute_force_topk, lsh_ann_topk
from tests.conftest import SF_DIR


def _docs_with_near_dups(spark):
    """documents + injected near-duplicates (synthetic corpus has no real
    near-dups, so make some: copy with small edits)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    dups = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token tail")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.union(dups)


def test_minhash_lsh_finds_injected_near_dups(spark):
    docs = _docs_with_near_dups(spark)
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # every injected dup pair (id, id+100000) should be found
    expected = {(i, i + 100000) for i in range(50)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(found)} pairs found)"


def test_minhash_agrees_with_exact_jaccard(spark):
    """MinHash signature agreement (the Jaccard estimate the LSH bands are
    cut from) within 0.25 of exact token Jaccard on found pairs."""
    docs = _docs_with_near_dups(spark)
    sig = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    mh = {
        (r["doc_a"], r["doc_b"]): sum(
            x == y for x, y in zip(sig[r["doc_a"]], sig[r["doc_b"]])
        ) / len(sig[r["doc_a"]])
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.3).collect()
    }
    # all-pairs exact Jaccard as the oracle: opt in to the cartesian via an
    # explicit constant block key (fine on this 150-doc fixture; the
    # operator refuses to do it implicitly)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs.withColumn("__all__", F.lit(1)), block_cols=["__all__"], threshold=0.0
        ).collect()
    }
    checked = 0
    for pair, est in mh.items():
        if pair in exact:
            assert abs(est - exact[pair]) < 0.25, f"{pair}: est={est} exact={exact[pair]}"
            checked += 1
    assert checked >= 40


def test_simhash_identical_docs_same_fingerprint(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    copies = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    fp = simhash_buckets(docs.union(copies)).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in fp}
    for i in range(20):
        if i in by_id and i + 100000 in by_id:
            assert by_id[i] == by_id[i + 100000]


def test_ann_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), vec.alias("vec"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    exact = brute_force_topk(queries, corpus, k=5).collect()
    approx = lsh_ann_topk(queries, corpus, dim=64, k=5, nbits=4).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    # self-match (q==c, cos=1) must always be retrieved; overall recall loose
    # (4-bit LSH on near-orthogonal random vectors is genuinely approximate)
    for q in range(10):
        assert (q, q) in approx_set
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, f"ANN recall suspiciously low: {recall}"


def test_multimodal_decode_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    media = docs.select(F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload"))
    decoded = decode_images(media)
    rows = decoded.collect()
    assert len(rows) == 30
    assert set(decoded.columns) == {"media_id", "width", "height", "n_channels", "mean_intensity"}
    frames = sample_frames(media, every_n=2).collect()
    assert len(frames) >= 30
    assert all(isinstance(r["frame"], (bytes, bytearray)) for r in frames[:5])


def test_multimodal_resize_bounds_output(spark):
    from proteus_engine_spark.datapipe.multimodal import resize_images

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    media = docs.select(F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload"))
    out = resize_images(media, 8, 6)
    rows = out.collect()
    assert len(rows) == 20
    assert set(out.columns) == {"media_id", "width", "height", "resized"}
    # output payload budget is target-bound, never source-bound (exact
    # w*h*3 on the fake path; PNG-encoded when PIL is present)
    from proteus_engine_spark.datapipe.multimodal import _try_import_pil

    if _try_import_pil() is None:
        assert all(len(r["resized"]) == 8 * 6 * 3 for r in rows)
    assert all((r["width"], r["height"]) == (8, 6) for r in rows)


def test_embedding_cosine_lsh_precision_and_recall(spark):
    """LSH-blocked near-dup pairs must be a subset of the exact all-pairs
    result at the same threshold (precision 1.0 — candidates are
    exact-verified) with non-trivial recall."""
    from proteus_engine_spark.datapipe.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # exact over ALL pairs (no blocking) — feasible at test scale only
    exact = embedding_cosine_pairs(
        emb.withColumn("one", F.lit(1)), threshold=0.35, block_col="one"
    ).collect()
    approx = embedding_cosine_pairs(
        emb, threshold=0.35, block_col=None, dim=64, nbits=4, n_tables=8
    ).collect()
    exact_set = {(r["id_a"], r["id_b"]) for r in exact}
    approx_set = {(r["id_a"], r["id_b"]) for r in approx}
    assert approx_set <= exact_set, "LSH produced a pair below the threshold"
    assert len(exact_set) > 0
    recall = len(approx_set) / len(exact_set)
    assert recall >= 0.2, f"LSH recall suspiciously low: {recall}"


def test_embedding_cosine_scorers_agree(spark):
    """The BLAS gram-matrix scorer and the pure-DataFrame fold scorer must
    emit the identical pair set with identical 1e-6-rounded scores — the
    gemm path is a physical-plan swap, not a semantics change."""
    from proteus_engine_spark.datapipe.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    kw = dict(threshold=0.35, block_col="label")
    gemm = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_pairs(emb, scorer="gemm", **kw).collect()
    }
    fold = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_pairs(emb, scorer="fold", **kw).collect()
    }
    assert gemm == fold
    assert len(gemm) > 0


def test_ivf_recall_vs_brute_force(spark):
    """IVF with 4-of-16 probed cells must retrieve every self-match and
    beat LSH's recall floor comfortably on clustered embeddings."""
    from proteus_engine_spark.datapipe.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec = F.col("embedding").cast("array<double>")
    queries = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"), vec.alias("vec"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("vec"))
    exact = brute_force_topk(queries, corpus, k=5).collect()
    approx = ivf_ann_topk(queries, corpus, dim=64, k=5, n_centroids=16, n_probe=4, n_iter=1).collect()
    exact_set = {(r["q_id"], r["c_id"]) for r in exact}
    approx_set = {(r["q_id"], r["c_id"]) for r in approx}
    for q in range(10):
        assert (q, q) in approx_set
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"

