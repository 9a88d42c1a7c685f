"""Deduplication operators over a documents table.

Seven operators, all shuffle-architected for 100 TB corpora:

- exact_dedup        — hash-groupBy on a content digest. One shuffle on the
                       digest; at 100 TB the digest (16 bytes) shuffles, not
                       the text.
- minhash_lsh_pairs  — word-shingle MinHash + banded LSH: candidate pairs
                       come from (band, band_signature) buckets, so the
                       cartesian blowup never happens; only bucket-mates
                       are compared, by exact shingle-set Jaccard.
- simhash_buckets    — 64-bit SimHash grouped by hamming-ball prefix bands.
- ngram_jaccard_pairs — exact token-set Jaccard within cheap blocking keys
                       (an oracle-checkable operator on its own).
- embedding_cosine_pairs — near-dup pairs by embedding cosine, blocked on a
                       cheap key (exact within blocks) or, for unblocked
                       100 TB corpora, on multi-table hyperplane-LSH buckets.
- duplicate_spans / remove_duplicate_spans — exact-substring dedup at span
                       granularity (Lee et al. 2022): score, then cut,
                       cross-document duplicated k-token spans.
- semantic_dedup     — SemDeDup (Abbas et al. 2023): k-means the embedding
                       space, prune cosine near-dups within clusters.

The MinHash band keys (_minhash_bands) and the set-Jaccard expression
(_set_jaccard) are built here once; decontam.fuzzy_overlap_pairs bands
and verifies through the same two helpers.

Everything is built-in expressions (xxhash64, explode, groupBy) — no Python
in the hot path except the blocked BLAS cosine scorer. MinHash permutations
use xxhash64 with per-permutation seeds, the standard "one strong hash,
k seeds" construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shared lowercase+whitespace tokenizer — ONE definition (textstats owns
# it); a local copy here once diverged silently from the text-analysis
# side and every shingle-semantics fix had to be applied twice.
from proteus_engine_spark.datapipe.textstats import _tokens  # noqa: E402
from proteus_engine_spark.functions.fastlit import column_array  # noqa: E402


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the smallest id per content digest.

    Scale: shuffles (digest, id) pairs only — ~24 bytes/row regardless of
    document size. Equivalent SQL: GROUP BY md5(text) → min(id).
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingles(df: DataFrame, text_col: str = "text", k: int = 3, out: str = "shingle") -> DataFrame:
    """Explode each document into its k-word shingles (distinct per doc).

    Built-in expressions only (shingle_array builds the array JVM-side);
    explode produces the (doc, shingle) relation.
    """
    return df.withColumn(out, F.explode(shingle_array(text_col, k=k)))


def shingle_array(text_col: str, k: int = 3) -> "F.Column":
    """Distinct k-word shingle array, built JVM-side (transform over a
    token-index sequence).

    Documents SHORTER than k tokens yield one partial (<k-word) shingle
    — their whole text (an empty doc yields the "" shingle). That is
    DELIBERATE for dedup (short docs stay dedupe-able against each
    other); consumers with strict n-gram semantics must gate on token
    count themselves (decontam.ngram_overlap_counts does)."""
    toks = _tokens(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


def _minhash_columns(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash minima as num_perm separate long columns (mh_0..mh_{n-1}) —
    the internal shape: downstream banding hashes slices of these columns
    directly, avoiding an array pack/unpack of 2×num_perm expressions in
    the plan (driver-side analysis cost is real for wide trees)."""
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    # Scale-adaptive widening: (a) parallelizes the hash-heavy map side
    # when the input is one small file (AQE coalesces by bytes, which is
    # wrong for compute-heavy, byte-light stages), and locally the groupBy
    # below reuses the hash partitioning, so the minima aggregate adds no
    # second shuffle; (b) on a many-file 100 TB input the scan is already
    # wide and the repartition is SKIPPED — shuffling (id, text) payloads
    # costs far more than the minima aggregate's own post-partial-agg
    # exchange of (doc_id, num_perm x 8B).
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    sh = shingles(
        widen_if_narrow(docs.select(id_col, text_col), n_parts, id_col), text_col, k=shingle_k
    )
    # Each shingle STRING is hashed once; the num_perm permutations re-hash
    # the resulting 8-byte long (xxhash64(h, seed)) — ~3× faster than
    # hashing the string per permutation, identical uniformity. The
    # num_perm min-aggregates are codegen'd with map-side partial
    # aggregation (unlike higher-order lambda variants, which are
    # interpreted); the shuffle carries only (doc_id, num_perm×8B) minima.
    sh = sh.select(id_col, F.xxhash64("shingle").alias("__h__"))
    # One F.expr per aggregate (identical tree to
    # F.min(F.xxhash64(col, lit)).alias(...)): the element-wise Column
    # form costs ~5 py4j round trips per permutation — ~320 trips, ~0.3s
    # of pure driver wall per call at 64 perms (r17 measurement).
    mins = [F.expr(f"min(xxhash64(__h__, {p})) AS mh_{p}") for p in range(num_perm)]
    return sh.groupBy(id_col).agg(*mins)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures as one array<long> column (the public shape).
    At 100 TB the signature step pipelines into the scan; only the banding
    key shuffle moves data (8-byte keys)."""
    agg = _minhash_columns(docs, id_col, text_col, num_perm, shingle_k)
    sig = column_array(f"mh_{p}" for p in range(num_perm))
    return agg.select(F.col(id_col), sig.alias("sig"))


def _minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Banded MinHash keys, one row per (doc, band): (id_col, band_id,
    band_sig), band_sig = xxhash64 over the band's ``num_perm // bands``
    minima. The one band-key builder — self-join dedup and bipartite
    decontamination both band here, so their keys agree across calls."""
    if bands <= 0 or num_perm % bands:
        raise ValueError(
            f"bands={bands} must positively divide num_perm={num_perm}: "
            "a remainder silently computes-and-drops permutations (the "
            "banding would not be the bands x rows construction asked "
            "for), and bands > num_perm degenerates to empty band keys"
        )
    rows_per_band = num_perm // bands
    mh = _minhash_columns(docs, id_col, text_col, num_perm, shingle_k)
    # Single-parse band array (identical tree to the element-wise
    # F.xxhash64(*cols) list — aliases on array elements are dropped by
    # the array constructor either way): ~110 py4j trips saved per call.
    # The hashes are computed in the explode's own projection, so no
    # signature array is ever built on this path.
    band_arr = F.expr(
        "array(%s)"
        % ", ".join(
            "xxhash64(%s)"
            % ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
            for b in range(bands)
        )
    )
    return mh.select(F.col(id_col), F.posexplode(band_arr).alias("band_id", "band_sig"))


def _set_jaccard(a, b) -> "F.Column":
    """Exact set Jaccard |A∩B| / |A∪B| of two distinct-element array
    columns, JVM-side — engine-portable values an oracle can recompute."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = None,
    oversize: str = "split",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, exact-Jaccard verified.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    bands=16 × rows=4 over 64 perms → catches pairs with J ≳ 0.7. Candidate
    generation groups docs by (band_id, band_sig): at 100 TB the key is
    16 bytes and hot buckets (boilerplate docs) are AQE-skew-split.
    Verification re-attaches the shingle *sets* to the (few) candidate
    pairs and computes exact Jaccard — the standard two-tier dedup shape:
    candidates come from 8-byte band keys, the heavy token sets are only
    shuffled for pairs that already collided, and the exact values are
    engine-portable (oracle-checkable), unlike the xxhash64 signatures.
    The plan stays fully lazy and references the signature pass once by
    construction (the shingle re-attach reads `docs`, not the minima).

    ``max_bucket_size`` bounds the O(|bucket|²) candidate-pair explosion
    of pathological band buckets (boilerplate-heavy web corpora put
    10⁵–10⁶ near-identical template docs in ONE bucket → 10¹⁰+ pairs from
    a single key — the skew scale-killer at 100 TB). With a cap set, every
    band bucket larger than the cap is handled per ``oversize``:

    - ``"split"`` (default): the bucket's ids are sorted (deterministic
      chunk membership — collect_list order is not) and sliced into
      ⌈size/cap⌉ chunks of at most ``cap`` ids; pairs are emitted within
      chunks only. A pair split across chunks in one band can still
      collide in another band, but a hot bucket whose members are near-
      identical has near-identical membership (and thus near-identical
      id-sorted chunk boundaries) in EVERY band, so most cross-chunk
      pairs are sacrificed. MEASURED (120-doc J≈0.94 hot bucket, 64
      perms × 16 bands, deterministic): recall vs the uncapped run is
      0.168 / 0.309 / 0.513 at cap 10 / 20 / 40; an identical-content
      200-doc bucket at cap 50 keeps exactly the 4·C(50,2) within-chunk
      pairs (cross-chunk pairs fully sacrificed — identical content is
      cheaper to remove with exact hash dedup upstream, which is why this
      stays the default).
    - ``"salted_split"``: same chunk count and cost, but chunk membership
      follows a PER-BAND order (ids sort by xxhash64(id, band_id)), so a
      pair split in one band co-chunks in another with probability
      ~1/n_chunks per band — across 16 independent band orders recall
      ≈ 1-(1-1/k)^bands. MEASURED (same corpus): 0.658 / 0.903 / 0.993
      at cap 10 / 20 / 40, and the identical-content 200-doc bucket
      recovers 19,682 of 19,900 pairs. Candidate GENERATION stays
      bounded at ⌈n/cap⌉·C(cap,2) per band either way; salting raises
      the distinct-pair OUTPUT for mega-clusters by up to ×bands, the
      price of the recall. Use when hot buckets hold near-duplicates
      rather than exact boilerplate.

    The reference bounds the same skew with hash-partition spilling
    (flink-runtime/.../hash/MutableHashTable.java); here the bound must
    be on pair *generation*, which spilling cannot fix.
    """
    if oversize not in ("split", "salted_split"):
        raise ValueError(f"unknown oversize {oversize!r}: expected 'split' or 'salted_split'")
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size={max_bucket_size} must be >= 2: a 1-doc chunk "
            "can emit no pair, so every candidate would be silently dropped"
        )
    # Candidate generation: one shuffle of (band_id, band_sig, doc_id) —
    # 24 B/row × bands — then per-bucket ordered pairs via a double explode
    # (rows stream; no per-bucket pair array is materialized). The plan is
    # shaped so the signature pass is referenced ONCE: bucket GROUPING, not
    # a self-join (a self-join evaluates the signature subplan per side —
    # AQE broadcasts one side, so exchange reuse never kicks in and the
    # whole hash pass runs twice). Hot buckets cost O(bucket²) pairs
    # exactly like a bucket self-join would; ``max_bucket_size`` bounds
    # that explosion (split below).
    banded = _minhash_bands(docs, id_col, text_col, num_perm, bands, shingle_k)
    buckets = (
        banded.groupBy("band_id", "band_sig")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        cap = max_bucket_size
        # ONLY oversized buckets pay the sort+chunk expression chain — at
        # 100 TB the cap must not tax the billions of small buckets it
        # exists to protect. The sort runs ONCE per oversized bucket in
        # this pre-projection (higher-order lambdas are interpreted and
        # lambda-invariant subexpressions are NOT hoisted, so sorting
        # inside the slice lambda would re-sort the full array once per
        # chunk); under-cap buckets pass through unsorted as a single
        # untouched chunk.
        if oversize == "salted_split":
            # chunk membership = slices of a PER-BAND order: ids sort by
            # xxhash64(id, band_id), so a pair split across chunks in one
            # band lands in the same chunk of another band with
            # probability ~1/n_chunks per band — across `bands`
            # independent orders the recall loss of the plain split
            # mostly recovers (measured numbers in the docstring).
            # struct(h, id) sort keeps the order total (and thus
            # deterministic) even under hash collisions.
            chunk_order = F.expr(
                "transform(array_sort(transform(ids, x -> "
                "struct(xxhash64(x, band_id) AS h, x AS id))), s -> s.id)"
            )
        else:
            chunk_order = F.array_sort("ids")
        sorted_ids = F.when(F.size("ids") > cap, chunk_order).otherwise(F.col("ids"))
        n_chunks = F.ceil(F.size("ids") / F.lit(cap)).cast("int")
        chunked = F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.slice(F.col("ids"), i * F.lit(cap) + F.lit(1), F.lit(cap)),
        )
        buckets = (
            buckets.select("band_id", "band_sig", sorted_ids.alias("ids"))
            .select(
                "band_id",
                "band_sig",
                F.explode(
                    F.when(F.size("ids") <= cap, F.array(F.col("ids"))).otherwise(chunked)
                ).alias("ids"),
            )
            .filter(F.size("ids") > 1)
        )
    cand_pairs = (
        buckets.select(F.col("ids"), F.explode("ids").alias("doc_a"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    # Melt candidates to one row per DOC with the set of its candidate
    # pairs (collect_set also dedups pairs that collided in several bands).
    # NO broadcast hint on the payload-attach join: per_doc is one row per
    # document appearing in ANY candidate pair, and at web-crawl dup rates
    # (30-50% of docs) that is a corpus-sized fraction, not a
    # broadcast-sized one — a forced hint would OOM executors at 100 TB.
    # AQE picks a broadcast join at small candidate volumes and a shuffle
    # join otherwise; the docs side is re-read, so the candidate subplan
    # runs once per query either way.
    per_doc = (
        cand_pairs.select(
            F.struct("doc_a", "doc_b").alias("pair"),
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc"),
        )
        .groupBy("doc")
        .agg(F.collect_set("pair").alias("pairs"))
    )
    # Join on the narrow id FIRST (one row per candidate doc), tokenize
    # AFTER: shingle_array runs exactly once per surviving doc, then the
    # pair explode replicates the computed arrays, not the computation
    # (Catalyst never pushes projections below joins).
    attached = (
        docs.select(F.col(id_col).alias("doc"), F.col(text_col))
        .join(per_doc, "doc")
        .select("doc", shingle_array(text_col, k=shingle_k).alias("payload"), "pairs")
    )
    # The groupBy shuffles only candidate-pair payloads (candidate-bounded,
    # not corpus-bounded); each pair gets exactly two input rows (side a
    # from doc_a's row, side b from doc_b's row).
    exploded = attached.select("doc", "payload", F.explode("pairs").alias("pair")).select(
        F.col("pair.doc_a").alias("doc_a"),
        F.col("pair.doc_b").alias("doc_b"),
        "doc",
        "payload",
    )
    pair = exploded.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("doc") == F.col("doc_a"), F.col("payload"))).alias("p_a"),
        F.max(F.when(F.col("doc") == F.col("doc_b"), F.col("payload"))).alias("p_b"),
    )
    return pair.select("doc_a", "doc_b", _set_jaccard("p_a", "p_b").alias("jaccard")).filter(
        F.col("jaccard") >= jaccard_threshold
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    block_col: str | None = None,
    dim: int | None = None,
    nbits: int = 4,
    n_tables: int = 8,
    scorer: str = "gemm",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Two blocking regimes:
    - ``block_col`` given → exact all-pairs *within* blocks (language,
      cluster label, shard …). The cartesian term is bounded by the largest
      block — at 100 TB pick a block with bounded cardinality or pre-split
      hot blocks.
    - ``block_col=None`` → approximate: ``n_tables`` independent
      random-hyperplane signatures of ``nbits`` each (requires ``dim``);
      candidates are bucket-mates in ANY table (minhash-banding analogue,
      recall 1-(1-p^nbits)^n_tables), then exact-cosine verified. The
      blocking key is (table, bucket) — 8 bytes — so the plan survives any
      corpus size.

    Two scorers:
    - ``"gemm"`` (default): ONE shuffle of (id, vector) on the block key
      into applyInPandas; each block scores all its pairs as a single BLAS
      ``V @ V.T`` and emits only rows above the threshold. ~b×dim
      multiply-adds per block pair-side run at memory bandwidth instead of
      one interpreted expression-fold per pair, and the vectors ride one
      exchange instead of two (a self-join shuffles both sides).
    - ``"fold"``: pure-DataFrame self-join on the block key with a
      JVM-side sequential-fold dot product — no Python in the plan; the
      exact expression mirror of the DuckDB oracle. `base` (norms +
      hyperplane buckets) is persisted for this path: the self-join
      references it on BOTH sides and no ReusedExchange fires across the
      alias boundary (verified on the executed plan), so without the
      persist the expensive projection would run once per side. The call
      OWNS the persist lifecycle: the (threshold-bounded, tiny) pair
      result is eagerly localCheckpoint-ed while the persist is alive and
      `base` is unpersisted in a finally — repeated fold calls in a long
      session accumulate no storage.
    Both round to 1e-6 before the threshold cut; on the driver corpus the
    rounded scores are bit-identical (verified pair-for-pair at sf0.01 and
    sf0.1 — BLAS pairwise summation and the sequential fold agree to
    ~1e-15 relative, far inside the rounding quantum).

    Returns (id_a, id_b, cos_sim) with id_a < id_b.
    """
    from proteus_engine_spark.datapipe.similarity import _dot, _norm, attach_lsh_buckets

    if scorer not in ("gemm", "fold"):
        raise ValueError(f"unknown scorer {scorer!r}: expected 'gemm' or 'fold'")
    vec = F.col(vec_col).cast("array<double>")
    # Per-vector norm computed ONCE before the self-join — inside a block of
    # b vectors each norm would otherwise be re-folded b times per side.
    if block_col is not None:
        base = emb.select(
            F.col(id_col), vec.alias("__vec__"), _norm(vec).alias("__n__"),
            F.col(block_col).alias("__block__"),
        )
    else:
        if dim is None:
            raise ValueError("dim is required for LSH blocking (block_col=None)")
        base = attach_lsh_buckets(
            emb.select(F.col(id_col), vec.alias("__vec__"), _norm(vec).alias("__n__")),
            F.col("__vec__"), dim, nbits, n_tables,
        ).select(
            F.col(id_col),
            F.col("__vec__"),
            F.col("__n__"),
            (F.col("table") * F.lit(2**nbits) + F.col("bucket")).alias("__block__"),
        )
    if scorer == "gemm":
        scored = _gemm_block_pairs(base, emb.schema[id_col].dataType, threshold)
    else:
        base = base.persist()  # self-join: evaluate the projection ONCE
        left = base.select(
            F.col(id_col).alias("id_a"), F.col("__vec__").alias("vec_a"),
            F.col("__n__").alias("n_a"), "__block__",
        )
        right = base.select(
            F.col(id_col).alias("id_b"), F.col("__vec__").alias("vec_b"),
            F.col("__n__").alias("n_b"), "__block__",
        )
        sim = F.round(
            _dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b")), 6
        )
        # Score in the join projection, THEN dedup: a multi-table collision
        # is scored once per collision (identical value), but the dedup
        # shuffle carries 24-byte (id_a, id_b, score) rows — the embedding
        # vectors are consumed map-side where the bucket join produced them
        # and never ride a shuffle.
        scored = (
            left.join(right, "__block__")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
        )
    if block_col is None:
        # A pair can share buckets in several tables — emit it once.
        scored = scored.dropDuplicates(["id_a", "id_b"])
    if scorer == "fold":
        # Finalize the (threshold-bounded) pairs while the persist is
        # alive, then release it: nothing outlives the call.
        try:
            scored = scored.localCheckpoint(eager=True)
        finally:
            base.unpersist()
    return scored


# Gram-matrix row-tile width for the gemm scorer: bounds the scratch
# matrix to TILE × block_size doubles (~16 MB per 1k-wide tile at a
# 1M-row block) instead of block_size², so a pathological hot block
# degrades to more BLAS calls, not an executor OOM. The block itself
# (rows + vectors) still materializes in the worker — LSH block sizing
# (prefix_bits / band count) is the real guard at 100 TB.
_GEMM_TILE = 2048


def _gemm_block_pairs(base: DataFrame, id_type, threshold: float) -> DataFrame:
    """All-pairs cosine within each ``__block__`` group as BLAS gram-matrix
    row tiles per block (applyInPandas over (__block__)). Emits (id_a,
    id_b, cos_sim ≥ threshold) with id_a < id_b by column value (equal-id
    pairs from duplicate input ids are dropped, matching the fold path's
    strict inequality). The threshold cut runs inside the worker, so only
    accepted pairs ever leave Python. Rounding is HALF_UP via
    floor(|x|·1e6 + 0.5) — bit-identical to Spark's F.round / the DuckDB
    oracle, including on 1e-6 midpoints (numpy's np.round is half-to-even
    and would diverge there). Null vectors are filtered before the worker,
    like the fold path's null cos_sim filter."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        b = len(pdf)
        if b < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ids = pdf["__id__"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec__"]])
        norms = pdf["__n__"].to_numpy(dtype=np.float64)
        out_a, out_b, out_s = [], [], []
        for lo in range(0, b, _GEMM_TILE):
            hi = min(lo + _GEMM_TILE, b)
            G = (M[lo:hi] @ M.T) / np.outer(norms[lo:hi], norms)
            C = np.sign(G) * np.floor(np.abs(G) * 1e6 + 0.5) / 1e6
            ti, tj = np.nonzero(C >= threshold)
            gi = ti + lo
            upper = tj > gi  # strict upper triangle in global coordinates
            gi, gj, ti = gi[upper], tj[upper], ti[upper]
            ia, ib = ids[gi].copy(), ids[gj].copy()
            swap = ia > ib  # id_a < id_b by VALUE, not by row position
            ia[swap], ib[swap] = ids[gj][swap], ids[gi][swap]
            neq = ia != ib  # duplicate input ids: no self-pairs
            out_a.append(ia[neq])
            out_b.append(ib[neq])
            out_s.append(C[ti, gj][neq])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    first_id = base.columns[0]
    prepared = base.filter(F.col("__vec__").isNotNull()).select(
        F.col(first_id).alias("__id__"), "__vec__", "__n__", "__block__"
    )
    return prepared.groupBy("__block__").applyInPandas(score, out_schema)


def simhash_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_bits: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document + a prefix bucket for blocking.

    SimHash: per token, a 64-bit hash → bit columns; each bit contributes
    ±1; the sign of each column sum is the fingerprint bit. Implemented as
    one explode + groupBy(doc) over built-in bit ops (shiftright/
    bitwise-and) — sums happen map-side. Near-dup candidates = same prefix
    bucket (for hamming-distance ≤ 3 style retrieval, run 4 rotations —
    documented).

    ``hash_fn``: "xxhash64" (default, fastest — one JVM hash per token,
    64-bit fingerprint) or "md5_60" (first 15 hex chars of md5 parsed as a
    60-bit int — engine-portable, so an external SQL engine can reproduce
    the fingerprint bit-for-bit; 60-bit fingerprint).
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
    if hash_fn == "xxhash64":
        h = F.xxhash64("tok")
    elif hash_fn == "md5_60":
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{b}")
        for b in range(n_bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for b in range(n_bits):
        bit = F.when(F.col(f"bit_{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fingerprint = term if fingerprint is None else fingerprint.bitwiseXOR(term)
    return agg.select(
        F.col(id_col),
        fingerprint.alias("simhash"),
        F.shiftrightunsigned(fingerprint, n_bits - prefix_bits).alias("bucket"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard over blocked pairs.

    This is the *verification* tier: at scale you never run it standalone —
    block first (LSH buckets, language, length band) so the self-join is
    bounded. |A∩B| / |A∪B| is _set_jaccard, all JVM-side.

    ``block_cols`` is mandatory: without it the only join condition is
    id<id — an all-pairs cartesian that cannot survive any real corpus.
    Use minhash_lsh_pairs / simhash_buckets to generate a blocking key
    first if none exists naturally.
    """
    if not block_cols:
        raise ValueError(
            "ngram_jaccard_pairs requires block_cols: an unblocked self-join "
            "is a cartesian product; pre-block with LSH buckets, language, "
            "or a length band"
        )
    toks = F.array_distinct(_tokens(text_col))
    base = docs.select(F.col(id_col), *(block_cols or []), toks.alias("tok_set"))
    left = base.alias("l")
    right = base.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for b in block_cols or []:
        cond = cond & (F.col(f"l.{b}") == F.col(f"r.{b}"))
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            _set_jaccard(F.col("l.tok_set"), F.col("r.tok_set")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_cluster_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """The dedup END POINT every corpus pipeline runs after pair
    generation: near-dup pairs become duplicate CLUSTERS (connected
    components — A~B and B~C must collapse into one cluster even when
    A~C itself never passed the pair threshold), each cluster keeps its
    lowest doc id as the representative, and every document gets a keep
    verdict. Returns (id_col, cluster_rep, is_kept).

    Scale shape: the pair set is candidate-bounded (that is the point of
    the LSH tiers upstream), so the component iteration runs on a graph
    ORDERS OF MAGNITUDE smaller than the corpus. The label join back is
    left to AQE: at web-crawl dup rates (30–50% of docs in clusters) the
    label set is billions of rows — NOT broadcast-sized — so no
    broadcast hint is forced; AQE broadcasts when the labels genuinely
    fit and shuffles when they don't. `connected_components` raises if
    label propagation has not converged within `max_iterations` (a
    duplicate chain longer than the cap would otherwise silently yield
    split clusters and wrong keep verdicts).
    """
    from proteus_engine_spark.operators.iterations import connected_components

    comp = connected_components(
        pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst")),
        max_iterations=max_iterations,
    )
    return (
        docs.select(id_col)
        .join(
            comp.withColumnRenamed("vertex", id_col),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
            (
                F.coalesce("component", F.col(id_col)) == F.col(id_col)
            ).alias("is_kept"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Cross-document duplicated k-token spans — the span tier of exact-
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": remove substrings of >= N tokens that repeat
    across the corpus; the full suffix-array construction is replaced by
    the standard rolling k-gram approximation). Distinct from the other
    text signals: repetition_stats is WITHIN-doc, decontamination is
    corpus-vs-eval-set — this is corpus-vs-itself at span granularity,
    the signal that finds boilerplate paragraphs embedded in otherwise
    unique documents (which whole-doc MinHash misses when the document
    around them differs).

    Per document (with >= k tokens): total k-token span positions, the
    number of positions whose span also occurs in AT LEAST ONE OTHER
    document, and their fraction. Positions count multiply (a doc
    repeating a shared span twice has 2 duplicated positions) — the mass
    a span-removal pass would actually cut; ``remove_duplicate_spans``
    below performs that cut.

    Scale shape (the decontam discipline): spans are generated JVM-side
    (transform over a token-index sequence) and hashed to 8 bytes in the
    scan projection; the position frame shuffles (doc_id, hash) only.
    Cross-doc span counts are ONE gram-keyed aggregation with map-side
    combine (countDistinct over doc ids — bounded by the gram's doc
    frequency); the attach join is left to AQE. An explicit repartition
    ahead of the explode keeps a single-file input from serializing the
    span generation on one task. xxhash64 collisions can at worst mark a
    unique span duplicated (2^-64 per gram pair), deterministic across
    runs; the registry oracle recomputes with STRING grams, so a
    collision-induced miscount on the driver corpora would fail the gate.
    """
    toks = docs.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("t")
    ).filter(F.size("t") >= k)
    span_hashes = F.expr(
        f"transform(sequence(1, size(t) - {k} + 1), "
        f"i -> xxhash64(array_join(slice(t, i, {k}), ' ')))"
    )
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    g = (
        widen_if_narrow(toks, n_parts)
        .select(F.col(id_col), F.explode(span_hashes).alias("h"))
    )
    nd = g.groupBy("h").agg(F.countDistinct(id_col).alias("nd"))
    return (
        g.join(nd, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_repeats: int = 2,
) -> DataFrame:
    """Cut cross-document duplicated k-token spans — the OPERATIONAL tier
    of exact-substring dedup (Lee et al. 2022 remove the repeated
    substrings themselves; ``duplicate_spans`` above only scores their
    mass). A token is removed iff ANY k-gram window covering it occurs in
    at least ``min_repeats`` distinct documents; surviving tokens are
    rejoined in order. Output is tokenization-normalized (lowered,
    single-space joined — the span algebra operates on token sequences,
    exactly as the scoring tier does).

    Scale shape — entirely shuffle-based, no per-row Python and no
    quadratic higher-order-function scans over token arrays:
    - span grams are generated JVM-side and hashed to 8 bytes in the scan
      projection (the decontam discipline); the gram frame shuffles
      (doc_id, position, hash) only;
    - duplicated-gram detection is ONE gram-keyed aggregation
      (countDistinct over doc ids, map-side combined);
    - removed token positions come from exploding each duplicated span
      start into its k covered positions + distinct — bounded by k × the
      duplicated-span count, never by corpus size;
    - the cut itself is a left-anti join of (doc_id, pos, token) against
      the removed positions, then a per-doc ordered reassembly
      (array_sort over (pos, token) structs → array_join). Every join is
      key-partitioned; AQE picks the strategies.
    An explicit repartition ahead of the explodes keeps a single-file
    input from serializing span generation on one task. xxhash64
    collisions can at worst remove a unique span (2^-64 per gram pair),
    deterministic across runs; the registry oracle reconstructs the cut
    with STRING grams, so a collision-induced over-cut on the driver
    corpora would fail the gate.

    Returns (id_col, text_clean, n_tokens, n_removed) — one row per input
    document (documents shorter than k tokens pass through uncut; fully
    duplicated documents come back with text_clean = '').
    """
    toks = docs.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("t")
    )
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    toks_wide = widen_if_narrow(toks, n_parts)
    # 1-based span starts, mirroring duplicate_spans' gram construction
    span_structs = F.expr(
        f"transform(sequence(1, size(t) - {k} + 1), "
        f"i -> struct(i AS p, xxhash64(array_join(slice(t, i, {k}), ' ')) AS h))"
    )
    g = (
        toks_wide.filter(F.size("t") >= k)
        .select(F.col(id_col), F.explode(span_structs).alias("s"))
        .select(F.col(id_col), F.col("s.p").alias("p"), F.col("s.h").alias("h"))
    )
    dup_grams = (
        g.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_repeats)
        .select("h")
    )
    removed = (
        g.join(dup_grams, "h")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("p"), F.col("p") + F.lit(k - 1))).alias("pos"),
        )
        .distinct()
    )
    tok_pos = toks_wide.select(
        F.col(id_col),
        F.posexplode("t").alias("pos0", "tok"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok_pos.join(removed, [id_col, "pos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        toks.select(F.col(id_col), F.size("t").cast("long").alias("n_tokens"))
        .join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_clusters: int = 16,
    n_iter: int = 2,
    threshold: float = 0.85,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with a coarse k-means
    quantizer, then prune near-duplicates WITHIN clusters by exact
    cosine — the all-pairs term is bounded by the largest cluster, never
    the corpus (the paper's reason for clustering first). Composes the
    engine's deterministic Lloyd quantizer
    (similarity.kmeans_centroids — lowest-id seeds, no RNG) with the
    blocked BLAS cosine scorer (embedding_cosine_pairs, one shuffle of
    (id, vector) on the cluster key).

    Keep rule (documented adaptation): the paper orders each epsilon-ball
    by cosine-to-centroid and keeps one exemplar; here a vector is
    DROPPED iff a LOWER-ID vector in its cluster is cosine-similar above
    ``threshold`` — deterministic, engine-portable, one relational pass
    (no iterative ball extraction), and like the paper it keeps at least
    one exemplar per duplicate neighborhood (the lowest id survives).

    Scale shape: the quantizer broadcasts n_clusters × dim doubles per
    Lloyd step; assignment is a broadcast argmin; the prune shuffles each
    vector ONCE on its 4-byte cluster id into the gemm scorer. At 100 TB
    raise n_clusters so the largest cluster's pair block stays bounded
    (the paper uses tens of thousands of clusters at web scale) — cluster
    sizes are observable from the returned frame before pruning cost is
    paid.

    Returns (id_col, cluster, kept) — one row per input vector; ``kept``
    false means a lower-id near-duplicate exists in the same cluster.
    """
    from proteus_engine_spark.datapipe.similarity import (
        _assign_clusters,
        kmeans_centroids,
    )

    corpus = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    centroids = kmeans_centroids(
        corpus, dim, n_centroids=n_clusters, n_iter=n_iter, c_id=id_col, vec=vec_col
    )
    assigned = _assign_clusters(corpus, centroids, vec_col).withColumnRenamed(
        "__cluster__", "cluster"
    )
    pairs = embedding_cosine_pairs(
        assigned,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        block_col="cluster",
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.join(dropped.withColumn("__dropped__", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(~F.col("__dropped__"), F.lit(True)).alias("kept"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: dedup a NEW ingest batch against an
    EXISTING corpus — the continuous-crawl shape (every real pipeline
    dedups today's crawl against everything already kept, not the union
    from scratch). A batch document survives iff (a) its content digest
    does not appear anywhere in the existing corpus and (b) it is the
    smallest-id copy of its digest WITHIN the batch. Returns
    (content_hash, keep_id, n_batch_copies) for the survivors.

    Scale shape: both sides reduce to (digest, id) pairs at the scan —
    ~24 bytes/row regardless of document size. The corpus side projects
    digests only and de-duplicates them map-side via aggregate [shuffle
    1, corpus-digest-sized]; the batch aggregates per digest [shuffle 2,
    batch-sized — typically orders of magnitude smaller than the
    corpus]; the membership test is a LEFT ANTI join on the 16-byte
    digest [shuffle 3 — AQE broadcasts the batch side when it is small,
    which is the common case: today's crawl vs years of corpus]. At
    production scale persist the corpus digest set as its own
    bucketed-by-digest table so step 1 amortizes across daily batches
    and the anti join co-locates without shuffling the corpus."""
    corpus_digests = (
        corpus.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    )
    batch_best = (
        batch.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_batch_copies"))
    )
    return batch_best.join(corpus_digests, "content_hash", "left_anti")


def cluster_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Duplicate-cluster resolution keeping the BEST copy: like
    dedup_cluster_keep, but each cluster's representative maximizes
    (quality_col, then lowest id) instead of defaulting to the lowest id
    — the production keep rule (a crawl usually holds one full copy and
    several truncated/boilerplate-wrapped variants of a page; pipelines
    keep the longest / highest-quality copy, not the numerically first).
    Returns (id_col, cluster_rep, is_kept).

    Scale shape: identical to dedup_cluster_keep (candidate-bounded pair
    graph, label-propagation components, AQE-arbitrated label join) plus
    ONE component-keyed min_by aggregate to elect representatives —
    component-count-sized, strictly smaller than the label set — and an
    AQE-arbitrated rep join back. Ties in quality break by ascending id,
    so the election is total and engine-portable when quality is exact
    (counts/lengths; for float quality scores quantize first — the
    micro-unit discipline)."""
    from proteus_engine_spark.operators.iterations import connected_components

    comp = connected_components(
        pairs.select(F.col(pair_a).alias("src"), F.col(pair_b).alias("dst")),
        max_iterations=max_iterations,
    )
    labeled = docs.select(F.col(id_col), F.col(quality_col).alias("__q__")).join(
        comp.select(
            F.col("vertex").alias(id_col), F.col("component").alias("comp")
        ),
        id_col,
        "left",
    ).withColumn("comp", F.coalesce(F.col("comp"), F.col(id_col)))
    reps = labeled.groupBy("comp").agg(
        F.min_by(
            F.col(id_col), F.struct((-F.col("__q__")).alias("nq"), F.col(id_col))
        ).alias("cluster_rep")
    )
    return (
        labeled.join(reps, "comp")
        .select(
            id_col,
            "cluster_rep",
            (F.col(id_col) == F.col("cluster_rep")).alias("is_kept"),
        )
    )
