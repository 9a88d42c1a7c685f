"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set — the standard train/test
contamination filter in LLM corpus pipelines (the n-gram-overlap
procedure of GPT-3 appendix C / PaLM appendix; Gopher uses 13-gram
overlap). The reference engine has no such operator; this belongs to the
training-data-pipeline surface the engine adds on top of SURVEY §2.

Scale shape (the expensive half is the corpus, so everything is sized by
it):
- Eval grams: distinct n-grams of the benchmark set. Benchmarks are
  ~10^4-10^6 documents, so this side is small; it is aggregated to ONE
  distinct 8-byte hash per gram and left to AQE — broadcast when it fits,
  shuffle-hash join otherwise (no forced hint: a pathological "eval set"
  that is a corpus fraction must not OOM executors).
- Corpus grams: generated JVM-side (transform over a token-index
  sequence, same machinery as dedup.shingle_array), hashed to 8 bytes
  IN the scan projection and joined on the hash — the shuffle carries
  (doc_id, hash), never gram strings. xxhash64 collisions (2^-64 per
  pair) can at worst merge two distinct grams into one flag count —
  irrelevant for a contamination verdict and deterministic across runs.
- Output is per-document (doc-keyed aggregation after the join), so the
  whole pipeline is scan -> explode -> hash join -> doc-keyed count:
  no corpus-wide state, no all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from proteus_engine_spark.datapipe.dedup import _minhash_bands, _set_jaccard, shingle_array
from proteus_engine_spark.datapipe.textstats import _tokens


def _full_grams(col: str, n: int) -> F.Column:
    """The distinct word n-grams of ``col``; EMPTY for documents shorter
    than ``n`` tokens (see ngram_overlap_counts for why)."""
    return F.when(F.size(_tokens(col)) >= n, shingle_array(col, k=n)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_overlap_counts(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per corpus document, the number of distinct word ``n``-grams it
    shares with ANY document of ``eval_set``. Documents with zero overlap
    are absent (this feeds a contamination filter; absent = clean).
    Returns (id_col, n_shared_grams long).

    Documents SHORTER than ``n`` tokens contribute NO grams on either
    side (the GPT-3/Gopher convention): shingle_array would otherwise
    emit one partial whole-text pseudo-gram — right for dedup, wrong
    here, where a 2-token eval doc must not flag every corpus doc equal
    to those 2 tokens (and an empty doc must not match every other
    empty doc on the "" gram)."""

    eval_grams = (
        eval_set.select(F.explode(_full_grams(text_col, n)).alias("gram"))
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    # Scale-adaptive widening before the gram explode: a single small
    # input file otherwise puts ALL corpus-side shingling on one task
    # (AQE never widens an un-shuffled scan); on a many-file 100 TB input
    # the scan is already parallel and the repartition is skipped — it
    # would be a full shuffle of the text payloads there.
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    corpus_grams = (
        widen_if_narrow(corpus.select(id_col, text_col), n_parts)
        .select(
            F.col(id_col),
            F.explode(_full_grams(text_col, n)).alias("gram"),
        )
        .select(id_col, F.xxhash64("gram").alias("gh"))
    )
    # corpus grams are distinct per doc (shingle_array array_distincts),
    # eval grams distinct overall -> count(*) counts distinct shared grams
    return (
        corpus_grams.join(eval_grams, "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared_grams: int = 1,
) -> DataFrame:
    """Remove from ``corpus`` every document sharing at least
    ``min_shared_grams`` distinct word n-grams with the eval set
    (left-anti join against the flagged ids — doc-keyed, no corpus
    re-shuffle beyond the flag join)."""
    flagged = ngram_overlap_counts(corpus, eval_set, id_col, text_col, n).filter(
        F.col("n_shared_grams") >= min_shared_grams
    )
    return corpus.join(flagged.select(id_col), id_col, "left_anti")


def _gram_positions(gh_col, m_bits: int, k_hashes: int) -> list:
    """The k Bloom bit positions of one 8-byte gram hash: k independent
    re-hashes of the long (xxhash64 with a distinct literal second column
    per hash function) folded into [0, m_bits). Shared by the build and
    probe sides so both address the identical bitmap layout."""
    return [
        F.pmod(F.xxhash64(gh_col, F.lit(i)), F.lit(m_bits)).alias(f"bp_{i}")
        for i in range(k_hashes)
    ]


def ngram_overlap_counts_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 23,
    k_hashes: int = 3,
) -> DataFrame:
    """``ngram_overlap_counts`` with a broadcast Bloom-filter prefilter on
    the corpus gram stream — the runtime-filter discipline engines apply
    to big-probe/small-build joins (Spark's own
    InjectRuntimeFilter/BloomFilterAggregate does exactly this for joins
    it can rewrite; the gram explode is not such a join, so the filter is
    built explicitly). Output is IDENTICAL to the exact path: a Bloom
    filter has no false negatives, and every survivor still passes the
    exact hash join — the prefilter only cuts the volume entering the
    shuffle.

    Why this matters at 100 TB: the exact path shuffles EVERY corpus gram
    (doc_id, 8-byte hash) into the join; typical contamination rates are
    <<1%, so ~99% of that shuffle is discarded by the join. The Bloom
    probe runs map-side in the scan stage, so only grams that *might*
    match ride the exchange. The bitmap is m_bits/8 bytes (1 MiB at the
    2^23 default — sized for ~10^6 eval grams at k=3, FP ~2%) and ships
    once per executor as a broadcast variable, not per task.

    Mechanics (all deterministic):
    - build: distinct eval-gram bit positions computed JVM-side
      (k re-hashes of the 8-byte gram hash, ``pmod`` into the bitmap) and
      collected — bounded by min(k x eval grams, m_bits), a
      configuration bound, not a data bound; the driver ors them into a
      numpy byte bitmap broadcast via SparkContext.broadcast.
    - probe: the k positions are computed JVM-side in the corpus scan
      projection; the only Python is an Arrow-batched pandas UDF doing
      k vectorized numpy bitmap lookups per batch (no hashing, no string
      handling Python-side).
    - survivors flow into the UNCHANGED exact hash join + doc-keyed
      count, so false positives cannot reach the output.
    """
    if m_bits < 8 or m_bits & (m_bits - 1):
        raise ValueError(f"m_bits={m_bits} must be a power of two >= 8")
    if k_hashes < 1:
        raise ValueError(f"k_hashes={k_hashes} must be >= 1")
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    eval_grams = (
        eval_set.select(F.explode(_full_grams(text_col, n)).alias("gram"))
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    # The eval-gram subplan is consumed twice — collected below for the
    # Bloom build, then joined against the survivors — so pin it once per
    # run (eval side is benchmark-sized by contract; the checkpoint holds
    # one 8-byte hash per distinct gram). Without this the scan + explode
    # + distinct execute twice per query (r17 opt round, measured).
    eval_grams = eval_grams.localCheckpoint(eager=True)
    # Build: one distinct over <= k x |eval grams| ints (position space is
    # m_bits, so the collect is bounded by the CONFIG even against a
    # pathological eval set). At a real 10^6-doc benchmark this is a few
    # MB to the driver — the same order as the bitmap it produces.
    pos_rows = (
        eval_grams.select(
            F.explode(F.array(*_gram_positions(F.col("gh"), m_bits, k_hashes))).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = np.zeros(m_bits >> 3, dtype=np.uint8)
    pos = np.fromiter((r["p"] for r in pos_rows), dtype=np.int64, count=len(pos_rows))
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    bc = corpus.sparkSession.sparkContext.broadcast(bits)

    def _check(cols):
        b = bc.value
        hit = np.ones(len(cols[0]), dtype=bool)
        for c in cols:
            # each position column arrives as one contiguous int64 array —
            # the probe is pure whole-array numpy, no per-row objects (an
            # earlier array<bigint>-column variant paid an np.vstack over
            # per-row ndarrays: ~6x slower end-to-end at sf0.1)
            p = c.to_numpy(dtype=np.int64)
            hit &= ((b[p >> 3] >> (p & 7)) & 1).astype(bool)
        return pd.Series(hit)

    # pandas_udf validates the function SIGNATURE, so the k-ary probe is
    # generated with k named params (a *cols vararg is rejected, and the
    # module-wide `from __future__ import annotations` stringifies inline
    # hints — real hint objects are attached after).
    arglist = ", ".join(f"p{i}" for i in range(k_hashes))
    ns: dict = {"_check": _check}
    exec(f"def _probe({arglist}):\n    return _check(({arglist},))", ns)
    probe_fn = ns["_probe"]
    probe_fn.__annotations__ = {
        **{f"p{i}": pd.Series for i in range(k_hashes)},
        "return": pd.Series,
    }
    # asNondeterministic: the probe IS deterministic, but left
    # deterministic Catalyst's InferFiltersFromConstraints copies the
    # predicate across the gh equi-join onto the EVAL side — where it is
    # always-true (a Bloom filter has no false negatives on the very keys
    # that built it) and costs a second ArrowEvalPython crossing per query.
    # The flag pins the filter exactly where written, on the corpus scan
    # side only (2 -> 1 Arrow nodes, identical results; r17 opt round).
    _might_contain = pandas_udf(probe_fn, "boolean").asNondeterministic()

    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    corpus_grams = (
        widen_if_narrow(corpus.select(id_col, text_col), n_parts)
        .select(F.col(id_col), F.explode(_full_grams(text_col, n)).alias("gram"))
        .select(F.col(id_col), F.xxhash64("gram").alias("gh"))
        .select(id_col, "gh", *_gram_positions(F.col("gh"), m_bits, k_hashes))
    )
    survivors = corpus_grams.filter(
        _might_contain(*[F.col(f"bp_{i}") for i in range(k_hashes)])
    ).select(id_col, "gh")
    return (
        survivors.join(eval_grams, "gh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


def fuzzy_overlap_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy (document-level) contamination candidates: corpus documents
    whose shingle-set Jaccard against SOME eval/benchmark document clears
    ``jaccard_threshold`` — the near-duplicate tier of benchmark
    decontamination (exact n-gram overlap misses lightly paraphrased or
    re-punctuated benchmark copies; doc-level MinHash catches them).
    Returns (id_col, eval_id, jaccard) with exact-verified Jaccard.

    Ids must be unique ACROSS corpus and eval_set (they usually share an
    id space; remap the eval side otherwise).

    Spark shape — bipartite, never a self-join: both sides get banded
    MinHash keys from dedup._minhash_bands, the band-key builder
    dedup.minhash_lsh_pairs uses, so keys agree across the two calls;
    candidates come from an inner join of corpus band keys against EVAL
    band keys, so corpus-corpus collisions are never generated — the
    candidate volume is bounded by the benchmark side, which AQE
    broadcasts at real benchmark sizes. Exact verification re-attaches
    the shingle arrays of candidate docs only (semi-join pruned on both
    sides) and computes set Jaccard JVM-side (dedup._set_jaccard) —
    engine-portable values, so an oracle can recompute them with string
    grams.
    """

    def _banded(docs: DataFrame, out_id: str) -> DataFrame:
        return _minhash_bands(docs, id_col, text_col, num_perm, bands, shingle_k).select(
            F.col(id_col).alias(out_id), "band_id", "band_sig"
        )

    cand = (
        _banded(corpus, "__cid__")
        .join(_banded(eval_set, "__eid__"), ["band_id", "band_sig"])
        .select("__cid__", "__eid__")
        .distinct()
    )
    # The candidate set is referenced three times below (two payload
    # semi-joins + the verify join); without materialization each
    # reference re-runs BOTH MinHash passes (measured 185s vs 30s at
    # sf0.1). Candidates are LSH-bounded (benchmark-sized x collision
    # rate), so the eager localCheckpoint is tiny and truncates the
    # signature lineage before the three references.
    cand = cand.localCheckpoint(eager=True)

    def _payload(docs: DataFrame, key: str) -> DataFrame:
        ids = cand.select(key).distinct()
        return (
            docs.select(F.col(id_col).alias(key), F.col(text_col))
            .join(ids, key, "left_semi")
            .select(key, shingle_array(text_col, k=shingle_k).alias(f"p{key}"))
        )

    return (
        cand.join(_payload(corpus, "__cid__"), "__cid__")
        .join(_payload(eval_set, "__eid__"), "__eid__")
        .select(
            F.col("__cid__").alias(id_col),
            F.col("__eid__").alias("eval_id"),
            _set_jaccard("p__cid__", "p__eid__").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Drop every corpus document that is a fuzzy (near-duplicate) match
    of some benchmark document — left-anti join against the flagged side
    of ``fuzzy_overlap_pairs``."""
    flagged = fuzzy_overlap_pairs(
        corpus, eval_set, id_col, text_col, jaccard_threshold=jaccard_threshold
    ).select(id_col).distinct()
    return corpus.join(flagged, id_col, "left_anti")
