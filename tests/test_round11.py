"""Round-11 hardening tests: LSH bucket cap, mixture-weight zero-size
guard, tfidf in-plan N, fold-scorer storage release, late-split watermark
opt-out, socket sink iterator path, approx-percentile rank bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- LSH cap
def _boilerplate_docs(spark, n_dup=200, n_normal=20):
    """n_dup identical docs (one mega-bucket in EVERY band) + normal docs."""
    rows = [(i, "the same boilerplate template text repeated verbatim") for i in range(n_dup)]
    rows += [
        (10_000 + i, f"unique document number {i} with its own words {i * 7} {i * 13}")
        for i in range(n_normal)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_cap_split_bounds_pairs_and_observes(spark):
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _boilerplate_docs(spark, n_dup=200)
    cap = 50
    out = minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=cap, oversize="split")
    pairs = out.collect()
    # 200 identical docs chunk into 4 sorted chunks of 50 in every band →
    # within-chunk pairs only, deduped across bands: 4 * C(50,2) = 4900,
    # instead of C(200,2) = 19900 uncapped.
    dup_pairs = [r for r in pairs if r.doc_a < 10_000 and r.doc_b < 10_000]
    assert len(dup_pairs) == 4 * (50 * 49 // 2)
    # chunks are on sorted ids → every emitted pair sits inside one 50-wide
    # id chunk (deterministic membership)
    assert all(r.doc_a // cap == r.doc_b // cap for r in dup_pairs)


def test_lsh_cap_noop_when_no_bucket_oversized(spark):
    """A cap above the largest bucket is a pure pass-through: identical
    pair set as the uncapped run (the gated-query configuration)."""
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _boilerplate_docs(spark, n_dup=30)
    base = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    capped = minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=500, oversize="split")
    key = lambda r: (r.doc_a, r.doc_b, round(r.jaccard, 9))  # noqa: E731
    assert sorted(map(key, base.collect())) == sorted(map(key, capped.collect()))


def test_lsh_cap_validation(spark):
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _boilerplate_docs(spark, n_dup=3)
    with pytest.raises(ValueError, match="oversize"):
        minhash_lsh_pairs(docs, max_bucket_size=10, oversize="explode")
    with pytest.raises(ValueError, match="max_bucket_size"):
        minhash_lsh_pairs(docs, max_bucket_size=1)


# ------------------------------------------------- zero-size strata guard
def test_mixture_weights_zero_size_stratum(spark):
    """A stratum with total_size 0 gets NULL weight (documented convention)
    and is then DROPPED by sample_by_rate_col — never silently kept whole
    (DuckDB's IEEE division would have yielded +inf → rate 1)."""
    from proteus_engine_spark.datapipe.sampling import (
        mixture_weights,
        sample_by_rate_col,
    )

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 0), ("b", 4, 0)],
        "lang string, doc_id long, tok long",
    )
    w = mixture_weights(df, ["lang"], size_col="tok")
    rows = {r.lang: r for r in w.collect()}
    assert rows["b"].weight is None
    assert rows["b"].share == 0.0  # grand total > 0: share is well-defined
    assert rows["a"].share == 1.0
    # uniform target counts only NONZERO strata (1 here), matching the
    # temperature normalizer's pow(0)=0 — so a's weight is 1/1 / 1.0
    assert rows["a"].weight == pytest.approx(1.0)

    joined = df.join(w.select("lang", "weight"), "lang")
    # the gate's guarded rate shape: least() skips NULLs in both engines,
    # so the isNotNull guard must come BEFORE the cap
    rate = F.when(
        F.col("weight").isNotNull(), F.least(F.lit(1.0), F.lit(2.0) * F.col("weight"))
    )
    kept = sample_by_rate_col(joined, "doc_id", rate).collect()
    assert sorted(r.doc_id for r in kept) == [1, 2]  # all of a, none of b

    # the UNguarded cap is the hazard: NULL weight -> rate 1.0 -> kept whole
    bad = F.least(F.lit(1.0), F.lit(2.0) * F.col("weight"))
    assert sample_by_rate_col(joined, "doc_id", bad).count() == 4


def test_mixture_weights_all_zero_corpus(spark):
    from proteus_engine_spark.datapipe.sampling import mixture_weights

    df = spark.createDataFrame([("a", 0), ("b", 0)], "lang string, tok long")
    rows = mixture_weights(df, ["lang"], size_col="tok").collect()
    assert all(r.share is None and r.weight is None for r in rows)  # 0/0 grand total


# ----------------------------------------- fold scorer releases its persist
def test_fold_scorer_unpersists(spark):
    from proteus_engine_spark.datapipe.dedup import embedding_cosine_pairs

    rows = [(i, [float(i % 3 + 1), float(i % 5 + 1), 1.0], "b") for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    import gc

    gc.collect()
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = embedding_cosine_pairs(emb, threshold=0.9, block_col="label", scorer="fold")
    out.count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the call owns the persist lifecycle: `base` is released inside the
    # call, so at most the (tiny) localCheckpoint of the RESULT remains —
    # before the fix each call also leaked the corpus-sized `base` (+2)
    assert after - before <= 1
    assert out.count() > 0  # checkpointed result still usable


# ---------------------------------------------- late split watermark opt-out
def test_side_output_watermark_opt_out(spark):
    from proteus_engine_spark.streaming.late import side_output_late_data

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("timestamp AS ts", "value")
    )
    on_time, late = side_output_late_data(src, "ts", delay_ms=1000)
    assert on_time.isStreaming and "watermark" in on_time._jdf.queryExecution().analyzed().toString().lower()
    raw, _ = side_output_late_data(src, "ts", delay_ms=1000, watermark=False)
    assert "eventtimewatermark" not in raw._jdf.queryExecution().analyzed().toString().lower()


# --------------------------------------- temperature mixture + hash split
def test_mixture_temperature_t1_is_natural(spark):
    """T=1 targets the natural mixture: every non-empty stratum's weight
    is exactly 1 (p_i == share_i)."""
    from proteus_engine_spark.datapipe.sampling import mixture_weights

    df = spark.createDataFrame(
        [("a", 10), ("a", 30), ("b", 40), ("c", 20)], "lang string, tok long"
    )
    rows = mixture_weights(df, ["lang"], size_col="tok", temperature=1.0).collect()
    assert all(r.weight == pytest.approx(1.0) for r in rows)


def test_mixture_temperature_flattens_head(spark):
    """T>1 moves the target toward uniform: dominant strata get weight<1,
    rare strata weight>1, and the target shares still sum to 1."""
    from proteus_engine_spark.datapipe.sampling import mixture_weights

    df = spark.createDataFrame(
        [("big", 90), ("small", 10)], "lang string, tok long"
    )
    rows = {r.lang: r for r in mixture_weights(df, ["lang"], size_col="tok", temperature=3.0).collect()}
    assert rows["big"].weight < 1.0 < rows["small"].weight
    # target_i = weight_i * share_i must renormalize to 1
    assert sum(r.weight * r.share for r in rows.values()) == pytest.approx(1.0)
    # and sharpper than uniform: big's target stays above small's
    assert rows["big"].weight * rows["big"].share > rows["small"].weight * rows["small"].share
    with pytest.raises(ValueError, match="temperature"):
        mixture_weights(df, ["lang"], size_col="tok", temperature=0.0)


def test_hash_split_partitions_and_is_stable(spark):
    from proteus_engine_spark.datapipe.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 2000  # a partition: every row in exactly one split
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert abs(counts["train"] - 1600) < 120  # ~binomial tolerance

    # stability under growth: the first 1000 docs keep their split when
    # 1000 more arrive (the property rank/rand-based splits lack)
    small = hash_split(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"),
        "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="s",
    )
    a = {r.doc_id: r.split for r in small.collect()}
    b = {r.doc_id: r.split for r in out.filter("doc_id < 1000").collect()}
    assert a == b

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError, match="non-negative"):
        hash_split(df, "doc_id", {"train": 1.5, "val": -0.5})


# ----------------------------------------------------- bigram LM quality
def test_bigram_logprob_hand_case(spark):
    """3-doc hand case: model stats derive from the corpus's own bigram
    frame; docs with < 2 tokens are excluded."""
    import math

    from proteus_engine_spark.datapipe.textstats import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert set(rows) == {1}  # d2: one token, d3: [''] phantom token — no bigram
    # bigrams (a,b),(b,a): c12=1 each, c1(a)=c1(b)=1, V=|{a,b}|=2
    expected = round(math.log(1.4 / 1.8), 6)
    assert rows[1].n_bigrams == 2
    assert rows[1].logprob == pytest.approx(expected, abs=1e-6)


def test_bigram_logprob_fluency_ordering(spark):
    """A doc made of the corpus's common bigrams outscores a doc of
    never-repeated bigrams — the filter's reason to exist."""
    from proteus_engine_spark.datapipe.textstats import bigram_logprob

    common = [(i, "the cat sat on the mat") for i in range(10)]
    docs = spark.createDataFrame(
        common + [(100, "the cat sat on the mat"), (101, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.logprob for r in bigram_logprob(docs).collect()}
    assert rows[100] > rows[101]


# ------------------------------------------------- plan-shape regressions
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hash_split_plan_has_no_shuffle(spark):
    """The split assignment is one codegen CASE fused above the scan —
    any Exchange here would mean the splitter stopped being a per-row
    function."""
    from proteus_engine_spark.datapipe.sampling import hash_split

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert "Exchange" not in _plan(out)


def test_tfidf_lazy_n_schedules_no_job_at_construction(spark):
    """num_docs=None derives N in-plan: building the DataFrame must not
    launch a count() job (the r10 version ran an eager corpus scan at
    plan-construction time)."""
    from proteus_engine_spark.datapipe.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    out = tfidf_top_terms(docs, k=2)  # construction only
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before
    # and the lazy plan still scores with the full-corpus N
    rows = out.collect()
    assert {r.term for r in rows} == {"alpha", "beta", "gamma"}


def test_lsh_cap_split_adds_no_exchange(spark):
    """The split policy is a post-aggregation select/explode — the capped
    plan must shuffle exactly as often as the uncapped plan."""
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _boilerplate_docs(spark, n_dup=5)
    base = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    capped = minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=100)
    assert _plan(base).count("Exchange") == _plan(capped).count("Exchange")


def test_bigram_logprob_single_corpus_pass(spark):
    """The doc-bigram frame is eagerly checkpointed, so the scoring
    action's plan contains ZERO source scans — the corpus pass ran once
    at construction and cannot re-run under ANY terminal (exchange reuse
    would not survive the per-branch column pruning; see the docstring)."""
    from proteus_engine_spark.datapipe.textstats import bigram_logprob

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} w{(i + 1) % 3} w{i % 5}") for i in range(50)],
        "doc_id long, text string",
    )
    import os

    sf_dir = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    pq_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_logprob(pq_docs)
    for action in ("collect", "count"):
        getattr(out, action)()
        final = (
            out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        )
        assert "FileScan parquet" not in final  # scan ran once, in the checkpoint
    # values unaffected by the materialization
    assert bigram_logprob(docs).count() > 0


def test_hash_split_float_cum_clamp(spark):
    """Cumulative float error inside the sum-to-1 tolerance must not crash
    rate_to_threshold (cum can land a hair past 1.0)."""
    from proteus_engine_spark.datapipe.sampling import hash_split

    df = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id", {"a": 1.0 + 5e-10, "b": 0.0})
    assert out.filter("split = 'a'").count() == 10


def test_hash_split_matches_python_mirror_many_configs(spark):
    """Cross-engine property check at one-job cost: 15 seeded random
    fraction configs ride ONE DataFrame pass as parallel split columns;
    every assignment must equal the pure-Python md5 mirror of the rule
    (the same portability contract the DuckDB oracles rely on)."""
    import hashlib
    import random

    from proteus_engine_spark.datapipe.sampling import hash_split, rate_to_threshold

    rng = random.Random(11)
    configs = []
    for _ in range(15):
        k = rng.randint(1, 5)
        raw = [rng.random() + 0.01 for _ in range(k)]
        total = sum(raw)
        fracs = {f"s{j}": v / total for j, v in enumerate(raw)}
        # re-normalize the tail so the dict sums to exactly 1.0
        fracs[f"s{k - 1}"] = 1.0 - sum(v for n, v in fracs.items() if n != f"s{k - 1}")
        configs.append(fracs)

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = df
    for i, fracs in enumerate(configs):
        out = hash_split(out, "doc_id", fracs, salt=f"cfg{i}", split_col=f"sp{i}")
    rows = out.collect()

    def mirror(key, fracs, salt):
        h = hashlib.md5((salt + str(key)).encode()).hexdigest()[:8]
        names = list(fracs)
        cum = 0.0
        for name in names[:-1]:
            cum += fracs[name]
            if h < rate_to_threshold(min(cum, 1.0)):
                return name
        return names[-1]

    for r in rows:
        for i, fracs in enumerate(configs):
            assert r[f"sp{i}"] == mirror(r.doc_id, fracs, f"cfg{i}")


def test_tfidf_reuses_tf_exchange(spark):
    """dfreq derives from the tf frame; both references must share one
    exchange (Catalyst column pruning on a bare count(*) used to
    canonicalize the branches apart — the tokenize pass then ran twice)."""
    from proteus_engine_spark.datapipe.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} w{(i + 1) % 4}") for i in range(40)],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2, num_docs=40)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan


def test_lsh_cap_observation_survives_no_collisions(spark):
    """A capped run over a clean corpus (no near-dups → zero collision
    buckets) and over an empty corpus answers an empty pair set — no
    crash when AQE's empty-relation propagation prunes the bucket
    subtree."""
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"totally unique document {i} number {i * 31} word {i * 7}") for i in range(12)],
        "doc_id long, text string",
    )
    out = minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=100)
    assert out.count() == 0

    empty = spark.createDataFrame([], "doc_id long, text string")
    out2 = minhash_lsh_pairs(empty, jaccard_threshold=0.5, max_bucket_size=100)
    assert out2.count() == 0


def test_hash_split_null_key_gets_null_split(spark):
    """NULL keys must not silently pile into the last (eval) split."""
    from proteus_engine_spark.datapipe.sampling import hash_split

    df = spark.createDataFrame([(1,), (2,), (None,)], "doc_id long")
    rows = {r.doc_id: r.split for r in hash_split(
        df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()}
    assert rows[None] is None
    assert rows[1] is not None and rows[2] is not None
