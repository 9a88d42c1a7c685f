"""Model-based corpus classification: a multinomial Naive Bayes text
classifier trained and applied entirely as DataFrame aggregations — the
engine's stand-in for the fastText linear classifier that CCNet-style
pipelines use for model-based quality/domain filtering (reference scope:
the quality-classifier stage of a training-data pipeline; the reference
engine's ML surface is mirrored in ml/, this is the DATA-PATH tier that
must run inline over the full corpus).

Unlike the iterative solvers in ml/ (ALS, SVM — oracle=None by design),
Naive Bayes training IS aggregation: class priors are document counts,
token likelihoods are (class, token) counts, and scoring is one join +
one sum. Every step is SQL-expressible, so the gate carries a full
DuckDB oracle.

Determinism discipline ("exact micro-nats", the integer-cents pattern):
each model log-probability is quantized ONCE to an integer number of
micro-nats (round(ln(p) * 1e6) as long) at model-build time; per-document
scores are then exact integer sums (sum of tf * loglik_micro + prior),
so accumulation order — Spark partition order vs DuckDB's — cannot move
the result by even one bit, and argmax ties break deterministically by
ascending class label.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from proteus_engine_spark.datapipe.textstats import _tokens

_MICRO = 1_000_000


def _micro(c: Column) -> Column:
    return F.round(c * _MICRO, 0).cast("long")


def nb_token_model(
    train: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    alpha: float = 1.0,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train a multinomial NB model over whitespace tokens.

    Returns (priors, likelihoods):
    - priors: (class_col, prior_micro long) — ln(n_docs_c / n_docs) in
      micro-nats;
    - likelihoods: (class_col, term, loglik_micro long) — DENSE over
      vocabulary × classes, ln((n(c,t) + α) / (n(c) + α·V)) in
      micro-nats, so scoring never needs a per-class unseen fallback.

    ``min_count`` prunes the vocabulary to terms with corpus count >=
    min_count BEFORE densification (the fastText min-count knob): with a
    floor the dense model is (pruned-V × C) rows — executor-memory-sized
    for real corpora — and broadcasts into the scoring join. Class token
    totals n(c) are computed over the PRUNED vocabulary so the model
    stays a proper distribution over the terms it ships.

    Scale shape: ONE tokenize pass, guaranteed structurally — the
    (class, term) count is eagerly localCheckpoint-ed (its consumers
    prune columns divergently, defeating exchange reuse) and n_docs
    derives from the class-count frame, so training runs exactly two
    jobs over the corpus (doc counts + token counts); n(c), V, and the
    vocabulary all derive from the checkpoint; densification is a
    vocab × classes crossJoin where the class list is a broadcast 1-side
    (classes are enum-sized) followed by a left join of the observed
    counts. Priors are a class-keyed doc count [enum-sized]."""
    cls = F.col(class_col)
    dcount = train.groupBy(class_col).agg(
        F.count(F.lit(1)).alias("n_docs_c")
    ).localCheckpoint(eager=True)  # class-enum-sized; total derives from it
    # n_docs = sum of the class counts — never a second corpus scan
    priors = (
        dcount.crossJoin(F.broadcast(dcount.agg(F.sum("n_docs_c").alias("n_docs"))))
        .select(
            class_col,
            _micro(F.log(F.col("n_docs_c").cast("double") / F.col("n_docs"))).alias(
                "prior_micro"
            ),
        )
    )

    # the (class, term) count is EAGERLY checkpointed: vocab, n(c), V,
    # and the dense left join all branch from it with divergent column
    # pruning, so exchange reuse cannot protect the tokenize pass (the
    # bigram_pmi_top / source_divergence discipline) — without the
    # checkpoint the corpus would re-tokenize once per branch
    ct = (
        train.select(cls, F.explode(_tokens(text_col)).alias("term"))
        .groupBy(class_col, "term")
        .agg(F.count(F.lit(1)).alias("n_ct"))
        .localCheckpoint(eager=True)
    )
    if min_count > 1:
        kept = (
            ct.groupBy("term")
            .agg(F.sum("n_ct").alias("n_t"))
            .filter(F.col("n_t") >= min_count)
            .select("term")
        )
        ct = ct.join(kept, "term")
    vocab = ct.select("term").distinct()
    nc = ct.groupBy(class_col).agg(F.sum("n_ct").alias("n_c"))
    v1 = vocab.agg(F.count(F.lit(1)).alias("v"))
    classes = nc.select(class_col)  # enum-sized
    dense = (
        vocab.crossJoin(F.broadcast(classes))
        .join(ct, ["term", class_col], "left")
        .join(F.broadcast(nc), class_col)
        .crossJoin(F.broadcast(v1))
        .select(
            class_col,
            "term",
            _micro(
                F.log(
                    (F.coalesce(F.col("n_ct"), F.lit(0)) + F.lit(alpha))
                    / (F.col("n_c") + F.lit(alpha) * F.col("v"))
                )
            ).alias("loglik_micro"),
        )
    )
    return priors, dense


def nb_scores(
    docs: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The full (id_col, class_col, score_micro long) score frame — one
    row per document × class, exact integer micro-nat sums. nb_classify
    takes its argmax; calibration takes its top-2 margin. Scale shape is
    nb_classify's: one tokenize pass, term-keyed broadcast model join,
    (doc, class) aggregation, enum-sized prior broadcast.

    ``carry_cols`` (r18): per-document columns of ``docs`` carried
    verbatim onto every output row (constant across a doc's class rows) —
    lets a caller that needs them downstream (calibration's truth label)
    avoid a second scan of ``docs`` plus a re-join on id. They ride the
    doc-id frame that anchors the prior crossJoin, so the tokenize path
    is untouched."""
    lik = F.broadcast(likelihoods)
    pri = F.broadcast(priors)
    tf = (
        docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scores = (
        tf.join(lik, "term")
        .groupBy(id_col, class_col)
        .agg(F.sum(F.col("tf") * F.col("loglik_micro")).alias("lik_sum"))
    )
    # every (doc, class) pair exists — docs with zero in-vocab tokens
    # score prior-only (coalesce 0)
    return (
        docs.select(id_col, *carry_cols)
        .crossJoin(pri)
        .join(scores, [id_col, class_col], "left")
        .select(
            id_col,
            class_col,
            (F.coalesce(F.col("lik_sum"), F.lit(0)) + F.col("prior_micro")).alias(
                "score_micro"
            ),
            *carry_cols,
        )
    )


def nb_margin_calibration(
    docs: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
    label_col: str = "source",
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bins: int = 10,
) -> DataFrame:
    """Classifier CALIBRATION by score margin: bucket the evaluation
    documents into equal-frequency bins of the top-1 − top-2 score
    margin (the NB analogue of a confidence score — exact in integer
    micro-nats, unlike a softmax probability) and report per-bin
    accuracy against the true labels. A well-calibrated classifier shows
    accuracy rising with the margin bin — the reliability-diagram check
    a CCNet-style quality-filter pipeline runs before trusting the
    classifier's threshold. Returns (bin int 1..n_bins, n_docs long,
    n_correct long, acc_pct long, avg_margin_micro long).

    Determinism: scores are exact integer sums, the margin is an exact
    integer difference (ties across the top two classes give margin 0),
    the bin edges are exact percentile cut points computed in ONE 1-row
    partial aggregate and broadcast back (quality_buckets' never-ntile
    discipline — no unpartitioned data-sized window), and acc_pct /
    avg_margin_micro are integer divisions. The per-doc top-2 extraction
    is a window over the doc's OWN class rows — an enum-sized frame, the
    allowed window class.

    ``docs`` must carry the TRUE label in ``label_col``; pass the
    held-out split, never the training split."""
    from pyspark.sql import Window

    from proteus_engine_spark.datapipe.textstats import quality_buckets

    # r18: the truth label rides the scoring pipeline (nb_scores
    # carry_cols) instead of a second `docs` scan + id re-join after the
    # top-2 aggregate — one fewer corpus scan and one fewer join inside
    # the pinned job; the label is constant per doc, so max() over the
    # top-2 rows reproduces it exactly.
    scored = nb_scores(
        docs.withColumn("__true__", F.col(label_col)),
        priors, likelihoods,
        class_col=class_col, id_col=id_col, text_col=text_col,
        carry_cols=("__true__",),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc(class_col)
    )
    ranked = scored.select(
        id_col, class_col, "score_micro", "__true__",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= 2)
    top2 = (
        ranked.groupBy(id_col)
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col(class_col))).alias("predicted"),
            F.max(F.when(F.col("rk") == 1, F.col("score_micro"))).alias("s1"),
            F.max(F.when(F.col("rk") == 2, F.col("score_micro"))).alias("s2"),
            F.max("__true__").alias("__true__"),
        )
        .select(
            id_col,
            "predicted",
            (F.col("s1") - F.coalesce(F.col("s2"), F.col("s1"))).alias(
                "margin_micro"
            ),
            "__true__",
        )
    )
    # eagerly checkpoint the per-doc (predicted, margin, truth) frame:
    # its three consumers below (the percentile-cut 1-row agg, the
    # bucket crossJoin, and the accuracy join) prune columns divergently,
    # so without it the whole scoring pipeline — tokenize, model join,
    # (doc, class) agg, top-2 window — re-executes once per branch (the
    # nb_token_model ct-checkpoint discipline; plan-audited r15: 3
    # duplicated Window nodes without, 1 with)
    labeled = top2.localCheckpoint(eager=True)
    binned = quality_buckets(
        labeled, score_col="margin_micro", id_col=id_col, n_buckets=n_bins
    ).join(labeled.select(id_col, "predicted", "__true__"), id_col)
    return (
        binned.groupBy(F.col("bucket").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("predicted") == F.col("__true__"), 1).otherwise(0)
            ).alias("n_correct"),
            F.sum("margin_micro").alias("__msum__"),
        )
        .select(
            "bin",
            "n_docs",
            "n_correct",
            F.expr("(100 * n_correct) div n_docs").alias("acc_pct"),
            F.expr("__msum__ div n_docs").alias("avg_margin_micro"),
        )
    )


def nb_classify(
    docs: DataFrame,
    priors: DataFrame,
    likelihoods: DataFrame,
    class_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents under a trained NB model and predict the argmax
    class. Out-of-vocabulary tokens are dropped (standard multinomial
    NB); a document with NO in-vocabulary tokens falls back to the prior
    argmax. Returns (id_col, predicted class string, score_micro long) —
    exact integer scores, ties broken by ascending class label.

    Scale shape: one tokenize pass into a (doc, term) count
    [candidate shuffle 1]; the model join is term-keyed against the
    dense (V × C) likelihood table, always broadcast (a pruned model is
    executor-memory-sized); the (doc, class) score is one
    aggregation [shuffle 2, n_docs × C rows]; the prior add is an
    enum-sized broadcast join and the argmax is a doc-keyed max_by over
    C rows per doc — never a corpus-wide window."""
    full = nb_scores(
        docs, priors, likelihoods,
        class_col=class_col, id_col=id_col, text_col=text_col,
    )
    # argmax with class-asc tie-break: max over (score, reversed-class)
    # structs would need string negation — a doc-keyed max_by on the
    # struct (score_micro, class) picks the LAST class on ties, so order
    # by score desc then class asc via min_by over (-score, class)
    return (
        full.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct(F.col(class_col), F.col("score_micro")),
                F.struct((-F.col("score_micro")).alias("neg"), F.col(class_col)),
            ).alias("best")
        )
        .select(
            id_col,
            F.col(f"best.{class_col}").alias("predicted"),
            F.col("best.score_micro").alias("score_micro"),
        )
    )
