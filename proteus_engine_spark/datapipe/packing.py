"""Sequence packing: lay documents out on a contiguous token stream and
assign each to a fixed-size training sequence — the concat-then-chunk
packing step of LLM pre-training pipelines (every document gets a global
start offset; sequence k owns stream positions [k*ctx, (k+1)*ctx)).

The global ordered prefix sum is operators.partitioning.running_sum
(the two-phase scheme, never a single-task window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    size_col: "str | Column",
    order_col: str,
    ctx_len: int = 8192,
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic token-stream packing: documents are concatenated in
    ``order_col`` order; each gets its global ``start_offset`` on the
    token stream and the training sequence ``seq_bin`` its first token
    lands in (documents may straddle bins, as concat-then-chunk training
    does). Adds (start_offset long, seq_bin long) to ``df``'s columns.

    Correct under ANY range split: partition offsets are accumulated in
    range order, so boundary placement affects parallelism, never
    values. ``order_col`` must be a UNIQUE key (doc ids are): with
    duplicate keys the within-key order — and therefore each tied row's
    offset — is not defined, in this engine or any other."""
    from proteus_engine_spark.operators.partitioning import running_sum

    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = df.repartitionByRange(n, F.col(order_col)).sortWithinPartitions(order_col)
    return running_sum(ordered, value=size_col, out="start_offset").withColumn(
        "seq_bin", F.expr(f"start_offset DIV {int(ctx_len)}")
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into sliding token windows of ``chunk_size``
    with ``overlap`` shared tokens between consecutive chunks — the
    context-window splitting step of RAG indexing and long-document
    training prep. Returns (id_col, chunk_id int 0-based, chunk_text,
    n_chunk_tokens int).

    Chunk starts advance by stride = chunk_size - overlap; the LAST chunk
    may be shorter than chunk_size but the windows always cover the final
    token (no truncated tail): a doc of n tokens yields
    1 + ceil(max(n - chunk_size, 0) / stride) chunks. Empty /
    whitespace-only docs yield NO chunks (0 tokens — nothing to index).

    Scale shape: whole-stage-codegen per-row expressions (tokenize once,
    one transform over a start-index sequence, one explode) — no shuffle,
    no Python, embarrassingly parallel per document; output row count is
    bounded by total tokens / stride. Chunks re-join tokens with a single
    space (the tokenizer is whitespace-splitting, so multi-space layout
    is not preserved — standard for token-level chunking)."""
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap={overlap} must satisfy 0 <= overlap < chunk_size="
            f"{chunk_size}: stride would be <= 0 (an infinite window walk)"
        )
    stride = chunk_size - overlap
    toks = F.when(
        F.length(F.trim(F.col(text_col))) > 0,
        F.split(F.trim(F.col(text_col)), r"\s+"),
    ).otherwise(F.array().cast("array<string>"))
    n = F.size("__t__")
    n_chunks = (
        F.lit(1) + F.ceil(F.greatest(n - chunk_size, F.lit(0)) / F.lit(stride))
    ).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, __nc__ - 1), i -> struct("
        f"i AS chunk_id, "
        f"array_join(slice(__t__, i * {stride} + 1, {chunk_size}), ' ') AS chunk_text, "
        f"size(slice(__t__, i * {stride} + 1, {chunk_size})) AS n_chunk_tokens))"
    )
    return (
        docs.select(F.col(id_col), toks.alias("__t__"))
        .filter(F.size("__t__") > 0)
        .select(F.col(id_col), n_chunks.alias("__nc__"), F.col("__t__"))
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        )
    )
