"""Sequence packing — assign documents to fixed-size training chunks.

Pretraining pipelines concatenate the token stream and cut it at max_len
(GPT-style concat-and-chunk): every document gets (stream, chunk, offset)
coordinates in the packed corpus. Doing this as one global sequential scan
is the naive shape; the distributed form splits the corpus into n_streams
independent substreams by arithmetic id-hash (each stream is packed
independently — exactly how multi-worker data loaders shard anyway), and
inside a stream the assignment is pure window math:

    cum_before = sum(n_tokens) over (stream order by id, preceding rows)
    chunk      = cum_before DIV max_tokens
    offset     = cum_before MOD max_tokens

One shuffle (the window partition), integer outputs only, deterministic
under any input partitioning — and therefore bit-replicable in SQL for the
driver oracle. Documents longer than max_tokens simply span chunks, exactly
like the concatenated-stream semantics they model.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cells import sql_ident
from .sampling import hash_col, hash_sql


def chunk_assignments(
    df: DataFrame,
    n_tokens_col: str,
    id_col: str,
    max_tokens: int,
    n_streams: int = 64,
) -> DataFrame:
    """df + (stream, chunk, offset): the packed-corpus coordinates of every
    document. Streams are id-hash shards; within a stream documents pack in
    id order."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    stream = hash_col(id_col) % F.lit(n_streams)
    w = (
        Window.partitionBy("stream")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = df.withColumn("stream", stream)
    out = out.withColumn(
        "_cum_before", F.coalesce(F.sum(n_tokens_col).over(w), F.lit(0))
    )
    return (
        # integer DIV, not float division + cast: exact at any magnitude
        out.withColumn("chunk", F.expr(f"_cum_before DIV {max_tokens}"))
        .withColumn("offset", F.col("_cum_before") % max_tokens)
        .drop("_cum_before")
    )


def chunk_assignments_sql(
    n_tokens_expr: str, id_expr: str, max_tokens: int, n_streams: int = 64,
    table: str = "documents",
) -> str:
    """DuckDB equivalent (identical integer arithmetic)."""
    h = hash_sql(id_expr)
    return f"""
        SELECT {id_expr} AS doc_id, stream,
               CAST(cum_before // {max_tokens} AS BIGINT) AS chunk,
               CAST(cum_before % {max_tokens} AS BIGINT) AS "offset"
        FROM (
          SELECT {id_expr},
                 ({h}) % {n_streams} AS stream,
                 coalesce(sum({n_tokens_expr}) OVER (
                   PARTITION BY ({h}) % {n_streams}
                   ORDER BY {id_expr} ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          FROM {table}
        )
    """


def n_chunks_col(n_tokens: str, size: int, overlap: int) -> Column:
    """The number of ``size``-token windows with ``overlap`` that cover a
    document of ``n_tokens`` tokens (a BIGINT; >= 1, also for 0 tokens):
    1 for n <= size, else 1 + ceil((n - size) / stride)."""
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    n = sql_ident(n_tokens)
    return F.expr(
        f"CASE WHEN {n} <= {size} THEN CAST(1 AS BIGINT) "
        f"ELSE 1 + CAST({n} - {size} + {stride} - 1 AS BIGINT) DIV {stride} END"
    )


def chunk_windows(
    docs: DataFrame,
    size: int = 512,
    overlap: int = 64,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style overlapping token-window coordinates per document.

    Each document of n tokens yields ``n_chunks_col`` chunks starting at 0,
    stride, 2*stride (stride = size - overlap); chunk ends clip to n;
    zero-token documents yield nothing. Pure integer Column math over a
    narrow explode — no shuffle, no Python — and bit-replicable in SQL
    (chunk_windows_sql). Token counts are the size of text.tokens_col, so
    chunk coordinates agree with every other token-based operator."""
    from .text import tokens_col

    stride = size - overlap
    d = docs.select(F.col(id_col), F.size(tokens_col(text)).cast("long").alias("_n"))
    d = d.where(F.col("_n") > 0).withColumn("_nc", n_chunks_col("_n", size, overlap))
    out = d.select(
        F.col(id_col),
        F.col("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nc") - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    return out.select(
        F.col(id_col),
        F.col("chunk_idx"),
        start.alias("start_tok"),
        F.least(start + size, F.col("_n")).alias("end_tok"),
    )


def chunk_windows_sql(
    size: int = 512, overlap: int = 64, text: str = "text",
    id_col: str = "doc_id", source: str = "documents",
) -> str:
    """DuckDB oracle replicating chunk_windows bit-for-bit."""
    from .text import token_count_sql

    stride = size - overlap
    return f"""
        WITH t AS (
          SELECT {id_col}, CAST({token_count_sql(text)} AS BIGINT) AS n
          FROM {source}
        ), c AS (
          SELECT {id_col}, n,
                 CASE WHEN n <= {size} THEN 1
                      ELSE 1 + (n - {size} + {stride} - 1) // {stride} END AS nc
          FROM t WHERE n > 0
        ), e AS (
          SELECT {id_col}, n, unnest(range(0, nc)) AS chunk_idx FROM c
        )
        SELECT {id_col}, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * {stride} AS BIGINT) AS start_tok,
               CAST(least(chunk_idx * {stride} + {size}, n) AS BIGINT) AS end_tok
        FROM e ORDER BY {id_col}, chunk_idx
    """
