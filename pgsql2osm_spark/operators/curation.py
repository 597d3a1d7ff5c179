"""Corpus-curation operators — decontamination, repetition, PII scrubbing.

The standard training-data curation trio a large-scale pipeline runs after
dedup/quality (operators/dedup.py, operators/text.py):

* benchmark DECONTAMINATION — drop/flag documents sharing any word n-gram
  with a held-out evaluation set (the n-gram-overlap method used for LLM
  training corpora; n=8..13 typical).
* REPETITION statistics — per-document duplicate n-gram fraction (the
  Gopher-style repetition filters; a high duplicate fraction marks
  boilerplate/spam).
* PII SCRUBBING — regex redaction of emails/phones/IPs with per-document
  redaction counts.

Scale shapes:
* n-grams are built per document in ONE Arrow-vectorized pandas stage (no
  shuffle) that tokenizes with ``text.tokens_py``, the twin of the
  ``text.tokens_col`` every other text operator reads. Every JVM form
  measured slower (ROADMAP direction 3(c)). The document side never
  shuffles.
* decontamination joins exploded doc grams (explode is narrow) against the
  benchmark gram set with a left-semi join — BROADCAST when the counted
  gram set fits (the common eval-suite case; the corpus never shuffles),
  plain shuffle semi join past max_broadcast_grams. Only the (tiny)
  contaminated id set ever shuffles back; the flag returns via a join that
  AQE broadcasts when the contaminated set is small.
* repetition needs no join at all: gram-array size vs distinct size, pure
  JVM after the gram stage.
* PII scrubbing is pure JVM regexp_replace/regexp_extract_all — zero
  Python, zero shuffle.

Reference analogue: the reference has no curation layer (its strings pass
through tag normalization only, pgsql2osm.py:497-501); these extend the
engine's first-class training-pipeline surface per the build brief.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens_py

# ---------------------------------------------------------------------------
# Shared per-document word n-grams (one Arrow stage).
# ---------------------------------------------------------------------------


def word_ngrams_udf(n: int):
    """Arrow-batched per-document word n-grams (space-joined), over
    ``text.tokens_py``: the tokens of ``text.tokens_col`` and of the DuckDB
    oracle's ``_toks_sql``. NULL text gives NULL grams, as in the oracle."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = tokens_py(t)
            out.append(
                None if toks is None
                else [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            )
        return pd.Series(out)

    return grams


def _ngrams_sql(n: int, text: str = "text") -> str:
    """DuckDB list-of-grams expression (1-based indexing), matching
    word_ngrams_udf bit-for-bit."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) < {n} THEN [] "
        f"ELSE list_transform(range(1, len(toks) - {n - 2}), i -> {parts}) END"
    )


def _toks_sql(text: str = "text") -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN [] "
        f"ELSE list_transform(string_split_regex(trim({text}), '\\s+'), "
        f"x -> lower(x)) END"
    )


# ---------------------------------------------------------------------------
# Decontamination.
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int | None = 5_000_000,
) -> DataFrame:
    """Flag documents sharing any word ``n``-gram with the benchmark corpus.
    NOTE: constructing this DataFrame runs an EAGER count() job over the
    benchmark grams whenever ``max_broadcast_grams`` is set (the default) —
    the broadcast/shuffle dispatch needs the measured size up front.

    Output: docs' (id_col) + ``contaminated`` boolean. Auto-dispatch on the
    benchmark size (the same measured count-probe pattern as pip_join): the
    distinct benchmark gram set is counted first — at or below
    ``max_broadcast_grams`` it is BROADCAST into a left-semi join (eval sets
    are small by construction, the corpus never shuffles); above it (a user
    decontaminating against a large held-out corpus — 10^8+ grams would OOM
    the driver/executors as a broadcast) the semi join runs as a plain
    shuffle join instead. The gram set is localCheckpoint'ed so the probe
    count and the join share one computation; its unknown post-checkpoint
    size stats also stop AQE from re-broadcasting the big set. The
    checkpoint is not lazy: under AQE the call itself runs the distinct's
    shuffle stage, ahead of the count.
    ``max_broadcast_grams=None`` skips the probe and always broadcasts.
    Doc grams explode narrowly; only the contaminated id set (tiny)
    shuffles, and the flag-back join broadcasts it."""
    contaminated = contaminated_ids(
        docs, benchmark, n=n, text=text, id_col=id_col,
        max_broadcast_grams=max_broadcast_grams,
    ).withColumn("contaminated", F.lit(True))
    return (
        docs.select(id_col)
        .join(contaminated, id_col, "left")
        .select(
            F.col(id_col), F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
    )


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int | None = 5_000_000,
) -> DataFrame:
    """The (tiny) distinct id set of documents sharing any word ``n``-gram
    with the benchmark. NOTE: construction runs jobs over the benchmark
    grams whenever ``max_broadcast_grams`` is set (the default): the
    checkpoint's shuffle stage and an EAGER count() — the broadcast/shuffle
    dispatch needs the measured size before the plan is built; pass
    ``max_broadcast_grams=None`` for a fully lazy (always-broadcast)
    builder. The joinable core of ``decontaminate`` for
    pipelines that fold the flag into a wider lineage (pipeline_funnel)
    instead of materializing a full per-document flag table. Same
    count-probe broadcast/shuffle auto-dispatch; see decontaminate."""
    grams = word_ngrams_udf(n)
    bench_grams = (
        benchmark.select(F.explode(grams(F.col(text))).alias("gram")).distinct()
    )
    if max_broadcast_grams is None:
        bench_side = F.broadcast(bench_grams)
    else:
        bench_grams = bench_grams.localCheckpoint(eager=False)
        n_bench = bench_grams.count()
        bench_side = (
            F.broadcast(bench_grams) if n_bench <= max_broadcast_grams else bench_grams
        )
    doc_grams = docs.select(F.col(id_col), F.explode(grams(F.col(text))).alias("gram"))
    return (
        doc_grams.join(bench_side, "gram", "left_semi").select(id_col).distinct()
    )


def decontaminate_sql(
    bench_pred: str, n: int = 8, text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle: benchmark = documents rows WHERE ``bench_pred``."""
    return f"""
        WITH t AS (
          SELECT {id_col}, {_toks_sql(text)} AS toks FROM documents
        ), g AS (
          SELECT {id_col}, unnest({_ngrams_sql(n)}) AS gram FROM t
        ), b AS (
          SELECT DISTINCT gram FROM g WHERE {bench_pred.format(id=id_col)}
        ), c AS (
          SELECT DISTINCT g.{id_col} FROM g JOIN b USING (gram)
        )
        SELECT t.{id_col}, (c.{id_col} IS NOT NULL) AS contaminated
        FROM t LEFT JOIN c USING ({id_col})
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Repetition statistics.
# ---------------------------------------------------------------------------


def with_repetition_flags(
    df: DataFrame, n: int = 3, dup_pct_threshold: int = 10, text: str = "text"
) -> DataFrame:
    """Append ``n_grams``/``n_distinct``/``repetitive`` columns to ``df``
    (the shared core of ``repetition_stats`` and the pipeline-funnel stage —
    VERDICT r4 #5: one implementation of the Gopher-style repetition flag).

    ``repetitive`` = duplicate n-gram fraction >= dup_pct_threshold percent,
    evaluated in 64-bit integer math (the sizes are cast to long BEFORE the
    *100 multiply — F.size is 32-bit, and under Spark 4 ANSI a >21.4M-gram
    document would otherwise throw ArithmeticException instead of flagging).
    No join, no shuffle — one Arrow gram stage + JVM array sizes, added as
    CHAINED projections (named-column references, no duplicated expression
    subtrees per the repo rule)."""
    grams = word_ngrams_udf(n)
    return (
        df.withColumn("_rep_g", grams(F.col(text)))
        .withColumn("n_grams", F.size("_rep_g").cast("long"))
        .withColumn("n_distinct", F.size(F.array_distinct("_rep_g")).cast("long"))
        .withColumn(
            "repetitive",
            (F.col("n_grams") > 0)  # a gram-less doc is empty, not repetitive
            & (
                (F.col("n_grams") - F.col("n_distinct")) * 100
                >= F.col("n_grams") * dup_pct_threshold
            ),
        )
        .drop("_rep_g")
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 3,
    dup_pct_threshold: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicate ``n``-gram stats (Gopher-style repetition).

    Output ints only (oracle-hash-safe): n_grams, n_distinct, repetitive —
    see ``with_repetition_flags`` for the flag semantics and ANSI notes."""
    flagged = with_repetition_flags(
        docs.select(F.col(id_col), F.col(text)), n, dup_pct_threshold, text
    )
    return flagged.select(id_col, "n_grams", "n_distinct", "repetitive")


def repetition_sql(
    n: int = 3, dup_pct_threshold: int = 10, text: str = "text",
    id_col: str = "doc_id", source: str = "documents",
) -> str:
    return f"""
        WITH t AS (
          SELECT {id_col}, {_toks_sql(text)} AS toks FROM {source}
        ), g AS (
          SELECT {id_col}, {_ngrams_sql(n)} AS grams FROM t
        )
        SELECT {id_col},
               CAST(len(grams) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
               len(grams) > 0 AND
                 (CAST(len(grams) AS BIGINT) - CAST(len(list_distinct(grams)) AS BIGINT)) * 100
                 >= CAST(len(grams) AS BIGINT) * {dup_pct_threshold} AS repetitive
        FROM g ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# PII scrubbing.
# ---------------------------------------------------------------------------

# RE2-safe patterns (no lookaround/backrefs) so Spark (Java regex) and
# DuckDB (RE2) agree; greedy simple classes match identically in both.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9][0-9 -]{7,}[0-9]"
IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_scrub(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails / international-format phones / IPv4s; emit per-doc
    redaction counts and the scrubbed text's md5 (string-compare-safe).

    Pure JVM regexp columns — zero Python, zero shuffle; order of the three
    passes matters (email first: its local part may contain digits a phone
    pattern could nibble) and is mirrored in pii_scrub_sql."""
    c = F.col(text)
    n_email = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    s1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_phone = F.size(F.regexp_extract_all(s1, F.lit(PHONE_RE), F.lit(0)))
    s2 = F.regexp_replace(s1, PHONE_RE, "<PHONE>")
    n_ip = F.size(F.regexp_extract_all(s2, F.lit(IPV4_RE), F.lit(0)))
    s3 = F.regexp_replace(s2, IPV4_RE, "<IP>")
    return docs.select(
        F.col(id_col),
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        n_ip.cast("long").alias("n_ips"),
        F.md5(s3).alias("scrubbed_md5"),
    )


def pii_clean_col(text: str = "text") -> Column:
    """True iff the document contains NO redactable PII. Equivalent to
    "pii_scrub would redact nothing": when an earlier pattern is absent the
    later scrub passes operate on unchanged text, and when one is present
    the document is already not clean — so testing all three patterns on
    the RAW text matches the sequential email->phone->ip semantics
    exactly. Pure JVM regexp columns."""
    c = F.col(text)
    return (
        (F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))) == 0)
        & (F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))) == 0)
        & (F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), F.lit(0))) == 0)
    )


def pii_clean_sql(text_expr: str = "text") -> str:
    """DuckDB predicate matching pii_clean_col bit-for-bit."""
    return (
        f"(len(regexp_extract_all({text_expr}, '{EMAIL_RE}')) = 0 "
        f"AND len(regexp_extract_all({text_expr}, '{PHONE_RE}')) = 0 "
        f"AND len(regexp_extract_all({text_expr}, '{IPV4_RE}')) = 0)"
    )


def pii_scrub_sql(text_expr: str = "text", id_col: str = "doc_id") -> str:
    e, p, i = EMAIL_RE, PHONE_RE, IPV4_RE
    s1 = f"regexp_replace({text_expr}, '{e}', '<EMAIL>', 'g')"
    s2 = f"regexp_replace({s1}, '{p}', '<PHONE>', 'g')"
    s3 = f"regexp_replace({s2}, '{i}', '<IP>', 'g')"
    return f"""
        SELECT {id_col},
               CAST(len(regexp_extract_all({text_expr}, '{e}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all({s1}, '{p}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all({s2}, '{i}')) AS BIGINT) AS n_ips,
               md5({s3}) AS scrubbed_md5
        FROM documents ORDER BY {id_col}
    """  # noqa: S608 — oracle text, parameters are module constants


# ---------------------------------------------------------------------------
# The full curation funnel (shared by q_pipeline_funnel and the CLI).
# ---------------------------------------------------------------------------


def funnel_flags(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    mix_weights: dict[str, int] | None = None,
    total_target: int = 60,
    contam_n: int = 8,
    rep_n: int = 3,
    contam_max_broadcast_grams: int | None = 5_000_000,
) -> DataFrame:
    """Per-document survivor flags for the FULL curation funnel on ONE
    lineage (VERDICT r3 #7 composition, extracted to the library r5 so the
    CLI ``--curate`` subcommand and the pipeline_funnel entry query drive
    the SAME implementation).

    Stages -> chained boolean columns (each referencing the previous by
    NAME — no duplicated expression subtrees): s2 lang-ID, s3 quality,
    s4 exact-dedup rank-1, s5 decontamination (skipped -> all pass when
    ``benchmark`` is None), s6 repetition, s7 PII-clean, s8 domain-mixture
    downsample (skipped -> s8 == s7 when ``mix_weights`` is None).

    Scale shape: every flag is a projected column over a single corpus
    scan; the only side inputs are the tiny contaminated id set (broadcast
    left join; NOTE constructing it runs the documented eager count probe
    unless ``contam_max_broadcast_grams=None`` vouches the benchmark gram
    set is broadcastable — callers with by-construction-small benchmarks
    should pass None and skip that job)
    and the per-domain thresholds (small agg over stage-7 survivors off a
    localCheckpoint of the flags, broadcast back). The one wide shuffle is
    the exact-dedup fingerprint window — the same shuffle exact_dedup needs.
    NOTE the checkpoint is not lazy: under AQE, ``localCheckpoint(eager=
    False)`` runs every shuffle stage below it at the call, so constructing
    the flags runs the corpus scan, the window's shuffle and the Arrow
    n-gram stages (5 jobs on the fixture suite's documents)."""
    from pyspark.sql import Window

    from . import sampling as SP
    from . import text as TX

    feats = TX.doc_features(docs)
    w = Window.partitionBy(TX.fingerprint_col()).orderBy(F.col("doc_id").asc())
    flags = with_repetition_flags(
        feats.withColumn("_dup_rank", F.row_number().over(w)), n=rep_n
    ).withColumn("pii_clean", pii_clean_col())
    if benchmark is not None:
        cont = contaminated_ids(
            docs, benchmark, n=contam_n,
            max_broadcast_grams=contam_max_broadcast_grams,
        )
        flags = flags.join(
            F.broadcast(cont.withColumn("_contam", F.lit(True))), "doc_id", "left"
        ).withColumn("contaminated", F.coalesce("_contam", F.lit(False)))
    else:
        flags = flags.withColumn("contaminated", F.lit(False))
    flags = (
        flags.withColumn("s2", F.col("pred_lang") != "und")
        .withColumn("s3", F.col("s2") & F.col("quality_ok"))
        .withColumn("s4", F.col("s3") & (F.col("_dup_rank") == 1))
        .withColumn("s5", F.col("s4") & ~F.col("contaminated"))
        .withColumn("s6", F.col("s5") & ~F.col("repetitive"))
        .withColumn("s7", F.col("s6") & F.col("pii_clean"))
        # reused: threshold agg + final agg (the call runs the shuffle
        # stages below it under AQE)
        .localCheckpoint(eager=False)
    )
    if mix_weights is not None:
        counts7 = flags.where("s7").groupBy("lang").agg(
            F.count(F.lit(1)).alias("_nd")
        )
        thr = SP.domain_thresholds(
            counts7, "lang", mix_weights, total_target=total_target
        )
        flags = flags.join(F.broadcast(thr), "lang", "left").withColumn(
            "s8",
            F.col("s7")
            & F.col("_thr").isNotNull()
            & (SP.hash_col("doc_id") < F.col("_thr")),
        )
    else:
        flags = flags.withColumn("s8", F.col("s7"))
    return flags


def funnel_counts(flags: DataFrame, size: int = 48, overlap: int = 8) -> DataFrame:
    """Fold the funnel's per-stage survivor counts into ONE aggregate,
    unpivoted by map-explode (a per-stage union would re-execute the agg
    subtree per branch). Stage 9's unit is RAG chunk windows of ``size``
    tokens with ``overlap`` over the final (s8) survivors."""
    from . import packing as PK

    flags = flags.withColumn(
        "_nc",
        F.when(
            F.col("s8") & (F.col("n_tokens") > 0),
            PK.n_chunks_col("n_tokens", size, overlap),
        ).otherwise(F.lit(0).cast("long")),
    )
    stages = [("2_lang", "s2"), ("3_quality", "s3"), ("4_dedup", "s4"),
              ("5_decontam", "s5"), ("6_repetition", "s6"), ("7_pii", "s7"),
              ("8_mixture", "s8")]
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_raw"),
        *[F.sum(F.col(c).cast("long")).alias(f"n{c}") for _, c in stages],
        F.sum("_nc").alias("n_chunks"),
    )
    pairs = [F.lit("1_raw"), F.col("n_raw")]
    for name, c in stages:
        pairs += [F.lit(name), F.col(f"n{c}")]
    pairs += [F.lit("9_chunks"), F.col("n_chunks")]
    return agg.select(
        F.explode(F.create_map(*pairs)).alias("stage", "n")
    ).orderBy("stage")


def funnel_chunks(flags: DataFrame, size: int = 48, overlap: int = 8) -> DataFrame:
    """Surviving (s8) documents' RAG chunk coordinates — the funnel's final
    materialized output for the CLI (doc_id, chunk_idx, start, end)."""
    from . import packing as PK

    return PK.chunk_windows(
        flags.where("s8").select("doc_id", "text"), size=size, overlap=overlap
    )
