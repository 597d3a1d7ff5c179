"""Text-analysis operators over the documents table — training-data pipeline.

Large-scale caption/text curation primitives (first-class per the build
brief): token counting, quality scoring, language-ID heuristic, document
fingerprinting. Every operator is pure built-in Column expressions (JVM,
whole-stage codegen — zero Python) and each has an exactly-equivalent DuckDB
SQL emitted beside it for the driver's oracle cross-check.

What a document's tokens are is decided here once: ``tokens_col`` is the
token array every text, dedup, packing and curation operator reads, and
``tokens_py`` is the same tokenizer in Python for the one Arrow n-gram stage
(operators/curation.py).

The reference's nearest analogue is its tag/string normalization layer
(hstore_to_json + text member decode, pgsql2osm.py:497-501, 343-344 —
SURVEY.md F2/F3): dynamic text columns normalized to typed values in-query.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.cells import sql_ident

# Tiny per-language stopword lexicons for the deterministic lang-ID heuristic.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "las", "en"),
}
STOPWORDS = tuple(sorted({w for ws in LANG_LEXICONS.values() for w in ws}))

# Java's \s, which tokens_col's split matches: Python's \s would also match
# U+00A0 and the other Unicode spaces.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokens_col(text: str = "text") -> Column:
    """A document's tokens, the one definition every text operator reads:
    lowercased, split on runs of Java's \\s after Spark's trim (which strips
    only U+0020, so an edge tab or newline leaves an empty edge token); empty
    text -> no tokens, NULL text -> NULL. ``tokens_py`` is its Python twin."""
    t = sql_ident(text)
    return F.expr(
        f"CASE WHEN length(trim({t})) = 0 THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(lower(trim({t})), '\\\\s+') END"
    )


def tokens_py(s: str | None) -> list[str] | None:
    """``tokens_col`` for one Python string, token for token (the Arrow
    n-gram stage tokenizes with it)."""
    if s is None:
        return None
    t = s.strip(" ")
    return _JAVA_WS.split(t.lower()) if t else []


def token_count_sql(text: str = "text") -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE len(string_split_regex(trim({text}), '\\s+')) END"
    )


def _in_list_sql(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


def stopword_count_sql(text: str = "text", words: tuple[str, ...] = STOPWORDS) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 ELSE "
        f"len(list_filter(string_split_regex(trim({text}), '\\s+'), "
        f"x -> lower(x) IN ({_in_list_sql(words)}))) END"
    )


def doc_features(df: DataFrame, text: str = "text") -> DataFrame:
    """df + length / token / stopword / punctuation features, a quality flag
    and a language ID (``n_chars_calc``, ``n_tokens``, ``n_stopwords``,
    ``n_punct``, ``quality_ok``, ``pred_lang``).

    quality_ok (integer math, so the oracle hash-matches): 32..4096 chars,
    >= 8 tokens and >= 5% stopwords. pred_lang: the language whose lexicon
    has the most token hits, ties to the first in sorted order, 'und' when
    no lexicon matches (deterministic and oracle-checkable, where an n-gram
    model would need training data).

    The tokens are projected once and every measure reads that column; the
    lexicon scores are projected before the argmax reads them twice."""
    t = sql_ident(text)
    langs = sorted(LANG_LEXICONS)
    scores = [f"_score_{lang}" for lang in langs]

    def hits(words: tuple[str, ...]) -> str:
        return f"size(filter(_toks, x -> x IN ({_in_list_sql(words)})))"

    argmax = " ".join(f"WHEN {s} THEN '{lang}'" for lang, s in zip(langs, scores))
    return (
        df.withColumn("_toks", tokens_col(text))
        .withColumns({
            "n_chars_calc": F.expr(f"CAST(length({t}) AS BIGINT)"),
            "n_tokens": F.expr("CAST(size(_toks) AS BIGINT)"),
            "n_stopwords": F.expr(f"CAST({hits(STOPWORDS)} AS BIGINT)"),
            "n_punct": F.expr(
                f"CAST(length({t}) - length(regexp_replace({t}, '[\\\\.,;:!\\\\?]', '')) AS BIGINT)"
            ),
            **{s: F.expr(hits(LANG_LEXICONS[lang])) for lang, s in zip(langs, scores)},
        })
        .withColumns({
            "quality_ok": F.expr(
                "n_chars_calc >= 32 AND n_chars_calc <= 4096 AND n_tokens >= 8 "
                "AND n_stopwords * 20 >= n_tokens"
            ),
            "pred_lang": F.expr(
                f"CASE greatest({', '.join(scores)}) WHEN 0 THEN 'und' {argmax} ELSE 'und' END"
            ),
        })
        .drop("_toks", *scores)
    )


QUALITY_SQL_COLS = """
    length(text) AS n_chars_calc,
    {tok} AS n_tokens,
    {stop} AS n_stopwords,
    length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
    (length(text) >= 32 AND length(text) <= 4096 AND {tok} >= 8
     AND {stop} * 20 >= {tok}) AS quality_ok
"""


def quality_sql(text: str = "text") -> str:
    return QUALITY_SQL_COLS.format(tok=token_count_sql(text), stop=stopword_count_sql(text))


def lang_id_sql(text: str = "text") -> tuple[list[str], str]:
    parts = []
    for lang in sorted(LANG_LEXICONS):
        ws = LANG_LEXICONS[lang]
        parts.append(
            f"CASE WHEN length(trim({text})) = 0 THEN 0 ELSE "
            f"len(list_filter(string_split_regex(trim({text}), '\\s+'), "
            f"x -> lower(x) IN ({_in_list_sql(ws)}))) END AS score_{lang}"
        )
    langs = sorted(LANG_LEXICONS)
    # the first language with the highest score wins; 'und' when all are 0
    expr = "'und'"
    score = "0"
    for lang in langs:
        expr = f"CASE WHEN score_{lang} > {score} THEN '{lang}' ELSE {expr} END"
        score = f"CASE WHEN score_{lang} > {score} THEN score_{lang} ELSE {score} END"
    return parts, expr


def fingerprint_col(text: str = "text") -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text —
    identical content modulo spacing collides (the exact-dedup key)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), "\\s+", " ")
    return F.md5(norm)


def fingerprint_sql(text: str = "text") -> str:
    return f"md5(regexp_replace(lower(trim({text})), '\\s+', ' ', 'g'))"


def ngram_topk(df: DataFrame, n_gram: int = 2, k: int = 20, text: str = "text") -> DataFrame:
    """Corpus-level top-k word n-grams with exact counts — the vocabulary/
    contamination-scan primitive of a training-data pipeline.

    Shape: posexplode tokens, lead() window per document for the following
    n-1 tokens, concat, one map-side-combined groupBy, TakeOrderedAndProject
    for the top-k. The whole path is whole-stage codegen: the obvious
    array-lambda formulation (transform with an index lambda building each
    gram) evaluates INTERPRETED per element — measured 25 s vs ~2 s on 25M
    bigrams — so the extra token shuffle for the window buys 10x. Ties
    broken by gram text so output is deterministic (O1)."""
    # the row key only needs uniqueness (monotonic ids are fine: counts are
    # invariant to which unique key a row gets)
    toks = df.select(tokens_col(text).alias("toks")).withColumn(
        "_rid", F.monotonically_increasing_id()
    )
    tok = toks.select("_rid", F.posexplode("toks").alias("pos", "t"))
    w = Window.partitionBy("_rid").orderBy(F.col("pos").asc())
    g = tok
    names = []
    for j in range(1, n_gram):
        name = f"_lead{j}"
        g = g.withColumn(name, F.lead("t", j).over(w))
        names.append(name)
    if names:
        g = g.where(F.col(names[-1]).isNotNull())
    gram = F.concat_ws(" ", F.col("t"), *[F.col(x) for x in names])
    return (
        g.select(gram.alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(k)
    )


def doc_top_terms(
    df: DataFrame, k: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the 'what is this document about'
    primitive (retrieval indexing, topic tagging, cluster labeling).

    score = tf * ln(N / df) with df = number of documents containing the
    term; ties broken by term text (O1 determinism). Output columns are
    ints + strings only (doc_id, term, tf, rank) — the float score exists
    solely to ORDER, and the identical arithmetic runs in the DuckDB oracle
    (single ln + one division; cross-libm parity holds at oracle scale,
    same as the mercator ln).

    Scale shape: explode tokens (narrow) -> per-(doc, term) counts (one
    shuffle, map-side combined) -> term document-frequencies derived from
    the SAME aggregate (second small shuffle on term) joined back (AQE
    broadcasts small vocabularies; bucket both sides on term for planetary
    ones) -> per-doc window for the top-k (third shuffle keyed by doc).
    Corpus constant N arrives via a 1-row broadcast cross-join, not a
    driver-side collect — the plan stays a single lazy DAG."""
    tok = df.select(F.col(id_col), F.explode(tokens_col(text)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_score", F.col("tf") * F.log(F.col("_n") / F.col("_df")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(F.col(id_col), "term", F.col("tf").cast("long").alias("tf"), "rank")
    )


def doc_top_terms_sql(
    k: int = 3, text: str = "text", id_col: str = "doc_id", source: str = "documents"
) -> str:
    """DuckDB oracle for doc_top_terms (identical score arithmetic)."""
    return f"""
        WITH tok AS (
          SELECT {id_col}, lower(unnest(CASE WHEN length(trim({text})) = 0
                 THEN [] ELSE string_split_regex(trim({text}), '\\s+') END)) AS term
          FROM {source}
        ), tf AS (
          SELECT {id_col}, term, count(*) AS tf FROM tok GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, count(*) AS _df FROM tf GROUP BY 1
        ), n AS (
          SELECT CAST(count(*) AS DOUBLE) AS _n FROM {source}
        ), scored AS (
          SELECT tf.{id_col}, tf.term, tf.tf,
                 tf.tf * ln(_n / _df) AS _score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT {id_col}, term, CAST(tf AS BIGINT) AS tf,
               CAST(row_number() OVER (PARTITION BY {id_col}
                    ORDER BY _score DESC, term ASC) AS BIGINT) AS rank
        FROM scored QUALIFY rank <= {k}
        ORDER BY {id_col}, rank
    """


def ngram_topk_sql(n_gram: int = 2, k: int = 20, text: str = "text") -> str:
    """DuckDB equivalent of ngram_topk (1-based list indexing)."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n_gram))
    return f"""
        WITH t AS (
          SELECT CASE WHEN length(trim({text})) = 0 THEN []
                 ELSE list_transform(string_split_regex(trim({text}), '\\s+'),
                                     x -> lower(x)) END AS toks
          FROM documents
        ), g AS (
          SELECT unnest(list_transform(range(1, len(toks) - {n_gram - 2}),
                                       i -> {parts})) AS gram
          FROM t WHERE len(toks) >= {n_gram}
        )
        SELECT gram, count(*) AS n FROM g
        GROUP BY gram ORDER BY n DESC, gram ASC LIMIT {k}
    """
