"""Text-analysis operators over the documents table — training-data pipeline.

Large-scale caption/text curation primitives (first-class per the build
brief): token counting, quality scoring, language-ID heuristic, document
fingerprinting. Every operator is pure built-in Column expressions (JVM,
whole-stage codegen — zero Python) and each has an exactly-equivalent DuckDB
SQL emitted beside it for the driver's oracle cross-check.

The reference's nearest analogue is its tag/string normalization layer
(hstore_to_json + text member decode, /root/reference/pgsql2osm/
pgsql2osm.py:497-501, 343-344 — SURVEY.md F2/F3): dynamic text columns
normalized to typed values in-query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tiny per-language stopword lexicons for the deterministic lang-ID heuristic.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "las", "en"),
}
STOPWORDS = tuple(sorted({w for ws in LANG_LEXICONS.values() for w in ws}))

_TOKEN_SPLIT = "\\s+"


def tokens_col(text: str = "text") -> Column:
    """Whitespace tokenization of trimmed text (empty string -> 0 tokens)."""
    return F.when(
        F.length(F.trim(F.col(text))) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text)), _TOKEN_SPLIT))


def token_count_col(text: str = "text") -> Column:
    return F.size(tokens_col(text))


def token_count_sql(text: str = "text") -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE len(string_split_regex(trim({text}), '\\s+')) END"
    )


def _in_list_sql(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


def token_count_of(toks: Column) -> Column:
    """Token count from an already-projected token-array column — share one
    split across several derived measures instead of re-tokenizing per
    expression (reused Column objects inline their whole subtree)."""
    return F.size(toks)


def stopword_count_of(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def stopword_count_sql(text: str = "text", words: tuple[str, ...] = STOPWORDS) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 ELSE "
        f"len(list_filter(string_split_regex(trim({text}), '\\s+'), "
        f"x -> lower(x) IN ({_in_list_sql(words)}))) END"
    )


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Length / token / punctuation / stopword features + a quality score.

    Score (deterministic, int-ratio based so the oracle hash-matches):
      good length (64..2048 chars) + token length sanity + stopword presence.
    """
    n_chars = F.length(F.col(text))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text), "[\\.,;:!\\?]", ""))
    toks_name = "_quality_toks"
    return (
        # project the token array ONCE; every reuse of a raw Column object
        # would inline the whole split/filter subtree again
        df.withColumn(toks_name, tokens_col(text))
        .withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_tokens", token_count_of(F.col(toks_name)).cast("long"))
        .withColumn("n_stopwords", stopword_count_of(F.col(toks_name)).cast("long"))
        .withColumn("n_punct", n_punct.cast("long"))
        .withColumn(
            "quality_ok",
            (F.col("n_chars_calc") >= 32)
            & (F.col("n_chars_calc") <= 4096)
            & (F.col("n_tokens") >= 8)
            # >=5% stopwords — integer math only
            & (F.col("n_stopwords") * 20 >= F.col("n_tokens")),
        )
        .drop(toks_name)
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


def lang_id_col(text: str = "text") -> Column:
    """Deterministic language-ID heuristic: argmax of per-language stopword
    hits, ties broken by fixed language order, 'und' (undetermined) if no
    lexicon matches. (An n-gram model would need training data; this stays
    deterministic and oracle-checkable.)

    NOTE: as a single Column, the strictly-greater fold must re-reference
    each score subtree recursively — the expression tree doubles per
    language (the reused-Column pitfall). Prefer ``with_lang_id`` where a
    DataFrame is in hand: it projects the scores first and folds over cheap
    attribute references (measured ~4x on the 50k-doc suite query)."""
    toks = tokens_col(text)

    def score_for(ws):
        # single-arg lambda: pyspark maps every lambda parameter to a
        # higher-order-function variable, so the lexicon must be closed over
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(*ws)))

    scores = {lang: score_for(ws) for lang, ws in LANG_LEXICONS.items()}
    return _argmax_fold(scores)


def _argmax_fold(scores: dict) -> Column:
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):  # fixed order: later wins only if strictly greater
        s = scores[lang]
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return best


def with_lang_id(df: DataFrame, text: str = "text", out: str = "pred_lang") -> DataFrame:
    """df + a ``out`` language column — same bits as lang_id_col, linear
    expression size: per-language scores are PROJECTED columns, so the
    argmax fold references attributes instead of duplicating score
    subtrees."""
    toks_name = f"_lang_toks_{out}"
    cur = df.withColumn(
        toks_name, F.transform(tokens_col(text), lambda t: F.lower(t))
    )
    names = []
    for lang in sorted(LANG_LEXICONS):
        ws = LANG_LEXICONS[lang]
        name = f"_score_{lang}_{out}"
        names.append(name)
        cur = cur.withColumn(
            name, F.size(F.filter(F.col(toks_name), lambda t: t.isin(*ws)))
        )
    fold = _argmax_fold({lang: F.col(f"_score_{lang}_{out}") for lang in sorted(LANG_LEXICONS)})
    return cur.withColumn(out, fold).drop(toks_name, *names)


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
    # same strictly-greater fold as lang_id_col
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
    # tokenization shared with token_count_col so counts and grams agree;
    # the row key only needs uniqueness (monotonic ids are fine: counts are
    # invariant to which unique key a row gets)
    toks = df.select(tokens_col(text).alias("toks")).withColumn(
        "_rid", F.monotonically_increasing_id()
    )
    tok = toks.select("_rid", F.posexplode("toks").alias("pos", "_t")).select(
        "_rid", "pos", F.lower(F.col("_t")).alias("t")
    )
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
    tok = df.select(
        F.col(id_col), F.explode(tokens_col(text)).alias("_t")
    ).select(F.col(id_col), F.lower(F.col("_t")).alias("term"))
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
