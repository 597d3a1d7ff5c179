"""Curation operators: decontamination, repetition stats, PII scrubbing —
planted-behavior checks, independent python-re / set recomputations, and
DuckDB-oracle parity on whitespace-edge documents."""

import re

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.operators import curation as CU


def test_decontaminate_planted_overlap(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words live in this other document here now"),
            (3, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
            (4, "short doc"),  # < 8 tokens: no grams, never contaminated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon zeta eta theta yy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["contaminated"] for r in CU.decontaminate(docs, bench).collect()}
    # docs 1 and 3 share the 8-gram "alpha..theta" with the benchmark
    assert got == {1: True, 2: False, 3: True, 4: False}
    # corpus side never shuffles before the semi join: broadcast on the plan
    plan = (
        CU.decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_decontaminate_shuffle_fallback_matches_broadcast(spark):
    """Past max_broadcast_grams the benchmark side must NOT broadcast (a
    10^8-gram held-out corpus would OOM as a broadcast) — the semi join
    falls back to a shuffle join with identical output (VERDICT r3 #4)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words live in this other document here now"),
            (3, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon zeta eta theta yy zz ww")],
        "doc_id long, text string",
    )
    fallback = CU.decontaminate(docs, bench, max_broadcast_grams=1)
    got = {r["doc_id"]: r["contaminated"] for r in fallback.collect()}
    assert got == {1: True, 2: False, 3: True}
    # the STATIC plan must not broadcast the gram set (no hint, no
    # stats-based auto-broadcast: the checkpointed side has unknown size) —
    # AQE may still legitimately convert at runtime when the MEASURED
    # shuffle is tiny (as here), which is exactly the safe direction.
    plan = fallback._jdf.queryExecution().sparkPlan().toString()
    assert not any(
        "BroadcastHashJoin" in line and "LeftSemi" in line
        for line in plan.splitlines()
    ), plan
    assert "LeftSemi" in plan


def test_repetition_stats_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c a b c"),       # heavily repeated 3-grams
            (2, "one two three four five six"),   # all distinct
            (3, ""),                               # gram-less, not repetitive
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in CU.repetition_stats(docs, n=3).collect()}
    assert got[1]["repetitive"] and not got[2]["repetitive"] and not got[3]["repetitive"]
    assert got[1]["n_grams"] == 10 and got[1]["n_distinct"] == 3
    assert got[2]["n_grams"] == 4 == got[2]["n_distinct"]
    assert got[3]["n_grams"] == 0


# Documents whose tokens depend on the whitespace rules: Spark's and DuckDB's
# trim strip only U+0020, and \s does not match U+00A0, so a no-break space
# joins two words.
EDGE_DOCS = [
    (1, "\tone two three four five six seven"),          # empty first token
    (2, "\tone two three four five six seven eight\n"),  # benchmark
    (3, "one two\u00a0three four five six seven eight nine"),
    (4, "one two three four five six seven eight nine"),  # benchmark
    (5, "a b c a b c\r"),
    (6, "The Cat the CAT the cat"),
    (7, ""),
    (8, "    "),
    (9, None),
]


def _edge_docs(spark):
    pdf = pd.DataFrame(EDGE_DOCS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string"), con


def test_repetition_matches_duckdb_on_whitespace_edges(spark):
    docs, con = _edge_docs(spark)
    got = sorted(tuple(r) for r in CU.repetition_stats(docs, n=3).collect())
    assert got == con.sql(CU.repetition_sql(n=3)).fetchall()


def test_decontaminate_matches_duckdb_on_whitespace_edges(spark):
    docs, con = _edge_docs(spark)
    bench = docs.where("doc_id IN (2, 4)")
    got = sorted(tuple(r) for r in CU.decontaminate(docs, bench, n=8).collect())
    assert got == con.sql(CU.decontaminate_sql("{id} IN (2, 4)", n=8)).fetchall()
    # doc 1 shares the benchmark's tab-led gram; doc 3's no-break space
    # keeps it apart from doc 4
    assert dict(got)[1] and not dict(got)[3]


def test_pii_scrub_matches_python_re(spark):
    rows = [
        (1, "reach me at jane.doe+spam@mail-host.co.uk today"),
        (2, "call +1 800-555 0199 or visit 10.0.0.254 now"),
        (3, "clean text with no identifiers at all"),
        (4, "two mails a@b.io c.d@e-f.org and +41 791234567 plus 8.8.8.8"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in CU.pii_scrub(docs).collect()}
    for did, text in rows:
        emails = re.findall(CU.EMAIL_RE, text)
        s1 = re.sub(CU.EMAIL_RE, "<EMAIL>", text)
        phones = re.findall(CU.PHONE_RE, s1)
        s2 = re.sub(CU.PHONE_RE, "<PHONE>", s1)
        ips = re.findall(CU.IPV4_RE, s2)
        r = got[did]
        assert r["n_emails"] == len(emails), (did, emails)
        assert r["n_phones"] == len(phones), (did, phones)
        assert r["n_ips"] == len(ips), (did, ips)
    # scrubbed text has no residual matches (idempotence of the redaction)
    rescrub = CU.pii_scrub(
        spark.createDataFrame(
            [(i, re.sub(CU.IPV4_RE, "<IP>",
                        re.sub(CU.PHONE_RE, "<PHONE>",
                               re.sub(CU.EMAIL_RE, "<EMAIL>", t))))
             for i, t in rows],
            "doc_id long, text string",
        )
    ).collect()
    assert all(r["n_emails"] == r["n_phones"] == r["n_ips"] == 0 for r in rescrub)


def test_curation_plans_stay_narrow(spark):
    """Scale shapes: repetition has no shuffle at all; pii is pure JVM (no
    Python stage); decontamination's only python is the gram stage."""
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    rep = CU.repetition_stats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in rep
    pii = CU.pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in pii and "BatchEvalPython" not in pii
