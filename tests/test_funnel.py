"""pipeline_funnel: the full curation composition vs an independent python
model on a planted corpus where EVERY stage drops at least one document
(the sf0.01 driver corpus has no repetitive/PII docs, so the oracle check
alone never exercises stages 6-7)."""

import hashlib
import os
import re
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E  # noqa: E402
from pgsql2osm_spark.operators import curation as CU  # noqa: E402
from pgsql2osm_spark.operators import text as TX  # noqa: E402

def _body(i):
    """Unique quality-passing English filler: >=8 tokens, ~20% stopwords,
    >32 chars, and NO 8-token run shared across docs (each token carries
    the doc id, so decontamination only fires where planted)."""
    return (f"the alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} "
            f"the eta{i} theta{i} iota{i}")


def _docs():
    rows = [
        # doc_id < 5 is the held-out benchmark (self-contaminated by design)
        (0, _body(0), "en"),
        # exact duplicate pair -> stage 4 keeps doc 10 only
        (10, _body(10) + " dup twin", "en"),
        (11, _body(10) + " dup twin", "en"),
        # shares an 8-gram with benchmark doc 0 -> stage 5 drops it
        (12, "intro alpha0 beta0 gamma0 delta0 epsilon0 zeta0 the eta0 tail", "en"),
        # repetitive 3-grams (passes quality: 50% stopwords) -> stage 6
        (13, "the spam " * 16, "en"),
        # contains PII -> stage 7
        (14, _body(14) + " contact person bob@example.org now", "en"),
        # domain not in the mixture weights -> stage 8 (text is English so
        # it survives lang-ID; the MIXTURE domain is the lang COLUMN)
        (15, _body(15) + " zh domain doc", "zh"),
        # long survivor -> multiple chunk windows in stage 9
        (16, " ".join("the" if j % 5 == 0 else f"w16x{j}" for j in range(100)), "en"),
        # fails lang-ID (no lexicon hits) -> stage 2
        (17, "zzz qqq www rrr ttt yyy uuu iii ooo ppp aaa sss", "en"),
        # fails quality (too short) -> stage 3
        (18, "the end", "en"),
        # clean ordinary survivors
        (19, _body(19) + " survivor one", "en"),
        (20, _body(20) + " survivor two", "en"),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


def _toks(t):
    return (t or "").lower().split()


def _pred_lang(t):
    toks = _toks(t)
    best, score = "und", 0
    for lang in sorted(TX.LANG_LEXICONS):
        s = sum(1 for x in toks if x in TX.LANG_LEXICONS[lang])
        if s > score:
            best, score = lang, s
    return best


def _grams(t, n):
    toks = _toks(t)
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _hash32(i):
    return (i * 2654435761) % (1 << 32)


def _python_funnel(pdf):
    recs = []
    for r in pdf.itertuples():
        t = r.text
        toks = _toks(t)
        n_tok = len(toks)
        stop = sum(1 for x in toks if x in TX.STOPWORDS)
        fp = hashlib.md5(re.sub(r"\s+", " ", t.strip().lower()).encode()).hexdigest()
        recs.append({
            "id": int(r.doc_id), "lang": r.lang, "n_tok": n_tok, "fp": fp,
            "s2": _pred_lang(t) != "und",
            "quality": 32 <= len(t) <= 4096 and n_tok >= 8 and stop * 20 >= n_tok,
            "g3": _grams(t, 3), "g8": set(_grams(t, 8)),
            "pii": not (re.search(CU.EMAIL_RE, t) or re.search(CU.PHONE_RE, t)
                        or re.search(CU.IPV4_RE, t)),
        })
    seen = {}
    for rec in sorted(recs, key=lambda x: x["id"]):
        rec["dup1"] = seen.setdefault(rec["fp"], rec["id"]) == rec["id"]
    bench = set().union(*[r["g8"] for r in recs if r["id"] < 5])
    for rec in recs:
        rec["contam"] = bool(rec["g8"] & bench)
        ng, nd = len(rec["g3"]), len(set(rec["g3"]))
        rec["repet"] = ng > 0 and (ng - nd) * 100 >= ng * 10
        rec["s3"] = rec["s2"] and rec["quality"]
        rec["s4"] = rec["s3"] and rec["dup1"]
        rec["s5"] = rec["s4"] and not rec["contam"]
        rec["s6"] = rec["s5"] and not rec["repet"]
        rec["s7"] = rec["s6"] and rec["pii"]
    c7 = {}
    for rec in recs:
        if rec["s7"]:
            c7[rec["lang"]] = c7.get(rec["lang"], 0) + 1
    w = E._MIX_WEIGHTS
    thr = {}
    for lang, nd in c7.items():
        if lang in w:
            nt = min(60 * w[lang] // 1000, nd)
            thr[lang] = ((1 << 32) * nt) // nd
    chunks = 0
    for rec in recs:
        rec["s8"] = (rec["s7"] and rec["lang"] in thr
                     and _hash32(rec["id"]) < thr[rec["lang"]])
        if rec["s8"] and rec["n_tok"] > 0:
            n = rec["n_tok"]
            chunks += 1 if n <= 48 else 1 + (n - 48 + 39) // 40
    out = {"1_raw": len(recs), "9_chunks": chunks}
    for i, name in [(2, "2_lang"), (3, "3_quality"), (4, "4_dedup"),
                    (5, "5_decontam"), (6, "6_repetition"), (7, "7_pii"),
                    (8, "8_mixture")]:
        out[name] = sum(1 for rec in recs if rec[f"s{i}"])
    return out


def test_funnel_matches_python_model_every_stage_drops(spark, tmp_path):
    pdf = _docs()
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    got = {r["stage"]: r["n"] for r in
           E.queries()["pipeline_funnel"](spark, str(tmp_path)).collect()}
    exp = _python_funnel(pdf)
    assert got == exp, (got, exp)
    # every doc-stage strictly dropped something on this planted corpus
    order = ["1_raw", "2_lang", "3_quality", "4_dedup", "5_decontam",
             "6_repetition", "7_pii", "8_mixture"]
    for a, b in zip(order, order[1:]):
        assert got[b] < got[a], (a, b, got)
    assert got["9_chunks"] > got["8_mixture"]  # the long doc spans chunks
