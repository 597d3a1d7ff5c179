"""Text / dedup / similarity operators: numpy+python oracles + DuckDB parity."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pgsql2osm_spark.operators import dedup as DD
from pgsql2osm_spark.operators import similarity as SIM
from pgsql2osm_spark.operators import text as TX

DOCS = "/root/testdata/sf0.001/documents.parquet"
EMB = "/root/testdata/sf0.001/embeddings.parquet"


# Whitespace and case edges. Spark's trim strips only U+0020 and \s does not
# match U+00A0, in Spark and DuckDB alike, so an edge tab or newline is an
# empty edge token and a no-break space joins two words.
EDGE_TEXTS = [
    "\tHello world the cat\n",       # leading tab, trailing newline
    "the a\rof and\r",               # CR
    "one two\u00a0three four",        # U+00A0 inside a word
    "",                               # empty
    "    ",                           # spaces only
    "The Cat AND the DOG Der Die",    # mixed case
]


def _docs_with_edges(spark):
    """The sf0.001 documents plus EDGE_TEXTS, as a Spark and a pandas frame."""
    pdf = pd.read_parquet(DOCS, columns=["doc_id", "text"])
    first = int(pdf["doc_id"].max()) + 1
    edges = pd.DataFrame(
        {"doc_id": range(first, first + len(EDGE_TEXTS)), "text": EDGE_TEXTS}
    )
    pdf = pd.concat([pdf, edges], ignore_index=True)
    return spark.createDataFrame(pdf, "doc_id long, text string"), pdf


def test_token_and_stopword_counts_match_duckdb(spark):
    sdf, pdf = _docs_with_edges(spark)
    feats = TX.doc_features(sdf).select(
        "doc_id", "n_chars_calc", "n_tokens", "n_stopwords", "n_punct", "quality_ok",
        TX.fingerprint_col().alias("fp"),
    )
    got = {r[0]: tuple(r[1:]) for r in feats.collect()}
    oracle = duckdb.sql(
        f"SELECT doc_id, {TX.quality_sql()}, {TX.fingerprint_sql()} AS fp FROM pdf"
    ).fetchall()
    assert len(oracle) == len(got)
    for r in oracle:
        assert got[r[0]] == tuple(r[1:]), f"doc {r[0]}"


def test_lang_id_matches_duckdb(spark):
    sdf, pdf = _docs_with_edges(spark)
    got = {r["doc_id"]: r["pred_lang"] for r in TX.doc_features(sdf).collect()}
    parts, expr = TX.lang_id_sql()
    oracle = duckdb.sql(
        f"SELECT doc_id, {expr} AS pred FROM (SELECT doc_id, {', '.join(parts)} FROM pdf)"
    ).fetchall()
    assert dict(oracle) == got
    assert len(set(got.values())) > 1  # heuristic actually discriminates


def test_tokens_py_matches_tokens_col(spark):
    """The Arrow n-gram stage's tokenizer is tokens_col, token for token."""
    # U+000B is in Java's \s (not RE2's, so the DuckDB parity docs lack it)
    texts = EDGE_TEXTS + [None, "x\x0by", "  two  spaces  "] + list(
        pd.read_parquet(DOCS, columns=["text"])["text"][:50]
    )
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {r["i"]: r["t"] for r in df.select("i", TX.tokens_col().alias("t")).collect()}
    for i, t in enumerate(texts):
        assert TX.tokens_py(t) == got[i], repr(t)


def test_exact_dedup_with_planted_duplicates(spark):
    base = spark.read.parquet(DOCS).limit(50)
    dup = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    spaced = base.limit(3).withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
        "text", F.concat(F.lit("  "), F.col("text"), F.lit("   "))
    )
    df = base.unionByName(dup).unionByName(spaced)
    out = DD.exact_dedup(df).collect()
    assert len(out) == 50  # all planted dups collapse
    by_id = {r["doc_id"]: r["dup_count"] for r in out}
    assert sum(1 for v in by_id.values() if v == 3) == 3  # base+dup+spaced for 3 docs
    assert all(k < 100000 for k in by_id)  # min-id representative wins


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = spark.read.parquet(DOCS).limit(40)
    # planted near-dup: same text with a few words swapped at the end
    nd = base.limit(6).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
    )
    df = base.select("doc_id", "text").unionByName(nd)
    pairs = DD.minhash_lsh_candidates(df).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(i, i + 100000) for i in [r["doc_id"] for r in base.limit(6).collect()]}
    assert planted <= got, f"missed {planted - got}"
    # verification stage: planted pairs have high word-jaccard
    ver = DD.word_jaccard_pairs(df, spark.createDataFrame(list(planted), "id_a long, id_b long"))
    assert all(r["jaccard"] > 0.8 for r in ver.collect())


def test_minhash_signature_estimates_jaccard():
    """The statistical contract behind the LSH: signature agreement rate is
    an unbiased estimate of char-shingle Jaccard. Pure numpy, no Spark."""
    rng = np.random.default_rng(9)
    vocab = [f"w{i:03d}" for i in range(400)]
    for overlap in (0.2, 0.5, 0.9):
        n_shared = int(60 * overlap)
        shared = list(rng.choice(vocab, size=n_shared, replace=False))
        rest = [w for w in vocab if w not in shared]
        a_toks = shared + rest[: 60 - n_shared]
        b_toks = shared + rest[60 - n_shared : 2 * (60 - n_shared)]
        a_txt, b_txt = " ".join(sorted(a_toks)), " ".join(sorted(b_toks))

        def shingles(t):
            b = t.lower().encode()
            return {b[i : i + 5] for i in range(len(b) - 4)}

        true_j = len(shingles(a_txt) & shingles(b_txt)) / len(
            shingles(a_txt) | shingles(b_txt)
        )
        sig = DD.minhash_signature(pd.Series([a_txt, b_txt]), n_hashes=256)
        est = (sig[0] == sig[1]).mean()
        assert abs(est - true_j) < 0.12, (overlap, true_j, est)


def test_simhash_hamming_zero_for_identical(spark):
    base = spark.read.parquet(DOCS).limit(20).select("doc_id", "text")
    clone = base.withColumn("doc_id", F.col("doc_id") + 500)
    df = base.unionByName(clone)
    pairs = DD.simhash_near_dups(df, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    exp = {(r["doc_id"], r["doc_id"] + 500) for r in base.collect()}
    assert exp <= got


def test_simhash_matches_numpy_reference(spark):
    """Independent numpy recomputation of dedup.simhash_col, sharing only
    the xxhash64 token hashes (fetched from Spark)."""
    df = spark.read.parquet(DOCS).limit(40)
    toks = df.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), "\\s+").alias("toks")
    )
    hashed = toks.select(
        "doc_id", F.transform("toks", lambda t: F.xxhash64(t)).alias("hs")
    ).collect()
    got = {r["doc_id"]: r["simhash"] for r in df.select("doc_id", DD.simhash_col().alias("simhash")).collect()}
    for r in hashed:
        hs = np.array(r["hs"], dtype=np.int64).astype(np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(np.int64)
        counts = np.where(bits == 1, 1, -1).sum(axis=0)
        val = np.uint64(0)
        for i in range(64):
            if counts[i] > 0:
                val |= np.uint64(1) << np.uint64(i)
        assert got[r["doc_id"]] == np.int64(val)


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(EMB)
    pdf = pd.read_parquet(EMB)
    queries = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = SIM.cosine_topk_bruteforce(emb, queries, 5).toPandas()
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    for qid in range(3):
        cos = (m @ m[qid]) / (norms * norms[qid])
        order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))[:5]
        exp = pdf["vec_id"].to_numpy()[order].tolist()
        mine = got[got["query_id"] == qid].sort_values("rank")["neighbor_id"].tolist()
        assert mine == exp


def test_phash_near_dups_on_fixture_images(spark):
    from pgsql2osm_spark.sources import fixtures as FX

    images = FX.images_df(spark, 40)
    # plant an exact duplicate image row with a new id
    dup = images.limit(1).withColumn("image_id", F.lit("img_dup"))
    out = DD.phash_near_dups(images.unionByName(dup), max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert ("img000000000000", "img_dup") in got


def test_ivf_topk_recall_and_self_match(spark):
    emb = spark.read.parquet(EMB)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk_bruteforce(emb, queries, 5).toPandas()
    approx = SIM.ivf_topk(spark, emb, queries, 5, dim=64, n_centroids=16, n_probe=6).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"recall {recall}"
    self_hits = {(r.query_id, r.neighbor_id) for r in approx.itertuples() if r.rank == 1}
    assert self_hits == {(q, q) for q in range(8)}  # own list always probed


def test_ivf_trained_codebook_recall_and_determinism(spark):
    """Sampled-k-means codebook: deterministic across partitionings, and
    recall at equal n_probe is at least as good as the random codebook."""
    emb = spark.read.parquet(EMB)
    cb1 = SIM.train_codebook(emb, dim=64, n_centroids=16, sample_max=500, iters=4)
    cb2 = SIM.train_codebook(emb.repartition(13), dim=64, n_centroids=16,
                             sample_max=500, iters=4)
    assert np.array_equal(cb1, cb2)  # hash-ranked sample, not partition order
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk_bruteforce(emb, queries, 5).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}

    def recall(codebook):
        a = SIM.ivf_topk(spark, emb, queries, 5, dim=64, n_centroids=16,
                         n_probe=4, codebook=codebook).toPandas()
        s = {(r.query_id, r.neighbor_id) for r in a.itertuples()}
        return len(e & s) / len(e)

    r_trained = recall(cb1)
    r_random = recall(None)
    assert r_trained >= 0.5
    assert r_trained >= r_random - 0.05, (r_trained, r_random)


def test_embedding_near_dups_banded_recall(spark):
    """Planted near-dups (cosine >= 0.98) are found through the banded
    signature join; pairs whose signatures differ in <= max_hamming planes
    are GUARANTEED candidates (pigeonhole over max_hamming+1 bands) — the
    r1 single-bucket join missed any pair differing in one bit."""
    rng = np.random.default_rng(11)
    dim = 64
    base = rng.standard_normal((40, dim))
    # 10 planted near-dup partners: tiny perturbation keeps cosine >= 0.98
    planted = base[:10] + 0.05 * rng.standard_normal((10, dim))
    rows = [(i, base[i].astype(np.float32).tolist(), "x") for i in range(40)]
    rows += [(1000 + i, planted[i].astype(np.float32).tolist(), "x") for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    got = {(r["id_a"], r["id_b"]) for r in
           SIM.embedding_near_dups(df, threshold=0.98, dim=dim).collect()}
    a = base[:10] / np.linalg.norm(base[:10], axis=1, keepdims=True)
    b = planted / np.linalg.norm(planted, axis=1, keepdims=True)
    cos = (a * b).sum(axis=1)
    # the test itself proves the planted pairs qualify
    assert (cos >= 0.98).all()
    # hamming-0 pairs (here: near-identical directions rarely flip a plane;
    # assert against the signature ground truth, the scheme's guarantee)
    planes = SIM._hyperplanes(dim, 32, 42)
    sig_a = ((base[:10] @ planes.T) > 0)
    sig_b = ((planted @ planes.T) > 0)
    ham = (sig_a != sig_b).sum(axis=1)
    for i in range(10):
        if ham[i] <= 2:  # within the banded radius -> MUST be found
            assert (i, 1000 + i) in got, f"missed planted pair {i} (hamming {ham[i]})"
    assert sum((i, 1000 + i) in got for i in range(10)) >= 8  # recall floor
    # no false positives below threshold
    emb = {i: base[i] for i in range(40)} | {1000 + i: planted[i] for i in range(10)}
    for ia, ib in got:
        va, vb = emb[ia], emb[ib]
        c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert c >= 0.98 - 1e-9


def test_banded_hamming_pairs_narrow_signature(spark):
    """total_bits-aware banding: a 14-bit signature banded over its OWN 14
    bits keeps the pigeonhole guarantee without zero-bit collide-all bands."""
    rows = [("a", 0b10101010101010), ("b", 0b10101010101011),  # 1 bit
            ("c", 0b10101010100110), ("d", 0b01010101010101)]  # 2 bits, 14 bits
    df = spark.createDataFrame(rows, "image_id string, sig long")
    got = {(r["id_a"], r["id_b"]) for r in
           DD._banded_hamming_pairs(df, "sig", "image_id", 2, total_bits=14).collect()}
    assert ("a", "b") in got and ("a", "c") in got
    assert ("a", "d") not in got  # far pair excluded by the exact filter


def test_banded_near_dup_complete_recall(spark):
    """Pairs whose differing bits hit ANY band (incl. the top prefix) are
    found — the single-prefix bucketing bug regression."""
    base = int(np.int64(0x0123456789ABCDEF))
    rows = [("h0", base)]
    # flip bits in the TOP band (bit 60), middle, and bottom
    for i, bit in enumerate([60, 61, 33, 2]):
        rows.append((f"h{i+1}", int(np.int64(np.uint64(base) ^ (np.uint64(1) << np.uint64(bit))))))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r["id_a"], r["id_b"]) for r in DD.phash_near_dups(df, max_hamming=2).collect()}
    for i in range(1, 5):
        assert ("h0", f"h{i}") in got, f"missed pair h0-h{i}"


def test_banded_hamming_degenerate_bucket_cap(spark, monkeypatch):
    """A 5000-row identical-hash flood (boilerplate collapse) is shed by
    the MAX_BUCKET cap BEFORE the band self-join — bounded candidates
    instead of O(b^2) pairs — while a true near-dup pair outside the flood
    survives. Under the default cap a 20-row bucket still pairs in full."""
    n = 5000
    # planted pair: high bands nonzero so it does NOT share the flood's
    # all-zero upper bands (those buckets are oversized and shed)
    ph = (1 << 40) | (1 << 50)
    rows = [(i, 12345) for i in range(n)] + [(1000000, ph), (1000001, ph ^ 1)]
    df = spark.createDataFrame(rows, "doc_id long, h long")
    small = spark.createDataFrame([(i, 99) for i in range(20)], "doc_id long, h long")
    allp = DD._banded_hamming_pairs(small, "h", "doc_id", 2)
    assert allp.count() == 20 * 19 // 2  # hamming 0 all-pairs, under the cap
    monkeypatch.setattr(DD, "MAX_BUCKET", 100)
    got = {(r["id_a"], r["id_b"]) for r in DD._banded_hamming_pairs(df, "h", "doc_id", 2).collect()}
    assert got == {(1000000, 1000001)}


def test_simhash_near_dups_drops_empty_docs(spark):
    """Zero-token docs all simhash to 0 (a degenerate bucket in EVERY band);
    simhash_near_dups excludes them from pairing — empty-vs-empty
    duplicates belong to exact_dedup."""
    rows = [(1, ""), (2, "   "), (3, "alpha beta gamma"), (4, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in DD.simhash_near_dups(df).collect()}
    assert got == {(3, 4)}


def test_embedding_near_dups_borderline_recall(spark):
    """Multi-table recall at the advertised operating point: planted pairs
    at cosine ~0.985 (borderline for threshold 0.98) are recovered at
    >= 0.9 recall by the default two independent plane sets — the single
    32-plane table's documented ~26% per-pair miss squared away
    (VERDICT r2 next #5). Deterministic: fixed seeds end to end."""
    rng = np.random.default_rng(77)
    dim, n_pairs = 64, 120
    base = rng.standard_normal((n_pairs, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # perturb along a random orthogonal direction to hit cosine ~0.985
    target = 0.985
    rows = []
    for i in range(n_pairs):
        d = rng.standard_normal(dim)
        d -= (d @ base[i]) * base[i]
        d /= np.linalg.norm(d)
        v2 = target * base[i] + np.sqrt(1 - target * target) * d
        rows.append((2 * i, base[i].tolist()))
        rows.append((2 * i + 1, v2.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_near_dups(df, threshold=0.98, dim=dim).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(n_pairs)}
    recall = len(got & planted) / n_pairs
    assert recall >= 0.9, f"borderline recall {recall:.3f} < 0.9"
