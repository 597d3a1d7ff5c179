"""Connected components vs python union-find; deterministic sampling."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pgsql2osm_spark.operators import graph as GR
from pgsql2osm_spark.operators import sampling as SP


def _union_find_components(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_random_graphs(spark):
    """Random graphs with self-loops, duplicate and reversed edges, and
    vertices whose only edge is a self-loop."""
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        n_edges = int(rng.integers(30, 120))
        edges = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(n_edges, 2))]
        picks = rng.integers(0, len(edges), size=10)
        edges += [edges[i] for i in picks[:5]] + [edges[i][::-1] for i in picks[5:]]
        edges += [(int(v), int(v)) for v in rng.integers(0, 90, size=8)]
        assert any(a == b for a, b in edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["v"]: r["component"] for r in GR.connected_components(df).collect()}
        exp = _union_find_components(edges)
        assert got == exp, f"seed {seed}"


def test_connected_components_long_chain(spark):
    """Diameter stress: a 40-node path needs many propagation rounds."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["v"]: r["component"] for r in GR.connected_components(df).collect()}
    assert got == {i: 0 for i in range(41)}


def test_dedup_clusters_representatives(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (3, 7), (5, 6)], "id_a long, id_b long")
    out = GR.dedup_clusters(docs, pairs).collect()
    comp = {r["doc_id"]: r["component"] for r in out}
    reps = {r["doc_id"] for r in out if r["is_representative"]}
    assert comp[0] == comp[3] == comp[7] == 0
    assert comp[5] == comp[6] == 5
    assert comp[1] == 1 and comp[9] == 9  # singletons
    assert reps == {0, 5, 1, 2, 4, 8, 9}


def test_hash_overflow_safe_and_duckdb_parity(spark):
    """ANSI-safe arithmetic hash: ids beyond 2^32 and negative ids hash
    without overflow, small positive ids keep the r2 golden bits, and the
    SQL form matches Spark bit-for-bit across the whole range."""
    import duckdb

    ids = [0, 1, 17, 4_294_967_295, 4_294_967_296, 4_000_000_000_000, -5, -4_000_000_000]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["h"] for r in
           df.select("doc_id", SP.hash_col("doc_id").alias("h")).collect()}
    # legacy bits preserved for ids in [0, 2^32)
    for i in (0, 1, 17, 4_294_967_295):
        assert got[i] == (i * 2654435761) % 4294967296
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    duck = {r[0]: r[1] for r in
            con.sql(f"SELECT doc_id, {SP.hash_sql('doc_id')} AS h FROM t").fetchall()}
    assert {k: int(v) for k, v in duck.items()} == got
    assert all(0 <= v < 4294967296 for v in got.values())


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    monkeypatch.setattr(GR, "MAX_ITER", 3)
    with pytest.raises(RuntimeError, match="did not converge"):
        GR.connected_components(df)


def test_empty_and_degenerate_inputs(spark):
    """Empty edge lists, empty pair sets, undersized strata, empty packing
    input — every operator returns a well-formed empty/partial result."""
    from pgsql2osm_spark.operators import packing as PK

    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert GR.connected_components(empty_edges).count() == 0
    docs = spark.createDataFrame([(i, "t") for i in range(4)], "doc_id long, text string")
    out = GR.dedup_clusters(docs, empty_edges).collect()
    assert all(r["component"] == r["doc_id"] and r["is_representative"] for r in out)
    tiny = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id long, lang string")
    got = SP.stratified_sample_n(tiny, "lang", "doc_id", 10).count()
    assert got == 3  # fewer rows than n: keep them all
    empty_docs = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert PK.chunk_assignments(empty_docs, "n_tokens", "doc_id", 128).count() == 0


def test_chunk_assignments_python_model(spark):
    """Packing coordinates equal a sequential python scan per stream, and
    the packed stream is gapless: each doc starts exactly where the
    previous one ended (concat-and-chunk semantics)."""
    from pgsql2osm_spark.operators import packing as PK

    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({"doc_id": np.arange(300), "n_tokens": rng.integers(1, 900, 300)})
    df = spark.createDataFrame(pdf).repartition(7)
    got = PK.chunk_assignments(df, "n_tokens", "doc_id", 256, n_streams=8).collect()
    by_id = {r["doc_id"]: r for r in got}
    streams = {}
    for i in range(300):
        s = (i * 2654435761 % 4294967296) % 8
        cum = streams.get(s, 0)
        r = by_id[i]
        assert r["stream"] == s
        assert r["chunk"] == cum // 256 and r["offset"] == cum % 256, i
        streams[s] = cum + int(pdf["n_tokens"][i])
    # deterministic under partitioning
    got2 = {(r["doc_id"], r["chunk"], r["offset"])
            for r in PK.chunk_assignments(
                spark.createDataFrame(pdf).repartition(3, "doc_id"),
                "n_tokens", "doc_id", 256, n_streams=8).collect()}
    assert got2 == {(r["doc_id"], r["chunk"], r["offset"]) for r in got}


def test_sampling_deterministic_across_partitionings(spark):
    pdf = pd.DataFrame({"doc_id": np.arange(1000), "lang": [f"l{i % 7}" for i in range(1000)]})
    a = spark.createDataFrame(pdf).repartition(2)
    b = spark.createDataFrame(pdf).repartition(17, "doc_id")
    sa = {(r["lang"], r["doc_id"]) for r in SP.stratified_sample_n(a, "lang", "doc_id", 4).collect()}
    sb = {(r["lang"], r["doc_id"]) for r in SP.stratified_sample_n(b, "lang", "doc_id", 4).collect()}
    assert sa == sb
    assert len(sa) == 28  # 7 strata x 4
    pa = {r["doc_id"] for r in SP.proportional_sample(a, "doc_id", 0.25).collect()}
    pb = {r["doc_id"] for r in SP.proportional_sample(b, "doc_id", 0.25).collect()}
    assert pa == pb
    assert 0.15 < len(pa) / 1000 < 0.35
    # narrow plan: the proportional filter adds no shuffle and no window
    base = spark.createDataFrame(pdf)
    plan = SP.proportional_sample(base, "doc_id", 0.25)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan, plan


def test_mixture_sample_deterministic_and_proportioned(spark):
    """Domain-mixture sampling: output is partitioning-invariant, dropped
    domains vanish, per-domain keeps approximate the integer targets, and
    an under-represented domain keeps everything (no oversampling)."""
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    w = {"a": 600, "b": 300, "rare": 100}  # 'c' dropped; 'rare' absent
    out = SP.mixture_sample(df, "lang", "doc_id", w, total_target=200)
    got = [(r["doc_id"], r["lang"]) for r in out.orderBy("doc_id").collect()]
    langs = {l for _, l in got}
    assert langs <= {"a", "b"}
    n_a = sum(1 for _, l in got if l == "a")
    n_b = sum(1 for _, l in got if l == "b")
    # targets: a=120 of 1000, b=60 of 1000 — hash thresholding is unbiased,
    # allow +-40% tolerance
    assert 70 <= n_a <= 170 and 35 <= n_b <= 85, (n_a, n_b)
    got2 = [
        (r["doc_id"], r["lang"])
        for r in SP.mixture_sample(df.repartition(17), "lang", "doc_id", w, 200)
        .orderBy("doc_id").collect()
    ]
    assert got == got2  # partitioning-invariant
    # under-represented domain: target above domain size -> keep all
    tiny = spark.createDataFrame([(i, "a") for i in range(10)], "doc_id long, lang string")
    kept = SP.mixture_sample(tiny, "lang", "doc_id", {"a": 1000}, total_target=500)
    assert kept.count() == 10


def test_domain_thresholds_planet_scale_exact(spark):
    """The keep-threshold arithmetic is exact AND overflow-safe at 10^12-row
    domain counts (ADVICE r3: the naive 2^32 * _nt intermediate threw under
    ANSI once a domain's target exceeded ~2.1e9 rows). Unit-tests the
    factored counts->thresholds stage directly so planet-scale _nd values
    need no materialized rows."""
    counts = spark.createDataFrame(
        [
            ("web", 5_000_000_000_000),   # nt=3.6e12 — old math overflowed
            ("code", 3_000_000_000),      # nt=4e11 > nd -> clamp, keep all
            ("wiki", 140_000_000_000_000),  # near the 2^47 documented bound
            ("tiny", 7),
        ],
        "lang string, _nd long",
    )
    w = {"web": 900, "code": 100, "wiki": 500, "tiny": 1}
    total = 4_000_000_000_000
    got = {
        r["lang"]: r["_thr"]
        for r in SP.domain_thresholds(counts, "lang", w, total).collect()
    }
    nd = {"web": 5_000_000_000_000, "code": 3_000_000_000,
          "wiki": 140_000_000_000_000, "tiny": 7}
    for lang, n in nd.items():
        nt = min(total * w[lang] // 1000, n)
        assert got[lang] == ((1 << 32) * nt) // n, lang
    assert got["code"] == 1 << 32  # clamped domain keeps everything


def test_chunk_windows_python_model(spark):
    """Overlapping chunk coordinates equal a python scan; empty docs yield
    nothing; boundaries (n == size, n == size+1) behave per the formula."""
    from pgsql2osm_spark.operators import packing as PK

    texts = {
        1: "w " * 10,          # 10 tokens < size
        2: "w " * 16,          # n == size -> exactly 1 chunk
        3: "w " * 17,          # n == size+1 -> 2 chunks
        4: "w " * 100,         # many chunks
        5: "",                 # empty -> no chunks
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    size, overlap, stride = 16, 4, 12
    got = {(r["doc_id"], r["chunk_idx"], r["start_tok"], r["end_tok"])
           for r in PK.chunk_windows(df, size=size, overlap=overlap).collect()}
    exp = set()
    for did, t in texts.items():
        n = len(t.split())
        if n == 0:
            continue
        nc = 1 if n <= size else 1 + -(-(n - size) // stride)
        for c in range(nc):
            exp.add((did, c, c * stride, min(c * stride + size, n)))
    assert got == exp
    # every token is covered and consecutive chunks overlap by `overlap`
    for did, t in texts.items():
        n = len(t.split())
        spans = sorted((s, e) for d, _, s, e in got if d == did)
        if n:
            assert spans[0][0] == 0 and spans[-1][1] == n
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 == e1 - overlap or e1 == n
