"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (or a
training-data-pipeline operator), run against /root/testdata parquet; each
``oracle_sql()`` entry is the exact-equivalent DuckDB SQL. Spatial queries
derive deterministic lon/lat from integer keys with pure arithmetic so the
SQL oracle reproduces the same doubles bit-for-bit; engine-only spatial paths
(multi-res cover, ring kNN, image decode) get golden-parquet oracles
generated by tools/make_golden.py --oracle, verified against independent
recomputations at generation time; closure_fixture/closure_bucketed get
real SQL over pinned fixture parquet. Every query is driver-checkable.

The registry is consolidated to EXACTLY 50 entries (r4): the driver's
correctness gate records rows for the first 50 queries only, so every
implemented operator keeps a driver-checked row. Consolidations (operators
unchanged, still pytest-covered): doc_tokens+doc_quality+doc_langid merged
into doc_features; rollup_counts folded into cube_counts (CUBE is a
superset of ROLLUP's grouping sets); the simhash signature query folded
into simhash_near_dups (pairs are a deterministic function of the
signatures, which tests/test_text_dedup_sim.py checks against numpy);
events_top_users dropped (ranking windows covered by window_rank);
regions_lookup moved to tests/test_tags_regions.py + the CLI path.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# self-locating: the engine package lives beside this file; the driver may
# import this module from any cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgsql2osm_spark.functions import cells as C
from pgsql2osm_spark.functions import geometry as G
from pgsql2osm_spark.plans.present import presentation_sort as _psort
from pgsql2osm_spark.session import local_frame

# ---------------------------------------------------------------------------
# Deterministic derived points (identical arithmetic in Spark and DuckDB).
# ---------------------------------------------------------------------------

_M1 = 2654435761
_M2 = 1566083941
_MOD = 4294967296


def _lon_col(key):
    return ((key * _M1) % _MOD) / float(_MOD) * 360.0 - 180.0


def _lat_col(key):
    return ((key * _M2 + 12345) % _MOD) / float(_MOD) * 170.0 - 85.0


def _lon_sql(key: str) -> str:
    return f"((({key} * {_M1}) % {_MOD}) / {_MOD}.0 * 360.0 - 180.0)"


def _lat_sql(key: str) -> str:
    return f"((({key} * {_M2} + 12345) % {_MOD}) / {_MOD}.0 * 170.0 - 85.0)"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    return c.select(
        k.alias("id"), _lon_col(k).alias("lon"), _lat_col(k).alias("lat")
    )


_POINTS_SQL = (
    f"SELECT c_custkey AS id, {_lon_sql('c_custkey')} AS lon, "
    f"{_lat_sql('c_custkey')} AS lat FROM customer"
)

# Convex hexagon for the SQL-checkable PIP query (CCW vertices).
_HEX = [
    (35.0, 20.0),
    (22.5, 41.65),
    (-2.5, 41.65),
    (-15.0, 20.0),
    (-2.5, -1.65),
    (22.5, -1.65),
]


# ---------------------------------------------------------------------------
# Query implementations.
# ---------------------------------------------------------------------------


def q_h3_encode(spark, sf_dir):
    """S1/F1: hierarchical cell encode at res 7 and 11 via the production
    shared-spread path (one Morton spread at res 26, shift-derived)."""
    p = _points(spark, sf_dir)
    out, names = C.with_cell_columns(p, "lon", "lat", [7, 11], names=["h3_7", "h3_11"])
    return out.select("id", *names)


def q_tile_assign(spark, sf_dir):
    """P2/J12: slippy z/x/y tile assignment at z=7 (JVM mercator math)."""
    p = _points(spark, sf_dir)
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), 7)
    return p.select("id", x.alias("tx"), y.alias("ty"))


def q_pip_convex(spark, sf_dir):
    """J1/X2: full two-stage PIP join against a convex hexagon boundary,
    over a real parquet scan (customer.parquet). tests/test_plan_lint.py
    asserts the scan carries no cell math."""
    from pgsql2osm_spark.operators import spatial_join as SJ
    import numpy as np

    p = _points(spark, sf_dir)
    region = [{"region_id": 1, "rings": [np.asarray(_HEX, dtype=np.float64)]}]
    out = SJ.pip_join(spark, p, region, keep_cols=["id"])
    return out.select("id").transform(_psort, "id")


def q_knn_planar(spark, sf_dir):
    """J11 (oracle-checkable flavor): exact k=3 NN by squared planar distance
    from 25 nation-derived query points to customer-derived points."""
    from pgsql2osm_spark.operators import knn as K

    p = _points(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    q = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("query_id"),
            _lon_col((F.col("n_nationkey") + 1000).cast("long")).alias("qlon"),
            _lat_col((F.col("n_nationkey") + 1000).cast("long")).alias("qlat"),
        )
    )
    j = p.crossJoin(q).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        (
            (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon"))
            + (F.col("lat") - F.col("qlat")) * (F.col("lat") - F.col("qlat"))
        ).alias("d2"),
    )
    return K.top_k(j, "query_id", F.col("d2").asc(), 3).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def q_semi_join_parents(spark, sf_dir):
    """J2/J3: reverse membership — orders containing any seed part."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seeds = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .where(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("id"))
    )
    edges = li.select(F.col("l_orderkey").alias("parent_id"), F.col("l_partkey").alias("ref"))
    return (
        edges.join(F.broadcast(seeds), edges["ref"] == seeds["id"], "left_semi")
        .select(F.col("parent_id").alias("id"))
        .distinct()
        .transform(_psort, "id")
    )


def q_forward_expand(spark, sf_dir):
    """J5/J6: forward membership — distinct parts of seed orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_orderkey") % 199 == 0)
        .select(F.col("l_partkey").alias("id"))
        .distinct()
        .transform(_psort, "id")
    )


def q_anti_join(spark, sf_dir):
    """J9/U2: customers with no orders (left-anti id subtraction)."""
    from pgsql2osm_spark.operators import closure as CL

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("id")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("id")
    )
    return CL.subtract_ids(c, o).transform(_psort, "id")


def q_priority_cascade(spark, sf_dir):
    """J9 cascade: nation ids sourced first-wins from customer > supplier >
    nation (the polygon > line > middle table-priority semantics)."""
    from pgsql2osm_spark.operators import closure as CL

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").cast("long").alias("id"), F.lit("customer").alias("src")
    ).distinct()
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_nationkey").cast("long").alias("id"), F.lit("supplier").alias("src")
    ).distinct()
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("id"), F.lit("nation").alias("src")
    ).distinct()
    return CL.priority_cascade([(c, 0), (s, 1), (n, 2)]).transform(_psort, "id")


def q_union_distinct(spark, sf_dir):
    """U1: distinct union of part ids from two scans."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pt = spark.read.parquet(f"{sf_dir}/part.parquet")
    a = li.where(F.col("l_quantity") >= 49.0).select(F.col("l_partkey").alias("id"))
    b = pt.where(F.col("p_size") >= 49).select(F.col("p_partkey").alias("id"))
    return a.unionByName(b).distinct().transform(_psort, "id")


def q_grouped_counts(spark, sf_dir):
    """A1/A2/A5: grouped aggregation with exact-representable measures."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.count_distinct("l_partkey").alias("n_parts"),
        )
        .transform(_psort, "l_returnflag", "l_linestatus")
    )


def q_topk_customers(spark, sf_dir):
    """O2/A3: arg-max style top-10 customers by order count."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.groupBy(F.col("o_custkey").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("id"))
        .limit(10)
    )


def q_window_rank(spark, sf_dir):
    """§2.5: ranking window — first 3 orders per customer by key."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").asc())
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select(F.col("o_custkey").alias("id"), F.col("o_orderkey").alias("okey"), "rank")
        .transform(_psort, "id", "rank")
    )


def q_cube_counts(spark, sf_dir):
    """A-family extension: CUBE over (returnflag, linestatus) — all grouping
    sets with exact measures (CUBE's sets are a superset of ROLLUP's, so
    this one query covers the grouping-sets surface; the former separate
    rollup_counts query was folded in here in r4)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .transform(_psort, "l_returnflag", "l_linestatus")
    )


def q_events_hourly(spark, sf_dir):
    """A4/streaming-analogue: tumbling 1h buckets per event type (batch
    form of the windowed agg; string buckets are TZ-stable)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.groupBy(
            F.col("event_type"),
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.count_distinct("user_id").alias("n_users"))
        .transform(_psort, "event_type", "hour_bucket")
    )


def q_events_sessions(spark, sf_dir):
    """Sessionization: gap > 30 min starts a new session; per-user session
    counts + max session length (lag + cumulative-sum window pattern)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        # parquet reads as TIMESTAMP_NTZ; wall-clock seconds via
        # timestampdiff from the NTZ epoch — session-timezone-FREE, so the
        # result matches DuckDB's naive epoch() whatever TZ the driver's
        # session uses
        "tsec",
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
    )
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("tsec").asc(), F.col("event_id").asc()
    )
    prev = F.lag("tsec").over(w_user)
    gapped = e.withColumn(
        "new_sess",
        F.when(prev.isNull() | (F.col("tsec") - prev > 1800), 1).otherwise(0).cast("long"),
    )
    sess = gapped.withColumn("sess_id", F.sum("new_sess").over(w_user))
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
        .transform(_psort, "user_id")
    )


def q_phash_near_dups(spark, sf_dir):
    """Image near-dup by perceptual hash on fixture images with a planted
    duplicate (prefix-bucket + exact hamming)."""
    from pgsql2osm_spark.operators import dedup as DD
    from pgsql2osm_spark.sources import fixtures as FX

    images = FX.images_df(spark, 128)
    dup = images.limit(4).withColumn("image_id", F.concat(F.lit("dup_"), F.col("image_id")))
    return DD.phash_near_dups(images.unionByName(dup), max_hamming=2).transform(_psort, "id_a", "id_b")


def q_asof_join(spark, sf_dir):
    """As-of join (custom operator Spark lacks): for each order, the user's
    latest event at-or-before the order date — events as the build side
    keyed by user, orders as probes keyed by custkey%150."""
    from pgsql2osm_spark.operators import temporal as TP

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id"),
        F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("tsec"),
        F.col("event_id"),
    )
    # dedup equal (user, tsec) build rows deterministically (max event_id)
    e = e.groupBy("user_id", "tsec").agg(F.max("event_id").alias("event_id"))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("pid"),
        (F.col("o_custkey") % 150).cast("long").alias("user_id"),
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        ).alias("tsec"),
    )
    out = TP.asof_join(o, e, key="user_id", time_col="tsec",
                       build_cols=["event_id"], probe_id="pid")
    # no-match encoded as -1: NULL/NaN round-trips are hash-fragile across
    # engines; -1 is unambiguous (tsec and event_id are non-negative)
    return out.select(
        "pid",
        "user_id",
        F.coalesce("asof_ts", F.lit(-1)).alias("asof_ts"),
        F.coalesce("event_id", F.lit(-1)).alias("event_id"),
    ).transform(_psort, "pid")


def q_range_join(spark, sf_dir):
    """Range join (custom operator Spark lacks): order totalprice within
    part-derived [lo, hi) price bands — bucketed two-stage, exact BETWEEN."""
    from pgsql2osm_spark.operators import temporal as TP

    p = spark.read.parquet(f"{sf_dir}/part.parquet").where(F.col("p_partkey") % 53 == 0)
    intervals = p.select(
        F.col("p_partkey").alias("iv_id"),
        (F.col("p_retailprice") * 100.0).alias("lo"),
        (F.col("p_retailprice") * 100.0 + 5000.0).alias("hi"),
    )
    probe = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("pid"), F.col("o_totalprice").alias("value")
    )
    out = TP.range_join(probe, intervals, value_col="value", step=2500.0)
    return out.select("pid", "iv_id").transform(_psort, "pid", "iv_id")


def q_doc_features(spark, sf_dir):
    """Per-document text analysis in ONE projection: length/token/stopword/
    punctuation quality features, language ID, and the md5 fingerprint (all
    JVM — zero Python stages). Merged from the former doc_tokens +
    doc_quality + doc_langid queries in the r4 registry consolidation; each
    function keeps its own pytest coverage."""
    from pgsql2osm_spark.operators import text as TX

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = TX.doc_features(d)
    return feats.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "n_stopwords",
        "n_punct",
        "quality_ok",
        "pred_lang",
        TX.fingerprint_col().alias("fingerprint"),
    ).transform(_psort, "doc_id")


def q_lang_quality_agg(spark, sf_dir):
    from pgsql2osm_spark.operators import text as TX

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = TX.doc_features(d)
    return (
        feats.groupBy("lang", "quality_ok")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("total_tokens"))
        .transform(_psort, "lang", "quality_ok")
    )


def q_audio_features(spark, sf_dir):
    """Multimodal audio leg: fakepcm decode -> per-window RMS/ZCR/peak via
    one mapInPandas stage (numpy-parity tested in tests/test_audio.py;
    golden-pinned oracle — binary decode is not SQL-expressible)."""
    import numpy as np

    from pgsql2osm_spark.operators import audio as AU

    rng = np.random.default_rng(7)
    rows = []
    for i in range(32):
        n = int(rng.integers(3000, 12000))
        s = (rng.standard_normal(n) * 4000).astype(np.int16)
        rows.append((f"a{i:03d}", AU.pack_fakepcm(s), 16000, n, "fakepcm"))
    df = local_frame(
        spark, rows, "audio_id string, bytes binary, sr int, n_samples int, fmt string"
    )
    return AU.audio_features(df, window=1024).transform(_psort, "audio_id", "win")


def q_pipeline_funnel(spark, sf_dir):
    """The FULL curation funnel as one composed query (VERDICT r3 #7):
    raw -> lang-ID -> quality -> exact-dedup -> decontaminate ->
    repetition -> PII-clean -> domain-mixture -> chunking, reporting
    per-stage survivor counts (stage 9's unit is RAG chunk windows, size
    48 / overlap 8, over the final survivors).

    The composition shape IS the scale shape: every per-document flag is a
    projected column on a SINGLE lineage (no self-joins, each stage one
    pass); the only side inputs are the tiny contaminated id set
    (broadcast left join) and the per-domain mixture thresholds (small
    count agg over stage-7 survivors, computed off a localCheckpoint of
    the flags so the corpus scan runs once, then broadcast back; under AQE
    that checkpoint runs the shuffle stages below it when the flags are
    built, so building this query runs jobs). The one wide shuffle is the
    exact-dedup fingerprint window — the same shuffle exact_dedup itself
    needs. Stage counts fold into ONE aggregate
    unpivoted by map-explode (the previous 4-stage funnel re-executed the
    agg subtree per UNION branch).

    r5: the composition lives in the library (curation.funnel_flags /
    funnel_counts) so the CLI --curate subcommand drives the SAME code."""
    from pgsql2osm_spark.operators import curation as CU

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    flags = CU.funnel_flags(
        d, benchmark=d.where(F.col("doc_id") < 5), mix_weights=_MIX_WEIGHTS,
        total_target=60,
        # benchmark is 5 docs by construction: vouch broadcastable, skip
        # the eager gram-count dispatch probe (one fewer job)
        contam_max_broadcast_grams=None,
    )
    return CU.funnel_counts(flags, size=48, overlap=8)


def q_doc_top_terms(spark, sf_dir):
    """Text: per-document top-3 TF-IDF terms (explode -> tf -> df -> ranked
    window); ints/strings out, float score only orders."""
    from pgsql2osm_spark.operators import text as TX

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return TX.doc_top_terms(d, k=3).transform(_psort, "doc_id", "rank")


def q_chunk_windows(spark, sf_dir):
    """Curation: RAG-style overlapping token-window chunk coordinates
    (size 48, overlap 8) — narrow integer explode, zero shuffle."""
    from pgsql2osm_spark.operators import packing as PK

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    return PK.chunk_windows(d, size=48, overlap=8).transform(_psort, "doc_id", "chunk_idx")


def q_seq_packing(spark, sf_dir):
    """Sequence packing: every document's (stream, chunk, offset) in the
    GPT-style concatenate-and-chunk packed corpus (max_len 512, 64 hash
    streams) — one window shuffle, integer-exact SQL oracle."""
    from pgsql2osm_spark.operators import packing as PK
    from pgsql2osm_spark.operators import text as TX

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(TX.tokens_col()).cast("long").alias("n_tokens")
    )
    out = PK.chunk_assignments(d, "n_tokens", "doc_id", 512)
    return out.select("doc_id", "stream", "chunk", "offset").transform(_psort, "doc_id")


def q_doc_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components (iterative min-label
    propagation, operators/graph.py) over a deterministic same-lang edge
    chain — the pair->group collapse every dedup pipeline ends with. The
    DuckDB oracle is a recursive CTE computing min-reachable per vertex."""
    from pgsql2osm_spark.operators import graph as GR

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lb"))
    edges = a.join(
        b, (F.col("id_b") == F.col("id_a") + 13) & (F.col("la") == F.col("lb"))
    ).select("id_a", "id_b")
    return GR.connected_components(edges).transform(_psort, "v")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling: 5 docs per lang by arithmetic
    hash rank (operators/sampling.py) — reproducible across partitionings,
    unlike df.sample()."""
    from pgsql2osm_spark.operators import sampling as SP

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SP.stratified_sample_n(d, "lang", "doc_id", 5).select(
        "lang", "doc_id"
    ).transform(_psort, "lang", "doc_id")


def q_ngram_top20(spark, sf_dir):
    """Corpus top-20 bigrams with exact counts (vocabulary scan)."""
    from pgsql2osm_spark.operators import text as TX

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.ngram_topk(d, 2, 20)


_MIX_WEIGHTS = {"en": 500, "de": 200, "fr": 150, "es": 150}  # zh dropped


def q_mixture_sample(spark, sf_dir):
    """Curation: deterministic domain-mixture sampling — downsample each
    language toward a 50/20/15/15 target mix (zh excluded), integer hash
    thresholds, fact table never shuffles (one tiny count agg + broadcast
    + narrow filter)."""
    from pgsql2osm_spark.operators import sampling as SP

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    out = SP.mixture_sample(d, "lang", "doc_id", _MIX_WEIGHTS, total_target=100)
    return out.select("doc_id", F.col("lang").alias("domain")).transform(_psort, "doc_id")


def q_decontaminate(spark, sf_dir):
    """Curation: benchmark decontamination — flag documents sharing any
    word 8-gram with a held-out set (here: the texts of doc_id < 5).
    Corpus never shuffles: broadcast benchmark grams + narrow explode."""
    from pgsql2osm_spark.operators import curation as CU

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = d.where(F.col("doc_id") < 5)
    # benchmark is 5 docs by construction: skip the count-probe job
    return CU.decontaminate(
        d, bench, n=8, max_broadcast_grams=None
    ).transform(_psort, "doc_id")


def q_repetition(spark, sf_dir):
    """Curation: Gopher-style per-doc duplicate 3-gram stats with planted
    repetitive docs (text doubled for doc_id < 8 under shifted ids)."""
    from pgsql2osm_spark.operators import curation as CU

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = d.where(F.col("doc_id") < 8).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
    )
    return CU.repetition_stats(d.unionByName(planted), n=3).transform(_psort, "doc_id")


def q_pii_scrub(spark, sf_dir):
    """Curation: PII redaction (email/phone/IPv4, RE2-safe patterns shared
    with the DuckDB oracle) over documents with planted PII on every 10th
    doc; output = redaction counts + scrubbed-text md5."""
    from pgsql2osm_spark.operators import curation as CU

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    pii = " mail bob.smith@example.org or +41 79-555 0101 at 192.168.0.1"
    d = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(pii)))
        .otherwise(F.col("text")),
    )
    return CU.pii_scrub(d).transform(_psort, "doc_id")


def q_exact_dedup(spark, sf_dir):
    """Dedup: exact (hash-groupBy) over normalized text."""
    from pgsql2osm_spark.operators import dedup as DD

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DD.exact_dedup(d).select("fingerprint", "doc_id", "dup_count").transform(_psort, "doc_id")


def q_word_jaccard(spark, sf_dir):
    """Dedup verification: word-set Jaccard for deterministic pairs
    (doc i vs doc i+17, same-lang only)."""
    from pgsql2osm_spark.operators import dedup as DD

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lb"))
    pairs = a.join(b, (F.col("id_b") == F.col("id_a") + 17) & (F.col("la") == F.col("lb"))).select(
        "id_a", "id_b"
    )
    return DD.word_jaccard_pairs(d, pairs).transform(_psort, "id_a")


def q_cosine_topk(spark, sf_dir):
    """Similarity search: exact brute-force cosine top-5 for 5 query vectors."""
    from pgsql2osm_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk_bruteforce(emb, queries, 5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    ).transform(_psort, "query_id", "rank")


def q_ann_ivf(spark, sf_dir):
    """Similarity scale path: IVF inverted-list ANN with a TRAINED codebook
    (deterministic hash-ranked sample + spherical k-means on the driver,
    bounded — similarity.train_codebook), n_probe lists, exact re-rank.
    Recall-tested vs brute force in tests/test_text_dedup_sim.py; golden
    oracle verified at generation against a scalar-python IVF recompute
    with argmax-margin guards (make_golden._check_ann_ivf)."""
    from pgsql2osm_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = SIM.train_codebook(emb, dim=64, n_centroids=16, sample_max=2000, iters=4)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_topk(
        spark, emb, queries, 5, dim=64, n_centroids=16, n_probe=6, codebook=cb
    )
    return out.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_streaming_tiles(spark, sf_dir):
    """Structured Streaming path: bounded replay of the events-as-points
    stream through the watermarked tile aggregation (equals the batch agg —
    tests/test_streaming.py); golden-pinned oracle."""
    import tempfile

    import numpy as np
    import pandas as pd

    from pgsql2osm_spark.sources import fixtures as FX
    from pgsql2osm_spark.streaming import incremental as ST

    n = 4000
    lon, lat = FX.gen_points_slice(0, n)
    ts = pd.to_datetime("2026-01-01") + pd.to_timedelta(np.arange(n) % 900, unit="s")
    # tmpfs scratch when available: the replay's cost is checkpoint/state
    # file I/O, not compute
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="stream_q_", dir=shm)
    local_frame(
        spark, pd.DataFrame({"ts": ts, "lon": lon, "lat": lat})
    ).repartition(4).write.mode("overwrite").parquet(f"{work}/src")
    out = ST.run_bounded_replay(spark, f"{work}/src", f"{work}/ckpt", "q_stream_tiles", z=9)
    return out.select(
        F.col("window.start").cast("string").alias("w_start"), "z", "x", "y", "h3", "n"
    ).transform(_psort, "w_start", "x", "y")


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (LSH self-join + exact filter) with
    planted duplicate vectors."""
    from pgsql2osm_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # key predicate, not limit(): deterministic planted ids (see minhash_pairs)
    dup = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    out = SIM.embedding_near_dups(emb.unionByName(dup), threshold=0.999)
    return out.select("id_a", "id_b").transform(_psort, "id_a", "id_b")


def q_embedding_label_centroid_rank(spark, sf_dir):
    """Grouped vector agg: per-label sizes + extremes (JVM array math)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = F.element_at("embedding", 1).cast("double")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(first).alias("min_e0"),
            F.max(first).alias("max_e0"),
        )
        .transform(_psort, "label")
    )


# --- engine-only (golden-parquet / fixture-SQL oracles; see oracle_sql) ----


def q_pip_fixture_regions(spark, sf_dir):
    """Full spatial path on fixture images x nested fixture polygons
    (multi-res cover, holes, boundary refine) — golden-tested in
    tests/test_spatial_join.py; golden oracle verified vs an
    independent even-odd implementation."""
    import pandas as pd

    from pgsql2osm_spark.operators import spatial_join as SJ
    from pgsql2osm_spark.sources import fixtures as FX

    n = 20000
    lon, lat = FX.gen_points_slice(0, n)
    pts = local_frame(
        spark,
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat}),
    )
    out = SJ.pip_join(spark, pts, FX.gen_admin_polygons(12), keep_cols=["image_id"])
    return out.groupBy("region_id").agg(F.count(F.lit(1)).alias("n")).transform(_psort, "region_id")


def q_pip_partitioned_fixture(spark, sf_dir):
    """pip_join from a region table (the distributed cover build for region
    sets too large for the driver) on the fixture points — exact-equal to
    the region-list build per
    tests/test_spatial_join.py; golden oracle verified vs an
    independent even-odd implementation."""
    import pandas as pd

    from pgsql2osm_spark.operators import spatial_join as SJ
    from pgsql2osm_spark.sources import fixtures as FX

    n = 20000
    lon, lat = FX.gen_points_slice(0, n)
    pts = local_frame(
        spark,
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat}),
    )
    rdf = SJ.regions_to_df(spark, FX.gen_admin_polygons(12))
    out = SJ.pip_join(spark, pts, rdf, keep_cols=["image_id"])
    return out.groupBy("region_id").agg(F.count(F.lit(1)).alias("n")).transform(_psort, "region_id")


def q_knn_rings_fixture(spark, sf_dir):
    """Ring-expansion kNN (haversine) on fixture points — equals brute force
    by tests/test_knn.py; golden oracle verified vs an independent
    atan2-haversine brute force."""
    import numpy as np
    import pandas as pd

    from pgsql2osm_spark.operators import knn as K
    from pgsql2osm_spark.sources import fixtures as FX

    n = 5000
    lon, lat = FX.gen_points_slice(0, n)
    pts = local_frame(
        spark,
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat}),
    )
    rng = np.random.default_rng(5)
    queries = pd.DataFrame(
        {"query_id": np.arange(8), "lon": rng.uniform(-170, 170, 8), "lat": rng.uniform(-55, 65, 8)}
    )
    return K.knn_rings(spark, pts, queries, 5).select("query_id", "neighbor_id", "rank")


def q_image_decode_stats(spark, sf_dir):
    """Multimodal: Arrow-batch image decode -> tile stats (real from-
    scratch PNG and baseline-JPEG codecs, functions/imaging.py+jpeg.py).
    Golden verified at generation against second scalar decoders (PNG with
    CRC checks; JPEG with margin-asserted rounding) + scalar phash
    (make_golden._check_image_decode_stats)."""
    from pgsql2osm_spark.operators import tiling as TL
    from pgsql2osm_spark.sources import fixtures as FX

    images = FX.images_df(spark, 256)
    return TL.image_tile_stats(images, 12).select(
        "image_id", "z", "x", "y", "px_count", "phash"
    )


def q_video_frames(spark, sf_dir):
    """Multimodal video leg: fakevideo container demux via frame_sample
    (every 2nd frame), emitting per-frame length + crc32 (JVM F.crc32 ==
    zlib.crc32). Golden oracle verified against an independent python
    struct-walk of the same containers at generation time."""
    import numpy as np

    from pgsql2osm_spark.operators import tiling as TL
    from pgsql2osm_spark.sources import fixtures as FX

    imgs = FX.gen_images_pandas(24, with_pixels=True)
    rows = []
    for v in range(4):
        frames = [
            np.asarray(imgs["pixels"][6 * v + i]) for i in range(6)
        ]
        rows.append((f"vid{v:03d}", TL.pack_fakevideo(frames), "fakevideo"))
    df = local_frame(spark, rows, "media_id string, bytes binary, fmt string")
    out = TL.frame_sample(df, every_n=2)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame").cast("long").alias("n_bytes"),
        F.crc32("frame").alias("crc"),
    ).transform(_psort, "media_id", "frame_idx")


def q_minhash_pairs(spark, sf_dir):
    """Dedup: MinHash+LSH near-dup candidates over documents (pytest-verified
    against planted near-dups; golden-pinned oracle)."""
    from pgsql2osm_spark.operators import dedup as DD

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # key predicate, not limit(): planted ids must be deterministic for the
    # golden-parquet oracle (limit on a parquet scan has no ordering contract)
    dup = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    # 8 rows/band: the synthetic docs share a 20-word vocabulary, so loose
    # bands bucket half the corpus together; stricter bands keep candidate
    # volume proportional to true near-dups
    return DD.minhash_lsh_candidates(
        d.unionByName(dup), bands=8
    ).transform(_psort, "id_a", "id_b")


def q_simhash_near_dups(spark, sf_dir):
    """Dedup: SimHash near-dup PAIRS with complete recall at hamming<=3
    (banded multi-table candidates + exact filter) over documents with
    planted lightly-edited copies — the pair-level output the simhash value
    query feeds. Golden-pinned oracle (verified against an independent
    numpy hamming check at generation)."""
    from pgsql2osm_spark.operators import dedup as DD

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # light edit: appended token flips only a few simhash bits
    dup = d.where(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xq")).alias("text"),
    )
    return (
        DD.simhash_near_dups(d.unionByName(dup), max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .transform(_psort, "id_a", "id_b")
    )


def q_s2_encode(spark, sf_dir):
    """F1: s2-style cube-face cell encode (numpy pandas UDF; trig-based so
    no bit-exact SQL oracle — cross-checked by tests/test_cells.py)."""
    from pgsql2osm_spark.functions import udfs

    p = _points(spark, sf_dir)
    s2 = udfs.make_s2_udf(16)
    return p.select("id", s2(F.col("lon"), F.col("lat")).alias("s2_16")).transform(_psort, "id")


def q_export_pipeline(spark, sf_dir):
    """Full reference lifecycle on the fixture graph: spatial seed ->
    nwr closure -> attribute cascade -> tag merge -> export rows with
    coordinate inner-join (SURVEY.md §3 phases within/children/parents/write;
    golden-tested in tests/test_attributes.py + test_closure.py)."""
    import pandas as pd

    from pgsql2osm_spark.operators import attributes as AT
    from pgsql2osm_spark.operators import closure as CL
    from pgsql2osm_spark.sources import fixtures as FX

    mdf = FX.memberships_df(spark)
    out = CL.nwr_within_closure(
        mdf,
        spark.range(1, 120),  # (id long) seed set — Range beats a 119-row parallelize
        local_frame(spark, [(503,), (507,)], "id long"),
        local_frame(spark, [(9001,), (9002,), (9006,)], "id long"),
    )
    # attribute sources derived from the membership fixture's tag maps
    parents = mdf.select(
        F.col("parent_kind").alias("kind"),
        F.col("parent_id").alias("id"),
        F.create_map(F.lit("fixture"), F.lit("1")).alias("col_tags"),
        F.col("tags"),
    )
    nodes = (
        spark.range(1, 400)
        .select(
            F.lit("N").alias("kind"),
            F.col("id"),
            F.create_map(F.lit("ele"), (F.col("id") % 100).cast("string")).alias("col_tags"),
            F.when(F.col("id") % 7 == 0, F.create_map(F.lit("amenity"), F.lit("bench")))
            .otherwise(F.lit(None))
            .cast("map<string,string>")
            .alias("tags"),
        )
    )
    lon, lat = FX.gen_points_slice(0, 400)
    coords = local_frame(
        spark, pd.DataFrame({"id": range(1, 401), "lon": lon, "lat": lat})
    )
    rows = AT.export_rows(out, [(parents, 0), (nodes, 1)], coordinates=coords)
    # W/R rows carry no coordinates; -999 instead of NULL because NULL/NaN
    # double round-trips are hash-fragile across engines (same as asof_join)
    return rows.select(
        "kind",
        "id",
        F.size("tags").alias("n_tags"),
        F.coalesce("lon", F.lit(-999.0)).alias("lon"),
        F.coalesce("lat", F.lit(-999.0)).alias("lat"),
    ).transform(_psort, "kind", "id")


def q_closure_bucketed(spark, sf_dir):
    """J7/J8 at the 10^12-row shape: the membership semi-join on CO-LOCATED
    hash-bucketed tables — both sides bucketed+sorted on the join key, so
    the join runs with ZERO Exchange (no shuffle of either side; each task
    reads matching bucket files — sources/tables.write_bucketed, the parquet
    analogue of Iceberg bucket() hidden partitioning). The merge hint pins
    the sort-merge strategy so the plan demonstrates the zero-shuffle path
    rather than broadcasting the small fixture side. Plan asserted
    Exchange-free on the join key in tests/test_tables.py."""
    from pgsql2osm_spark.sources import fixtures as FX
    from pgsql2osm_spark.sources import tables as TB

    mdf = FX.memberships_df(spark)
    edges = mdf.select(
        "parent_id", "parent_kind", F.explode("members").alias("mem")
    ).select(
        "parent_id", "parent_kind",
        F.col("mem.ref").alias("ref"), F.col("mem.type").alias("type"),
    )
    seeds = spark.range(1, 120).select(F.col("id").cast("long").alias("ref"))
    TB.write_bucketed(edges, "q_bt_member_edges", "ref", n_buckets=8, sort_col="ref")
    TB.write_bucketed(seeds, "q_bt_seed_nodes", "ref", n_buckets=8, sort_col="ref")
    e = spark.table("q_bt_member_edges").where(F.col("type") == "N")
    out = (
        e.hint("merge")
        .join(spark.table("q_bt_seed_nodes"), "ref", "left_semi")
        .select(F.col("parent_kind").alias("kind"), F.col("parent_id").alias("id"))
        .distinct()
    )
    return out.transform(_psort, "kind", "id")


def q_closure_fixture(spark, sf_dir):
    """Membership closure (2-pass nesting, parent lookup, way-node
    reconstruction) on the typed member-graph fixture."""
    from pgsql2osm_spark.operators import closure as CL
    from pgsql2osm_spark.sources import fixtures as FX

    mdf = FX.memberships_df(spark)
    out = CL.nwr_within_closure(
        mdf,
        spark.range(1, 80),  # (id long) seed set — Range beats a 79-row parallelize
        local_frame(spark, [(505,), (510,)], "id long"),
        local_frame(spark, [(9001,), (9004,)], "id long"),
    )
    parts = [df.select(F.lit(k).alias("kind"), "id") for k, df in out.items()]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.transform(_psort, "kind", "id")


# ---------------------------------------------------------------------------
# Contract functions.
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full headline dataflow at smoke scale — H3-encode
    (res 7-11, one shared Morton spread) + two-stage PIP join against 12
    nested admin polygons + z12 tile-assign + per-(region, tile) counts,
    i.e. perfbench's headline composition on 50k fixture points plus the
    sf0.001-derived customer points through the hexagon PIP (union keeps the
    sf-table path exercised). Stable schema (region_id, tx, ty, n)."""
    import numpy as np
    import pandas as pd

    from pgsql2osm_spark.operators import spatial_join as SJ
    from pgsql2osm_spark.sources import fixtures as FX

    n = 50_000
    lon, lat = FX.gen_points_slice(0, n)
    pts = local_frame(
        spark,
        pd.DataFrame({"image_id": [f"img{i:012d}" for i in range(n)], "lon": lon, "lat": lat}),
    )
    pts, h3_names = C.with_cell_columns(pts, "lon", "lat", [7, 8, 9, 10, 11])
    joined = SJ.pip_join(
        spark, pts, FX.gen_admin_polygons(12),
        keep_cols=["image_id", "lon", "lat"],
        cell_cols=dict(zip([7, 8, 9, 10, 11], h3_names)),
    )
    hex_pts = _points(spark, "/root/testdata/sf0.001")
    hex_joined = SJ.pip_join(
        spark,
        hex_pts.select(F.col("id").cast("string").alias("image_id"), "lon", "lat"),
        [{"region_id": 1000, "rings": [np.asarray(_HEX, dtype=np.float64)]}],
        keep_cols=["image_id", "lon", "lat"],
    )
    both = joined.unionByName(hex_joined)
    x, y = G.tile_expr(F.col("lon"), F.col("lat"), 12)
    return (
        both.withColumn("tx", x).withColumn("ty", y)
        .groupBy("region_id", "tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(_psort, "region_id", "tx", "ty")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "h3_encode": q_h3_encode,
        "tile_assign": q_tile_assign,
        "pip_convex": q_pip_convex,
        "knn_planar": q_knn_planar,
        "semi_join_parents": q_semi_join_parents,
        "forward_expand": q_forward_expand,
        "anti_join": q_anti_join,
        "priority_cascade": q_priority_cascade,
        "union_distinct": q_union_distinct,
        "grouped_counts": q_grouped_counts,
        "topk_customers": q_topk_customers,
        "window_rank": q_window_rank,
        "cube_counts": q_cube_counts,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "phash_near_dups": q_phash_near_dups,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "doc_features": q_doc_features,
        "lang_quality_agg": q_lang_quality_agg,
        "audio_features": q_audio_features,
        "pipeline_funnel": q_pipeline_funnel,
        "seq_packing": q_seq_packing,
        "chunk_windows": q_chunk_windows,
        "doc_top_terms": q_doc_top_terms,
        "doc_clusters": q_doc_clusters,
        "stratified_sample": q_stratified_sample,
        "ngram_top20": q_ngram_top20,
        "mixture_sample": q_mixture_sample,
        "decontaminate": q_decontaminate,
        "repetition": q_repetition,
        "pii_scrub": q_pii_scrub,
        "exact_dedup": q_exact_dedup,
        "word_jaccard": q_word_jaccard,
        "cosine_topk": q_cosine_topk,
        "ann_ivf": q_ann_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "streaming_tiles": q_streaming_tiles,
        "embedding_label_stats": q_embedding_label_centroid_rank,
        # engine-only paths (golden-parquet or fixture-SQL oracles)
        "pip_fixture_regions": q_pip_fixture_regions,
        "pip_partitioned_fixture": q_pip_partitioned_fixture,
        "knn_rings_fixture": q_knn_rings_fixture,
        "image_decode_stats": q_image_decode_stats,
        "video_frames": q_video_frames,
        "minhash_pairs": q_minhash_pairs,
        "simhash_near_dups": q_simhash_near_dups,
        "closure_fixture": q_closure_fixture,
        "closure_bucketed": q_closure_bucketed,
        "s2_encode": q_s2_encode,
        "export_pipeline": q_export_pipeline,
    }


# Queries whose oracle reads a golden parquet generated at sf0.01 from
# sf-dependent tables (tools/make_golden.py --oracle). The driver's
# correctness gate runs at sf0.01 (the generation sf); tools/oracle_check.py
# skips these at other sf dirs.
SF_PINNED_ORACLES = {"simhash_near_dups", "minhash_pairs",
                     "s2_encode", "ann_ivf", "embedding_near_dups"}


def _golden(path: str) -> str:
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
    return f"SELECT * FROM '{base}/{path}'"


def oracle_sql() -> dict[str, str]:
    from pgsql2osm_spark.operators import curation as CU
    from pgsql2osm_spark.operators import packing as PK
    from pgsql2osm_spark.operators import sampling as SP
    from pgsql2osm_spark.operators import text as TX

    SP_HASH = SP.hash_sql("doc_id")
    golden_base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")
    pts = _POINTS_SQL
    # half-plane conjunction for the CCW convex hexagon
    hp = []
    for i in range(len(_HEX)):
        x0, y0 = _HEX[i]
        x1, y1 = _HEX[(i + 1) % len(_HEX)]
        hp.append(f"(({x1} - {x0}) * (lat - {y0}) - (lon - {x0}) * ({y1} - {y0}) >= 0)")
    pip_pred = " AND ".join(hp)

    tx_sql, ty_sql = G.tile_sql("lon", "lat", 7)
    lang_parts, lang_expr = TX.lang_id_sql()
    _MIX_WCASE = " ".join(
        f"WHEN '{k}' THEN {int(v)}" for k, v in sorted(_MIX_WEIGHTS.items())
    )

    return {
        "h3_encode": (
            f"SELECT id, {C.cell_sql('lon', 'lat', 7)} AS h3_7, "
            f"{C.cell_sql('lon', 'lat', 11)} AS h3_11 FROM ({pts})"
        ),
        "tile_assign": f"SELECT id, {tx_sql} AS tx, {ty_sql} AS ty FROM ({pts})",
        "pip_convex": f"SELECT id FROM ({pts}) WHERE {pip_pred} ORDER BY id",
        "knn_planar": f"""
            WITH q AS (
              SELECT n_nationkey AS query_id,
                     {_lon_sql('CAST(n_nationkey + 1000 AS BIGINT)')} AS qlon,
                     {_lat_sql('CAST(n_nationkey + 1000 AS BIGINT)')} AS qlat
              FROM nation
            ), d AS (
              SELECT q.query_id, p.id AS neighbor_id,
                     (p.lon - q.qlon) * (p.lon - q.qlon)
                     + (p.lat - q.qlat) * (p.lat - q.qlat) AS d2
              FROM ({pts}) p CROSS JOIN q
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY d2 ASC, neighbor_id ASC) AS BIGINT) AS rank
            FROM d QUALIFY rank <= 3
        """,
        "semi_join_parents": """
            SELECT DISTINCT l_orderkey AS id FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_partkey % 97 = 0)
            ORDER BY id
        """,
        "forward_expand": """
            SELECT DISTINCT l_partkey AS id FROM lineitem
            WHERE l_orderkey % 199 = 0 ORDER BY id
        """,
        "anti_join": """
            SELECT c_custkey AS id FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY id
        """,
        "priority_cascade": """
            WITH u AS (
              SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS id, 'customer' AS src, 0 AS prio FROM customer
              UNION ALL
              SELECT DISTINCT CAST(s_nationkey AS BIGINT), 'supplier', 1 FROM supplier
              UNION ALL
              SELECT DISTINCT CAST(n_nationkey AS BIGINT), 'nation', 2 FROM nation
            )
            SELECT id, src FROM u
            QUALIFY row_number() OVER (PARTITION BY id ORDER BY prio ASC) = 1
            ORDER BY id
        """,
        "union_distinct": """
            SELECT DISTINCT id FROM (
              SELECT l_partkey AS id FROM lineitem WHERE l_quantity >= 49.0
              UNION ALL
              SELECT p_partkey FROM part WHERE p_size >= 49
            ) ORDER BY id
        """,
        "grouped_counts": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n,
                   sum(l_quantity) AS sum_qty,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price,
                   count(DISTINCT l_partkey) AS n_parts
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "topk_customers": """
            SELECT o_custkey AS id, count(*) AS n_orders FROM orders
            GROUP BY 1 ORDER BY n_orders DESC, id ASC LIMIT 10
        """,
        "window_rank": """
            SELECT o_custkey AS id, o_orderkey AS okey,
                   CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS BIGINT) AS rank
            FROM orders QUALIFY rank <= 3 ORDER BY id, rank
        """,
        "cube_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "events_hourly": """
            SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour_bucket,
                   count(*) AS n, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_sessions": """
            WITH g AS (
              SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
              FROM events
            ), l AS (
              SELECT user_id, event_id, tsec,
                     lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) AS prev
              FROM g
            ), s AS (
              SELECT user_id, event_id,
                     SUM(CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) AS sess_id
              FROM l
            ), per AS (
              SELECT user_id, sess_id, count(*) AS n_events FROM s GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
            FROM per GROUP BY 1 ORDER BY 1
        """,
        "asof_join": """
            WITH b AS (
              SELECT user_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                     max(event_id) AS event_id
              FROM events GROUP BY 1, 2
            ), p AS (
              SELECT o_orderkey AS pid,
                     CAST(o_custkey % 150 AS BIGINT) AS user_id,
                     CAST(floor(epoch(o_orderdate)) AS BIGINT) AS tsec
              FROM orders
            )
            SELECT p.pid, p.user_id,
                   coalesce(b.tsec, -1) AS asof_ts,
                   coalesce(b.event_id, -1) AS event_id
            FROM p ASOF LEFT JOIN b
              ON p.user_id = b.user_id AND p.tsec >= b.tsec
            ORDER BY pid
        """,
        "range_join": """
            SELECT o.o_orderkey AS pid, p.p_partkey AS iv_id
            FROM orders o
            JOIN (SELECT p_partkey, p_retailprice * 100.0 AS lo,
                         p_retailprice * 100.0 + 5000.0 AS hi
                  FROM part WHERE p_partkey % 53 = 0) p
              ON o.o_totalprice BETWEEN p.lo AND p.hi
            ORDER BY pid, iv_id
        """,
        "doc_features": (
            f"SELECT doc_id, {TX.quality_sql()}, {lang_expr} AS pred_lang, "
            f"{TX.fingerprint_sql()} AS fingerprint FROM "
            f"(SELECT doc_id, text, {', '.join(lang_parts)} FROM documents) "
            f"ORDER BY doc_id"
        ),
        "lang_quality_agg": f"""
            WITH f AS (
              SELECT lang,
                     (length(text) >= 32 AND length(text) <= 4096
                      AND {TX.token_count_sql()} >= 8
                      AND {TX.stopword_count_sql()} * 20 >= {TX.token_count_sql()}) AS quality_ok,
                     CAST({TX.token_count_sql()} AS BIGINT) AS n_tokens
              FROM documents
            )
            -- DuckDB sum(BIGINT) -> HUGEINT materializes as float64 in pandas;
            -- Spark returns int64 — cast so the driver's value hash matches
            SELECT lang, quality_ok, count(*) AS n,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens
            FROM f GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "audio_features": _golden("oracle/audio_features.parquet"),
        "seq_packing": (
            PK.chunk_assignments_sql(
                f"CAST({TX.token_count_sql()} AS BIGINT)", "doc_id", 512
            )
            + " ORDER BY doc_id"
        ),
        "pipeline_funnel": f"""
            WITH f AS (
              SELECT doc_id, lang,
                     (length(text) >= 32 AND length(text) <= 4096
                      AND {TX.token_count_sql()} >= 8
                      AND {TX.stopword_count_sql()} * 20 >= {TX.token_count_sql()}) AS quality_ok,
                     CAST({TX.token_count_sql()} AS BIGINT) AS n_tok,
                     {TX.fingerprint_sql()} AS fp,
                     {lang_expr} AS pred_lang,
                     {CU.pii_clean_sql('text')} AS pii_clean
              FROM (SELECT doc_id, text, lang, {', '.join(lang_parts)} FROM documents)
            ), toks AS (
              SELECT doc_id, {CU._toks_sql('text')} AS toks FROM documents
            ), rep AS (
              SELECT doc_id,
                     len(grams) > 0 AND
                       (CAST(len(grams) AS BIGINT) - CAST(len(list_distinct(grams)) AS BIGINT)) * 100
                       >= CAST(len(grams) AS BIGINT) * 10 AS repetitive
              FROM (SELECT doc_id, {CU._ngrams_sql(3)} AS grams FROM toks)
            ), g8 AS (
              SELECT doc_id, unnest({CU._ngrams_sql(8)}) AS gram FROM toks
            ), bgrams AS (
              SELECT DISTINCT gram FROM g8 WHERE doc_id < 5
            ), cont AS (
              SELECT DISTINCT g8.doc_id FROM g8 JOIN bgrams USING (gram)
            ), st AS (
              SELECT f.doc_id, f.lang, f.n_tok,
                     (f.pred_lang <> 'und') AS s2,
                     (s2 AND f.quality_ok) AS s3,
                     (s3 AND row_number() OVER (PARTITION BY fp ORDER BY f.doc_id ASC) = 1) AS s4,
                     (s4 AND cont.doc_id IS NULL) AS s5,
                     (s5 AND NOT rep.repetitive) AS s6,
                     (s6 AND f.pii_clean) AS s7
              FROM f JOIN rep USING (doc_id) LEFT JOIN cont USING (doc_id)
            ), c7 AS (
              SELECT lang AS _dom, CAST(count(*) AS BIGINT) AS _nd,
                     CASE lang {_MIX_WCASE} ELSE NULL END AS _w
              FROM st WHERE s7 GROUP BY lang
            ), nt AS (
              SELECT _dom, _nd,
                     least(CAST(60 AS BIGINT) * _w // 1000, _nd) AS _nt
              FROM c7 WHERE _w IS NOT NULL
            ), thr AS (
              SELECT _dom,
                     ((_nt * 65536) // _nd) * 65536
                     + (((_nt * 65536) % _nd) * 65536) // _nd AS _thr
              FROM nt
            ), m AS (
              SELECT st.*,
                     (s7 AND thr._thr IS NOT NULL
                      AND {SP.hash_sql('st.doc_id')} < thr._thr) AS s8
              FROM st LEFT JOIN thr ON st.lang = thr._dom
            ), fin AS (
              SELECT *, CASE WHEN s8 AND n_tok > 0 THEN
                       CAST(CASE WHEN n_tok <= 48 THEN 1
                            ELSE 1 + (n_tok - 48 + 39) // 40 END AS BIGINT)
                       ELSE 0 END AS nc
              FROM m
            ), a AS (
              SELECT CAST(count(*) AS BIGINT) AS n_raw,
                     CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_s2,
                     CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_s3,
                     CAST(sum(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_s4,
                     CAST(sum(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_s5,
                     CAST(sum(CASE WHEN s6 THEN 1 ELSE 0 END) AS BIGINT) AS n_s6,
                     CAST(sum(CASE WHEN s7 THEN 1 ELSE 0 END) AS BIGINT) AS n_s7,
                     CAST(sum(CASE WHEN s8 THEN 1 ELSE 0 END) AS BIGINT) AS n_s8,
                     CAST(sum(nc) AS BIGINT) AS n_chunks
              FROM fin
            )
            SELECT '1_raw' AS stage, n_raw AS n FROM a
            UNION ALL SELECT '2_lang', n_s2 FROM a
            UNION ALL SELECT '3_quality', n_s3 FROM a
            UNION ALL SELECT '4_dedup', n_s4 FROM a
            UNION ALL SELECT '5_decontam', n_s5 FROM a
            UNION ALL SELECT '6_repetition', n_s6 FROM a
            UNION ALL SELECT '7_pii', n_s7 FROM a
            UNION ALL SELECT '8_mixture', n_s8 FROM a
            UNION ALL SELECT '9_chunks', n_chunks FROM a
            ORDER BY stage
        """,
        "doc_clusters": """
            WITH RECURSIVE e AS (
              SELECT a.doc_id AS u, b.doc_id AS v
              FROM documents a JOIN documents b
                ON b.doc_id = a.doc_id + 13 AND a.lang = b.lang
            ), sym AS (
              SELECT u, v FROM e UNION SELECT v, u FROM e
            ), verts AS (
              SELECT DISTINCT u AS v FROM sym
            ), reach(src, dst) AS (
              SELECT v, v FROM verts
              UNION
              SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.dst
            )
            SELECT src AS v, min(dst) AS component
            FROM reach GROUP BY src ORDER BY v
        """,
        "stratified_sample": f"""
            SELECT lang, doc_id FROM (
              SELECT lang, doc_id,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {SP_HASH} ASC, doc_id ASC) AS rk
              FROM documents
            ) WHERE rk <= 5 ORDER BY lang, doc_id
        """,
        "ngram_top20": TX.ngram_topk_sql(2, 20),
        "chunk_windows": PK.chunk_windows_sql(size=48, overlap=8),
        "doc_top_terms": TX.doc_top_terms_sql(k=3),
        "mixture_sample": SP.mixture_sample_sql(
            "lang", "doc_id", _MIX_WEIGHTS, total_target=100
        ),
        "decontaminate": CU.decontaminate_sql("{id} < 5", n=8),
        "repetition": CU.repetition_sql(
            n=3,
            source="(SELECT doc_id, text FROM documents UNION ALL "
                   "SELECT doc_id + 1000000, text || ' ' || text "
                   "FROM documents WHERE doc_id < 8)",
        ),
        "pii_scrub": CU.pii_scrub_sql(
            "CASE WHEN doc_id % 10 = 0 THEN text || "
            "' mail bob.smith@example.org or +41 79-555 0101 at 192.168.0.1' "
            "ELSE text END"
        ),
        "exact_dedup": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
                   min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY 1 ORDER BY doc_id
        """,
        "word_jaccard": """
            WITH t AS (
              SELECT doc_id, lang,
                     list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / len(list_distinct(a.toks || b.toks)) AS jaccard
            FROM t a JOIN t b ON b.doc_id = a.doc_id + 17 AND a.lang = b.lang
            ORDER BY id_a
        """,
        "cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
            ), d AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))) AS cosine
              FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
            FROM d QUALIFY rank <= 5 ORDER BY query_id, rank
        """,
        "embedding_label_stats": """
            SELECT label, count(*) AS n,
                   min(CAST(embedding[1] AS DOUBLE)) AS min_e0,
                   max(CAST(embedding[1] AS DOUBLE)) AS max_e0
            FROM embeddings GROUP BY label ORDER BY label
        """,
        # --- engine-only queries: golden-parquet oracles --------------------
        # Generated by `python tools/make_golden.py --oracle` at sf0.01 (the
        # driver's correctness sf). ALL goldens are VERIFIED against
        # independent recomputations with deliberately different
        # formulations before pinning (division-form PIP, atan2 haversine,
        # scalar xxh64/minhash/s2/IVF, second CRC-checking PNG decoder +
        # scalar phash — see tools/make_golden.py); generation fails loudly
        # on any mismatch or float-margin violation.
        "pip_fixture_regions": _golden("oracle/pip_fixture_regions.parquet"),
        "pip_partitioned_fixture": _golden("oracle/pip_partitioned_fixture.parquet"),
        "knn_rings_fixture": _golden("oracle/knn_rings_fixture.parquet"),
        "phash_near_dups": _golden("oracle/phash_near_dups.parquet"),
        "embedding_near_dups": _golden("oracle/embedding_near_dups.parquet"),
        "image_decode_stats": _golden("oracle/image_decode_stats.parquet"),
        "video_frames": _golden("oracle/video_frames.parquet"),
        "simhash_near_dups": _golden("oracle/simhash_near_dups.parquet"),
        "minhash_pairs": _golden("oracle/minhash_pairs.parquet"),
        "s2_encode": _golden("oracle/s2_encode.parquet"),
        "ann_ivf": _golden("oracle/ann_ivf.parquet"),
        "streaming_tiles": _golden("oracle/streaming_tiles.parquet"),
        "export_pipeline": _golden("oracle/export_pipeline.parquet"),
        # --- engine-only queries: real-SQL oracles over pinned fixtures -----
        # the bucketed membership semi-join (engine side: zero-Exchange
        # co-located SMJ over hash-bucketed tables) — semantics are a plain
        # filter+IN over the exploded member edges
        "closure_bucketed": f"""
            SELECT DISTINCT parent_kind AS kind, parent_id AS id
            FROM '{golden_base}/fixtures/member_edges.parquet'
            WHERE type = 'N' AND ref >= 1 AND ref < 120
            ORDER BY kind, id
        """,
        # the reference's 4-phase id-closure (SURVEY.md §3) expressed as plain
        # SQL over the exploded membership edges — an INDEPENDENT declarative
        # model of nwr_within_closure's semantics: 2-pass rel nesting, parent
        # lookup from within-nodes, way-node expansion BEFORE parents
        "closure_fixture": f"""
            WITH edges AS (SELECT * FROM '{golden_base}/fixtures/member_edges.parquet'),
            seeds_n AS (SELECT CAST(range AS BIGINT) AS id FROM range(1, 80)),
            seeds_w AS (SELECT CAST(unnest([505, 510]) AS BIGINT) AS id),
            seeds_r AS (SELECT CAST(unnest([9001, 9004]) AS BIGINT) AS id),
            pass1 AS (
              SELECT DISTINCT type, ref FROM edges
              WHERE parent_kind = 'R' AND parent_id IN (SELECT id FROM seeds_r)
            ),
            pass2 AS (
              SELECT DISTINCT type, ref FROM edges
              WHERE parent_kind = 'R'
                AND parent_id IN (SELECT ref FROM pass1 WHERE type = 'R')
            ),
            relmem AS (SELECT type, ref FROM pass1 UNION SELECT type, ref FROM pass2),
            parent_w AS (
              SELECT DISTINCT parent_id AS id FROM edges
              WHERE parent_kind = 'W' AND type = 'N'
                AND ref IN (SELECT id FROM seeds_n)
            ),
            parent_r AS (
              SELECT DISTINCT parent_id AS id FROM edges
              WHERE parent_kind = 'R' AND type = 'N'
                AND ref IN (SELECT id FROM seeds_n)
            ),
            ways_pre AS (
              SELECT id FROM seeds_w UNION SELECT ref FROM relmem WHERE type = 'W'
            ),
            ways AS (SELECT id FROM ways_pre UNION SELECT id FROM parent_w),
            rels AS (
              SELECT id FROM seeds_r
              UNION SELECT ref FROM relmem WHERE type = 'R'
              UNION SELECT id FROM parent_r
            ),
            way_nodes AS (
              SELECT DISTINCT ref AS id FROM edges
              WHERE parent_kind = 'W' AND type = 'N'
                AND parent_id IN (SELECT id FROM ways_pre)
            ),
            nodes AS (
              SELECT id FROM seeds_n
              UNION SELECT ref FROM relmem WHERE type = 'N'
              UNION SELECT id FROM way_nodes
            )
            SELECT 'N' AS kind, id FROM nodes
            UNION ALL SELECT 'W' AS kind, id FROM ways
            UNION ALL SELECT 'R' AS kind, id FROM rels
            ORDER BY kind, id
        """,
    }
