"""Closure-operator parity vs a pure-Python reference implementation that
encodes the reference engine's exact semantics (2-pass nesting, flags,
first-wins cascade — SURVEY.md §5.5)."""

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from pgsql2osm_spark.operators import closure as CL
from pgsql2osm_spark.sources import fixtures as FX


def _py_members(rows, parent_ids, kinds=("R", "W")):
    out = []
    for r in rows:
        if r["parent_id"] in parent_ids and r["parent_kind"] in kinds:
            out.extend(r["members"])
    return out


def test_parents_of_matches_python(spark):
    rows = FX.gen_memberships()
    mdf = FX.memberships_df(spark)
    seed = {5, 17, 100, 250, 399}
    seed_df = spark.createDataFrame([(i,) for i in seed], "id long")
    got = {r["id"] for r in CL.parents_of(mdf, seed_df, "N", parent_kind="W").collect()}
    exp = {
        r["parent_id"]
        for r in rows
        if r["parent_kind"] == "W"
        and any(m["type"] == "N" and m["ref"] in seed for m in r["members"])
    }
    assert got == exp


def test_rels_children_two_pass_stops_at_depth_two(spark):
    rows = FX.gen_memberships()
    mdf = FX.memberships_df(spark)
    # 9001 contains R->9005; 9005 contains a dangling way + its own members.
    seed = spark.createDataFrame([(9001,)], "id long")
    got = {(r["kind"], r["id"]) for r in CL.rels_children_closure(mdf, seed).collect()}
    # python oracle: exactly two passes
    frontier = {9001}
    exp = set()
    for _ in range(2):
        mem = _py_members(rows, frontier, kinds=("R",))
        exp |= {(m["type"], m["ref"]) for m in mem}
        frontier = {m["ref"] for m in mem if m["type"] == "R"}
    assert got == exp
    assert ("R", 9005) in got  # first-level nesting collected


def test_only_multipolygon_flag(spark):
    rows = FX.gen_memberships()
    mdf = FX.memberships_df(spark)
    all_rels = spark.createDataFrame([(i,) for i in range(9001, 9009)], "id long")
    got = {(r["kind"], r["id"]) for r in CL.rels_children_closure(mdf, all_rels, only_multipolygon=True).collect()}
    mp = {r["parent_id"] for r in rows if r["parent_kind"] == "R" and r["tags"].get("type") == "multipolygon"}
    exp = set()
    frontier = mp
    for _ in range(2):
        mem = [m for r in rows if r["parent_id"] in frontier and r["parent_kind"] == "R"
               and r["tags"].get("type") == "multipolygon" for m in r["members"]]
        exp |= {(m["type"], m["ref"]) for m in mem}
        frontier = {m["ref"] for m in mem if m["type"] == "R"}
    assert got == exp


def test_without_rels_excludes_rel_members(spark):
    mdf = FX.memberships_df(spark)
    seed = spark.createDataFrame([(9001,)], "id long")
    got = CL.rels_children_closure(mdf, seed, without_rels=True)
    assert got.where(F.col("kind") == "R").count() == 0


def test_without_rels_runs_single_pass(spark):
    """Reference parity: without_rels returns after the FIRST pass
    (pgsql2osm.py:362-365) — nested relations' W/N members are never
    collected. Fixture: multipolygon rel 9001 nests multipolygon rel 9005."""
    rows = FX.gen_memberships()
    mdf = FX.memberships_df(spark)
    seed = spark.createDataFrame([(9001,)], "id long")
    got = {(r["kind"], r["id"]) for r in
           CL.rels_children_closure(mdf, seed, without_rels=True).collect()}
    first_pass = {(m["type"], m["ref"]) for m in _py_members(rows, {9001}, kinds=("R",))
                  if m["type"] != "R"}
    assert got == first_pass
    # and specifically: 9005's own members must NOT appear
    nested = {(m["type"], m["ref"]) for m in _py_members(rows, {9005}, kinds=("R",))}
    assert not (got & (nested - first_pass))


def test_large_seed_set_is_not_broadcast(spark):
    """Scale guard: a seed set above the broadcast threshold must take a
    shuffle semi-join — unconditional F.broadcast of e.g. a 47M-node within
    set (reference README.md:99) would OOM at the 100 TB target."""
    mdf = FX.memberships_df(spark)
    # ~30M rows, est. ~240MB > autoBroadcastJoinThreshold (10MB)
    big_seed = spark.range(30_000_000).select(F.col("id"))
    out = CL.parents_of(mdf, big_seed, "N", parent_kind="W")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # the seed side must not be forced into a broadcast build
    assert "BroadcastExchange" not in plan, plan
    # seeds hinted small with Spark's own hint still broadcast (no shuffle of
    # the membership table)
    small = spark.createDataFrame([(i,) for i in range(1, 50)], "id long")
    out_small = CL.parents_of(mdf, F.broadcast(small), "N", parent_kind="W")
    plan_small = out_small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small, plan_small
    # and the result is identical either way
    a = {r["id"] for r in CL.parents_of(mdf, small, "N", parent_kind="W").collect()}
    b = {r["id"] for r in out_small.collect()}
    assert a == b


def test_priority_cascade_first_wins(spark):
    a = spark.createDataFrame([(1, "poly"), (2, "poly")], "id long, src string")
    b = spark.createDataFrame([(2, "line"), (3, "line")], "id long, src string")
    c = spark.createDataFrame([(1, "mid"), (3, "mid"), (4, "mid")], "id long, src string")
    got = {(r["id"], r["src"]) for r in CL.priority_cascade([(a, 0), (b, 1), (c, 2)]).collect()}
    assert got == {(1, "poly"), (2, "poly"), (3, "line"), (4, "mid")}


def test_subtract_ids(spark):
    a = spark.createDataFrame([(i,) for i in range(10)], "id long")
    b = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "id long")
    got = sorted(r["id"] for r in CL.subtract_ids(a, b).collect())
    assert got == [1, 3, 5, 7, 9]


def test_full_nwr_closure_runs_and_is_consistent(spark):
    mdf = FX.memberships_df(spark)
    seed_n = spark.createDataFrame([(i,) for i in range(1, 50)], "id long")
    seed_w = spark.createDataFrame([(501,), (502,)], "id long")
    seed_r = spark.createDataFrame([(9001,), (9002,)], "id long")
    out = CL.nwr_within_closure(mdf, seed_n, seed_w, seed_r)
    nodes = {r["id"] for r in out["N"].collect()}
    ways = {r["id"] for r in out["W"].collect()}
    rels = {r["id"] for r in out["R"].collect()}
    # way-node reconstruction invariant for the children-phase way set: the
    # reference expands way nodes BEFORE the parents phase, so ways added as
    # parents of within-nodes are excluded from the invariant
    # (pgsql2osm.py:418-426)
    rows = FX.gen_memberships()
    nodes_within = set(range(1, 50))
    rel_member_w = set()
    frontier = {9001, 9002}
    for _ in range(2):
        mem = _py_members(rows, frontier, kinds=("R",))
        rel_member_w |= {m["ref"] for m in mem if m["type"] == "W"}
        frontier = {m["ref"] for m in mem if m["type"] == "R"}
    pre_parent_ways = {501, 502} | rel_member_w
    for r in rows:
        if r["parent_kind"] == "W" and r["parent_id"] in pre_parent_ways:
            for m in r["members"]:
                if m["type"] == "N":
                    assert m["ref"] in nodes, f"way {r['parent_id']} missing node {m['ref']}"
    assert pre_parent_ways <= ways
    assert {9001, 9002} <= rels
    assert {501, 502} <= ways


def test_closure_property_random_graphs(spark):
    """Property: for random membership graphs, the Spark closure equals a
    pure-python model of the reference's exact 4-phase semantics."""
    import numpy as np

    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        rows = []
        rels = list(range(9000, 9000 + int(rng.integers(3, 8))))
        ways = list(range(500, 500 + int(rng.integers(5, 15))))
        for rel in rels:
            members = []
            for _ in range(int(rng.integers(1, 5))):
                t = rng.choice(["N", "W", "R"], p=[0.3, 0.5, 0.2])
                ref = (
                    int(rng.integers(1, 200)) if t == "N"
                    else int(rng.choice(ways)) if t == "W"
                    else int(rng.choice(rels))
                )
                members.append({"ref": ref, "role": "outer", "type": str(t)})
            rows.append({"parent_id": rel, "parent_kind": "R",
                         "members": members, "tags": {"type": "multipolygon"}})
        for way in ways:
            nodes = rng.integers(1, 200, size=int(rng.integers(2, 6)))
            rows.append({"parent_id": way, "parent_kind": "W",
                         "members": [{"ref": int(x), "role": "", "type": "N"} for x in nodes],
                         "tags": {}})
        data = [(r["parent_id"], r["parent_kind"],
                 [(m["ref"], m["role"], m["type"]) for m in r["members"]], r["tags"])
                for r in rows]
        mdf = spark.createDataFrame(data, FX.MEMBER_SCHEMA)

        seed_n = sorted(rng.choice(200, size=20, replace=False).tolist())
        seed_w = [ways[0]]
        seed_r = [rels[0]]

        got = CL.nwr_within_closure(
            mdf,
            spark.createDataFrame([(int(i),) for i in seed_n], "id long"),
            spark.createDataFrame([(int(i),) for i in seed_w], "id long"),
            spark.createDataFrame([(int(i),) for i in seed_r], "id long"),
        )
        got_sets = {k: {r["id"] for r in df.collect()} for k, df in got.items()}

        # python model of the reference's phase order
        def members_of(pid, kind):
            return [m for r in rows if r["parent_id"] == pid and r["parent_kind"] == kind
                    for m in r["members"]]

        nodes_within = set(seed_n)
        exp_w, exp_r, exp_n = set(seed_w), set(seed_r), set(seed_n)
        frontier = set(seed_r)
        rel_members = set()
        for _ in range(2):  # 2-pass nesting
            mem = [m for pid in frontier for m in members_of(pid, "R")]
            rel_members |= {(m["type"], m["ref"]) for m in mem}
            frontier = {m["ref"] for m in mem if m["type"] == "R"}
        exp_w |= {i for t, i in rel_members if t == "W"}
        exp_r |= {i for t, i in rel_members if t == "R"}
        exp_n |= {i for t, i in rel_members if t == "N"}
        # way-node expansion runs BEFORE the parents phase (ways_children_n
        # then nodes_parent_wr, pgsql2osm.py:418-426): parent ways join the
        # way set but contribute no child nodes
        exp_n |= {m["ref"] for w in exp_w for m in members_of(w, "W") if m["type"] == "N"}
        parent_w = {r["parent_id"] for r in rows if r["parent_kind"] == "W"
                    and any(m["type"] == "N" and m["ref"] in nodes_within for m in r["members"])}
        parent_r = {r["parent_id"] for r in rows if r["parent_kind"] == "R"
                    and any(m["type"] == "N" and m["ref"] in nodes_within for m in r["members"])}
        exp_w |= parent_w
        exp_r |= parent_r

        assert got_sets["N"] == exp_n, f"seed {seed} N"
        assert got_sets["W"] == exp_w, f"seed {seed} W"
        assert got_sets["R"] == exp_r, f"seed {seed} R"


# Runs q_export_pipeline twice in one session while a thread asks the
# driver JVM for a GC every 50 ms, and prints whether both runs gave the same
# rows. Between runs alone, a GC hit the race only now and then.
RERUN = textwrap.dedent("""
    import threading, time
    import __spark_entry__ as E
    from pgsql2osm_spark.session import get_spark
    spark = get_spark(app="closure_rerun", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    done = threading.Event()
    def collect_garbage():
        while not done.is_set():
            jvm.java.lang.System.gc()
            time.sleep(0.05)
    gc = threading.Thread(target=collect_garbage)
    gc.start()
    first = sorted(E.q_export_pipeline(spark, None).collect())
    second = sorted(E.q_export_pipeline(spark, None).collect())
    done.set()
    gc.join()
    print("SAME" if first == second and first else "DIFFERENT")
    spark.stop()
""")


def test_closure_rerun_under_gc_logs_no_accumulator_errors(tmp_path):
    """The closure's id-set checkpoints are eager. With lazy ones, the
    export pipeline under driver GCs logged a DAGScheduler ERROR trace
    "attempted to access non-existent accumulator" per task (75-125 over
    two runs)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    p = subprocess.run(
        [sys.executable, "-c", RERUN], capture_output=True, text=True, env=env,
        cwd=tmp_path, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert p.stdout.split()[-1] == "SAME", p.stdout
    assert "non-existent accumulator" not in p.stderr, p.stderr[-3000:]
