"""Plan-level tests for the scale-path join strategies: the claims
("no shuffle", "same results") are asserted against the physical plan
and against the plain-join output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_finance_spark.catalog import table
from etl_finance_spark.operators.scale import salted_join, write_bucketed

from conftest import SF_SMOKE


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_skips_shuffle(spark):
    orders = table(spark, SF_SMOKE, "orders")
    lineitem = table(spark, SF_SMOKE, "lineitem")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                   "t_orders_b", ["o_orderkey"], 4)
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"), "t_lineitem_b",
        ["l_orderkey"], 4,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle at all
        # and the result matches the plain (shuffled) join
        assert joined.count() == orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_matches_plain_join(spark):
    # pathological skew: 90% of the big side on one key
    big = spark.createDataFrame(
        [(1 if i % 10 else i % 7, f"r{i}") for i in range(2000)], ["k", "v"]
    )
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], ["k", "name"]
    )
    plain = (
        big.join(small, "k")
        .groupBy("k", "name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_join(big, small, "k", salt=8)
        .groupBy("k", "name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_left_outer(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "orphan")], ["k", "v"])
    small = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "w"])
    got = sorted(
        (r.k, r.v, r.w) for r in salted_join(big, small, "k", how="left",
                                             salt=4).collect()
    )
    assert got == [(1, "a", "x"), (2, "b", "y"), (99, "orphan", None)]


def test_salted_join_rejects_outer_joins(spark):
    big = spark.createDataFrame([(1, "a")], ["k", "v"])
    small = spark.createDataFrame([(1, "x")], ["k", "w"])
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", how=how)


def test_salted_join_salt_is_content_derived(spark):
    """Salt must not depend on partition layout (VERDICT r1 #5): the same
    rows through a different partitioning produce the same salted join."""
    rows = [(i % 5, f"r{i}") for i in range(200)]
    small = spark.createDataFrame([(i, f"d{i}") for i in range(5)], ["k", "w"])
    a = spark.createDataFrame(rows, ["k", "v"]).repartition(2)
    b = spark.createDataFrame(rows, ["k", "v"]).repartition(7)
    got_a = sorted(map(tuple, salted_join(a, small, "k", salt=4).collect()))
    got_b = sorted(map(tuple, salted_join(b, small, "k", salt=4).collect()))
    assert got_a == got_b


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Directory partitioning is the first scale lever: a filter on the
    partition column must become a PartitionFilter (pruned at file
    listing — zero bytes read from other partitions), not a post-scan
    row filter."""
    from etl_finance_spark.sources.sinks import write_partitioned

    nation = table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_part")
    write_partitioned(nation, path, partition_by=["n_regionkey"])
    back = spark.read.parquet(path)
    picked = back.filter(F.col("n_regionkey") == 1)
    plan = _physical_plan(picked)
    # the predicate must land in PartitionFilters (file-listing prune),
    # leaving DataFilters empty — not a post-scan row filter
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "DataFilters: []" in scan
    pf = scan.split("PartitionFilters: [", 1)[1]
    assert "n_regionkey" in pf and "= 1)" in pf.split("]", 1)[0]
    want = nation.filter(F.col("n_regionkey") == 1).count()
    assert picked.count() == want and want > 0


def test_cut_lineage_adds_no_job_of_its_own(spark):
    """A lineage cut runs no job of its own: the frame materializes at
    the first job that reads it. What a cut does run is the shuffle
    stages above it — taking the cut executes the physical plan, and
    adaptive query execution (on in the session) finishes every
    exchange stage to plan the rest. So a cut keeps construction free
    of jobs only for a frame with no exchange; a one-groupBy frame
    runs its one shuffle stage when cut, and no cut flag avoids that."""
    from etl_finance_spark.lineage import cut_lineage

    sc = spark.sparkContext

    def cut_jobs(group, df):
        sc.setJobGroup(group, group)
        try:
            out = cut_lineage(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    ids = spark.range(64)
    n_map, flat = cut_jobs("cut_no_exchange", ids.select(
        (F.col("id") * 2).alias("x")))
    n_agg, agg = cut_jobs("cut_one_groupby", ids.groupBy(
        (F.col("id") % 4).alias("k")).count())
    assert (n_map, n_agg) == (0, 1)
    assert flat.count() == 64
    assert sorted(map(tuple, agg.collect())) == [(k, 16) for k in range(4)]


def test_cut_lineage_reliable_mode_equivalence(tmp_path):
    """lineage.cut_lineage is the deployment seam: with no checkpoint
    dir the iterative operators cut lineage executor-locally; the
    moment a session sets a fault-tolerant checkpoint dir (what a
    cluster submit does once at startup) the SAME code paths write
    reliable checkpoints instead. Runs in a subprocess because a
    checkpoint dir cannot be unset on a live SparkContext — the shared
    fixture session must not inherit one. Asserts both modes produce
    identical results for connected components, PageRank, and the
    IVF quantizer build (a cut read only at the first action), and
    that reliable mode really wrote checkpoint files."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import json, os, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from pyspark.sql import functions as F
from etl_finance_spark.llm.clusters import connected_components
from etl_finance_spark.llm.similarity import ivf_centroids
from etl_finance_spark.operators.graphs import pagerank

cc_edges = spark.createDataFrame(
    [(1, 2), (2, 3), (4, 5), (7, 7)], "d1 long, d2 long")
pr_edges = spark.createDataFrame(
    [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "src long, dst long")
vecs = spark.range(64).select(
    F.col("id").alias("vec_id"),
    F.transform(F.sequence(F.lit(0), F.lit(7)),
                lambda i: (F.col("id") * 8 + i).cast("double") / 512.0
                ).alias("vec"),
)

def run():
    cc = sorted(map(tuple, connected_components(cc_edges).collect()))
    pr = sorted((r["node"], round(r["pr"], 12))
                for r in pagerank(pr_edges, 0.85, 5).collect())
    # a cut first read by the result's own action (model packing)
    model = sorted(map(tuple, ivf_centroids(vecs).collect()))
    return cc, pr, model

local_cc, local_pr, local_m = run()
ckdir = %(ckdir)r
spark.sparkContext.setCheckpointDir(ckdir)
rel_cc, rel_pr, rel_m = run()
files = sum(len(fs) for _, _, fs in os.walk(ckdir))
print(json.dumps({"cc_equal": local_cc == rel_cc,
                  "pr_equal": local_pr == rel_pr,
                  "ivf_equal": local_m == rel_m,
                  "cc_groups": len({l for _, l in local_cc}),
                  "ck_files": files}))
""" % {"repo": repo, "ckdir": str(tmp_path / "ck")}
    out = subprocess.run([sys.executable, "-c", script], cwd=repo,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["cc_equal"] and got["pr_equal"] and got["ivf_equal"], got
    assert got["cc_groups"] == 3  # {1,2,3}, {4,5}, {7}
    assert got["ck_files"] > 0, "reliable mode wrote no checkpoint files"


def test_release_cuts_bounds_noneager_persists(tmp_path):
    """ADVICE r4: reliable cuts persist their input but can only
    unpersist AFTER the checkpoint materializes (which happens at the
    frame's first action, long after cut_lineage returned) — left
    alone, every pagerank call on a checkpoint-dir deployment pins
    iters+2 cached frames for the session lifetime, unbounded across
    queries, and every connected_components call one per pass. The
    contract (lineage.py): run harnesses call release_cuts() AFTER
    consuming each result — never at the next build, which in a
    build-all-then-run flow would strip a pending query's
    persist-before-checkpoint protection before its first action.
    Witness four properties: (a) building a second query does NOT
    drain the first's registry (no premature unpersist), (b) both
    pending queries still answer correctly after the other ran, (c) an
    explicit post-consumption release drains to zero, actually
    unpersists, and later runs stay correct, (d) connected components'
    pass cuts register too (its label_sum probes materialize them
    during the build), drain to zero, and its labels read back
    unchanged after the release. Subprocess for the same reason as the
    equivalence test above (checkpoint dir cannot be unset on the
    shared session)."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(%(ckdir)r)
from etl_finance_spark import lineage
from etl_finance_spark.llm.clusters import connected_components
from etl_finance_spark.operators.graphs import pagerank

rows = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
# two structurally DISTINCT input frames: Spark's cache manager keys
# persisted blocks by analyzed-plan equality, so a byte-identical
# second build would dedup against the first's persist (ours=False in
# cut_lineage) and register one entry fewer — correct sharing, but it
# would blur the no-premature-drain arithmetic this test pins
edges = spark.createDataFrame(rows, "src long, dst long")
edges_b = spark.createDataFrame(rows + [(1, 2)], "src long, dst long") \
    .distinct()

def snap(df):
    return sorted((r["node"], round(r["pr"], 12)) for r in df.collect())

# build-all-then-run: two queries pending at once
q1 = pagerank(edges, 0.85, 4)
after_build1 = len(lineage._PENDING_UNPERSIST)
q2 = pagerank(edges_b, 0.85, 4)
after_build2 = len(lineage._PENDING_UNPERSIST)
r1, r2 = snap(q1), snap(q2)
cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
released = lineage.release_cuts()
cached_after = len(spark.sparkContext._jsc.getPersistentRDDs())
# post-release correctness: a third run (fresh build) and a re-read of
# the released-but-checkpointed q1 both still answer
r3 = snap(pagerank(edges, 0.85, 4))
lineage.release_cuts()
r1_again = snap(q1)
lineage.release_cuts()
cc = connected_components(spark.createDataFrame(
    [(1, 2), (2, 3), (4, 5), (7, 7)], "d1 long, d2 long"))
cc_registered = len(lineage._PENDING_UNPERSIST)
cc_rows = sorted(map(tuple, cc.collect()))
cc_released = lineage.release_cuts()
print(json.dumps({
    "cc_registered": cc_registered, "cc_released": cc_released,
    "cc_pending": len(lineage._PENDING_UNPERSIST),
    "cc_rows": cc_rows, "cc_after": sorted(map(tuple, cc.collect())),
    "equal": r1 == r2 == r3 == r1_again,
    "after_build1": after_build1, "after_build2": after_build2,
    "released": released,
    "pending_after_release": len(lineage._PENDING_UNPERSIST),
    "cached_before": cached_before, "cached_after": cached_after}))
""" % {"repo": repo, "ckdir": str(tmp_path / "ck")}
    out = subprocess.run([sys.executable, "-c", script], cwd=repo,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["equal"], got
    assert got["after_build1"] > 0, got  # reliable cuts do register
    # building q2 must NOT drain q1's pending persists (accumulates
    # until an explicit post-consumption release)
    assert got["after_build2"] == 2 * got["after_build1"], got
    assert got["released"] == got["after_build2"], got
    assert got["pending_after_release"] == 0, got
    assert got["cached_after"] < got["cached_before"], got
    assert got["cc_registered"] > 0, got  # one per pass cut + the edges
    assert got["cc_released"] == got["cc_registered"], got
    assert got["cc_pending"] == 0, got
    want = [[1, 1], [2, 1], [3, 1], [4, 4], [5, 4], [7, 7]]
    assert got["cc_rows"] == got["cc_after"] == want, got


def test_aqe_splits_skewed_join_partition(spark):
    """session.py enables spark.sql.adaptive.skewJoin as the residual-
    skew backstop (the hazard salting can't cover arrives at runtime,
    in keys nobody salted). This is the executable witness that the
    claim is real, not a config comment: a 95%-hot-key join, with the
    skew size thresholds scaled down to fixture bytes, must come out
    of AQE with the hot partition SPLIT — SortMergeJoin(skew=true) in
    the finalized adaptive plan — and the split join's result must
    equal the plain arithmetic expectation."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("w"),
        )
        j = big.join(dim, "k").groupBy().count()
        # 190000 hot rows match dim key 0; ids 0,20,...,980 match 1:1
        assert j.collect()[0]["count"] == 190_000 + 50
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE did not split the hot partition:\n" + plan[:2000]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, tmp_path):
    """The other runtime join optimization the 100 TB path leans on:
    when a selectively-filtered dim joins a large fact, Spark's
    InjectRuntimeFilter builds a bloom filter from the dim keys and
    applies it inside the fact side BEFORE the join shuffle
    (might_contain in the plan) — rows that can't match never leave
    their scan task. On by default; its size thresholds (10 GB scan
    side) mean it stays dormant at fixture scale and arms itself at
    warehouse scale. This witness scales the thresholds down and
    asserts the filter really injects and the result stays exact."""
    from pyspark.sql import functions as F

    fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(500_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("p"),
    ).write.parquet(fact_p)
    spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 100).alias("cat")
    ).write.parquet(dim_p)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    old[bloom_key] = spark.conf.get(bloom_key, None)
    try:
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("cat") == 7)
        j = fact.join(dim, "k").groupBy().count()
        assert j.collect()[0]["count"] == 100  # ids 7,107,...,9907
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter did not inject:\n" + plan[:2000]
        )
        # the probe must guard the FACT side's join key (rows that
        # can't match never leave their scan task), and disabling the
        # injection must not change the answer — the filter is a pure
        # pruning move
        assert any("might_contain" in ln and "k#" in ln
                   for ln in plan.splitlines()), plan[:2000]
        spark.conf.set(bloom_key, "false")
        assert (fact.join(dim, "k").groupBy().count()
                .collect()[0]["count"]) == 100
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_queries_survive_small_heap():
    """Memory-pressure smoke: the shuffle-heaviest declared queries
    (dedup ladder, clusters fixpoint, pair fan-out, exact percentiles,
    ANN index build) complete at sf0.1 under a 1 GiB driver heap —
    an 8x cut from the bench environment. The point is the storage
    story: every cache in these paths is persist(MEMORY_AND_DISK) or a
    checkpoint, i.e. evictable/spillable, so shrinking the heap slows
    them down instead of killing them. Subprocess because heap size is
    fixed at JVM launch."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = r"""
import sys
sys.path.insert(0, %(repo)r)
from etl_finance_spark import registry
from etl_finance_spark.measure import run_noop
from etl_finance_spark.session import get_spark
spark = get_spark("lowmem", cpus=4, shuffle_partitions=16)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get("spark.driver.memory") == "1g"
specs = registry.collect()
for name in ("q_dedup_text", "q_percentiles", "q_dedup_clusters",
             "q_copurchase_pairs", "q_minhash_lsh", "q_ann_ivf_topk"):
    run_noop(specs[name].fn(spark, "/root/testdata/sf0.1"))
    print("OK", name, flush=True)
print("DONE")
""" % {"repo": repo}
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=repo, env=env,
                         capture_output=True, text=True, timeout=540)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "DONE" in out.stdout, out.stdout[-2000:]


def test_dynamic_partition_pruning_on_star_join(spark, tmp_path):
    """Dynamic partition pruning — the star-schema runtime prune the
    100 TB layout depends on: the fact is directory-partitioned by the
    join key, the dim filter is on a NON-key column, so the set of fact
    partitions to read is only known at runtime. Spark must inject a
    `dynamicpruning` subquery into the fact scan's PartitionFilters
    (reusing the dim's broadcast), so non-matching date partitions are
    pruned at file listing — never read, never shuffled. A static
    filter can't do this; without DPP the fact scan reads all
    partitions and throws rows away post-scan."""
    fact_p, dim_p = str(tmp_path / "fact"), str(tmp_path / "dim")
    spark.range(100_000).select(
        (F.col("id") % 50).alias("date_id"),
        (F.col("id") * 3).alias("sales"),
    ).write.partitionBy("date_id").parquet(fact_p)
    # dim: 50 dates, cat==3 selects exactly 5 of them (non-key filter)
    spark.range(50).select(
        F.col("id").alias("date_id"), (F.col("id") % 10).alias("cat")
    ).write.parquet(dim_p)
    fact = spark.read.parquet(fact_p)
    dim = spark.read.parquet(dim_p).filter(F.col("cat") == 3)
    j = fact.join(dim, "date_id").groupBy().agg(
        F.count("*").alias("n"), F.sum("sales").alias("s")
    )
    row = j.collect()[0]
    assert row["n"] == 10_000  # 5 of 50 partitions x 2000 rows
    plan = _physical_plan(j)
    scans = [l for l in plan.splitlines()
             if "PartitionFilters" in l and "date_id" in l]
    assert scans and "dynamicpruning" in scans[0], (
        "fact scan has no dynamicpruning PartitionFilter:\n" + plan[:2000]
    )


def _assert_conf_invariant(spark, confs, names, label, expect_before=None):
    """Shared scaffold for the deployment-knob invariance tests
    (ADVICE r12: one helper instead of per-test copies of the
    snapshot/flip/restore dance, so future axes are one-liners and the
    restore logic cannot drift). Snapshots every query in `names` under
    the session defaults, flips every conf in `confs`, re-evaluates, and
    restores the prior values in a finally. `expect_before` pins the
    session default for axes whose claim depends on it (aqe/ansi)."""
    from etl_finance_spark import registry

    specs = registry.collect()

    def snapshot(name):
        df = specs[name].fn(spark, SF_SMOKE)
        return sorted(map(str, df.collect()))

    baseline = {n: snapshot(n) for n in names}
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in (expect_before or {}).items():
        assert before[k] == v, f"session default for {k} is not {v!r}"
    # the flip loop sits INSIDE the try: if setting the Nth conf of a
    # multi-conf axis raises, the finally must still restore the N-1
    # already flipped — otherwise they leak into every later test on
    # the session-scoped fixture (ADVICE r13)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for n in names:
            assert snapshot(n) == baseline[n], f"{n} diverges {label}"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_results_do_not_depend_on_aqe(spark):
    """AQE is a performance feature, not a correctness crutch: the
    shuffle-heaviest shapes (salted candidate joins, two-phase skew
    distinct, the co-purchase rollup, iterative CC labels) must produce
    IDENTICAL results with adaptive execution disabled — a plan that is
    only right after AQE's runtime re-plan (e.g. relying on its skew
    split or coalescing for a dedup boundary) would break on any
    cluster that tunes AQE differently. (A full 214-query AQE-off
    differential ran green offline; this pins the sensitive subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.adaptive.enabled": "false"},
        ("q_skew_distinct", "q_copurchase_pairs", "q_dedup_clusters",
         "q_join_asof_events", "q_minhash_lsh"),
        "with AQE off",
        expect_before={"spark.sql.adaptive.enabled": "true"},
    )


def test_results_do_not_depend_on_ansi_mode(spark):
    """Same deployment-robustness claim for the SQL dialect knob: Spark
    4 defaults ansi=true but legacy clusters run ansi=false (silent-null
    casts, non-throwing arithmetic). The cast/parse-heaviest declared
    queries must answer identically under both — the repo's discipline
    (try_divide, try_cast, explicit formats) exists precisely so no
    result ever rides on the error-vs-null edge. (A full 214-query
    ansi-off differential ran green offline; this pins the subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.ansi.enabled": "false"},
        ("q_cast", "q_try_cast", "q_multi_format_ts", "q_unix_ts",
         "q_date_funcs", "q_nullif_coalesce"),
        "with ansi off",
        expect_before={"spark.sql.ansi.enabled": "true"},
    )


def test_results_do_not_depend_on_shuffle_partition_count(spark):
    """Deployment knob four: the shuffle partition count — and with it
    which rows co-reside in which task — must never show in the rows.
    The sensitive shapes are the ones with a partition-adjacent step:
    hash-salted joins, the two-phase skew distinct, sorted-array
    collection, iterative min-label propagation, content-hash
    sampling, and the hash-order-bounded top-k. (A full 214-query
    differential at cpus=7 / shuffle.partitions=5 — odd and
    non-divisible by any fixture cardinality — ran green offline; this
    pins the subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.shuffle.partitions": "5"},
        ("q_skew_distinct", "q_agg_collect_sorted", "q_dedup_clusters",
         "q_minhash_lsh", "q_split_deterministic", "q_topk"),
        "at 5 shuffle partitions",
    )


def test_results_do_not_depend_on_auto_broadcast(spark):
    """Deployment knob seven (r12): autoBroadcastJoinThreshold=-1 flips
    every non-hinted dim join from broadcast-hash to sort-merge or
    shuffle-hash — a cluster tuned for memory-tight executors runs
    exactly this way. Results must be identical under either join
    strategy, and the explicitly-hinted broadcast queries must be
    unaffected by the threshold (the hint overrides it). Sensitive
    shapes: the auto-broadcastable dim joins, the broadcast-agg mean
    imputation, the broadcast-eval-grams decontamination, and the
    range/as-of composites whose inner build side the planner chooses.
    (A full 220-query differential with the threshold at -1 ran green
    offline — CONFIG_MATRIX_r12.md; this pins the subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        ("q_join_inner", "q_join_broadcast", "q_join_range",
         "q_join_asof", "q_fillna_mean", "q_decontaminate"),
        "with auto-broadcast disabled",
    )


def test_results_do_not_depend_on_codegen(spark):
    """Deployment knob nine (r12, closing an old gap: this axis had
    full-width offline sweeps since r08 but no in-suite pin): with
    whole-stage codegen off, every expression evaluates on the
    interpreted path instead of generated Java — a cluster flips this
    to dodge a codegen bug or the 64KB method limit on very wide
    plans. Sensitive shapes: the expression-densest families (HOF
    array pipelines, string/math scalar batteries, conditional
    casework) and a window chain whose frame arithmetic all runs in
    generated code. (Full 220-query differentials with
    codegen.wholeStage=false ran green offline every sweep since
    CONFIG_MATRIX_r08; this pins the subset in-suite like every other
    axis.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.codegen.wholeStage": "false"},
        ("q_array_funcs", "q_str_funcs", "q_math_funcs",
         "q_case_when", "q_win_moving_avg"),
        "on the interpreted expression path",
    )


def test_results_do_not_depend_on_vectorized_reader(spark):
    """Deployment knob eight (r12): the parquet decode path. Clusters
    disable the vectorized reader as the standard workaround for
    nested-schema/encoding bugs, swapping every scan onto the
    row-based parquet-mr path — which decodes timestamps, decimals,
    and dictionary pages through entirely different code. Sensitive
    shapes: the raw scan itself, the nanos-timestamp events reads that
    catalog.table normalizes (the repo's one known physical-layout
    special case), epoch/multi-format timestamp parsing downstream of
    a scan, and a wide-scan aggregate. (A full 220-query differential
    with the reader off ran green offline — the `vecreader` axis of
    scripts/config_matrix.py, CONFIG_MATRIX_r12.md; this pins the
    subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.parquet.enableVectorizedReader": "false"},
        ("q_scan_parquet", "q_pct_change_hourly", "q_unix_ts",
         "q_multi_format_ts", "q_agg_groupby"),
        "on the row-based parquet reader",
    )


def test_results_do_not_depend_on_session_timezone(spark):
    """Deployment knob three: a cluster whose session default is not
    UTC must not change any timestamp-derived answer. catalog.table
    pins spark.sql.session.timeZone=UTC at read time (the events table
    is TIMESTAMP_NTZ microseconds; the date/hour truncations in the
    flagship and windows must be wall-clock-stable), so flipping the
    session default before building the timestamp-heaviest queries is
    observable only in the conf — never in the rows. (A full 214-query
    Asia/Tokyo differential ran green offline; this pins the subset.)"""
    names = ("q_pct_change_hourly", "q_time_range_scan", "q_unix_ts",
             "q_date_format", "q_stream_tumbling")
    from etl_finance_spark import registry

    specs = registry.collect()

    def snapshot(name):
        df = specs[name].fn(spark, SF_SMOKE)
        return sorted(map(str, df.collect()))

    baseline = {n: snapshot(n) for n in names}
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        for n in names:
            assert snapshot(n) == baseline[n], f"{n} diverges under Tokyo tz"
        # the read path re-pinned UTC — the claim, stated positively
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_task_retry_reruns_partition_without_changing_results():
    """Fault-recovery witness: a task that fails on its first attempt
    and is retried re-executes its partition from lineage and the job
    result is IDENTICAL to the uninjected run. This is the contract a
    1000-executor deployment leans on every hour (executor loss,
    speculative kills) — it holds because every operator here is
    deterministic per partition: content-derived keys, sorted
    collect_*, partition-invariant sampling. Local mode normally fails
    the job on the first task failure, so the subprocess session uses
    master local[4,2] (2 task attempts); the injected failure fires
    exactly once via TaskContext (partition 0, attempt 0) inside a
    mapInPandas stage feeding a shuffle + the frequent-items summary
    pipeline."""
    import os
    import subprocess
    import sys
    import tempfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sentinel = os.path.join(
        tempfile.mkdtemp(prefix="retry-wit-"), "sentinel"
    )
    script = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from etl_finance_spark.operators.heavyhitters import frequent_items

spark = (SparkSession.builder.master("local[4,2]").appName("retry-wit")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

base = spark.range(50_000).select(
    (F.col("id") %% 97).cast("string").alias("v")).repartition(4)

def flaky(batches):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        # sentinel proves the failure really fired (Python workers'
        # stdout never reaches the driver, so use the filesystem)
        with open(%(sentinel)r, "a") as fh:
            fh.write("fired\n")
        raise RuntimeError("injected first-attempt failure")
    for pdf in batches:
        yield pdf

flaked = base.mapInPandas(flaky, "v string")
want_counts = sorted(map(tuple, base.groupBy("v").count().collect()))
got_counts = sorted(map(tuple, flaked.groupBy("v").count().collect()))
assert got_counts == want_counts, "retry changed aggregation results"

want_fi = sorted(map(tuple, frequent_items(base, "v", k=30).collect()))
got_fi = sorted(map(tuple, frequent_items(flaked, "v", k=30).collect()))
assert got_fi == want_fi, "retry changed frequent-items summaries"
print("DONE")
""" % {"repo": repo, "sentinel": sentinel}
    out = subprocess.run([sys.executable, "-c", script], cwd=repo,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "DONE" in out.stdout, out.stdout[-2000:]
    # a missing sentinel means the injection never fired — that is the
    # vacuous-witness failure, not an unrelated traceback
    assert os.path.exists(sentinel), (
        "injected failure never fired — witness vacuous"
    )
    with open(sentinel) as fh:
        fired = fh.read().count("fired")
    import shutil
    shutil.rmtree(os.path.dirname(sentinel), ignore_errors=True)
    assert fired >= 1, "injected failure never fired — witness vacuous"


def test_results_do_not_depend_on_input_split_size(spark):
    """Deployment knob five: scan-task granularity. A cluster tunes
    spark.sql.files.maxPartitionBytes per workload, so which rows share
    a SCAN task (as opposed to a shuffle task — knob four) must never
    show in the rows. The sensitive shapes are the ones that touch
    partition identity or Arrow batch boundaries before their first
    shuffle: the spark_partition_id-keyed UDAF partial-agg, the
    mapInPandas multimodal decode, content-hash sampling, sorted-array
    collection, and the raw-ns pushdown scan. (A full 214-query
    differential at maxPartitionBytes=1m / openCostInBytes=0 ran green
    offline; this pins the subset.)"""
    _assert_conf_invariant(
        spark,
        {"spark.sql.files.maxPartitionBytes": "1m",
         "spark.sql.files.openCostInBytes": "0"},
        ("q_udaf_weighted_avg", "q_multimodal_features",
         "q_split_deterministic", "q_agg_collect_sorted",
         "q_time_range_scan", "q_minhash_lsh"),
        "at 1 MB input splits",
    )


def test_results_do_not_depend_on_arrow_batch_size(spark):
    """Deployment knob six: Arrow transfer batching. Every pandas-path
    operator receives its partition as an ITERATOR of Arrow batches
    whose boundaries ride spark.sql.execution.arrow.maxRecordsPerBatch
    — state carried across batches (the UDAF partials, the
    frequent-items accumulation, the multimodal per-row decode) must
    make batch boundaries invisible in the rows. (Full-width
    differentials ran green offline, since r12 as the formal
    `arrowbatch` axis of scripts/config_matrix.py — CONFIG_MATRIX_r12
    — over all 220 queries; this pins the pandas-path subset plus the
    frequent-items library op, whose cross-batch count accumulation is
    exactly what tiny batches stress.)"""
    names = ("q_udaf_weighted_avg", "q_udf_pandas",
             "q_multimodal_features", "q_multimodal_frames")
    from etl_finance_spark import registry
    from etl_finance_spark.operators.heavyhitters import frequent_items

    specs = registry.collect()

    def snapshot(name):
        df = specs[name].fn(spark, SF_SMOKE)
        return sorted(map(str, df.collect()))

    def fi_snapshot():
        orders = table(spark, SF_SMOKE, "orders").repartition(8)
        return sorted(
            map(str, frequent_items(orders, "o_custkey", 20).collect())
        )

    baseline = {n: snapshot(n) for n in names}
    fi_base = fi_snapshot()
    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for n in names:
            assert snapshot(n) == baseline[n], (
                f"{n} diverges at 7-row Arrow batches"
            )
        assert fi_snapshot() == fi_base, (
            "frequent_items diverges at 7-row Arrow batches"
        )
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", before
        )


def test_range_join_bucket_cover_survives_dst_session_timezone(spark):
    """The bucketed interval join's cover must hold under a DST session
    timezone: NTZ wall-clock timestamps around a fall-back transition
    have epoch deltas ≠ wall-clock deltas, so a bucket metric routed
    through unix_timestamp() (session-tz conversion) would let a
    qualifying pair straddle 2 buckets and drop out of the equi-match.
    The bucket now derives from pure NTZ arithmetic; the result under
    America/New_York must equal the brute-force join and the UTC run."""
    import datetime as dt

    from etl_finance_spark.operators.joins import range_join_following

    # rows 30 min apart across the 2024-11-03 01:00-02:00 fall-back
    base = dt.datetime(2024, 11, 3, 0, 30)
    rows = [(i, 1, base + dt.timedelta(minutes=30 * i)) for i in range(8)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )

    def brute(df):
        a, b = df.alias("a"), df.alias("b")
        return (
            a.join(
                b,
                (F.col("b.user_id") == F.col("a.user_id"))
                & (F.col("b.event_id") != F.col("a.event_id"))
                & (F.col("b.ts") > F.col("a.ts"))
                & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
            )
            .groupBy(F.col("a.event_id").alias("event_id"))
            .agg(F.count(F.lit(1)).alias("n_following"))
        )

    def snap(df):
        return sorted(map(tuple, df.collect()))

    want = snap(brute(ev))
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = snap(range_join_following(ev, "user_id", "ts",
                                            "event_id", 3600))
            assert got == want, f"cover broke under {tz}: {got} != {want}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
