"""Physical-plan regression tests: the scale properties claimed in
docstrings (broadcasts, pushdown, partial top-k, no stray shuffles)
must survive future edits — a silently regressed plan is a 100 TB
incident, not a local slowdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.plans import marts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {
        name: _plan(fn(spark, sf_dir))
        for name, fn in {
            "supplier_performance": marts.supplier_performance,
            "product_performance": marts.product_performance,
            "customer_metrics": marts.customer_metrics,
            "customer_sales_report": marts.customer_sales_report,
        }.items()
    }


def test_mart_joins_broadcast_dimensions(plans):
    for name, plan in plans.items():
        assert "BroadcastHashJoin" in plan, name
        # no cartesian products ever
        assert "CartesianProduct" not in plan, name


def test_filters_push_into_parquet_scans(plans):
    sp = plans["supplier_performance"]
    pushed = [chunk.splitlines()[0] for chunk in sp.split("PushedFilters: ")[1:]]
    assert any("Not(EqualTo(l_returnflag,R))" in p for p in pushed), pushed


def test_scans_prune_columns(plans):
    """The lineitem scan must not read all 16 columns for the mart's 6."""
    sp = plans["supplier_performance"]
    for chunk in sp.split("ReadSchema: ")[1:]:
        schema = chunk.splitlines()[0]
        assert "l_comment" not in schema and "l_shipinstruct" not in schema


def test_bucketed_join_eliminates_exchanges(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators (the co-located-join contract of
    write_bucketed) — and produce exactly the plain join's rows.  The
    unbucketed plan over the same data shuffles both sides."""
    from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table
    from meta_morph_etl_databricks_spark.sources.sinks import (
        read_bucketed_table,
        write_bucketed,
    )

    orders = read_parquet_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8, path=str(tmp_path / "ob"))
    write_bucketed(lineitem, "t_lineitem_b", ["l_orderkey"], 8, path=str(tmp_path / "lb"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        ob, lb = read_bucketed_table(spark, "t_orders_b"), read_bucketed_table(spark, "t_lineitem_b")
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        joined.count()  # finalize the AQE plan before inspecting it
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # correctness: identical to the plain (shuffled) join
        plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        assert "Exchange" in _plan(plain)
        assert joined.count() == plain.count()
        assert (
            joined.agg(F.sum("l_quantity").cast("long")).first()[0]
            == plain.agg(F.sum("l_quantity").cast("long")).first()[0]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_self_join_agg_bucketed_arm_zero_exchange(spark, sf_dir):
    """The 'bucketed' arm of q_self_join_agg must plan with ZERO
    Exchange: the bucketed scan's HashPartitioning(o_custkey) feeds both
    the groupBy and the join-back (broadcast disabled so the small side
    can't hide the claim behind a BroadcastExchange) — and return
    exactly the direct arm's rows."""
    from meta_morph_etl_databricks_spark.plans.operator_queries import (
        _above_cust_avg,
        self_join_agg_bucketed,
    )
    from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = self_join_agg_bucketed(spark, sf_dir)
        bucketed.count()  # finalize the AQE plan before inspecting it
        plan = _plan(bucketed)
        assert "Exchange" not in plan, plan
        direct = _above_cust_avg(read_parquet_table(spark, sf_dir, "orders"))
        assert "Exchange" in _plan(direct)  # the shuffle the bucket write prepaid
        key = lambda r: (r.o_orderkey, r.o_custkey, r.o_totalprice, r.avg_price)  # noqa: E731
        assert sorted(map(key, bucketed.collect())) == sorted(map(key, direct.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_window_topk_uses_group_limit(spark, sf_dir):
    """row_number top-1 must compile to WindowGroupLimit (partial top-k
    map-side) — not a full per-group sort of all rows."""
    assert "WindowGroupLimit" in _plan(marts.supplier_performance(spark, sf_dir))


def test_salted_agg_two_stage_shape(spark, sf_dir):
    """salted_agg must compile to two aggregate stages: the partial
    exchange keyed on (group key, _salt) — the hot key spread over
    buckets — and the merge exchange keyed on the group key alone.
    One combined exchange would mean the salt silently stopped
    spreading work."""
    from meta_morph_etl_databricks_spark.plans.operator_queries import q_skewed_agg

    plan = _plan(q_skewed_agg(spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert any("_salt" in e for e in exchanges), exchanges
    assert any("_salt" not in e for e in exchanges), exchanges
    # the salt must be hash-derived (deterministic), never rand()
    assert "rand(" not in plan


def test_salted_join_carries_salt_in_join_keys(spark, sf_dir):
    """salted_join must replicate the dim across salt values (explode)
    and include _salt in the equi-join keys on BOTH sides — that pairing
    is what splits a hot key across reducers.  Which side builds/
    broadcasts is stats-dependent and not asserted."""
    from meta_morph_etl_databricks_spark.plans.operator_queries import q_skewed_join

    plan = _plan(q_skewed_join(spark, sf_dir))
    assert "Generate explode" in plan
    join_lines = [ln for ln in plan.splitlines() if "Join [" in ln or "Join (" in ln]
    assert any(ln.count("_salt") >= 2 for ln in join_lines), join_lines


def test_text_profile_has_single_token_shuffle(spark, sf_dir):
    from meta_morph_etl_databricks_spark.operators.text import profile_documents
    from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    plan = _plan(profile_documents(docs))
    # token explode feeds ONE aggregate exchange; the doc-level join side
    # broadcasts (small) or reuses the id partitioning — never a second
    # full token shuffle
    assert plan.count("Generate explode") == 1


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """The runtime-filter scale lever: a filtered, non-broadcastable
    build side injects a bloom filter into the probe scan (plan shows
    bloom_filter_agg + BloomFilterMightContain) and the join result is
    row-identical to the unfiltered plan."""
    big_p, small_p = str(tmp_path / "big"), str(tmp_path / "small")
    spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).write.parquet(big_p)
    spark.range(1000).select((F.col("id") * 200).alias("k")).write.parquet(small_p)

    big = spark.read.parquet(big_p)
    small = spark.read.parquet(small_p).filter("k % 3 = 0")

    def run(confs):
        old = {}
        for k, v in confs.items():
            old[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        try:
            j = big.join(small, "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            return sorted((r.k, r.v) for r in j.collect()), plan
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    forced = {
        # drop the 10 GiB probe-side floor so the test-size scan
        # qualifies; production keeps the default so only huge probes pay
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    rows_bloom, plan_bloom = run(forced)
    rows_plain, plan_plain = run(
        {**forced, "spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}
    )
    assert "bloom_filter_agg" in plan_bloom or "BloomFilterMightContain" in plan_bloom
    assert "bloom_filter_agg" not in plan_plain
    assert "BloomFilterMightContain" not in plan_plain
    assert rows_bloom == rows_plain
    assert len(rows_bloom) == 334  # k in 0,200,...,199800 with k%3==0


def _warm_build_jobs(spark, build, sf_dir, group: str) -> int:
    """Spark jobs run while BUILDING ``build(spark, sf_dir)`` a second
    time in one session — the first build pays for schema inference
    and cache fills."""
    build(spark, sf_dir).collect()
    sc = spark.sparkContext
    sc.setJobGroup(group, "warm build")
    try:
        build(spark, sf_dir)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_shared_subplan_build_jobs_are_pinned(spark, sf_dir, monkeypatch):
    """The plan modules build each shared sub-plan once and pass it in:
    q_corpus_curation's one minhash band pass feeds both arms, and
    q_embed_near_dup_lsh's one shifted-codes pass and one index-rows
    pass feed every arm.  A second copy of either chain shows up as
    extra build jobs — on the one-collect driver path and on the fully
    distributed path (driver bound 0) alike."""
    import meta_morph_etl_databricks_spark.operators.semantic as sem
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        q_corpus_curation,
        q_embed_near_dup_lsh,
    )

    assert _warm_build_jobs(spark, q_corpus_curation, sf_dir, "pin_curation") == 10
    assert _warm_build_jobs(spark, q_embed_near_dup_lsh, sf_dir, "pin_embed") == 6
    monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 0)
    assert _warm_build_jobs(spark, q_embed_near_dup_lsh, sf_dir, "pin_embed_dist") == 44


def test_q_embed_one_collect_path_matches_distributed(spark, sf_dir, monkeypatch):
    """Slot-level pin for the r15 q_embed build restructure: the
    one-collect fast path (full corpus ≤ the driver bound) and the
    fully distributed path (dial 0) must return the exact same rows."""
    import meta_morph_etl_databricks_spark.operators.semantic as sem
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        q_embed_near_dup_lsh,
    )

    fast = sorted(map(tuple, q_embed_near_dup_lsh(spark, sf_dir).collect()))
    monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 0)
    slow = sorted(map(tuple, q_embed_near_dup_lsh(spark, sf_dir).collect()))
    assert fast == slow and fast


def test_cube_and_grouping_sets_match_manual_unions(spark):
    """r14: the rollup oracle arm (q_quantiles_by_status) represents
    the Expand plan family; this pins the OTHER two members against
    first principles — cube() equals the union of all four manual
    GROUP BYs, and SQL GROUPING SETS equals exactly the sets asked
    for, with grouping_id() disambiguating all-NULL group values."""
    from pyspark.sql import functions as F

    rows = [
        ("F", "HIGH", 10.0), ("F", "LOW", 20.0), ("O", "HIGH", 5.0),
        ("O", None, 7.0), ("P", "LOW", 3.0), ("F", "HIGH", 2.0),
    ]
    df = spark.createDataFrame(rows, "status string, prio string, v double")

    cube = {
        (r.status, r.prio, r.gid, r.cnt, r.s)
        for r in df.cube("status", "prio")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("s"),
        )
        .collect()
    }
    manual = set()
    for gid, keys in [(0, ["status", "prio"]), (1, ["status"]), (2, ["prio"]), (3, [])]:
        agg = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("s"))
        for r in agg.collect():
            d = r.asDict()
            manual.add((d.get("status"), d.get("prio"), gid, d["cnt"], d["s"]))
    assert cube == manual
    # the (O, NULL) DATA group at gid=0 and the O rollup row at gid=1
    # are distinct rows — grouping_id is what tells them apart
    assert ("O", None, 0, 1, 7.0) in cube and ("O", None, 1, 2, 12.0) in cube

    df.createOrReplaceTempView("gs_t")
    gs = {
        (r.status, r.prio, r.gid, r.cnt)
        for r in spark.sql(
            """SELECT status, prio, CAST(grouping_id() AS INT) AS gid,
                      COUNT(*) AS cnt
               FROM gs_t GROUP BY GROUPING SETS ((status), (prio))"""
        ).collect()
    }
    expect = {(d.get("status"), d.get("prio"), gid, d["cnt"])
              for gid, keys in [(1, ["status"]), (2, ["prio"])]
              for d in (r.asDict() for r in
                        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")).collect())}
    assert gs == expect
