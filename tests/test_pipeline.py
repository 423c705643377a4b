"""End-to-end daily pipeline: ingest → marts → upsert → publish over a
tmp base_dir, plus idempotent re-run and backfill semantics."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.plans.pipeline import MART_FNS, run_daily

DAY = "2001-08-02"


@pytest.fixture(scope="module")
def pipeline_run(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("daily"))
    stats = run_daily(spark, sf_dir, base, day=DAY)
    return base, stats


def test_all_stages_produce_rows(pipeline_run):
    base, stats = pipeline_run
    for key in (
        "supplier",
        "orders",
        "mart.supplier_performance",
        "mart.customer_metrics",
        "mart.customer_sales_report",
        "published.product_performance",
        "current.customer_metrics",
    ):
        assert stats[key] > 0, key


@pytest.fixture(scope="module")
def tagged_run(spark, sf_dir, tmp_path_factory):
    """One first-load day under a job group and a job tag, with the jobs
    the JVM status store lists for that window."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids():
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    base = str(tmp_path_factory.mktemp("tagged"))
    group, tag = "pipeline-fan-out", "pipeline-fan-out-tag"
    before = job_ids()
    sc.setJobGroup(group, "one run_daily day")
    sc.addJobTag(tag)
    try:
        run_daily(spark, sf_dir, base, day=DAY)
    finally:
        sc.removeJobTag(tag)
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    window = job_ids() - before
    tags = {}
    for j in window:
        seq = store.job(j).jobTags()
        tags[j] = {seq.apply(i) for i in range(seq.size())}
    return base, group, tag, window, tags


def _same_frame(got, want):
    assert [(f.name, f.dataType) for f in got.schema] == [(f.name, f.dataType) for f in want.schema]
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_every_branch_lands_its_own_rows(spark, tagged_run):
    """Each concurrent mart branch writes ITS mart to ITS paths: every
    day partition equals a fresh build of that mart over the day's raw
    snapshot, the reporting slice equals the mart slice, and on a first
    load the current table equals the customer_metrics mart.  Equal row
    counts would not catch two branches swapping outputs."""
    base = tagged_run[0]
    day = F.col("day_dt") == F.to_date(F.lit(DAY))
    for name, fn in MART_FNS.items():
        mart = spark.read.parquet(f"{base}/marts/{name}").where(day).drop("day_dt")
        _same_frame(mart, fn(spark, f"{base}/raw"))
        reporting = spark.read.parquet(f"{base}/reporting/{name}").where(day).drop("day_dt")
        _same_frame(reporting, mart)
    _same_frame(
        spark.read.parquet(f"{base}/current/customer_metrics"),
        MART_FNS["customer_metrics"](spark, f"{base}/raw"),
    )


def test_fan_out_keeps_the_callers_job_group_and_tag(spark, tagged_run):
    """Every job of the day ran under the caller's job group and carries
    its job tag — a branch thread that lost them would run jobs that a
    cancel by tag or by group cannot reach."""
    _, group, tag, window, tags = tagged_run
    assert len(window) > 100  # the whole day, not one phase
    in_group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    assert window - in_group == set()
    assert [j for j in sorted(window) if tag not in tags[j]] == []


def test_history_and_marts_are_day_partitioned(spark, pipeline_run):
    base, _ = pipeline_run
    hist = spark.read.parquet(f"{base}/history/orders")
    assert hist.select("day_dt").distinct().collect()[0][0].isoformat() == "2001-08-02"
    mart = spark.read.parquet(f"{base}/marts/supplier_performance")
    assert "day_dt" in mart.columns


def test_rerun_same_day_is_idempotent(spark, sf_dir, pipeline_run):
    base, stats = pipeline_run
    stats2 = run_daily(spark, sf_dir, base, day="2001-08-02")
    assert stats2 == stats  # dynamic overwrite: same day replaces itself
    # history still holds exactly one copy of the day
    hist = spark.read.parquet(f"{base}/history/orders")
    assert hist.count() == stats["orders"]


def test_backfill_second_day_appends_partition(spark, sf_dir, pipeline_run):
    base, stats = pipeline_run
    run_daily(spark, sf_dir, base, day="2001-08-03", publish=False)
    hist = spark.read.parquet(f"{base}/history/orders")
    days = {r[0].isoformat() for r in hist.select("day_dt").distinct().collect()}
    assert days == {"2001-08-02", "2001-08-03"}
    assert hist.count() == 2 * stats["orders"]
    # the current table merged (same customer ids) → count unchanged
    cur = spark.read.parquet(f"{base}/current/customer_metrics")
    assert cur.count() == stats["current.customer_metrics"]


def test_publish_layer_holds_single_day_slice(spark, pipeline_run):
    base, stats = pipeline_run
    rep = spark.read.parquet(f"{base}/reporting/supplier_performance")
    assert rep.count() == stats["published.supplier_performance"]
    assert rep.filter(F.col("day_dt") != F.to_date(F.lit("2001-08-02"))).count() == 0


# --------------------------- multi-day backfill (r12 verdict task 4)
# The reference's 5-day sequential backfill
# (adhoc_reload_metamorph_pipeline.py:20-24,41-62) re-runs the whole
# DAG per day against that day's feed.  This is the engine-side
# equivalent over three consecutive SYNTHETIC day feeds whose contents
# differ, pinning the three composite behaviors the single-feed tests
# above cannot see: matched-row MERGE updates, unmatched-target
# survival, and a deliberate double-load exploding in the dup gate.
NEW_OFFSET = 10_000_000


@pytest.fixture(scope="module")
def backfill(spark, sf_dir, tmp_path_factory):
    """Three day feeds derived from sf0.001 + a corrupted one:

    - day1: the base snapshot verbatim;
    - day2: +3 brand-new (orderless) customers; customer 19 (the
      heaviest orderer) loses ALL orders → its mart metrics zero out;
    - day3: customer 19 vanishes from the feed entirely (orders still
      absent) — its current-table row must SURVIVE with day-2 values;
    - dup:  day1 with one duplicated customer PK row.
    """
    from meta_morph_etl_databricks_spark.plans.pipeline import INGEST_TABLES

    root = tmp_path_factory.mktemp("backfill")
    feeds = {n: str(root / n) for n in ("day1", "day2", "day3", "dup")}
    src = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in INGEST_TABLES}

    clones = (
        src["customer"]
        .orderBy("c_custkey")
        .limit(3)
        .withColumn("c_custkey", F.col("c_custkey") + NEW_OFFSET)
    )
    variants = {
        "day1": dict(src),
        "day2": {
            **src,
            "customer": src["customer"].unionByName(clones),
            "orders": src["orders"].where("o_custkey <> 19"),
        },
        "day3": {
            **src,
            "customer": src["customer"].where("c_custkey <> 19").unionByName(clones),
            "orders": src["orders"].where("o_custkey <> 19"),
        },
        "dup": {
            **src,
            "customer": src["customer"].unionByName(src["customer"].limit(1)),
        },
    }
    for feed, tables in variants.items():
        for t, df in tables.items():
            df.write.parquet(f"{feeds[feed]}/{t}.parquet")

    base = str(root / "warehouse")
    days = {"day1": "2001-08-02", "day2": "2001-08-03", "day3": "2001-08-04"}
    stats = {
        feed: run_daily(spark, feeds[feed], base, day=days[feed])
        for feed in ("day1", "day2", "day3")
    }
    return base, feeds, days, stats


def _current(spark, base):
    return spark.read.parquet(f"{base}/current/customer_metrics")


def test_backfill_merge_inserts_updates_and_survival(spark, backfill):
    base, _, _, stats = backfill
    n_base = stats["day1"]["current.customer_metrics"]
    assert n_base == 150  # pinned: sf0.001 customer count
    # day2 inserted exactly the 3 new customers
    assert stats["day2"]["current.customer_metrics"] == n_base + 3
    # day3 dropped customer 19 from the FEED but not from the table
    assert stats["day3"]["current.customer_metrics"] == n_base + 3
    cur = _current(spark, base)
    # new customers landed, orderless → zero metrics
    clones = cur.where(F.col("customer_id") >= NEW_OFFSET)
    assert clones.count() == 3
    assert clones.where(F.col("total_orders") != 0).count() == 0
    # customer 19: day-1 run saw its orders, day-2 zeroed them
    # (matched-row update), day-3 feed lost the customer but the row
    # SURVIVES with day-2 values (unmatched-target survival)
    c19 = cur.where(F.col("customer_id") == 19).collect()
    assert len(c19) == 1
    assert c19[0].total_orders == 0.0 and float(c19[0].expenditure) == 0.0


def test_backfill_history_and_reporting_hold_all_days(spark, backfill):
    base, _, days, stats = backfill
    for layer in ("history/orders", "reporting/customer_metrics"):
        got = {
            r[0].isoformat()
            for r in spark.read.parquet(f"{base}/{layer}")
            .select("day_dt").distinct().collect()
        }
        assert got == set(days.values()), layer
    # per-day mart partitions carry per-day results: day2's slice
    # already reflects the zeroed customer 19, day1's does not
    mart = spark.read.parquet(f"{base}/marts/customer_metrics")
    by_day = {
        d: mart.where(
            (F.col("day_dt") == F.to_date(F.lit(days[d])))
            & (F.col("customer_id") == 19)
        ).collect()
        for d in days
    }
    assert by_day["day1"][0].total_orders > 0
    assert by_day["day2"][0].total_orders == 0.0
    assert by_day["day3"] == []  # customer gone from day-3 feed/mart
    # pinned row counts: day feeds were full snapshots
    assert stats["day1"]["orders"] == 1500
    assert stats["day2"]["orders"] == stats["day1"]["orders"] - 18  # cust 19
    assert stats["day2"]["customer"] == 153 and stats["day3"]["customer"] == 152


def test_backfill_converges_on_identical_refeed(spark, backfill):
    base, feeds, _, stats = backfill
    before = {
        (r.customer_id): (r.total_orders, str(r.expenditure))
        for r in _current(spark, base).collect()
    }
    again = run_daily(spark, feeds["day3"], base, day="2001-08-05")
    assert again["current.customer_metrics"] == stats["day3"]["current.customer_metrics"]
    after = {
        (r.customer_id): (r.total_orders, str(r.expenditure))
        for r in _current(spark, base).collect()
    }
    assert after == before  # MERGE convergence: identical feed, no drift


def test_backfill_double_load_explodes_in_dup_gate(spark, backfill):
    from meta_morph_etl_databricks_spark.quality.dup_gate import DuplicateException

    base, feeds, _, _ = backfill
    n_before = _current(spark, base).count()
    threads = threading.active_count()
    with pytest.raises(DuplicateException, match=r"c_custkey"):
        run_daily(spark, feeds["dup"], base, day="2001-08-06")
    # the gate fired during INGEST: the current table was never touched
    assert _current(spark, base).count() == n_before
    # the failure was raised after every ingest branch had been joined
    assert threading.active_count() == threads


# ------------------- backfill × reconcile composition (r14 verdict task 4)
def test_backfill_then_reconcile_pins_planted_drift(spark, sf_dir, tmp_path):
    """The reference's operational loop — backfill, then Raptor-diff
    prod vs dev (raptor_task.py:18-34 compares ``legacy`` vs
    ``dev_legacy`` on DAY_DT,SUPPLIER_ID) — composed end to end: two
    2-day backfills into separate base dirs, dev's day-2 feed
    deliberately perturbed, then reconcile the two
    supplier_performance HISTORIES on (day_dt, supplier_id).

    Planted drift: supplier A loses every lineitem in dev's day-2 feed
    (its mart row zeroes out → per-column cells), supplier B vanishes
    from dev's supplier feed (its mart row disappears → a source-side
    extra).  Day 1 must reconcile clean.
    """
    from meta_morph_etl_databricks_spark.plans.pipeline import INGEST_TABLES
    from meta_morph_etl_databricks_spark.quality.reconcile import reconcile

    src = {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in INGEST_TABLES}
    supps = sorted(r[0] for r in src["supplier"].select("s_suppkey").collect())
    hollowed, dropped = supps[0], supps[1]

    base_feed = str(tmp_path / "feed_base")
    dev2_feed = str(tmp_path / "feed_dev2")
    perturbed = {
        **src,
        "lineitem": src["lineitem"].where(F.col("l_suppkey") != hollowed),
        "supplier": src["supplier"].where(F.col("s_suppkey") != dropped),
    }
    for t, df in src.items():
        df.write.parquet(f"{base_feed}/{t}.parquet")
    for t, df in perturbed.items():
        df.write.parquet(f"{dev2_feed}/{t}.parquet")

    prod, dev = str(tmp_path / "prod"), str(tmp_path / "dev")
    d1, d2 = "2001-08-02", "2001-08-03"
    run_daily(spark, base_feed, prod, day=d1, publish=False)
    run_daily(spark, base_feed, prod, day=d2, publish=False)
    run_daily(spark, base_feed, dev, day=d1, publish=False)
    run_daily(spark, dev2_feed, dev, day=d2, publish=False)

    hist = lambda b: spark.read.parquet(f"{b}/marts/supplier_performance")  # noqa: E731
    res = reconcile(hist(prod), hist(dev), keys=["day_dt", "supplier_id"])

    cells = res.cells.collect()
    # every mismatched cell sits on (day2, hollowed): metrics zeroed,
    # top product gone; day 1 and every other supplier reconcile clean
    assert {(r.day_dt.isoformat(), r.supplier_id) for r in cells} == {(d2, hollowed)}
    assert {r.column_name for r in cells} == {
        "total_revenue", "total_products_sold", "total_stock_sold", "top_product",
    }
    zeroed = {r.column_name: r.target_value for r in cells}
    assert zeroed["total_products_sold"] == "0"
    assert zeroed["top_product"] == ""  # NULL normalizes to the sentinel

    extra_src = res.extra_source.collect()
    assert [(r.day_dt.isoformat(), r.supplier_id) for r in extra_src] == [(d2, dropped)]
    assert res.extra_target.count() == 0

    summary = {r.column_name: r.mismatch_count for r in res.summary.collect()}
    assert summary == {c: 1 for c in zeroed}
