from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.sources import (
    dual_write,
    merge_upsert,
    read_csv_positional,
    read_json_rows,
    write_parquet,
)


def test_read_csv_positional(spark, tmp_path):
    # human-styled headers are discarded; contract is column ORDER (P2)
    p = tmp_path / "feed.csv"
    p.write_text("Supplier Id,Supplier Name,Contact,Region\n s1 ,Acme,555,EU\ns2,Bolt,666,NA\n")
    df = read_csv_positional(spark, str(p), ["supplier_id", "supplier_name", "contact_details", "region"])
    assert df.columns == ["supplier_id", "supplier_name", "contact_details", "region"]
    rows = df.orderBy("supplier_id").collect()
    assert rows[1].supplier_name == "Bolt"


def test_read_json_rows(spark):
    df = read_json_rows(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}], ["id", "label"])
    assert df.columns == ["id", "label"] and df.count() == 2


def test_dual_write_and_history(spark, tmp_path):
    df = spark.range(5).withColumn("v", F.col("id") * 2)
    raw = str(tmp_path / "raw")
    hist = str(tmp_path / "legacy")
    dual_write(df, raw, hist, day_dt="2001-08-01")
    dual_write(df, raw, hist, day_dt="2001-08-02")
    assert spark.read.parquet(raw).count() == 5  # snapshot overwritten
    h = spark.read.parquet(hist)
    assert h.count() == 10  # history appended
    assert {str(r.day_dt) for r in h.select("day_dt").distinct().collect()} == {"2001-08-01", "2001-08-02"}
    # day_dt is a real partition column → partition pruning on publish (C7)
    assert os.path.isdir(f"{hist}/day_dt=2001-08-01")


def test_merge_upsert(spark, tmp_path):
    target_path = str(tmp_path / "tgt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_parquet(base, target_path)
    source = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    merge_upsert(spark, target_path, source, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # idempotent under retry (C5 requirement, SURVEY.md §7.3)
    merge_upsert(spark, target_path, source, keys=["k"])
    assert spark.read.parquet(target_path).count() == 3


def test_merge_upsert_failed_write_preserves_target(spark, tmp_path):
    """A merge whose staging write dies mid-job must leave the existing
    target readable and intact (the crash-safety contract of the
    staging+rename swap — no localCheckpoint, no delete-before-write)."""
    from pyspark.sql import functions as F

    target_path = str(tmp_path / "tgt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_parquet(base, target_path)
    # poison the source: evaluating v throws during the staging write
    poisoned = spark.createDataFrame([(3,)], ["k"]).select(
        "k", F.raise_error(F.lit("boom")).cast("string").alias("v")
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="boom"):
        merge_upsert(spark, target_path, poisoned, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "a"), (2, "b")}  # old target survives the crash
    assert not os.path.exists(f"{target_path}__writer_lock")  # lock released on failure
    # and a subsequent good merge cleans up the stale staging dir and lands
    source = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    merge_upsert(spark, target_path, source, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.exists(f"{target_path}__staging")
    assert not os.path.exists(f"{target_path}__backup")


def test_merge_upsert_first_load(spark, tmp_path):
    target_path = str(tmp_path / "fresh")
    source = spark.createDataFrame([(1, "a")], ["k", "v"])
    merge_upsert(spark, target_path, source, keys=["k"])
    assert spark.read.parquet(target_path).count() == 1


def test_merge_upsert_recovers_backup_after_rename_crash(spark, tmp_path):
    """Simulate a death BETWEEN the two renames: target moved aside to
    __backup, staging never installed.  The next run must restore the
    backup (not treat the merge as a first load, which would silently
    drop every prior target row) and the merge must include prior data."""
    import shutil

    target_path = str(tmp_path / "tgt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    write_parquet(base, target_path)
    # crash state: rename 1 done (tgt → __backup), rename 2 never ran
    shutil.move(target_path, f"{target_path}__backup")
    assert not os.path.exists(target_path)

    source = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
    merge_upsert(spark, target_path, source, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}  # row 1 survived via backup
    assert not os.path.exists(f"{target_path}__backup")
    assert not os.path.exists(f"{target_path}__writer_lock")


def test_merge_upsert_stale_backup_beside_live_target(spark, tmp_path):
    """Crash AFTER install but before backup cleanup leaves target AND
    __backup; the next run must prefer the live target and discard the
    stale backup."""
    target_path = str(tmp_path / "tgt")
    write_parquet(spark.createDataFrame([(9, "old")], ["k", "v"]), f"{target_path}__backup")
    write_parquet(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), target_path)

    source = spark.createDataFrame([(3, "c")], ["k", "v"])
    merge_upsert(spark, target_path, source, keys=["k"])
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # stale (9,'old') gone
    assert not os.path.exists(f"{target_path}__backup")


def test_merge_upsert_concurrent_one_wins_one_retries(spark, tmp_path):
    """Two merges racing on the same target with lock_retries: they
    SERIALIZE — the loser waits out the winner's lock tenure, then
    re-reads the freshly installed target — so the final table contains
    BOTH merges' rows regardless of who won (disjoint key sets make the
    outcome order-independent)."""
    import threading

    target_path = str(tmp_path / "tgt")
    write_parquet(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "v"]), target_path)

    src_a = spark.createDataFrame([(1, "A"), (2, "A"), (5, "A")], ["k", "v"])
    src_b = spark.createDataFrame([(3, "B"), (6, "B")], ["k", "v"])
    errors: list = []
    handles: dict[str, object] = {}

    def run(tag, src):
        try:
            handles[tag] = merge_upsert(
                spark, target_path, src, keys=["k"], lock_retries=120, lock_retry_interval_sec=0.5
            )
        except Exception as e:  # pragma: no cover - surfaced by assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(t, s)) for t, s in (("a", src_a), ("b", src_b))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
    assert not errors, f"concurrent merge failed: {errors}"
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "A"), (2, "A"), (3, "B"), (4, "d"), (5, "A"), (6, "B")}
    # The returned handles are persisted SNAPSHOTS of each merge's own
    # tenure — consuming them only now, after the other merge has
    # renamed/rewritten the target path, must neither FileNotFound nor
    # show the other tenure's rows for this tenure's keys.
    for tag, src_rows in (("a", {(1, "A"), (2, "A"), (5, "A")}), ("b", {(3, "B"), (6, "B")})):
        snap = {(r.k, r.v) for r in handles[tag].collect()}
        assert src_rows <= snap, f"merge {tag}'s snapshot lost its own rows: {snap}"
        handles[tag].unpersist()
    assert not os.path.exists(f"{target_path}__writer_lock")
    assert not os.path.exists(f"{target_path}__backup")
    # fail-fast default unchanged: with the lock held and no retries, raise
    open(f"{target_path}__writer_lock", "w").close()
    with pytest.raises(Exception, match="lock"):
        merge_upsert(spark, target_path, src_a, keys=["k"])
    os.remove(f"{target_path}__writer_lock")


def test_merge_upsert_transactional_capability_gate(spark, tmp_path):
    """Without delta-spark in the runtime the transactional path must
    fail loudly at call time (never mid-job), naming the fallback."""
    from meta_morph_etl_databricks_spark.sources.sinks import merge_upsert_transactional

    try:
        import delta  # noqa: F401

        have_delta = True
    except ImportError:
        have_delta = False
    src = spark.createDataFrame([(1, "a")], ["k", "v"])
    if not have_delta:
        with pytest.raises(NotImplementedError, match="merge_upsert"):
            merge_upsert_transactional(spark, str(tmp_path / "d"), src, keys=["k"])
    else:  # pragma: no cover - runtime-dependent
        merge_upsert_transactional(spark, str(tmp_path / "d"), src, keys=["k"])


def test_merge_upsert_lock_rejects_concurrent_run(spark, tmp_path):
    """The __writer_lock marker makes a second concurrent merge fail fast
    instead of interleaving renames with the first."""
    target_path = str(tmp_path / "tgt")
    write_parquet(spark.createDataFrame([(1, "a")], ["k", "v"]), target_path)
    open(f"{target_path}__writer_lock", "w").close()  # another writer holds it

    source = spark.createDataFrame([(2, "b")], ["k", "v"])
    with pytest.raises(IOError, match="lock"):
        merge_upsert(spark, target_path, source, keys=["k"])
    # target untouched, lock NOT stolen
    assert spark.read.parquet(target_path).count() == 1
    assert os.path.exists(f"{target_path}__writer_lock")
    os.remove(f"{target_path}__writer_lock")
    merge_upsert(spark, target_path, source, keys=["k"])  # lock released → works
    assert spark.read.parquet(target_path).count() == 2
    assert not os.path.exists(f"{target_path}__writer_lock")


def test_merge_upsert_foreign_writer_lock_names_break_writer_lock(spark, tmp_path):
    """A merge takes the index store's writer lock on its target: a
    foreign marker (a hard-killed holder) fails the merge fast with the
    recovery to run, leaves the target untouched, and after
    break_writer_lock the merge lands."""
    from meta_morph_etl_databricks_spark.operators.index_store import break_writer_lock

    target_path = str(tmp_path / "tgt")
    write_parquet(spark.createDataFrame([(1, "a")], ["k", "v"]), target_path)
    open(f"{target_path}__writer_lock", "w").close()

    source = spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"])
    with pytest.raises(IOError, match="break_writer_lock"):
        merge_upsert(spark, target_path, source, keys=["k"])
    assert {(r.k, r.v) for r in spark.read.parquet(target_path).collect()} == {(1, "a")}
    assert not os.path.exists(f"{target_path}__staging")

    assert break_writer_lock(spark, target_path)
    merge_upsert(spark, target_path, source, keys=["k"]).unpersist()
    got = {(r.k, r.v) for r in spark.read.parquet(target_path).collect()}
    assert got == {(1, "A"), (2, "b")}
    assert not os.path.exists(f"{target_path}__writer_lock")


def test_partitioned_write_parquet_replaces_only_its_partitions(spark, tmp_path):
    """write_parquet with partition_by overwrites only the partitions
    the frame writes: re-writing one day of a two-day table keeps the
    other day."""
    path = str(tmp_path / "t")
    two_days = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")], "id long, day_dt string"
    ).withColumn("day_dt", F.to_date("day_dt"))
    write_parquet(two_days, path, partition_by=["day_dt"])
    redo = spark.createDataFrame([(9, "2024-01-02")], "id long, day_dt string").withColumn(
        "day_dt", F.to_date("day_dt")
    )
    write_parquet(redo, path, partition_by=["day_dt"])
    got = {(r.id, str(r.day_dt)) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "2024-01-01"), (2, "2024-01-01"), (9, "2024-01-02")}


def test_publish_partition_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.sources.sinks import publish_partition, write_parquet

    mart = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"), (3, "c", "2024-01-02")],
        "id long, v string, day_dt string",
    ).withColumn("day_dt", F.to_date("day_dt"))
    mart_path, rep_path = str(tmp_path / "mart"), str(tmp_path / "reporting")
    write_parquet(mart, mart_path, partition_by=["day_dt"])

    n = publish_partition(spark, mart_path, rep_path, "2024-01-01")
    assert n == 2
    out = spark.read.parquet(rep_path)
    assert out.count() == 2
    assert {r.id for r in out.collect()} == {1, 2}
    # a second publish of a different day appends without touching day 1
    assert publish_partition(spark, mart_path, rep_path, "2024-01-02") == 1
    assert spark.read.parquet(rep_path).count() == 3
    # empty day publishes nothing
    assert publish_partition(spark, mart_path, rep_path, "2024-03-01") == 0


def test_incremental_load_manifest(spark, tmp_path):
    from meta_morph_etl_databricks_spark.sources.sinks import incremental_load, record_loaded

    landing = tmp_path / "landing"
    landing.mkdir()
    manifest = str(tmp_path / "manifest")

    spark.createDataFrame([(1, "x")], "id long, v string").coalesce(1).write.parquet(str(tmp_path / "t1"))
    import glob
    import shutil

    def drop(name, src_dir):
        src = glob.glob(f"{src_dir}/part-*.parquet")[0]
        shutil.copy(src, landing / name)

    drop("f1.parquet", tmp_path / "t1")
    df, new = incremental_load(spark, str(landing), manifest)
    assert len(new) == 1 and df.count() == 1
    record_loaded(spark, manifest, new)

    # nothing new → no work
    df2, new2 = incremental_load(spark, str(landing), manifest)
    assert df2 is None and new2 == []

    # a second file arrives → only it is loaded
    spark.createDataFrame([(2, "y"), (3, "z")], "id long, v string").coalesce(1).write.parquet(
        str(tmp_path / "t2")
    )
    drop("f2.parquet", tmp_path / "t2")
    df3, new3 = incremental_load(spark, str(landing), manifest)
    assert len(new3) == 1 and df3.count() == 2 and new3[0].endswith("f2.parquet")
    record_loaded(spark, manifest, new3)
    assert spark.read.parquet(manifest).count() == 2


def test_read_rest_with_local_server(spark):
    import http.server
    import json as _json
    import threading

    from meta_morph_etl_databricks_spark.sources.rest import RestSourceError, fetch_json, read_rest

    seen = {}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            seen["path"] = self.path
            seen["auth"] = self.headers.get("Authorization")
            body = _json.dumps(
                {"data": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_port}/v2/things"
    try:
        df = read_rest(
            spark, url, date="2024-01-05", bearer_token="tok123",
            column_names=["thing_id", "thing_name"], records_path="data",
        )
        assert seen["auth"] == "Bearer tok123"
        assert "date=2024-01-05" in seen["path"]
        assert df.columns == ["thing_id", "thing_name"]
        assert df.count() == 2
        with pytest.raises(RestSourceError):
            fetch_json(f"http://127.0.0.1:{srv.server_port}/x", max_bytes=10)
    finally:
        srv.shutdown()


def test_read_rest_refuses_empty_and_bad_shapes(spark):
    from meta_morph_etl_databricks_spark.sources.rest import RestSourceError, fetch_json

    with pytest.raises(RestSourceError):
        fetch_json("http://127.0.0.1:1/unreachable", timeout=0.3)


# ------------------------------------------------------------- feed generator
def test_feedgen_schemas_ranges_and_determinism(spark):
    import datetime

    from meta_morph_etl_databricks_spark.sources import feedgen as fg

    as_of = datetime.date(2026, 8, 1)
    sup = fg.gen_suppliers(spark, 40, seed=7)
    prod = fg.gen_products(spark, 60, num_suppliers=40, active_suppliers=30, seed=7)
    sales = fg.gen_sales(
        spark, 500, num_products=60, num_customers=100,
        active_products=50, active_customers=80, as_of=as_of, seed=7,
    )
    assert sup.columns == ["Supplier Id", "Supplier Name", "Contact Details", "Region"]
    assert sales.columns == [
        "Sale Id", "Customer Id", "Product Id", "Sale Date", "Quantity",
        "Discount", "Shipping Cost", "Order Status", "Payment Mode",
    ]
    # products reference only the active supplier subset
    sups = {r["Supplier Id"] for r in prod.select("Supplier Id").distinct().collect()}
    assert sups <= {f"SUP{i:04d}" for i in range(1, 31)}
    rows = sales.collect()
    assert len(rows) == 500
    for r in rows:
        d = datetime.date.fromisoformat(r["Sale Date"])
        recent = (as_of - d).days <= 50
        if recent:
            assert r["Order Status"] in ("Pending", "Shipped")
        else:
            assert r["Order Status"] in ("Delivered", "Cancelled")
        assert 1 <= r["Quantity"] <= 20 and 0 <= r["Discount"] <= 17
        assert 5 <= r["Shipping Cost"] <= 50
    # deterministic in (seed, id): same seed == same rows, new seed differs
    again = fg.gen_sales(
        spark, 500, num_products=60, num_customers=100,
        active_products=50, active_customers=80, as_of=as_of, seed=7,
    )
    assert again.exceptAll(sales).count() == 0
    other = fg.gen_sales(spark, 500, num_products=60, num_customers=100, as_of=as_of, seed=8)
    assert other.exceptAll(sales).count() > 0


def test_feedgen_daily_landing_roundtrip(spark, tmp_path):
    import datetime

    from meta_morph_etl_databricks_spark.sources import feedgen as fg
    from meta_morph_etl_databricks_spark.sources import read_csv_positional

    as_of = datetime.date(2026, 8, 2)
    paths = fg.write_daily_feed(
        spark, str(tmp_path), as_of=as_of, seed=3,
        sizes={"supplier": 10, "product": 20, "customer": 30, "sales": 100},
    )
    assert set(paths) == {"supplier", "product", "customer", "sales"}
    assert f"/{as_of.isoformat()}/" in paths["sales"]
    # the positional CSV reader (P2/S3) consumes the landed feed directly
    df = read_csv_positional(
        spark, paths["supplier"],
        ["supplier_id", "supplier_name", "contact_details", "region"],
    )
    assert df.count() == 10 and df.columns[0] == "supplier_id"


def test_zorder_key_interleaves_and_clamps(spark):
    """Known-value Morton interleave (x bits at even positions, y at
    odd), clamping for out-of-range/NULL, degenerate ranges, and the
    62-bit budget guard."""
    from meta_morph_etl_databricks_spark.sources.layout import zorder_key

    df = spark.createDataFrame(
        [(2.0, 1.0), (-5.0, 99.0), (None, 0.0)], "x double, y double"
    )
    # lo=0, hi=4 with bits=2 makes quantization the identity on 0..3
    z = [
        r.z
        for r in df.select(
            zorder_key([("x", 0.0, 4.0), ("y", 0.0, 4.0)], bits=2).alias("z")
        ).collect()
    ]
    # x=2 (10b) at positions 0,2; y=1 (01b) at positions 1,3 → 0b0110
    assert z[0] == 6
    # x clamps to 0, y clamps to 3 (11b at odd positions → 0b1010)
    assert z[1] == 10
    # NULL x clamps to top code 3 (11b at even positions), y=0
    assert z[2] == 5

    # degenerate range contributes constant zero bits
    zc = df.select(zorder_key([("x", 1.0, 1.0), ("y", 0.0, 4.0)], bits=2).alias("z"))
    assert [r.z for r in zc.collect()][0] == 2  # y=1 alone at odd positions

    with pytest.raises(ValueError, match="62-bit"):
        zorder_key([("x", 0, 1), ("y", 0, 1), ("x", 0, 1)], bits=21)
    with pytest.raises(ValueError, match="at least one"):
        zorder_key([], bits=8)


def test_zorder_layout_multi_column_file_skipping(spark, tmp_path):
    """The layout claim itself, measured from per-file min/max (the
    same stats a parquet reader prunes on): a linear sort on x cannot
    skip files for a y-only slice; the Morton layout skips most files
    for EITHER single-column slice and nearly all for the box."""
    from meta_morph_etl_databricks_spark.sources.layout import (
        file_pruning_fraction,
        write_zordered,
    )

    n = 200_000
    df = spark.range(n).select(
        (F.col("id") % 10_000).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("y"),
    )
    linear, zpath = str(tmp_path / "linear"), str(tmp_path / "zord")
    df.repartitionByRange(32, "x").sortWithinPartitions("x").write.parquet(linear)
    write_zordered(df, zpath, ["x", "y"], bits=12, num_files=32)

    assert spark.read.parquet(zpath).count() == n  # layout, not content

    y_slice = {"y": (5_000.0, 5_099.0)}
    assert file_pruning_fraction(spark, linear, y_slice) <= 0.1
    assert file_pruning_fraction(spark, zpath, y_slice) >= 0.5
    assert file_pruning_fraction(spark, zpath, {"x": (1_000.0, 1_099.0)}) >= 0.5
    box = {"x": (1_000.0, 1_099.0), "y": (5_000.0, 5_099.0)}
    assert file_pruning_fraction(spark, zpath, box) >= 0.8


def test_publish_partition_zordered(spark, tmp_path):
    """Publishing with zorder_by clusters the day's files so a
    selective predicate on EITHER dimension skips most files — and the
    published rows are identical to a plain publish."""
    from meta_morph_etl_databricks_spark.sources.layout import file_pruning_fraction
    from meta_morph_etl_databricks_spark.sources.sinks import publish_partition, write_parquet

    mart_path = str(tmp_path / "mart")
    rep_plain = str(tmp_path / "rep_plain")
    rep_z = str(tmp_path / "rep_z")
    df = spark.range(100_000).select(
        (F.col("id") % 1000).alias("cust"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("prod"),
        F.to_date(F.lit("2024-01-01")).alias("day_dt"),
    )
    write_parquet(df, mart_path, partition_by=["day_dt"])

    assert publish_partition(spark, mart_path, rep_plain, "2024-01-01") == 100_000
    assert publish_partition(
        spark, mart_path, rep_z, "2024-01-01", zorder_by=["cust", "prod"], zorder_files=16
    ) == 100_000

    plain = {(r.cust, r.prod) for r in spark.read.parquet(rep_plain).collect()}
    z = {(r.cust, r.prod) for r in spark.read.parquet(rep_z).collect()}
    assert plain == z

    day_dir_z = rep_z + "/day_dt=2024-01-01"
    day_dir_p = rep_plain + "/day_dt=2024-01-01"
    for col in ("cust", "prod"):
        frac = file_pruning_fraction(spark, day_dir_z, {col: (100.0, 109.0)})
        assert frac >= 0.5, (col, frac)
    # the plain publish can't skip on prod (hash-scattered)
    assert file_pruning_fraction(spark, day_dir_p, {"prod": (100.0, 109.0)}) <= 0.2

    with pytest.raises(ValueError, match="not both"):
        publish_partition(spark, mart_path, rep_z, "2024-01-01", repartition=4, zorder_by=["cust"])


def test_orc_round_trip_with_partitions(spark, tmp_path):
    """ORC source/sink: partitioned write, identical rows back, and the
    scan prunes partitions like parquet."""
    from meta_morph_etl_databricks_spark.sources.scans import read_orc, write_orc

    path = str(tmp_path / "orc")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 2.5).alias("v")
    )
    write_orc(df, path, partition_by=["part"])
    back = read_orc(spark, path)
    # data columns survive the round trip exactly; the partition column
    # comes back via directory-value type inference (bigint → int), the
    # same discovery behavior as parquet
    dt = dict(back.dtypes)
    assert {c: dt[c] for c in ("id", "v")} == {"id": "bigint", "v": "double"}
    assert dt["part"] in ("int", "bigint")
    assert back.count() == 100
    assert {r.id for r in back.filter("part = 2").collect()} == {i for i in range(100) if i % 4 == 2}
    plan = back.filter("part = 2")._jdf.queryExecution().executedPlan().toString()
    assert "part" in plan  # partition filter reached the scan


def test_read_binary_files_feeds_multimodal(spark, tmp_path):
    """binaryFile ingest: content arrives as one binary row per file,
    glob and size guard apply on metadata, and the frame flows into the
    multimodal byte-stats operator unchanged."""
    from meta_morph_etl_databricks_spark.operators.multimodal import byte_stats, to_assets
    from meta_morph_etl_databricks_spark.sources.scans import read_binary_files

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x00\x01\x02" * 10)
    (d / "b.img").write_bytes(b"\xff" * 5)
    (d / "big.img").write_bytes(b"\x00" * 10_000)
    (d / "skip.txt").write_bytes(b"not media")

    files = read_binary_files(spark, str(d), glob="*.img", max_bytes=1000)
    got = {r.path.rsplit("/", 1)[-1]: r.length for r in files.collect()}
    assert got == {"a.img": 30, "b.img": 5}

    media = files.select(F.xxhash64("path").alias("file_id"), "content")
    assets = to_assets(media, id_col="file_id", payload_col="content", media_type="image/raw")
    stats = {r.asset_id: r.n_bytes for r in byte_stats(assets).collect()}
    assert sorted(stats.values()) == [5, 30]


def test_read_jsonl_explicit_schema_and_corrupt_line(spark, tmp_path):
    """JSON-lines file scan: explicit-schema read parallelizes like any
    text source, a corrupt line NULLs its row instead of failing the
    scan, and multiline mode reads one record per file."""
    from meta_morph_etl_databricks_spark.sources.scans import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n'
        'not json at all\n'
        '{"id": 2, "name": "b", "score": 2.5}\n'
    )
    df = read_jsonl(spark, str(p), schema="id bigint, name string, score double")
    rows = {(r.id, r.name, r.score) for r in df.collect()}
    assert (1, "a", 1.5) in rows and (2, "b", 2.5) in rows
    assert (None, None, None) in rows and len(rows) == 3  # corrupt → NULL row

    # inference path round-trips the same values
    inferred = read_jsonl(spark, str(p))
    assert inferred.where("id = 2").count() == 1

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.json").write_text('{\n  "id": 10,\n  "name": "whole-file"\n}')
    (d / "b.json").write_text('{\n  "id": 11,\n  "name": "second"\n}')
    ml = read_jsonl(spark, str(d), schema="id bigint, name string", multiline=True)
    assert {r.id for r in ml.collect()} == {10, 11}


def test_relation_cache_hits_and_never_serves_stale(spark, tmp_path):
    """r15 session-scoped parquet relation cache: a repeated open of an
    unchanged table returns the SAME lazy relation (no re-listing /
    re-inference), and ANY rewrite of the path (size, mtime, or file
    count changes the signature) misses the cache and reads fresh —
    the cache can never serve stale listings, schema, or split counts."""
    import meta_morph_etl_databricks_spark.sources.scans as scans

    d = str(tmp_path)
    spark.range(5).selectExpr("id AS a").write.parquet(f"{d}/t.parquet")
    df1 = scans.read_parquet_table(spark, d, "t")
    df2 = scans.read_parquet_table(spark, d, "t")
    assert df2 is df1  # cache hit: same relation object
    assert sorted(r["a"] for r in df2.collect()) == [0, 1, 2, 3, 4]
    # rewrite in place: new schema AND new rows — the open must be fresh
    import shutil
    import time as _t

    shutil.rmtree(f"{d}/t.parquet")
    _t.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    spark.range(3).selectExpr("id AS b", "id * 2 AS c").write.parquet(f"{d}/t.parquet")
    df3 = scans.read_parquet_table(spark, d, "t")
    assert df3 is not df1
    assert set(df3.columns) == {"b", "c"} and df3.count() == 3
    # the partitioning args are part of the key (adaptive split counts
    # must not leak across different caller dials)
    df4 = scans.read_parquet_table(spark, d, "t", min_partitions=2)
    assert df4 is not df3 and df4.rdd.getNumPartitions() <= 2


def test_relation_cache_is_keyed_by_session(spark, tmp_path):
    """``spark.newSession()`` shares the applicationId but not the
    confs: a sibling session must get a frame bound to itself, never
    the first session's cached relation."""
    import meta_morph_etl_databricks_spark.sources.scans as scans

    d = str(tmp_path)
    spark.range(4).selectExpr("id AS a").write.parquet(f"{d}/t.parquet")
    df1 = scans.read_parquet_table(spark, d, "t")
    s2 = spark.newSession()
    df2 = scans.read_parquet_table(s2, d, "t")
    assert df1.sparkSession is spark
    assert df2.sparkSession is s2 and df2 is not df1
    assert scans.read_parquet_table(s2, d, "t") is df2  # still cached per session
    assert df2.count() == 4


def _local_scan(df) -> bool:
    return "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_literal_frame_roundtrips_exactly(spark):
    """localrel.literal_frame must store what createDataFrame stores,
    BIT-FOR-BIT (NaN/±Inf, -0.0, float32, NULLs, empty and nested arrays,
    adversarial strings) under the same schema, nullability included,
    and plan a LocalTableScan (list input to createDataFrame plans an
    RDD scan)."""
    import struct

    from meta_morph_etl_databricks_spark.localrel import literal_frame

    schema = (
        "i bigint, b tinyint, d double, s string, f boolean, r float, "
        "v array<double>, n array<array<bigint>>"
    )
    rows = [
        (1, 7, 0.1 + 0.2, "it's a \\ 'quote'\nline\ttab", True, 0.1,
         [1e-300, -0.0, 5.5], [[1, 2], [3]]),
        (2**62, -128, float("nan"), "", False, float("nan"), [], [[], [9]]),
        (None, None, float("inf"), None, None, None, None, None),
        (3, 0, float("-inf"), "plain", True, -0.0,
         [float("nan"), 1.7976931348623157e308], [[2**62]]),
    ]
    lit = literal_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert _local_scan(lit)
    assert lit.schema == ref.schema

    def key(r):
        def enc(x):
            if isinstance(x, float):
                return struct.pack(">d", x)  # bit pattern: NaN==NaN, -0.0!=0.0
            if isinstance(x, list):
                return tuple(enc(e) for e in x)
            return x
        return tuple(enc(x) for x in r)

    got = sorted((key(r) for r in lit.collect()), key=repr)
    want = sorted((key(r) for r in ref.collect()), key=repr)
    assert got == want
    # an all-nullable DDL schema with NULL-free rows keeps its nullability
    dim = literal_frame(spark, [("A", "x"), ("N", "y")], "k string, label string")
    assert dim.schema == spark.createDataFrame([("A", "x")], "k string, label string").schema
    assert sorted(map(tuple, dim.collect())) == [("A", "x"), ("N", "y")]


def test_literal_frame_empty_keeps_not_null_schema(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from meta_morph_etl_databricks_spark.localrel import literal_frame

    st = StructType(
        [StructField("id", LongType(), False), StructField("note", StringType(), True)]
    )
    for schema in (st, "id bigint NOT NULL, note string"):
        e = literal_frame(spark, [], schema)
        assert e.schema == st and e.count() == 0 and _local_scan(e)


def test_literal_frame_is_local_with_arrow_off(spark):
    """A session with Spark's default Arrow conf (off) still plans a
    LocalTableScan: the Arrow table input, not the conf, decides it."""
    from meta_morph_etl_databricks_spark.localrel import literal_frame

    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    rows = [(1, [0.5, float("nan")]), (2, None)]
    lit = literal_frame(plain, rows, "cid bigint, cvec array<double>")
    assert _local_scan(lit)
    assert lit.schema == plain.createDataFrame(rows, "cid bigint, cvec array<double>").schema
    got = [(r[0], None if r[1] is None else [repr(x) for x in r[1]]) for r in lit.orderBy("cid").collect()]
    assert got == [(1, ["0.5", "nan"]), (2, None)]
