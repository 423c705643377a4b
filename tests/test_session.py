"""Session sizing: the driver heap follows the host (no JVM needed)."""

from __future__ import annotations

from meta_morph_etl_databricks_spark.session import driver_heap

GiB = 1 << 30


def test_default_heap_is_sixty_percent_of_ram_capped_at_16g():
    heap, opts = driver_heap(None, 15 * GiB)
    assert heap == f"{int(15 * GiB * 0.6) >> 20}m"  # 9216m
    assert opts == "-Xms9216m -XX:+AlwaysPreTouch"
    # a big host hits the cap
    assert driver_heap(None, 256 * GiB) == ("16384m", "-Xms16384m -XX:+AlwaysPreTouch")
    # a tiny host still gets a heap that fits, so it is pre-touched
    heap, opts = driver_heap(None, 2 * GiB)
    assert heap == "1228m" and opts.endswith("-XX:+AlwaysPreTouch")


def test_override_wins_and_pretouch_only_when_it_fits():
    # the perfbench pin: unchanged heap, pinned and pre-touched
    assert driver_heap("2g", 15 * GiB) == ("2048m", "-Xms2048m -XX:+AlwaysPreTouch")
    assert driver_heap("512m", 15 * GiB)[0] == "512m"
    assert driver_heap("1024", 15 * GiB)[0] == "1024m"  # bare number = MiB
    assert driver_heap("1.5G", 15 * GiB)[0] == "1536m"
    # a heap larger than RAM is neither pinned nor pre-touched
    assert driver_heap("16g", 15 * GiB) == ("16384m", "")
