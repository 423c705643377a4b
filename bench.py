"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query
wall-clock seconds.

Each query is forced with a cheap count() action (no driver collect of
full results — we measure the distributed plan, not toPandas transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_HERE = os.path.dirname(os.path.abspath(__file__))

# The bench's OWN per-round history.  The driver's BENCH_r{N}.json has
# carried "parsed": null since round 5 and its "tail" is front-truncated
# past reconstruction, so for seven rounds _baseline_timings() returned
# {} and the 1.5x regression gate, the host-ratio normalization and
# value_normalized were all no-ops (r11 verdict task 1).  Each run now
# persists its full parsed payload here, keyed by round; the next run's
# gate reads the newest round STRICTLY BEFORE its own, at the same sf.
_SELF_FILE = "BENCH_SELF.json"


def _driver_round(here: str | None = None) -> int:
    """Round number of the newest driver BENCH_r{N}.json (0 when none).
    The driver writes BENCH_r{N} at the END of round N, so a bench
    running now is measuring round ``driver_round + 1``'s code.  Rounds
    parsed numerically (the zero-padded names sort lexically today, but
    3-digit rounds must not silently reorder)."""
    import glob
    import re

    best = 0
    for f in glob.glob(os.path.join(here or _HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            best = max(best, int(m.group(1)))
    return best


def _baseline_artifact(
    here: str | None = None,
    sf: float | None = None,
    current_round: int | None = None,
) -> tuple[int, dict]:
    """(round, payload) of the newest usable BASELINE — ONE discovery
    point so the reported baseline round and its timings provably come
    from the same record.  Preference order:

    1. ``BENCH_SELF.json`` entries from rounds strictly BEFORE the
       current one (an entry from THIS round — an earlier local run —
       would gate the run against itself), at the same ``sf`` (timings
       only compare at the same scale; local sf0.01 iteration runs must
       not become the sf0.1 gate's floor);
    2. the newest driver ``BENCH_r{N}.json`` whose ``parsed`` is
       non-null — the pre-r12 source, kept as the fallback.

    Returns ``(0, {})`` when neither exists (first round, or history
    wiped): the gate then compares nothing, visibly (empty baseline).

    ``current_round``: main() resolves the round ONCE and threads it
    here and into :func:`_persist_self` — a driver artifact landing on
    disk mid-run must not make the gate and the self-record disagree
    about which round this run belongs to."""
    here = here or _HERE
    cur = current_round if current_round is not None else _driver_round(here) + 1
    try:
        with open(os.path.join(here, _SELF_FILE)) as f:
            rounds = json.load(f).get("rounds") or {}
    except Exception:
        rounds = {}
    best_round, best = 0, {}
    for r, slot in rounds.items():
        try:
            r = int(r)
        except ValueError:
            continue
        if r >= cur or r <= best_round or not isinstance(slot, dict):
            continue
        # r13 schema: {sf_str: payload}; legacy (≤r12): the payload
        # itself (detected by its own "sf" field)
        candidates = [slot] if "sf" in slot else [
            v for v in slot.values() if isinstance(v, dict)
        ]
        for payload in candidates:
            if sf is not None and payload.get("sf") != sf:
                continue
            best_round, best = r, dict(payload)
            break
    if best:
        return best_round, best
    # fallback: newest driver artifact with a non-null parsed payload
    import glob
    import re

    numbered = []  # (round, path) — stray BENCH_r*.json names are skipped
    for f in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", f)
        if m:
            numbered.append((int(m.group(1)), f))
    for rnd, f in sorted(numbered, reverse=True):
        try:
            with open(f) as fh:
                parsed = json.load(fh).get("parsed")
        except Exception:
            continue
        # same sf filter as the self history: a 0.1-sf driver record
        # compared against a 0.001-sf local run flags nonsense (caught
        # live on the r12 smoke run — q_embed 9.4x "regression")
        if parsed and (sf is None or parsed.get("sf") == sf):
            return rnd, dict(parsed)
    return 0, {}


def _persist_self(
    payload: dict, here: str | None = None, current_round: int | None = None
) -> None:
    """Record this run's parsed payload under ``(round, sf)`` in
    ``BENCH_SELF.json``.  Keying by round ALONE clobbered (r12 advice):
    a local sf0.01 iteration run executed AFTER the round's official
    sf0.1 bench overwrote the official record, so the next round's sf0.1
    gate found no matching-sf entry and went vacuous — the exact failure
    the self-history exists to prevent.  Last-write-wins only within the
    same (round, sf), where it is correct (the driver's official run at
    a given sf is the last one at that sf).
    ``current_round``: see :func:`_baseline_artifact` — one resolution
    per run, shared with the gate."""
    here = here or _HERE
    p = os.path.join(here, _SELF_FILE)
    try:
        with open(p) as f:
            rounds = dict(json.load(f).get("rounds") or {})
    except Exception:
        rounds = {}
    cur = current_round if current_round is not None else _driver_round(here) + 1
    slot = rounds.get(str(cur))
    if not isinstance(slot, dict) or "sf" in slot:
        # legacy flat payload (pre-r13 schema): re-nest it under its own sf
        slot = {str(slot.get("sf")): slot} if isinstance(slot, dict) else {}
    slot[str(payload.get("sf"))] = payload
    rounds[str(cur)] = slot
    keep = sorted(rounds, key=lambda r: int(r) if r.isdigit() else -1)[-8:]
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"rounds": {k: rounds[k] for k in keep}}, f, indent=1, sort_keys=True)
    os.replace(tmp, p)

# tagged-union queries: (tag column, arm values).  Each arm is timed
# separately (filter on the literal tag folds the other branch away) so
# cross-round totals stay decomposable as unions grow; the gate itself
# still runs on the whole-query time.
_UNION_VARIANTS: dict[str, tuple[str, list[str]]] = {
    "q_similarity_topk": ("variant", ["float", "int8", "pq"]),
    "q_order_limit": ("fam", ["topk_price", "by_month_expr"]),
    "q_anti_joins": ("side", ["parts_unsold", "customers_no_orders"]),
    # NB: q_self_join_agg's bucketed-table WRITE is an eager side effect
    # of the callable, so it is paid in BOTH arm timings — the 'direct'
    # sub-timing is (write + direct plan), not the direct plan alone.
    "q_self_join_agg": ("variant", ["direct", "bucketed"]),
    # NB: q_dedup_ngram_jaccard eagerly checkpoints the scored pairs and
    # runs the connected-components rounds at callable-invocation time,
    # so every arm's sub-timing carries that shared prefix — the
    # decomposition separates only each arm's residual plan.
    "q_dedup_ngram_jaccard": ("variant", ["candidates", "verified", "components"]),
    "q_train_prep": ("variant", ["decontaminate", "pack", "chunk"]),
    "q_corpus_split": ("variant", ["split", "mix"]),
    "q_similarity_ivf_topk": ("variant", ["ivf", "ivfpq", "rerank"]),
    "q_distinct_status": ("variant", ["distinct", "heavy"]),
    "q_quantiles_by_status": ("variant", ["status", "rollup"]),
    "q_corpus_curation": ("variant", ["curation", "incremental"]),
    "q_embed_near_dup_lsh": ("variant", ["lsh", "semantic2", "sem_inc", "retract"]),
}


def _scale10_dir(here: str | None = None) -> str:
    return os.path.join(here or _HERE, ".scale10")


# bump when the generator's OUTPUT changes in a timing-relevant way —
# a stale layout must rebuild, not silently feed the gate numbers from
# a different data shape (r13 review: a pre-repartition single-file
# build reused under a distributed-layout baseline reads as a phantom
# >10x regression)
_SCALE10_LAYOUT = "v2-repartitioned"


def _marker_state(marker: str) -> bool | None:
    """Three-state freshness of a layout-versioned build marker:
    True = fresh (current _SCALE10_LAYOUT recorded), False = missing or
    stale (REBUILD), None = exists but unreadable (permission error,
    marker-is-a-directory...) — the caller must SKIP its section, not
    rebuild (r14 review: a persistently unreadable marker would
    otherwise re-run a minutes-long build every round forever, then
    fail the marker write the same way)."""
    try:
        with open(marker) as f:
            return _SCALE10_LAYOUT in f.read()
    except FileNotFoundError:
        return False
    except OSError as e:
        print(f"# scale10 marker unreadable, skipping: {marker}: {e}", file=sys.stderr)
        return None


def _marker_write(marker: str, text: str) -> bool:
    """Record a completed build; the layout version prefixes the note
    so a generator bump invalidates it.  False (with a stderr note) on
    IO failure — the caller treats the build as unusable this round."""
    try:
        with open(marker, "w") as f:
            f.write(f"{_SCALE10_LAYOUT}: {text}")
        return True
    except OSError as e:
        print(f"# scale10 marker write failed: {marker}: {e}", file=sys.stderr)
        return False


def _ensure_scale10(spark) -> str | None:
    """Build (or reuse) the 10× replication of sf0.1 (tools/gen_scale.py)
    that backs the HOT-set scale gate.  The replication is deterministic
    over static testdata, so a completed build is reused across rounds;
    the marker file is written only after every table landed and records
    the generator LAYOUT version — a mismatch rebuilds."""
    d = _scale10_dir()
    marker = os.path.join(d, "_scale10_complete")
    state = _marker_state(marker)
    if state is True:
        return d
    if state is None:
        return None  # unreadable marker: degrade, don't rebuild forever
    import shutil

    shutil.rmtree(d, ignore_errors=True)  # stale/absent layout: rebuild
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "gen_scale", os.path.join(_HERE, "tools", "gen_scale.py")
        )
        gs = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gs)
        t0 = time.time()
        gs.scale_tables(spark, d, copies=10, tables="all")
        if not _marker_write(
            marker, f"10x of {gs.SRC}, built in {round(time.time() - t0, 1)}s"
        ):
            return None  # unrecorded build would re-run forever — skip
        return d
    except Exception as e:
        print(f"# scale10 build failed: {e}", file=sys.stderr)
        return None


def _scale10_hot(spark, passes: int = 1) -> dict[str, float]:
    """The HOT-set scale gate (r12 verdict task 5): 4 rows at 10× sf0.1
    — one mart, one text-dedup chain, one embedding-LSH pair pass, one
    persisted-index serve — timed with the same min-of-passes estimator
    and fed through the SAME regression gate as the sf0.1 queries.

    Rationale: the sf0.1 gate cannot see scale regressions (r11's
    hyperplane-orthant bug turned a 21 s pass into 35+ min at 200k
    vectors while every sf0.1 hash stayed green); these rows make a
    plan-shape regression at 10× fail the round automatically instead
    of waiting for an ad-hoc BENCH_SCALE refresh.

    Cost control (measured r13: mart 24 s + dedup 99 s + embed 26 s +
    serve 4 s per pass, build 115 s): ``passes`` defaults to 1 — the
    1.5× + 1 s + host-ratio gate thresholds absorb single-sample noise,
    and these rows are a tripwire, not a timing paper.  The serve INDEX
    is built once into ``.scale10_idx`` and reused across rounds (the
    corpus is deterministic; serve uses append=False), which is also
    the production shape — build once, serve increments.  Skippable via
    SPARK_GRAFT_SKIP_SCALE10=1 for quick local iteration."""
    timings: dict[str, float] = {}
    d = _ensure_scale10(spark)
    if d is None:
        return timings

    def sample(name: str, thunk, n: int = passes) -> None:
        for _ in range(n):
            t0 = time.time()
            try:
                thunk()
                t = round(time.time() - t0, 3)
                prev = timings.get(name)
                timings[name] = t if prev is None or prev < 0 else min(prev, t)
            except Exception as e:
                timings.setdefault(name, -1.0)
                print(f"# scale10 error {name}: {e}", file=sys.stderr)

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.operators import index_store as ix
    from meta_morph_etl_databricks_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )
    from meta_morph_etl_databricks_spark.plans import marts
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        _documents,
        _embeddings,
    )

    # the same parallelism-aware readers the declared queries use — a
    # single-file scale dir must not serialize the hash-heavy map work
    # onto one core (r13: the raw read measured single-core hashing,
    # 95 s for a build the split corpus does in 9 s).  Setup reads are
    # guarded like everything else in the gate: a torn scale-dir table
    # degrades this pass to missing rows, never kills the headline
    # bench (r13 review).
    try:
        docs = _documents(spark, d)
        emb = _embeddings(spark, d)
        n_vecs = emb.count()
    except Exception as e:
        print(f"# scale10 setup read failed: {e}", file=sys.stderr)
        return timings

    sample(
        "scale10:mart_customer_sales_report",
        lambda: marts.customer_sales_report(spark, d).count(),
    )
    sample(
        "scale10:dedup_lsh_verified",
        lambda: minhash_lsh_candidates(docs, with_estimate=True)
        .where(F.col("est_jaccard") >= 0.8)
        .count(),
    )
    sample(
        "scale10:embed_lsh_pairs",
        lambda: lsh_bucketed_pairs(
            emb, n_planes=None, threshold=0.9, n_docs=n_vecs
        ).count(),
    )

    try:
        cut = (
            docs.orderBy(F.col("doc_id").desc())
            .limit(32)
            .agg(F.min("doc_id"))
            .first()[0]
        )
    except Exception as e:
        print(f"# scale10 serve setup failed: {e}", file=sys.stderr)
        return timings
    corpus = docs.where(F.col("doc_id") < cut)
    increment = docs.where(F.col("doc_id") >= cut)
    # The idx markers record the CORPUS layout version they were built
    # from (r13 advice): a _SCALE10_LAYOUT bump rebuilds the .scale10
    # corpus, so an index carrying an older (or no) version tag was
    # built from a previous corpus generation and must rebuild too —
    # otherwise the serve rows silently measure against stale data.
    # An UNREADABLE marker skips the section instead of rebuilding
    # every round (r14 review, same rule as _ensure_scale10).
    def _built_index(idx_dir: str, marker: str, row: str, build, note: str) -> bool:
        """Shared build-or-reuse protocol for the persisted serve
        indexes: returns True when the index at ``idx_dir`` is fresh —
        reused, or rebuilt via ``build`` (timed as ``row``, n=1) with
        its completion recorded in ``marker``."""
        state = _marker_state(marker)
        if state is True:
            return True
        if state is None:
            return False
        shutil.rmtree(idx_dir, ignore_errors=True)  # torn/stale prior build
        sample(row, build, n=1)
        return timings.get(row, -1.0) >= 0 and _marker_write(marker, note)

    idx_dir = os.path.join(_HERE, ".scale10_idx")
    if _built_index(
        idx_dir,
        os.path.join(idx_dir, "_scale10_idx_complete"),
        "scale10:serve_build",
        lambda: ix.create_band_index(corpus, idx_dir),
        "band index over .scale10 documents minus top-32 ids",
    ):
        sample(
            "scale10:serve_incremental",
            lambda: ix.serve_incremental_dedup(
                increment, idx_dir, append=False
            ).accepted.count(),
        )

    # r14 (verdict task 1): the compacted-serve case.  A SECOND persisted
    # index is built once per corpus layout through the production
    # grow→compact cycle — bootstrap from corpus minus the top 160 ids,
    # grow with four 32-doc appends (each adds one small file per touched
    # bucket: the daily-serve listing bloat), then compact_index collapses
    # them.  Every round serves the SAME top-32 probe against it, so a
    # regression in compaction's output layout or the pruned read over it
    # fails the gate like any other row.  BENCH_SCALE.compact_serve holds
    # the before/after story at 10×/100×; this row pins the after.
    idxc_dir = os.path.join(_HERE, ".scale10_idxc")

    def build_grow_compact() -> None:
        top = [
            r[0]
            for r in docs.select("doc_id")
            .orderBy(F.col("doc_id").desc())
            .limit(160)
            .collect()
        ]
        grow = sorted(top[32:])  # 128 ids below the probe slice
        bnds = [grow[0], grow[32], grow[64], grow[96], cut]
        batches = [
            docs.where((F.col("doc_id") >= bnds[i]) & (F.col("doc_id") < bnds[i + 1]))
            for i in range(4)
        ]
        ix.create_band_index(docs.where(F.col("doc_id") < bnds[0]), idxc_dir)
        for b in batches:
            ix.serve_incremental_dedup(b, idxc_dir, append=True).accepted.count()
        ix.compact_index(spark, idxc_dir)

    if _built_index(
        idxc_dir,
        os.path.join(idxc_dir, "_scale10_idxc_complete"),
        "scale10:idxc_build",
        build_grow_compact,
        "grown(4x32)+compacted band index over .scale10 documents minus top-160 ids",
    ):
        sample(
            "scale10:serve_compacted",
            lambda: ix.serve_incremental_dedup(
                increment, idxc_dir, append=False
            ).accepted.count(),
        )
    return timings


def _baseline_calibration(base: dict) -> float | None:
    """A baseline payload's calibration-probe seconds, if recorded."""
    cal = base.get("calibration_sec")
    return float(cal) if cal and cal > 0 else None


def _calibrate(spark) -> float:
    """Fixed-size shuffle+agg probe: 50M generated longs, hash-partition
    on a 97-way key, algebraic aggregate.  Entirely JVM-side, pinned
    input size, independent of $SPARK_GRAFT_SF_DIR — its wall-clock
    tracks the HOST's momentary throughput, so the ratio of this round's
    probe to last round's de-noises cross-round query comparisons (the
    host throttles in multi-second bursts: identical code has swung
    63s..131s whole-run)."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(0, 50_000_000, 1, 32)
        .select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v"), F.count("v"), F.max("v"))
        .count()
    )
    return round(time.time() - t0, 3)


def _regressions(
    timings: dict[str, float],
    baseline: dict[str, float],
    host_speed_ratio: float = 1.0,
) -> dict[str, dict[str, float]]:
    """Queries >1.5x their previous-round time (with a 1 s absolute
    floor so sub-second scheduling jitter doesn't flag).  Baselines are
    scaled by ``host_speed_ratio`` (this round's calibration probe over
    last round's) so a uniformly throttled host doesn't flag every
    query — only plan regressions beyond the host drift.

    The normalization is one-sided: a RAW time at or below last round's
    never flags.  The probe measures pure shuffle+agg throughput, but
    multi-second queries carry fixed costs (plan compile, stage launch,
    broadcast build) that don't shrink with a faster host — on an
    unusually fast round a 2x probe speedup would otherwise flag
    queries that are absolutely FASTER than before.

    A query that ran in the baseline and fails now (the -1.0 error
    sentinel) is flagged with ``failed: True``: a crash must not drop
    out of the comparison and read as a faster round."""
    out: dict[str, dict[str, float]] = {}
    for name, t in timings.items():
        base = baseline.get(name)
        if base is None or base <= 0:
            continue
        if t < 0:
            out[name] = {"now": t, "baseline": base, "failed": True}
            continue
        raw_base = base
        # one-sided (see docstring): a throttled host (ratio > 1)
        # inflates the baseline; a fast host (ratio < 1) keeps it raw
        base = base * max(host_speed_ratio, 1.0)
        if t > 1.5 * base and t - base > 1.0 and t > raw_base:
            out[name] = {"now": t, "baseline": round(base, 3), "ratio": round(t / base, 2)}
    return out


def _common_total(timings: dict[str, float], baseline: dict[str, float]) -> dict:
    """Totals over the queries BOTH runs completed — the raw total drops
    a crashed query, so only this pair compares across runs."""
    both = [n for n, t in timings.items() if t >= 0 and baseline.get(n, -1.0) >= 0]
    return {
        "queries": len(both),
        "now": round(sum(timings[n] for n in both), 3),
        "baseline": round(sum(baseline[n] for n in both), 3),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as se
    from meta_morph_etl_databricks_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = se.queries()

    # scratch housekeeping lives here, not in the declared queries
    from meta_morph_etl_databricks_spark.plans.operator_queries import prune_bucketed_scratch

    prune_bucketed_scratch()

    timings: dict[str, float] = {}
    # warm-up: JVM, codegen, broadcast + shuffle infra, the Python/Arrow
    # worker pool, and every input table's footer cache — so per-query
    # times measure the steady-state distributed plan, not whichever
    # query happens to run first after a cold component.
    for t in ("region", "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:
            pass
    # run EVERY query once at sf0.001: identical plan shapes compile +
    # JIT here, so the timed sf0.1 pass measures distributed execution,
    # not Janino/C2 compilation of whichever plans happen to be novel.
    for fn in qs.values():
        try:
            fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
    try:  # spin up the Arrow-batched Python workers once
        import pandas as pd  # noqa: F401

        spark.range(64).mapInPandas(lambda it: it, "id long").count()
    except Exception:
        pass
    _calibrate(spark)  # warm the probe's own codegen before timing it
    # three interleaved passes, report the per-query MIN: the host this
    # runs on throttles in multi-second bursts (whole-run wall-clock
    # swung 63s..131s on identical code), and interleaving means one
    # burst cannot inflate all samples of the same query.  Min-of-N
    # is the standard wall-clock estimator under asymmetric noise.
    # Each pass opens with the calibration probe so host drift during
    # the run itself is visible in the samples.
    cal_samples: list[float] = []
    for _pass in range(3):
        cal_samples.append(_calibrate(spark))
        for name, fn in qs.items():
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.count()
                t = round(time.time() - t0, 3)
                # min over SUCCESSFUL samples only — a failed other pass
                # (transient throttle/OOM) must not poison a valid time
                prev = timings.get(name)
                timings[name] = t if prev is None or prev < 0 else min(prev, t)
            except Exception as e:  # keep benching the rest
                if timings.get(name) is None:
                    timings[name] = -1.0  # error only if NO pass succeeded
                print(f"# bench error {name}: {e}", file=sys.stderr)

    # per-arm sub-timings for the tagged-union queries: a filter on the
    # literal tag column constant-folds the other branch to an empty
    # relation, so each sample times ONE arm's plan.  3 passes, min —
    # same estimator as the main loop.  Informational only (the gate
    # runs on whole-query times); future rounds can gate per-arm.
    #
    # The query is BUILT once per pass and every arm filters the same
    # frame: several builders do eager driver work at construction time
    # (the sem_inc arm's bootstrap Lloyd collects, the bucketed-arm
    # table write), and rebuilding per arm attributed that shared prefix
    # to EVERY arm's number (r8's lsh variant read 5.3 s for a 0.8 s
    # plan).  Construction cost is reported separately as '_build' —
    # arm times now decompose the whole-query number instead of each
    # re-containing its fixed prefix.
    from pyspark.sql import functions as F

    variants: dict[str, dict[str, float]] = {}
    for _pass in range(3):
        for name, (tag, arms) in _UNION_VARIANTS.items():
            fn = qs.get(name)
            if fn is None:
                continue
            vq = variants.setdefault(name, {})
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
            except Exception as e:
                vq.setdefault("_build", -1.0)
                print(f"# bench variant build error {name}: {e}", file=sys.stderr)
                continue
            tb = round(time.time() - t0, 3)
            prev = vq.get("_build")
            vq["_build"] = tb if prev is None or prev < 0 else min(prev, tb)
            for arm in arms:
                t0 = time.time()
                try:
                    df.filter(F.col(tag) == arm).count()
                    t = round(time.time() - t0, 3)
                    prev = vq.get(arm)
                    vq[arm] = t if prev is None or prev < 0 else min(prev, t)
                except Exception as e:
                    vq.setdefault(arm, -1.0)
                    print(f"# bench variant error {name}/{arm}: {e}", file=sys.stderr)

    ok = [v for v in timings.values() if v >= 0]
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # HOT-set scale gate (r12 verdict task 5): 10×-sf0.1 rows, gated by
    # the same regression math below.  Only at the official sf (a local
    # sf0.01 iteration run must not pay ~90 s of 10× work), skippable
    # explicitly.  NOT added to `value` — the headline stays comparable
    # across rounds; the rows ride in their own payload key.
    scale10: dict[str, float] = {}
    if sf == 0.1 and os.environ.get("SPARK_GRAFT_SKIP_SCALE10") != "1":
        try:
            scale10 = _scale10_hot(spark)
        except Exception as e:  # contract: degrade to missing rows,
            # never kill the headline bench (r13 advice — an unexpected
            # OSError from marker IO must not abort the official run)
            print(f"# scale10 pass failed: {e}", file=sys.stderr)

    calibration = round(min(cal_samples), 3)
    cur_round = _driver_round() + 1  # resolved ONCE — gate + self-record agree
    base_round, base = _baseline_artifact(sf=sf, current_round=cur_round)
    prev_cal = _baseline_calibration(base)
    # >1 = this host is slower than last round's; scales the gate's baselines
    host_speed_ratio = round(calibration / prev_cal, 3) if prev_cal else 1.0
    base_queries = dict(base.get("queries") or {})
    regressions = _regressions(timings, base_queries, host_speed_ratio)
    regressions.update(
        _regressions(scale10, dict(base.get("scale10") or {}), host_speed_ratio)
    )
    for name, r in regressions.items():
        if r.get("failed"):
            print(f"# bench FAILED {name}: ran in the baseline at {r['baseline']}s", file=sys.stderr)
        else:
            print(f"# bench REGRESSION {name}: {r['now']}s vs {r['baseline']}s ({r['ratio']}x)", file=sys.stderr)
    total = round(sum(ok), 3)
    result = {
        "metric": "total_wall_clock_all_queries",
        "value": total,
        "unit": "sec",
        # a crash is a failure: named here, and the raw total above
        # (which drops it) sits next to the total over common queries
        "failed": sorted(n for n, t in {**timings, **scale10}.items() if t < 0),
        "common_total": _common_total(timings, base_queries),
        "queries": timings,
        "variants": variants,
        "scale10": scale10,
        "sf": sf,
        # the run's ACTUAL parallelism (r14 verdict item 2): the driver's
        # low-core scaling probe could not tell an honored
        # $SPARK_GRAFT_CPUS dial from an ignored one because the payload
        # never echoed it — sf0.1 queries are fixed-cost-bound, so 8-core
        # and 32-core runs time alike.  cpus = defaultParallelism (what
        # session.py derived from the env), master = the resolved string.
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "regressions": regressions,
        # which record the gate actually compared against (0/none =
        # vacuous run — visible, not silent, r11 verdict task 1)
        "baseline_round": base_round,
        "baseline_queries_compared": len(base.get("queries") or {}),
        "calibration_sec": calibration,
        "calibration_samples": cal_samples,
        "host_speed_ratio": host_speed_ratio,
        "value_normalized": round(total / host_speed_ratio, 3) if host_speed_ratio > 0 else total,
    }
    try:  # the next round's gate reads this run's record
        _persist_self(
            {
                "sf": sf,
                "queries": timings,
                "variants": variants,
                "scale10": scale10,
                "calibration_sec": calibration,
                "value": total,
            },
            current_round=cur_round,
        )
    except Exception as e:  # never let history IO kill the bench output
        print(f"# bench self-record write failed: {e}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
