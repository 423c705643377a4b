"""The benchmark's workloads.

Each workload is a closed loop driven by one client in one Spark
session: the next operation starts when the previous one has returned.
An operation is a callable that returns ``(ok, detail)``; ``ok`` is
false when its output disagrees with the golden value.

- ``analyst_battery``: declared queries built and forced with
  ``count()``, in a seed-permuted order per pass (reads only).
- ``daily_etl``: consecutive ``pipeline.run_daily`` days into one fresh
  base dir, starting on a seeded date (writes).
- ``dedup_serve``: a seeded held-out document set served in id order
  through ``serve_incremental_dedup(..., append=True)`` against a band
  index built over the rest, with ``compact_due``/``compact_index``
  after each increment (index appends and rewrites).
- ``registry_pass``: every declared query once (not a timed workload of
  ``BENCHMARK.json``; it shows which registered queries fail).
"""

from __future__ import annotations

import datetime
import os
import random
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator

import pyarrow.parquet as pq

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.001")

# One query per plan module at least, so every module's driver build is
# measured; the three queries that fail at the time of writing are
# left to ``registry_pass`` (a timed workload must not fail).
BATTERY = (
    "q_product_performance",
    "q_sql_total_order_over_time",
    "q_distinct_status",
    "q_reconcile_summary",
    "q_events_session",
    "q_multimodal_bytes",
    "q_dedup_ngram_jaccard",
)
PLAN_MODULES = (
    "marts",
    "analyst_sql",
    "operator_queries",
    "quality_queries",
    "streaming_queries",
    "multimodal_queries",
    "ml_queries",
)

SERVE_VARIANTS = 8  # held-out sets with golden accepted counts
SERVE_HELD_OUT = 80
SERVE_INCREMENT = 8
# the other 7 increments are one timed pass; compaction falls due on the
# 8th append, inside it
SERVE_WARMUP_INCREMENTS = 3


def held_out_ids(variant: int, doc_ids: list[int]) -> list[int]:
    """The held-out documents of ``variant``, in id order."""
    rng = random.Random(f"dedup_serve-{variant}")
    return sorted(rng.sample(sorted(doc_ids), SERVE_HELD_OUT))


def doc_ids() -> list[int]:
    return pq.read_table(os.path.join(DATA_DIR, "documents.parquet"), columns=["doc_id"])[
        "doc_id"
    ].to_pylist()


def file_stats(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``, checksum files excluded."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".crc"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


@dataclass
class Op:
    name: str  # query, day or increment
    pass_no: int
    fn: Callable[[], tuple[bool, str]]


class Ctx:
    """Run-time state handed to every workload."""

    def __init__(self, spark, tracer: Tracer, work_dir: str, seed: int, golden: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.golden = golden
        self.fail_layer: str | None = None  # innermost layer of the last failure

    @contextmanager
    def layer(self, name: str, **attrs):
        """Run a block as one layer: a span when tracing, and the layer a
        failure inside it is reported under."""
        try:
            with self.tracer.span(name, layer=name, **attrs) as rec:
                yield rec
        except BaseException:
            self.fail_layer = self.fail_layer or name
            raise


def _plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class Workload:
    name = ""
    limit_s = 30.0  # per-operation time limit
    unit = "op"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self) -> None:
        """Workload set-up; repeated, and the median is reported."""

    def warmup_ops(self) -> list[Op]:
        return []

    def timed_ops(self) -> Iterator[Op]:
        return iter(())

    def report(self, ops: list, pass_s: float) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        return {}

    def layers(self, spans: list[dict], pass_of: dict) -> dict:
        """Workload-specific per-layer metrics (traced runs)."""
        return {}


# ---------------------------------------------------------------- battery
class AnalystBattery(Workload):
    name = "analyst_battery"
    limit_s = 30.0
    unit = "query"
    query_names: tuple = BATTERY

    def prepare(self) -> None:
        import __spark_entry__ as se

        fns = se.queries()
        self.fns = {q: fns[q] for q in self.query_names}
        self.rng = random.Random(f"{self.name}-{self.ctx.seed}")

    def _op(self, q: str, pass_no: int) -> Op:
        fn = self.fns[q]
        module = fn.__module__.rsplit(".", 1)[-1]
        expected = self.ctx.golden["queries"][q]
        ctx = self.ctx

        def run() -> tuple[bool, str]:
            with ctx.layer(module, kind="build", query=q):
                df = fn(self.spark, DATA_DIR)
            if ctx.tracer.enabled:
                with ctx.layer("catalyst", query=q):
                    _plan(df)
            with ctx.layer("count", module=module, query=q):
                n = df.count()
            return n == expected, f"count {n}, golden {expected}"

        return Op(q, pass_no, run)

    def _pass(self, pass_no: int) -> list[Op]:
        order = list(self.fns)
        self.rng.shuffle(order)
        return [self._op(q, pass_no) for q in order]

    def warmup_ops(self) -> list[Op]:
        return self._pass(0)

    def timed_ops(self) -> Iterator[Op]:
        pass_no = 1
        while True:
            yield from self._pass(pass_no)
            pass_no += 1

    def report(self, ops, pass_s) -> dict:
        return {"battery_s": (pass_s, "s")}

    def layers(self, spans, pass_of) -> dict:
        per_pass = defaultdict(lambda: defaultdict(float))
        for s in spans:
            p = pass_of.get(s["op"])
            if p is None:
                continue
            acc = per_pass[p]
            dur = s["end"] - s["start"]
            if s.get("kind") == "build":
                mod = s["layer"]
                acc[f"{mod}.build_s"] += dur
                acc[f"{mod}.build_jobs"] += s["counters"]["jobs"]
                acc["build.s"] += dur
            elif s["layer"] == "count":
                mod = s["module"]
                acc[f"{mod}.exec_s"] += dur
            else:
                continue
            c = s["counters"]
            acc[f"{mod}.tasks"] += c["tasks"]
            acc[f"{mod}.shuffle_bytes"] += c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
        return med_of(per_pass, [f"{m}.{k}" for m in PLAN_MODULES for k in
                                 ("build_s", "build_jobs", "exec_s", "tasks", "shuffle_bytes")]
                      + ["build.s"])


class RegistryPass(AnalystBattery):
    name = "registry_pass"

    def prepare(self) -> None:
        import __spark_entry__ as se

        self.query_names = tuple(se.queries())
        super().prepare()

    def warmup_ops(self) -> list[Op]:
        return []

    def timed_ops(self) -> Iterator[Op]:
        return iter(self._pass(1))


# ---------------------------------------------------------------- daily ETL
_SINKS = {"write_parquet": 1, "publish_partition": 2, "merge_upsert": 1}  # target arg
_WRAPPED = {
    "ingest": "pipeline",
    "read_parquet_table": "scans",
    "assert_unique": "dup_gate",
    "write_parquet": "sinks.write",
    "publish_partition": "sinks.publish",
    "merge_upsert": "sinks.merge_upsert",
}


class DailyEtl(Workload):
    name = "daily_etl"
    limit_s = 90.0
    unit = "day"

    def prepare(self) -> None:
        from meta_morph_etl_databricks_spark.plans import pipeline

        self.pipeline = pipeline
        golden = self.ctx.golden["queries"]
        exp = {t: pq.ParquetFile(f"{DATA_DIR}/{t}.parquet").metadata.num_rows
               for t in pipeline.INGEST_TABLES}
        for m in pipeline.MART_FNS:
            exp[f"mart.{m}"] = exp[f"published.{m}"] = golden[f"q_{m}"]
        exp["current.customer_metrics"] = golden["q_customer_metrics"]
        self.expected = exp
        self.source_bytes = sum(os.path.getsize(f"{DATA_DIR}/{t}.parquet")
                                for t in pipeline.INGEST_TABLES)
        rng = random.Random(f"{self.name}-{self.ctx.seed}")
        self.first_day = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(366))
        self.base = os.path.join(self.ctx.work_dir, "etl")
        shutil.rmtree(self.base, ignore_errors=True)

    def _day(self, day: datetime.date, pass_no: int) -> Op:
        def run() -> tuple[bool, str]:
            with self._traced_pipeline():
                with self.ctx.layer("pipeline"):
                    stats = self.pipeline.run_daily(self.spark, DATA_DIR, self.base, day.isoformat())
            bad = {k: (stats.get(k), v) for k, v in self.expected.items() if stats.get(k) != v}
            return not bad, f"stats differ (got, expected): {bad}"

        return Op(day.isoformat(), pass_no, run)

    def timed_ops(self) -> Iterator[Op]:
        n = 0
        while True:
            n += 1
            yield self._day(self.first_day + datetime.timedelta(days=n - 1), n)

    @contextmanager
    def _traced_pipeline(self):
        """In a traced run, wrap the names ``run_daily`` calls so each call
        is a span of its layer.  The package itself is not changed."""
        if not self.ctx.tracer.enabled:
            yield
            return
        p, ctx = self.pipeline, self.ctx
        saved = {n: getattr(p, n) for n in _WRAPPED}
        saved_marts = dict(p.MART_FNS)

        def wrap(name, fn, layer):
            target = _SINKS.get(name)

            def wrapped(*args, **kwargs):
                before = _listing(args[target]) if target is not None else None
                with ctx.layer(layer, call=name) as rec:
                    out = fn(*args, **kwargs)
                if before is not None:
                    rec["files_written"] = len(_listing(args[target]) - before)
                return out

            return wrapped

        def wrap_mart(fn):
            def wrapped(*args, **kwargs):
                with ctx.layer("marts"):
                    df = fn(*args, **kwargs)
                with ctx.layer("catalyst"):
                    _plan(df)
                return df

            return wrapped

        try:
            for n, layer in _WRAPPED.items():
                setattr(p, n, wrap(n, saved[n], layer))
            for m, fn in saved_marts.items():
                p.MART_FNS[m] = wrap_mart(fn)
            yield
        finally:
            for n, fn in saved.items():
                setattr(p, n, fn)
            p.MART_FNS.update(saved_marts)

    def report(self, ops, pass_s) -> dict:
        written = file_stats(self.base)[1]
        return {
            "etl_day_s": (pass_s, "s"),
            "etl_write_amp": (written / (len(ops) * self.source_bytes), "ratio"),
        }

    def layers(self, spans, pass_of) -> dict:
        per_day = defaultdict(lambda: defaultdict(float))
        names = {
            "scans": "scans.read_s",
            "dup_gate": "dup_gate.s",
            "marts": "marts.build_s",
            "sinks.write": "sinks.write_s",
            "sinks.publish": "sinks.publish_s",
            "sinks.merge_upsert": "sinks.merge_upsert_s",
        }
        for s in spans:
            p = pass_of.get(s["op"])
            if p is None:
                continue
            acc = per_day[p]
            layer = s["layer"]
            if layer not in names:  # op, pipeline and catalyst are generic layer metrics
                continue
            acc[names[layer]] += s["end"] - s["start"]
            if layer == "marts":
                acc["build.s"] += s["end"] - s["start"]
            if layer == "dup_gate":
                acc["dup_gate.jobs"] += s["counters"]["jobs"]
            if layer.startswith("sinks."):
                acc["sinks.bytes_written"] += s["counters"]["output_bytes"]
                acc["sinks.files_written"] += s.get("files_written", 0)
        return med_of(per_day, ["scans.read_s", "dup_gate.s", "dup_gate.jobs", "marts.build_s",
                                "sinks.write_s", "sinks.publish_s", "sinks.merge_upsert_s",
                                "sinks.bytes_written", "sinks.files_written", "build.s"])


def _listing(root: str) -> set:
    """Data files under ``root`` with their modification times."""
    out = set()
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".crc") and not n.startswith("_"):
                path = os.path.join(d, n)
                out.add((path, os.stat(path).st_mtime_ns))
    return out


# ---------------------------------------------------------------- dedup serve
SERVE_PHASES = ("open_live", "band_plan", "band_touch", "tombstones",
                "pruned_plan", "policy_plan", "append")
_PLAN_PHASES = ("band_plan", "pruned_plan", "policy_plan")


class DedupServe(Workload):
    name = "dedup_serve"
    limit_s = 30.0
    unit = "increment"

    def __init__(self, ctx: Ctx, variant: int | None = None):
        super().__init__(ctx)
        self.variant = ctx.seed % SERVE_VARIANTS if variant is None else variant
        self.builds = 0
        self.phase_log: dict[int, dict] = {}
        self.compactions: list[float] = []

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from meta_morph_etl_databricks_spark.operators import index_store as ix
        from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table

        self.ix = ix
        held = held_out_ids(self.variant, doc_ids())
        self.increments = [held[i:i + SERVE_INCREMENT] for i in range(0, len(held), SERVE_INCREMENT)]
        self.expected = self.ctx.golden.get("serve", {}).get(str(self.variant))
        self.docs = read_parquet_table(self.spark, DATA_DIR, "documents")
        self.builds += 1
        self.root = os.path.join(self.ctx.work_dir, f"index{self.builds}")
        corpus = self.docs.where(~F.col("doc_id").isin(held))
        self.meta = ix.create_band_index(corpus, self.root)
        self.corpus_docs = len(doc_ids()) - len(held)
        self.served = 0

    def _inc(self, i: int) -> Op:
        from pyspark.sql import functions as F

        ids = self.increments[i]
        ctx = self.ctx

        def run() -> tuple[bool, str]:
            trace: dict | None = {} if ctx.tracer.enabled else None
            new_docs = self.docs.where(F.col("doc_id").isin(ids))
            with ctx.layer("serve"):
                res = self.ix.serve_incremental_dedup(new_docs, self.root, append=True, trace=trace)
            if ctx.tracer.enabled:
                with ctx.layer("catalyst"):
                    _plan(res.accepted)
            t0 = time.perf_counter()
            with ctx.layer("count"):
                n = res.accepted.count()
            count_s = time.perf_counter() - t0
            self.served += len(ids)
            with ctx.layer("compact"):
                t0 = time.perf_counter()
                if self.ix.compact_due(self.spark, self.root):
                    self.ix.compact_index(self.spark, self.root)
                    self.compactions.append(time.perf_counter() - t0)
            if trace is not None:
                self.phase_log[i] = dict(trace, count=count_s)
            self.accepted = n
            if self.expected is None:
                return True, "no golden"
            return n == self.expected[i], f"accepted {n}, golden {self.expected[i]}"

        return Op(f"increment{i}", 0 if i < SERVE_WARMUP_INCREMENTS else 1, run)

    def warmup_ops(self) -> list[Op]:
        return [self._inc(i) for i in range(SERVE_WARMUP_INCREMENTS)]

    def timed_ops(self) -> Iterator[Op]:
        for i in range(SERVE_WARMUP_INCREMENTS, len(self.increments)):
            yield self._inc(i)

    def report(self, ops, pass_s) -> dict:
        files, size = file_stats(self.root)
        return {
            "serve_p50_s": (quantile([o.charged for o in ops], 0.5), "s"),
            "serve_p90_s": (quantile([o.charged for o in ops], 0.9), "s"),
            "index_bytes_per_doc": (size / (self.corpus_docs + self.served), "B"),
        }

    def layers(self, spans, pass_of) -> dict:
        timed = [i for i in self.phase_log if i >= SERVE_WARMUP_INCREMENTS]
        out = {f"serve.{p}_s": med([self.phase_log[i].get(p, 0.0) for i in timed])
               for p in SERVE_PHASES + ("count",)}
        files, size = file_stats(self.root)
        out.update({
            "compact.s": sum(self.compactions),
            "compact.count": len(self.compactions),
            "index.files": files,
            "index.bytes": size,
            "build.s": med([sum(self.phase_log[i][p] for p in _PLAN_PHASES) for i in timed]),
        })
        return out


WORKLOADS = {w.name: w for w in (AnalystBattery, DailyEtl, DedupServe, RegistryPass)}


# ---------------------------------------------------------------- statistics
def med(values: list[float]) -> float:
    return quantile(values, 0.5)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; a failed operation is +inf."""
    if not values:
        return float("nan")
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    if pos == lo:
        return v[lo]
    if v[lo + 1] == float("inf"):
        return float("inf")
    return v[lo] + (v[lo + 1] - v[lo]) * (pos - lo)


def med_of(per_pass: dict, keys: list[str]) -> dict:
    """Median over passes of each per-pass total (0 where never seen)."""
    return {k: med([per_pass[p].get(k, 0.0) for p in per_pass]) if per_pass else 0.0
            for k in keys}
