"""Distributed connected components over near-duplicate PAIRS — the
pairs→groups step of a production dedup pipeline.  MinHash/SimHash/
embedding LSH (operators/dedup.py, operators/similarity.py) emit
candidate pairs; to actually deduplicate, the corpus needs GROUPS:
transitively-connected documents collapse to one component, one
canonical representative survives (no reference analog — the reference
dedups on exact primary keys only, ETL-Airflow/dags/tasks/
m_customer_sales_report_task.py:60-66; transitive near-dup grouping is
the LLM-pipeline extension).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public
paper).  Each half-round is one hash-shuffle groupBy-min plus one
equi-join on the node id; the state between rounds is just the edge
set.  Convergence is O(log² n) rounds worst-case and 2-4 rounds in
practice on near-dup graphs (components are small and already
star-like).  Chosen over label propagation (O(diameter) rounds — a
chain of pairwise-similar documents is exactly the pathological case)
and over GraphFrames (not in this runtime, and pulls in a full graph
framework for what is two relational operators).

Scale shape per round: shuffle volume = |E| ids, never documents; no
vertex ever materializes its neighbor list (groupBy-min + join, not
collect_list), so a billion-edge hub component neither skews one task
beyond AQE's split granularity nor overflows a single row.  Each
round's edge set is checkpointed to break lineage — without it the
plan doubles per iteration and analysis time goes exponential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DRIVER_CC_MAX_EDGES = 131072


def _checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage between rounds.  Reliable checkpoint when the
    session has a checkpoint dir (cluster: survives executor loss);
    localCheckpoint otherwise (single-node: executor-local blocks,
    faster, lost-block = recompute-from-nothing → job failure, which
    for an idempotent batch dedup is an acceptable retry).

    Reliable-checkpoint files are deleted by Spark's ContextCleaner
    when the round's RDD is garbage-collected ONLY under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
    session.py; Spark's default is false).  On a session without it,
    each round leaves one edge-set copy in the checkpoint dir until
    the application exits — set the conf or clear the dir on a
    schedule when running iterative dedup per ingest batch."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _large_star(sym: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's local min
    m = min(Γ(u) ∪ {u}).  ``sym`` must hold each undirected edge in
    both directions.  Output edges are (larger, smaller), no loops."""
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("_m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every down-neighbor of u (and u itself) to the smallest,
    m = min(N≤(u) ∪ {u}).  Operates on the big→small orientation."""
    down = (
        edges.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    mins = down.groupBy("u").agg(F.min("v").alias("_m"))
    rewired = (
        down.join(mins, "u")
        .where(F.col("v") != F.col("_m"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    centers = mins.select(F.col("u"), F.col("_m").alias("v"))
    return rewired.union(centers).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    ``component`` is the smallest node id in its connected component —
    a deterministic, parallelism-invariant group label.

    Nodes not mentioned in any pair are their own singleton component
    and do NOT appear in the output (join semantics below make that the
    useful contract: absent = keep).  A node whose only mention is a
    self-loop (a, a) DOES appear, labeled with itself — the star rounds
    drop self-edges, so those nodes are re-added as singletons at the
    end; without that they would silently vanish despite being
    "mentioned in pairs".  NULL node ids are ignored entirely (they
    compare unequal to everything, matching join semantics).

    Convergence is detected by an order-insensitive edge-set signature
    (count + bit_xor of xxhash64(u,v) — XOR commutes and cannot
    overflow under ANSI mode); a full round that leaves the signature
    unchanged left the set unchanged (the edge sets are distinct'ed, so
    XOR is a faithful set signature; a 64-bit collision on an
    equal-count set is negligible, and labels only ever decrease so a
    ping-pong cannot alias).  ``max_rounds`` (default 20 ≥ log²(10^9))
    guards against pathological non-convergence with an error, never a
    wrong answer.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # r14 (guide §1.2/§5, same size-gated pattern as the driver Lloyd):
    # each star round is 3-4 jobs (checkpoint, signature agg, the star
    # joins), so a few-hundred-edge dedup graph pays ~1.4 s of fixed
    # overhead to relabel KBs.  Below the edge bound (driver-memory
    # dial, ~2 MB of id pairs at the default) the edges are collected
    # once (guard-railed limit+1) and labeled by union-find — the
    # component label is DEFINED as the min id in the component, so any
    # correct algorithm yields bit-identical labels (pinned
    # driver-vs-distributed in test_components.py).  Bigger graphs run
    # the star rounds unchanged.
    if _DRIVER_CC_MAX_EDGES > 0:
        few = edges.limit(_DRIVER_CC_MAX_EDGES + 1).collect()
        if len(few) <= _DRIVER_CC_MAX_EDGES:
            loop_rows = (
                pairs.where(F.col(id_a) == F.col(id_b))
                .select(F.col(id_a).alias("node"))
                .distinct()
                .collect()
            )
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for r in few:
                u, v = r[0], r[1]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by min so the root IS the component label
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            comp = {n: find(n) for n in parent}
            for r in loop_rows:
                comp.setdefault(r[0], r[0])
            from pyspark.sql.types import StructField, StructType

            idt = pairs.schema[id_a].dataType
            schema = StructType(
                [StructField("node", idt), StructField("component", idt)]
            )
            return pairs.sparkSession.createDataFrame(
                sorted(comp.items()), schema
            )
    edges = _checkpoint(edges)
    if not edges.take(1):
        # no real edges — the output is just the self-loop singletons
        return (
            pairs.where(F.col(id_a) == F.col(id_b))
            .select(F.col(id_a).alias("node"), F.col(id_a).alias("component"))
            .distinct()
        )

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"])

    prev_sig = signature(edges)
    for _ in range(max_rounds):
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nxt = _checkpoint(_small_star(_large_star(sym)))
        sig = signature(nxt)
        edges.unpersist()
        edges = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds "
            "(raise max_rounds; alternating star converges in O(log^2 n))"
        )

    # At the fixpoint the edge set is a union of stars (u → component
    # min).  The groupBy-min also folds in the centers' self-labels and
    # is insurance that the output is a function of node.
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    loops = (
        pairs.where(F.col(id_a) == F.col(id_b))
        .select(F.col(id_a).alias("node"), F.col(id_a).alias("component"))
        .distinct()
    )
    return (
        labels.union(roots).union(loops)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def dedup_by_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Collapse each near-dup component to its canonical (min-id)
    member: drop every doc whose component label differs from its own
    id.  Docs in no pair never enter the anti-join's build side, so the
    probe is the full corpus but the broadcast/build side is only the
    dup members — the 100 TB-friendly direction."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")
