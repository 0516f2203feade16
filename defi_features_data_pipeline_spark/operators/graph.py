"""Connected components over an edge list — the step that turns
pairwise near-dup matches into dedup groups (keep min id per
component).

Reference scope note: the reference has no graph operator; this is
part of the training-data-pipeline surface (near-dup clustering after
LSH/cosine pair generation).

Algorithm: iterative min-label propagation with pointer jumping.
Each round runs ``phases_per_round`` phases of

1. neighbor-min: ``label(v) <- min over u in N(v) ∪ {v} of label(u)``
   — ONE equi-join edges⋈labels + groupBy min. The self term comes
   from self-loop edges folded into the edge list once up front, so
   there is no separate "keep own label" left-join;
2. ``jumps_per_phase`` pointer jumps: ``label(v) <- label(label(v))``
   — each a self-join of the (already jumped) label frame, so the
   pointer distance to the component root contracts by ~2 per jump.

Plain propagation needs O(diameter) rounds; jumping compresses
pointer chains and multiple phases per round move the min several
graph hops per round — the measured slow tail (a handful of labels
walking one edge per round) halves with each extra phase.

Convergence needs NO old⋈new comparison: labels are monotone
non-increasing per node (min with self included; jump target's label
≤ its id), so the labeling is stable iff ``sum(label)`` is unchanged
from the previous round. The sum is one column-pruned aggregate over
the round's materialized output (decimal sum — exact at any node
count), compared on the driver. At the fixed point neighbor-min
stability forces the label constant across every edge, hence uniform
per component and equal to the component min (the min node's label
can never drop below itself). If ``max_iters`` rounds pass without
reaching the fixed point the result would be silently under-merged —
that is an ERROR here, never a silent return.

Iterative-plan hygiene — the part that actually matters: every round
ROUND-TRIPS the label frame through parquet (write, re-read). A fresh
``spark.read.parquet`` is a brand-new LogicalRelation with zero
lineage, so per-round plan size, task-closure (task binary) size, and
scheduler state are CONSTANT across rounds. ``localCheckpoint`` was
measured (round 5) to leave per-round cost growing ~3×/round after
~15 rounds on a 1.3k-edge graph (task-binary growth) even with a
~300-char logical plan — a disk round-trip of a 2-column bigint frame
is cheap (the label table at 100 TB corpus scale is node-count rows,
orders smaller than the data) and is the standard lineage cut for
iterative algorithms on a real cluster (equivalent to
``setCheckpointDir`` + ``checkpoint()``, but with an explicitly
readable artifact and no reliance on RDD-level cleanup). The edge
list is round-tripped ONCE up front so the (potentially huge)
upstream candidate-generation plan is never re-planned per round.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from ..sources.fsutil import scratch_dir


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
    phases_per_round: int = 3,
    jumps_per_phase: int = 1,
    stats: dict | None = None,
    symmetrize: bool = False,
    input_materialized: bool = False,
) -> DataFrame:
    """(node, label) for every node in ``edges``, where ``label`` is
    the minimum node id of the node's connected component.

    ``edges`` must be SYMMETRIC (both (a,b) and (b,a) present) —
    unless ``symmetrize=True``, in which case a one-directional pair
    list is accepted and mirrored here AFTER the raw materialization,
    so the caller's (potentially expensive) pair-generation plan
    executes exactly once instead of once per union branch. Isolated
    nodes (no edges) are the caller's concern — they never appear
    here. Raises RuntimeError if ``max_iters`` rounds do not
    converge. If ``stats`` is a dict, ``stats["rounds"]`` is set to
    the number of rounds executed (tests pin this).

    ``input_materialized=True`` skips the up-front edge round-trip:
    callers whose edge frame is ALREADY a cheap zero/short-lineage
    plan (an artifact parquet read, or a column filter over one) pass
    this so the setup pays one write less; the frame is still scanned
    a handful of times (mirror union + node distinct + edge-table
    write), which for a parquet-backed plan costs less than the extra
    write+read. Never pass it for a live candidate-generation plan —
    that is exactly the case the round-trip exists for."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    workdir = scratch_dir("cc_labels", reclaim=False)

    def _roundtrip(df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(workdir, name)
        # coalesce(1): label/edge frames here are node-count rows; on a
        # real cluster drop the coalesce and let the write stay
        # partitioned — the lineage cut is the point, not the layout.
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def _roundtrip_labels(df: DataFrame, name: str) -> tuple[DataFrame, int, int]:
        """Round-trip a label frame AND return (frame, sum(label),
        row count) — both metrics computed by an ``observe`` inside the
        same write job, so the convergence check costs zero extra jobs.
        Decimal sum: exact for any node count * id magnitude (bigint
        could overflow at 1e9 nodes with 1e18 ids)."""
        path = os.path.join(workdir, name)
        obs = Observation(f"cc_sum_{name}")
        df.observe(
            obs,
            F.coalesce(
                F.sum(F.col("label").cast("decimal(38,0)")), F.lit(0)
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).coalesce(1).write.mode("overwrite").parquet(path)
        got = obs.get
        return spark.read.parquet(path), int(got["s"]), int(got["n"])

    # Materialize the caller's edge plan ONCE before deriving anything
    # from it: nodes-distinct and the self-loop union would otherwise
    # each re-execute the (potentially expensive) upstream
    # candidate-generation plan — measured 3-4 re-executions of the
    # blocked-pair pipeline per call before this cut. Skipped when the
    # caller vouches the plan is already materialized (artifact read).
    sel = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    raw = sel if input_materialized else _roundtrip(sel, "edges_raw")
    if symmetrize:
        raw = raw.union(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    # r0 labels ARE the node set (label := own id) — write them FIRST,
    # so the self-loop branch below can read the labels PARQUET back
    # instead of re-running the node distinct, and the old second
    # distinct over the full edge table (e.src) is gone entirely: one
    # keyed shuffle over the edge list per call instead of two
    # (distinct(e.src) == nodes because the self-loops put every node
    # in src — same rows, computed once).
    labels, prev_sum, n_nodes = _roundtrip_labels(
        nodes.withColumn("label", F.col("node")), "r0"
    )
    prev_dir = os.path.join(workdir, "r0")
    # self-loops folded in: neighbor-min over e then includes the
    # node's own label, so propagation is a single join + aggregate.
    e = _roundtrip(
        raw.union(
            labels.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        ),
        "edges",
    )

    # Loop tuning: the label frame is node-count rows — orders smaller
    # than the corpus — so the propagation joins are tiny relative to
    # the cluster. Size their shuffle to the data (≥4, ~50k rows per
    # partition, never above the session setting: billions of nodes
    # keep full width) and switch off AQE's per-stage re-planning for
    # the loop's micro-stages (measured ~25% of per-round wall in
    # local mode); both confs restored after.
    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    loop_parts = max(4, min(int(old_parts), n_nodes // 50_000 + 4))
    try:
        conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        conf.set("spark.sql.adaptive.enabled", "false")
        for i in range(max_iters):
            cur = labels
            for _ in range(phases_per_round):
                cur = (
                    e.join(cur, e.dst == cur.node)
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.min("label").alias("label"))
                )
                # pointer jumps: follow label -> label(label), re-using
                # the already-jumped frame as the lookup side. Every
                # label value is itself a node id present in `cur`, so
                # the lookup is an equi self-join; coalesce is only
                # defensive.
                for _ in range(jumps_per_phase):
                    lookup = cur.select(
                        F.col("node").alias("j_node"),
                        F.col("label").alias("j_label"),
                    )
                    cur = cur.join(
                        lookup, cur.label == F.col("j_node"), "left"
                    ).select(
                        "node",
                        F.coalesce(F.col("j_label"), F.col("label")).alias("label"),
                    )
            new_dir = os.path.join(workdir, f"r{i + 1}")
            labels, new_sum, _ = _roundtrip_labels(cur, f"r{i + 1}")
            shutil.rmtree(prev_dir, ignore_errors=True)
            prev_dir = new_dir
            if stats is not None:
                stats["rounds"] = i + 1
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "the labeling is still moving and returning it would silently "
        "under-merge components. With pointer jumping this bound covers "
        "diameters far beyond 2^20; check the edge list (must be "
        "symmetric) or raise max_iters."
    )


def chain_closure(
    nodes: DataFrame,
    id_col: str = "id",
    prev_col: str = "prev_id",
    value_col: str = "value",
    max_rounds: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """LIST RANKING by pointer doubling: for a forest of linked chains
    — each row ``(id, prev_id, value)``, ``prev_id`` null at a chain
    head — return ``(id, hop, cum)`` where ``hop`` is the node's
    1-based position from its chain head and ``cum`` the exact-decimal
    prefix sum of ``value`` from the head through the node.

    This is the O(log depth) closure of the per-level recursive CTE
    (``recursive_order_chain``): the recursion pays ONE Spark stage
    per chain level (depth-proportional wall — the r7 scale probe
    measured 30.9 s at sf1 / 58.8 s at sf10 on a ~40-deep chain), while
    pointer doubling pays ceil(log2(depth)) + 1 self-joins — the same
    trick ``connected_components`` uses for label chains, applied to
    prefix aggregation.

    Invariant per round (the textbook parallel list-ranking argument):
    ``acc(v)`` = sum of ``value`` over the chain segment strictly
    after ``ptr(v)`` up to and including ``v``; ``rank(v)`` = that
    segment's length. Init: ``ptr = prev``, ``acc = value``,
    ``rank = 1``. Jump: where ``ptr`` is non-null, add the pointee's
    ``(rank, acc)`` and take its ``ptr`` — each round doubles the
    segment every live pointer spans, so pointers reach null (the
    head) in log rounds. Decimal addition is exact and associative,
    so the doubled summation order yields bit-identical totals to the
    level-by-level recursion.

    Iterative-plan hygiene, same as ``connected_components``: the
    frame round-trips through parquet each round (constant plan/task
    size), the convergence metric (count of live pointers) rides the
    write job via ``observe`` (zero extra jobs), and non-convergence
    within ``max_rounds`` (depth > 2^max_rounds — unreachable for
    real data at the default) is a loud error."""
    from pyspark.sql import Observation

    spark = nodes.sparkSession
    workdir = scratch_dir("chain_closure", reclaim=False)

    def _roundtrip(df: DataFrame, name: str) -> tuple[DataFrame, int, int]:
        """Write one round's frame; the live-pointer count AND the row
        count ride the same job through observe (zero extra jobs)."""
        path = os.path.join(workdir, name)
        obs = Observation(f"chain_live_{name}")
        df.observe(
            obs,
            F.coalesce(
                F.sum(F.col("ptr").isNotNull().cast("long")), F.lit(0)
            ).alias("live"),
            F.count(F.lit(1)).alias("n"),
        ).write.mode("overwrite").parquet(path)
        got = obs.get
        return spark.read.parquet(path), int(got["live"]), int(got["n"])

    def _jump(cur: DataFrame) -> DataFrame:
        """One pointer-doubling step. Once every ptr is null the step
        is an IDENTITY (left join matches nothing: rank/acc gain 0,
        ptr stays null) — which is what makes running two steps per
        round-trip below safe when live hits 0 mid-pair."""
        lookup = cur.select(
            F.col("id").alias("p_id"),
            F.col("ptr").alias("p_ptr"),
            F.col("rank").alias("p_rank"),
            F.col("acc").alias("p_acc"),
        )
        return cur.join(lookup, cur.ptr == F.col("p_id"), "left").select(
            "id",
            # ptr null ⇒ no match ⇒ p_ptr null ⇒ stays null (done);
            # ptr non-null always matches (prev_id references a row)
            F.col("p_ptr").alias("ptr"),
            (F.col("rank") + F.coalesce(F.col("p_rank"), F.lit(0))).alias(
                "rank"
            ),
            (
                F.col("acc")
                + F.coalesce(
                    F.col("p_acc"), F.lit(0).cast("decimal(38,10)")
                )
            )
            .cast("decimal(38,10)")
            .alias("acc"),
        )

    cur, live, n_rows = _roundtrip(
        nodes.select(
            F.col(id_col).alias("id"),
            F.col(prev_col).alias("ptr"),
            F.lit(1).alias("rank"),
            F.col(value_col).cast("decimal(38,10)").alias("acc"),
        ),
        "r0",
    )
    prev_dir = os.path.join(workdir, "r0")
    # Same loop tuning as connected_components (measured ~25% of
    # per-round wall there): the doubling frame is |nodes| rows of 4
    # narrow columns — size the loop's shuffles to the data instead of
    # the session default, and switch off AQE's per-stage re-planning
    # for the micro-stages. Both confs restored after. TWO doubling
    # steps ride each round-trip (the jump-composition trick from the
    # CC phases): pointer distance still doubles per STEP, but the
    # parquet write + job overhead is paid per PAIR — ceil(log2 d)/2
    # writes instead of ceil(log2 d). The trailing step of a pair can
    # run after live reaches 0; it is an identity then (see _jump).
    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    rounds = 0
    jumps = 0
    try:
        conf.set(
            "spark.sql.shuffle.partitions",
            str(max(4, min(int(old_parts), n_rows // 50_000 + 4))),
        )
        conf.set("spark.sql.adaptive.enabled", "false")
        while live > 0:
            if rounds >= max_rounds:
                raise RuntimeError(
                    f"chain_closure did not converge in {max_rounds} rounds "
                    f"({live} pointers still live) — chains deeper than "
                    f"4^{max_rounds} nodes, or a cycle in the prev-pointer "
                    "graph (a cycle never reaches a null head). Returning "
                    "would silently truncate prefix sums."
                )
            nxt = _jump(_jump(cur))
            rounds += 1
            jumps += 2
            new_dir = os.path.join(workdir, f"r{rounds}")
            cur, live, _ = _roundtrip(nxt, f"r{rounds}")
            shutil.rmtree(prev_dir, ignore_errors=True)
            prev_dir = new_dir
            if stats is not None:
                stats["rounds"] = rounds
                stats["jumps"] = jumps
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
    return cur.select(
        "id", F.col("rank").alias("hop"), F.col("acc").alias("cum")
    )


def connected_components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    **kwargs,
) -> DataFrame:
    """Merge a NEW batch of edges into an existing (node, label)
    component assignment without reprocessing the old edge set — the
    graph-side sibling of the incremental MinHash band index
    (queries/extensions.py::q_dedup_incremental_minhash).

    Correctness: a labeling L produced by ``connected_components`` on
    edge set E_old has the same connectivity classes as E_old itself —
    each component is exactly the star {(v, L(v))}. Therefore
    CC(star(L) ∪ E_new) == CC(E_old ∪ E_new): unioning the star edges
    with the new batch and re-running CC yields the labeling of the
    FULL cumulative graph (the property the batch-incremental ==
    full-recompute gate pins).

    Scale: the star has |nodes| edges regardless of how many edges
    history accumulated, so each batch costs O(nodes + |E_new|) —
    and because every star is depth-1, label propagation over the
    merged graph converges in few rounds even when the historical
    graph had a large diameter. This is how a 100 TB dedup graph is
    maintained: the verified-pair artifact grows per batch, but CC
    work per batch stays proportional to the label table + the batch.

    ``new_edges`` may be one-directional (symmetrized internally, as
    are the star edges). Labels for previously-seen nodes may CHANGE
    (a new edge can bridge two old components — the new component min
    wins), which is the correct semantics for cluster-keyed dedup."""
    star = labels.select(
        F.col("node").alias(src), F.col("label").alias(dst)
    )
    combined = star.union(new_edges.select(F.col(src), F.col(dst)))
    kwargs.setdefault("symmetrize", True)
    return connected_components(combined, src, dst, **kwargs)
