"""Iterative graph operators: connected components for dedup clustering.

Near-duplicate REMOVAL (keep lowest id of any pair) is an anti-join, but
near-duplicate CLUSTERING — "give every document the canonical id of its
duplicate group" — needs the transitive closure of the pair relation:
a~b and b~c put a,c in one group even when cos(a,c) is below threshold.
That is connected components, the one operator family in this engine that
is inherently iterative (SQL needs recursion for it; the DuckDB oracle uses
WITH RECURSIVE, Spark iterates a DataFrame fixpoint).

Algorithm: min-label propagation with pointer jumping. Every vertex starts
labeled with its own id; each round every vertex takes the min of its label
and its neighbors' labels, then the label of its label; converged when no
label changes.

Two regimes, chosen by edge count the way ``autoBroadcastJoinThreshold``
chooses a join strategy. The edges are projected and materialized once
(``localCheckpoint``), and an ``Observation`` on that checkpoint counts
them, so the size is known without an extra job.
- Small (at most ``SMALL_GRAPH_EDGES``): the whole edge list goes to ONE
  task (``groupBy(lit(0)).applyInPandas``), which runs the same propagation
  vectorized in NumPy. Dedup graphs have a few hundred edges; for them the
  distributed loop is all scheduling overhead (a dozen tiny jobs).
- Large: each round is one shuffle join + one shuffle agg on the edge
  partitioning, materialized by ``localCheckpoint`` — without it the plan
  doubles per iteration and the driver OOMs planning round ~15. The round's
  changed-label count rides that checkpoint as an ``Observation``, so a
  round is one job, with no separate convergence probe.
Both regimes run the same rounds, at most ``max_iter``: labels still
changing in the last round raise rather than come back unsettled, so the
regime never changes the answer.

Edges with a null endpoint connect nothing and are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Largest edge count solved in one task: the largest size measured, where
# one task still won by 6-14x (tools/cc_crossover.py, local[4], sparse graphs
# of small components, the distributed loop's best case): 2^20 edges in
# 2.4 s vs 34 s with long ids and 6.9 s vs 43 s with string ids, the Python
# worker peaking at 283 / 385 MB RSS. The crossover lies above 2^20; it was
# not searched.
SMALL_GRAPH_EDGES = 1 << 20


def _component_solver(max_iter: int):
    """The one-task solver: pandas (_s, _d) edges -> (id, component), in at
    most ``max_iter`` rounds, each the same as one round of ``_propagate``.

    Built here as a closure, with its imports inside, so cloudpickle ships it
    by value: workers run it without importing this package."""

    def solve(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        ids, idx = np.unique(
            np.concatenate([pdf["_s"].to_numpy(), pdf["_d"].to_numpy()]),
            return_inverse=True,
        )
        a, b = idx[:n], idx[n:]
        # Labels are positions in the sorted ids, so the min position is the
        # min id. Each round: min over self and both edge directions, then a
        # pointer jump (label <- label of label).
        lab = np.arange(len(ids))
        for _ in range(max_iter):
            new = lab.copy()
            np.minimum.at(new, a, lab[b])
            np.minimum.at(new, b, lab[a])
            new = new[new]
            if np.array_equal(new, lab):
                return pd.DataFrame({"id": ids, "component": ids[lab]})
            lab = new
        raise RuntimeError(
            f"connected_components: labels still changing after {max_iter} rounds"
        )

    return solve


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every vertex with the MIN vertex id reachable from it.

    vertices: DataFrame with ``id_col`` (one row per vertex; isolated
    vertices allowed). edges: DataFrame with ``src_col``/``dst_col``
    (undirected; direction and duplicates don't matter; endpoints absent
    from ``vertices`` are vertices too). Returns DataFrame[id, component].
    ``max_iter`` bounds the propagation rounds; both regimes run the same
    rounds and raise ``RuntimeError`` (in the small regime, wrapped in the
    Python worker's error) when labels still change in the last one.
    """
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
    # Both endpoints in one id type: the solver's schema and the union of the
    # two edge directions need it.
    id_type = e.select("_s").union(e.select("_d")).schema[0].dataType
    # Materialized ONCE: the upstream edge derivation (for dedup graphs, the
    # whole pair search) must not re-run per round or per consumer.
    size = Observation()
    e = (
        e.select(F.col("_s").cast(id_type), F.col("_d").cast(id_type))
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if size.get["n"] <= SMALL_GRAPH_EDGES:
        schema = StructType(
            [StructField("id", id_type), StructField("component", id_type)]
        )
        solve = _component_solver(max_iter)
        labels = (
            e.groupBy(F.lit(0).alias("_g")).applyInPandas(solve, schema)
        ).localCheckpoint()
    else:
        labels = _propagate(e, max_iter)
    # ISOLATED vertices (no incident edge) keep their own id; for dedup
    # graphs they are most of the corpus, so they never enter the solve.
    isolated = vertices.select(F.col(id_col).alias("id")).join(
        labels, "id", "left_anti"
    )
    return labels.unionByName(isolated.select("id", F.col("id").alias("component")))


def _propagate(e: DataFrame, max_iter: int) -> DataFrame:
    """The distributed regime: min-label propagation over the checkpointed
    ``(_s, _d)`` edges, one job per round, at most ``max_iter`` rounds.
    Returns DataFrame[id, component] over every endpoint."""
    sym = (
        e.union(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("_s").alias("id")).distinct()  # symmetrized: every endpoint
        .select("id", F.col("id").alias("component"))
        .localCheckpoint()
    )

    def _round(lbl: DataFrame) -> DataFrame:
        # Neighbor messages: each edge forwards the src's current label to dst.
        # Self rows are tagged so the round's aggregate carries the OLD label
        # through for free: min(component) is the propagated label, min over
        # self rows the previous one, and the change flag rides the
        # checkpointed frame.
        msgs = (
            sym.join(lbl, sym["_s"] == lbl["id"])
            .select(F.col("_d").alias("id"), "component", F.lit(False).alias("_self"))
        )
        prop = (
            lbl.select("id", "component", F.lit(True).alias("_self"))
            .union(msgs)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_self"), F.col("component"))).alias("_old"),
            )
        )
        # Pointer jump: component <- label(component). Labels only take
        # vertex-id values, so the lookup is an equi-join against prop
        # itself; chasing the label of the label shortens label chains each
        # round (a 30-vertex path settles in ~6 rounds, not 29). It is not
        # O(log n) in general: random sparse graphs of 2^14 and 2^17 edges
        # need 32 and 98 rounds.
        mapping = prop.select(
            F.col("id").alias("component"), F.col("component").alias("_jump")
        )
        return prop.join(mapping, "component").select(
            "id",
            F.col("_jump").alias("component"),
            # Labels are monotonically nonincreasing, so < is change.
            (F.col("_jump") < F.col("_old")).alias("_chg"),
        )

    # One materialization per round. NOT fused two-rounds-per-checkpoint
    # like pagerank: a CC round references its input twice (self rows +
    # messages), so fusing would re-compute the unmaterialized prior round
    # unless exchange reuse happens to fire — measured ~neutral locally and
    # a 2x-per-round-work risk at scale.
    for _ in range(max_iter):
        changed = Observation()
        labels = (
            _round(labels)
            .observe(changed, F.sum(F.col("_chg").cast("int")).alias("n"))
            .localCheckpoint()  # cut lineage per round
            .select("id", "component")
        )
        if not changed.get["n"]:  # NULL over zero rows: nothing changed
            return labels
    raise RuntimeError(
        f"connected_components: labels still changing after {max_iter} rounds"
    )


def incremental_components(
    assignment: DataFrame,
    new_vertices: DataFrame,
    new_edges: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    changed_only: bool = False,
) -> DataFrame:
    """Day-N maintenance of a components assignment WITHOUT reclustering
    the corpus: given the prior full run's ``assignment`` (id ->
    component, where the component label is the MIN member id — the
    convention every CC in this module emits) and the day's
    ``new_edges`` (old x new and new x new pairs; any old x old pair the
    day discovers is fine too), recluster ONLY the affected components.

    Algorithm (quotient-graph contraction): every old endpoint of a new
    edge is replaced by its component label — valid because an old
    component is already internally connected, so for connectivity it IS
    one supernode — then connected components runs on the CONTRACTED
    graph, whose size is O(day's edges), never O(corpus). Because old
    labels are min member ids and min-label CC takes the min over the
    contracted nodes, the new label of a merged group equals the global
    min id — EXACTLY what a full recompute over (old pairs ∪ new pairs)
    yields (the registered query's oracle proves this by hash equality).

    Scale shape / what is NOT re-shuffled: the corpus-size ``assignment``
    is touched twice, both times shuffle-free — a broadcast LEFT-SEMI
    probe to pull the O(|edges|) affected rows, and the final relabel,
    a broadcast hash join of the tiny (old component -> new label) map
    against the streaming assignment scan. Untouched components' rows
    pass through map-side with their label unchanged (asserted on the
    physical plan by tests/test_graph_incremental.py). In production the
    relabel output feeds ``ManifestTable.merge_by_key`` with just the
    changed rows, so even the rewrite is bounded by the day's blast
    radius.

    Returns the updated full assignment: DataFrame[id, component]
    covering old ∪ new vertices. With ``changed_only=True`` it returns
    ONLY the rows whose label differs from (or is absent in) the prior
    assignment — the bounded update set a keyed table write-back
    (``ManifestTable.merge_by_key``) needs, selected with an INNER
    broadcast join against the relabel map so the day's blast radius,
    not the corpus, sizes the write.
    """
    asg = assignment.select(F.col(id_col).alias("id"), F.col(comp_col).alias("component"))
    edges = new_edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))

    # A re-ingested document (its id already in the prior assignment) is an
    # OLD vertex: its edges contract through its component like any other
    # old endpoint, and it must NOT also enter the contracted graph as a
    # raw node (that would emit a second — possibly conflicting — output
    # row for it). Probe the assignment with a broadcast semi (shuffle-
    # free) and keep only genuinely-new ids. All frames here are day-sized.
    new_v = new_vertices.select(F.col(id_col).alias("id")).distinct().localCheckpoint(
        eager=True
    )
    dup_ids = asg.join(F.broadcast(new_v), "id", "left_semi").select(
        "id"
    ).localCheckpoint(eager=True)
    new_v = new_v.join(F.broadcast(dup_ids), "id", "left_anti")

    # 1. Affected OLD rows: endpoints of new edges that exist in the prior
    #    assignment. Broadcast-semi probe — assignment streams, no shuffle.
    endpoints = (
        edges.select(F.col("_s").alias("id"))
        .union(edges.select(F.col("_d").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched = asg.join(F.broadcast(endpoints), "id", "left_semi").localCheckpoint(
        eager=True
    )  # O(|edges|) rows: (old id, old component)

    # 2. Contract edge endpoints through the touched map (new ids miss the
    #    map and stay themselves). Both sides of these joins are day-sized.
    s_map = touched.select(F.col("id").alias("_s"), F.col("component").alias("_sc"))
    d_map = touched.select(F.col("id").alias("_d"), F.col("component").alias("_dc"))
    contracted = (
        edges.join(F.broadcast(s_map), "_s", "left")
        .join(F.broadcast(d_map), "_d", "left")
        .select(
            F.coalesce(F.col("_sc"), F.col("_s")).alias("src"),
            F.coalesce(F.col("_dc"), F.col("_d")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )

    # 3. CC on the contracted graph: supernodes (affected components'
    #    labels) + the day's new vertices.
    cverts = (
        touched.select("component").distinct().select(F.col("component").alias("id"))
        .union(new_v.select("id"))
        .distinct()
    )
    cc = connected_components(
        cverts, contracted, id_col="id", src_col="src", dst_col="dst",
        max_iter=max_iter,
    ).localCheckpoint(eager=True)  # day-sized

    # 4. Relabel map for affected old components only (id here is an old
    #    component label). Identity rows dropped: the broadcast map carries
    #    only components that actually changed.
    aff = touched.select(F.col("component").alias("_tc")).distinct()
    relabel = (
        cc.join(F.broadcast(aff), cc["id"] == F.col("_tc"), "left_semi")
        .where(F.col("id") != F.col("component"))
        .select(F.col("id").alias("_old_comp"), F.col("component").alias("_new_comp"))
    )

    # 5. Output: corpus scan + broadcast relabel (shuffle-free), plus the
    #    new vertices' labels straight from the contracted CC.
    new_rows = cc.join(F.broadcast(new_v), "id", "left_semi")
    if changed_only:
        relabeled = (
            asg.join(F.broadcast(relabel), asg["component"] == F.col("_old_comp"))
            .select("id", F.col("_new_comp").alias("component"))
        )
        return relabeled.unionByName(new_rows)
    old_rows = (
        asg.join(F.broadcast(relabel), asg["component"] == F.col("_old_comp"), "left")
        .select("id", F.coalesce(F.col("_new_comp"), F.col("component")).alias("component"))
    )
    return old_rows.unionByName(new_rows)


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Power-iteration PageRank over a DIRECTED edge list (symmetrize first
    for undirected graphs). Returns DataFrame[id, rank], sum(rank) == 1.

    Per round: one broadcast-able join of ranks onto edges (ranks are
    O(|V|) narrow rows), one shuffle aggregate on dst, and the dangling
    mass (vertices with no out-edges leak their rank; the standard fix
    redistributes it uniformly) as a broadcast 1-ROW AGGREGATE cross-joined
    into the update — NO per-round driver action: the whole round stays one
    lazy plan that the localCheckpoint materializes (which also bounds plan
    growth, exactly like connected_components above). Fixed iteration count
    keeps the result deterministic — convergence-threshold loops make
    run-to-run output depend on float noise.
    """
    v = vertices.select(F.col(id_col).alias("id")).localCheckpoint()
    e = edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")).localCheckpoint()
    n = v.count()
    outdeg = e.groupBy("_s").agg(F.count("*").alias("_deg"))

    ranks = v.select("id", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    for it in range(iters):
        contrib_src = (
            ranks.join(outdeg, ranks["id"] == outdeg["_s"], "left")
            .select("id", "rank", "_deg")
        )
        dangling = (
            contrib_src.where(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        msgs = (
            e.join(contrib_src.where(F.col("_deg").isNotNull()), e["_s"] == contrib_src["id"])
            .select(F.col("_d").alias("id"), (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("id")
            .agg(F.sum("_c").alias("_in"))
        )
        # Same IEEE expression shape as the DuckDB oracle:
        # (1-d)/n + d*dm/n, then + d*coalesce(in, 0).
        base = (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.col("_dm") / F.lit(float(n))
        )
        ranks = v.join(msgs, "id", "left").crossJoin(F.broadcast(dangling)).select(
            "id",
            (base + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))).alias("rank"),
        )
        # Checkpoint EVERY round: the round's output feeds TWO consumers in
        # the next plan (the dangling-mass aggregate and the message join),
        # so an un-materialized round recomputes 2x+ per reference —
        # measured as a heavy-tailed fused cadence (median 4.2 s with
        # 17.9 s outliers vs 3.9 s tight when materialized; the same
        # dual-reference hazard that reverted the CC probe fusion). At
        # scale, recomputing a skipped round would be far worse than one
        # extra scheduled job per iteration.
        ranks = ranks.localCheckpoint()
    return ranks

