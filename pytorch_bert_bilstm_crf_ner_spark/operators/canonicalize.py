"""Entity canonicalization: connected components over the alias-sharing
graph (A7 per SURVEY.md §2.6; the reference's only analog is exact-string
dedupe, `scripts/server.py:60-72` / `data_augment/aug.py:55-56` — component
grouping is the north_star upgrade).

One CC path, shared by :func:`canonical_entities` and
`operators/dedup.py::neardup_clusters`: the symmetrized edge list is
counted once; up to ``DRIVER_CC_MAX_EDGES`` rows it is solved on the
driver with union-find, and above that with alternating large-star /
small-star (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in O(log n) rounds whatever the graph's
diameter — near-dup drift chains A~B~C~... included.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..core.entities import connected_components_py
from ..sources.local import local_frame

# Symmetrized edge rows (both directions, duplicates counted) up to which
# components are solved on the driver.
DRIVER_CC_MAX_EDGES = 1_000_000


def _pin(df: DataFrame) -> DataFrame:
    """Lazy checkpoint: reliable when ``sc.getCheckpointDir()`` is set
    (flat plans that survive executor loss), local otherwise (flat plans;
    blocks live on executor local storage, so an executor loss fails the
    job).  Either way the frame is computed once, by its first action."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def connected_components(edges: DataFrame, max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """edges(src, dst), undirected -> (id, component) with component = min
    id reachable; both columns keep the edges' id type.  Every id on an
    edge is emitted, so an isolated node is passed as the self-loop
    (id, id) and comes back as its own component.

    The symmetrized edge list is checkpointed (:func:`_pin`) and counted
    — the size gate:

    - at most ``DRIVER_CC_MAX_EDGES`` rows: one collect and a union-find
      on the driver (min-id representative, the same fixed point as the
      star loop); the checkpoint blocks are released before returning, so
      no RDD stays persisted;
    - over the limit no edge row reaches the driver: the checkpoint feeds
      the large-star/small-star loop, whose rounds are pinned the same
      way.  The loop RAISES if ``max_iter`` rounds pass without
      convergence rather than return partial components.

    ``stats``, if given, receives ``{"rounds": n}`` (0 on the driver path).
    """
    sym = _pin(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    )
    if sym.count() > DRIVER_CC_MAX_EDGES:
        return _star_components(sym, max_iter, stats)
    try:
        rows = sym.collect()
    finally:
        # a checkpointed frame has no public unpersist: drop its blocks
        # through the RDD the plan reads
        sym._jdf.queryExecution().analyzed().rdd().unpersist(False)
    ids = sorted({r["a"] for r in rows})
    cmap = connected_components_py(ids, [(r["a"], r["b"]) for r in rows])
    if stats is not None:
        stats["rounds"] = 0
    id_type = sym.schema["a"].dataType.simpleString()
    return local_frame(
        edges.sparkSession, cmap.items(), f"id {id_type}, component {id_type}"
    )


def _star_components(sym: DataFrame, max_iter: int,
                     stats: dict | None) -> DataFrame:
    """Alternating large-star / small-star over a pinned symmetric edge
    list -> (id, component).  Each round is two grouped shuffles; the edge
    set converges to a union of stars centered at component minima in
    O(log n) rounds (Kiveris et al. 2014, Algorithm 3).

    large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ {u});
    small-star(u): u and its smaller neighbors all point to their minimum.
    Both emit (hi, lo) directed pairs, keeping edges canonical.
    """

    def _large_star(directed: DataFrame) -> DataFrame:
        s = directed.select(F.col("hi").alias("a"), F.col("lo").alias("b")).union(
            directed.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        nbr_min = s.groupBy("a").agg(F.min("b").alias("mn"))
        return (
            s.join(nbr_min, "a")
            .filter(F.col("b") > F.col("a"))
            .select(
                F.col("b").alias("hi"),
                F.least(F.col("a"), F.col("mn")).alias("lo"),
            )
            .distinct()
        )

    def _small_star(directed: DataFrame) -> DataFrame:
        nbr_min = directed.groupBy("hi").agg(F.min("lo").alias("mn"))
        to_min = directed.join(nbr_min, "hi").select(
            F.col("lo").alias("hi2"), F.col("mn").alias("lo2")
        ).filter(F.col("hi2") != F.col("lo2"))
        self_edge = nbr_min.select(
            F.col("hi").alias("hi2"), F.col("mn").alias("lo2")
        )
        return to_min.union(self_edge).distinct().select(
            F.col("hi2").alias("hi"), F.col("lo2").alias("lo")
        )

    # verts BEFORE dropping self-loops: a node appearing only as (x, x)
    # must still be emitted (as its own component)
    verts = sym.select(F.col("a").alias("id")).distinct()
    directed = _pin(
        sym.filter(F.col("a") > F.col("b"))
        .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
        .distinct()
    )
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        nxt = _pin(_small_star(_large_star(directed)))
        # convergence = identical edge sets.  Both frames are DISTINCT by
        # construction, so set equality == "no (hi, lo) appears with an
        # unbalanced +1/-1 tag" — ONE job with ONE shuffle, where the old
        # two-directional exceptAll probe cost two jobs of two shuffles
        # each (the probe dominated small-graph rounds)
        delta = (
            nxt.select("hi", "lo", F.lit(1).alias("s"))
            .unionAll(directed.select("hi", "lo", F.lit(-1).alias("s")))
            .groupBy("hi", "lo")
            .agg(F.sum("s").alias("d"))
            .filter(F.col("d") != 0)
            .limit(1)
            .count()
        )
        directed = nxt
        if delta == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"large/small-star did not converge in {max_iter} rounds — "
            "raise max_iter (expected O(log n) rounds)"
        )
    # fixed point: every non-root points at its component min; roots are
    # the lo side. groupBy-min is belt-and-braces for the (converged)
    # star shape, and adds the root + isolated-vertex self-rows.
    comp = directed.groupBy(F.col("hi").alias("id")).agg(
        F.min("lo").alias("component")
    )
    return comp.unionByName(
        verts.join(comp, verts.id == comp.id, "left_anti").select(
            F.col("id"), F.col("id").alias("component")
        )
    )


def canonical_entities(entity_dict: DataFrame) -> DataFrame:
    """entity_dict -> (entity_id, canonical_id, canonical_name): entities
    sharing an (alias, type) key are merged; canonical_name is the name of
    the component's min entity_id.

    Each (alias, type) group links its min entity_id to every member,
    the min itself included as a self-loop, so every entity reaches
    :func:`connected_components` — a broadcast-sized dictionary takes its
    driver union-find, a genuinely large alias graph the star loop."""
    edges = (
        entity_dict.groupBy("alias", "type")
        .agg(
            F.min("entity_id").alias("src"),
            F.collect_set("entity_id").alias("ids"),
        )
        .select("src", F.explode("ids").alias("dst"))
    )
    comp = connected_components(edges)
    # min canonical_name per id: deterministic (and identical to the
    # recursive-CTE DuckDB twin) even if an entity_id ever carried two
    # distinct canonical_name spellings in the dictionary
    names = (
        entity_dict.groupBy(F.col("entity_id").alias("canonical_id"))
        .agg(F.min("canonical_name").alias("canon_name"))
    )
    return (
        comp.withColumnRenamed("id", "entity_id")
        .withColumnRenamed("component", "canonical_id")
        .join(F.broadcast(names), "canonical_id")
        .select("entity_id", "canonical_id", F.col("canon_name").alias("canonical_name"))
    )


def canonicalize_mentions(linked: DataFrame, canon: DataFrame) -> DataFrame:
    """Linked mentions -> canonical mentions, deduping rows that collapse
    to the same (conv, turn, start, mention, canonical_id) — exactly the
    oracle's `core/oracle.py::canonicalize` semantics.  Every column of
    ``linked`` but entity_id and canonical_name passes through, in order,
    followed by canonical_id and canonical_name."""
    keep = [c for c in linked.columns if c not in ("entity_id", "canonical_name")]
    return (
        linked.drop("canonical_name")
        .join(F.broadcast(canon), "entity_id")
        .select(*keep, "canonical_id", "canonical_name")
        .dropDuplicates(["conv_id", "turn_idx", "start", "mention", "canonical_id"])
    )
