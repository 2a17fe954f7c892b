"""Entity dictionary + alias canonicalization (pure-python side).

Analog of the reference's per-type entity inventories
(`data/cner/aug_data/*.txt`, built by `data_augment/aug.py:31-59`) upgraded
with canonical ids: several aliases per entity and a few aliases shared by
MULTIPLE entity ids, so canonicalization (connected components over the
alias-sharing graph) has real work to do.  The pipeline canonicalizes these
rows once on the driver (:func:`canonical_dict_rows`) and links mentions
against the result in one broadcast join (`sources/entity_dict.py`).
"""

from __future__ import annotations

from collections import defaultdict

# (entity_id, alias, type, canonical_name)
ENTITY_DICT_ROWS: tuple[tuple[int, str, str, str], ...] = (
    (1, "spark", "ORG", "Apache Spark"),
    (2, "stream", "ORG", "Streaming"),
    (3, "customer", "NAME", "Customer"),
    (4, "vector", "NAME", "Vector"),
    (5, "hash", "PRO", "Hash"),
    (6, "merge", "PRO", "Merge"),
    (7, "window", "LOC", "Window"),
    (8, "line", "LOC", "Line"),
    (9, "query", "TITLE", "Query"),
    (10, "filter", "TITLE", "Filter"),
    (11, "batch", "EDU", "Batch"),
    (12, "sort", "EDU", "Sort"),
    (13, "key", "RACE", "Key"),
    (14, "agg", "CONT", "Agg"),
    (15, "hash join", "PRO", "Hash Join"),
    (16, "table scan", "PRO", "Table Scan"),
    (17, "order key", "ORG", "Order Key"),
    (18, "small window", "LOC", "Small Window"),
    # alias-sharing entities -> connected-components merges
    (19, "spark", "ORG", "Spark Engine"),
    (20, "hash join", "PRO", "HashJoin v2"),
    (21, "merge", "PRO", "MergeOp"),
)


def alias_edges() -> list[tuple[int, int]]:
    """Undirected edges between entity ids sharing a (alias, type) key."""
    by_alias: dict[tuple[str, str], list[int]] = defaultdict(list)
    for eid, alias, etype, _ in ENTITY_DICT_ROWS:
        by_alias[(alias, etype)].append(eid)
    edges = []
    for ids in by_alias.values():
        ids = sorted(ids)
        edges.extend((ids[0], other) for other in ids[1:])
    return edges


def connected_components_py(
    node_ids: list[int], edges: list[tuple[int, int]]
) -> dict[int, int]:
    """Union-find; component representative = MIN id (matches
    `operators/canonicalize.py::connected_components` on both its driver
    path, which calls this, and its large-star/small-star loop)."""
    parent = {n: n for n in node_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in node_ids}


def canonical_map() -> dict[int, tuple[int, str]]:
    """entity_id -> (canonical_id, canonical_name); canonical_name is the
    minimum spelling the dictionary gives the component's min entity_id
    (the rule of `operators/canonicalize.py::canonical_entities` and its
    recursive-CTE twin)."""
    ids = sorted({r[0] for r in ENTITY_DICT_ROWS})
    comp = connected_components_py(ids, alias_edges())
    names: dict[int, str] = {}
    for eid, _, _, name in ENTITY_DICT_ROWS:
        names[eid] = min(names.get(eid, name), name)
    return {eid: (comp[eid], names[comp[eid]]) for eid in ids}


def canonical_dict_rows() -> tuple[tuple[int, str, str, str], ...]:
    """The dictionary with every entity replaced by its canonical entity:
    distinct, sorted (canonical_id, alias, type, canonical_name) rows, the
    shape of ``ENTITY_DICT_ROWS``.  Entities sharing an (alias, type) key
    fall into one component, so each key maps to exactly one canonical
    entity and linking against these rows links and canonicalizes in one
    join."""
    cmap = canonical_map()
    return tuple(sorted({(cmap[eid][0], alias, etype, cmap[eid][1])
                         for eid, alias, etype, _ in ENTITY_DICT_ROWS}))
