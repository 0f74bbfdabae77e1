"""A3/A4 — transitive closure of the is_a DAG, closed on the Spark driver.

Reference: src/import_ontology.py:110-145 — one global is_a graph (Q9) held
in a Python dict, walked to give every (ancestor, descendant) pair and a
per-ancestor descendant count.

The graph is metadata-sized (GO + MP + DO: ~10^5 edges), so the closure
follows the reference: the edges are closed on the driver by one iterative
memoized depth-first walk, ``descendants``. The ontology build
(plans.loaders.build_ontology) feeds it the is_a lists of the terms it has
already collected; ``transitive_closure`` serves an edge DataFrame (q14-q16)
by collecting its distinct edges in one Spark job and handing the pairs
back through ``createDataFrame`` (Arrow). An iterative self-join would
instead pay one or more Spark jobs per level of depth for the same answer.

Two guards keep the driver honest:
 - a graph with more than ``EDGE_CAP`` distinct edges fails (a collect
   reads at most ``EDGE_CAP + 1`` rows);
 - a cycle raises ``ValueError`` naming a term on it (OBO is_a must be a
   DAG; the reference assumes one, src/import_ontology.py:110-130).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Largest edge set closed on the driver. Real GO+MP+DO is ~10^5 edges.
EDGE_CAP = 1_000_000


def transitive_closure(
    edges: DataFrame, child_col: str = "child", parent_col: str = "parent"
) -> DataFrame:
    """All (ancestor, descendant) pairs reachable via 1+ edges.

    ``edges`` rows read "child is_a parent". Output columns:
    (ancestor, descendant) — the reference's on_pairs orientation, where
    `parent` is the ancestor and `child` the (transitive) descendant
    (src/import_ontology.py:132-140). Each output column keeps the type of
    the input column it comes from; null ids and repeated edges are ignored.
    """
    base = (
        edges.select(
            F.col(parent_col).alias("ancestor"), F.col(child_col).alias("descendant")
        )
        .filter(F.col("ancestor").isNotNull() & F.col("descendant").isNotNull())
        .distinct()
    )
    below = descendants(base.limit(EDGE_CAP + 1).collect())
    pairs = [(a, d) for a, ds in below.items() for d in ds]
    import pandas as pd  # local: keep module import light

    return edges.sparkSession.createDataFrame(
        pd.DataFrame(pairs, columns=["ancestor", "descendant"]), base.schema
    )


def descendants(edges) -> dict:
    """node → the nodes below it, for every node with a child.

    ``edges`` is an iterable of (parent, child) pairs; repeats count once.
    Iterative post-order walk: a node's set is the union of its children
    and their sets, computed once (memoized) after all of them. A child met
    again while still on the walk's path closes a cycle.

    Sets are dicts (insertion-ordered), so the nodes and each node's
    descendants come out in an order fixed by ``edges`` alone: Python's
    ``set`` iterates strings in an order that changes with the process's
    hash seed, which would lay out every build's on_pairs files differently.
    """
    distinct = dict.fromkeys(map(tuple, edges))
    if len(distinct) > EDGE_CAP:
        raise ValueError(
            f"transitive_closure: more than {EDGE_CAP} distinct edges; the "
            "closure runs on the driver and is capped at that size"
        )
    children: dict = defaultdict(list)
    for parent, child in distinct:
        children[parent].append(child)
    below: dict = {}
    on_path: set = set()
    for root in children:
        if root in below:
            continue
        stack = [(root, iter(children[root]))]
        on_path.add(root)
        while stack:
            node, pending = stack[-1]
            for child in pending:
                if child in on_path:
                    raise ValueError(
                        f"transitive_closure: is_a cycle through term {child!r}"
                    )
                if child not in below and child in children:
                    stack.append((child, iter(children[child])))
                    on_path.add(child)
                    break
            else:
                stack.pop()
                on_path.discard(node)
                acc = dict.fromkeys(children[node])
                for child in children[node]:
                    acc.update(below.get(child, {}))
                below[node] = acc
    return below


def descendant_counts(closure: DataFrame) -> DataFrame:
    """A4 — number of distinct descendants per ancestor.

    Reference: src/import_ontology.py:141-145 (on_terms.count). Closure pairs
    are already distinct, so a plain count is exact; partial aggregation
    (map-side combine) applies.
    """
    return closure.groupBy("ancestor").agg(F.count("descendant").alias("count"))
