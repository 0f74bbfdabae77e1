"""A3/A4 — transitive closure of the is_a DAG, closed on the Spark driver.

Reference: src/import_ontology.py:110-145 — one global is_a graph (Q9) held
in a Python dict, walked to give every (ancestor, descendant) pair and a
per-ancestor descendant count.

The graph is metadata-sized (GO + MP + DO: ~10^5 edges), so the closure
follows the reference: the distinct edges are collected in one Spark job,
closed with an iterative memoized depth-first walk, and the pairs come back
through ``createDataFrame`` (Arrow). An iterative self-join would instead
pay one or more Spark jobs per level of depth for the same answer.

Two guards keep the driver honest:
 - a graph with more than ``EDGE_CAP`` distinct edges fails before it is
   pulled in (the collect reads at most ``EDGE_CAP + 1`` rows);
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
    rows = base.limit(EDGE_CAP + 1).collect()
    if len(rows) > EDGE_CAP:
        raise ValueError(
            f"transitive_closure: more than {EDGE_CAP} distinct edges; the "
            "closure runs on the driver and is capped at that size"
        )
    children: dict = defaultdict(list)
    for parent, child in rows:
        children[parent].append(child)
    pairs = [(a, d) for a, below in _descendants(children).items() for d in below]
    import pandas as pd  # local: keep module import light

    return edges.sparkSession.createDataFrame(
        pd.DataFrame(pairs, columns=["ancestor", "descendant"]), base.schema
    )


def _descendants(children: dict) -> dict:
    """node → set of nodes below it, for every node with a child.

    Iterative post-order walk: a node's set is the union of its children
    and their sets, computed once (memoized) after all of them. A child met
    again while still on the walk's path closes a cycle.
    """
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
                acc = set(children[node])
                for child in children[node]:
                    acc.update(below.get(child, ()))
                below[node] = acc
    return below


def descendant_counts(closure: DataFrame) -> DataFrame:
    """A4 — number of distinct descendants per ancestor.

    Reference: src/import_ontology.py:141-145 (on_terms.count). Closure pairs
    are already distinct, so a plain count is exact; partial aggregation
    (map-side combine) applies.
    """
    return closure.groupBy("ancestor").agg(F.count("descendant").alias("count"))
