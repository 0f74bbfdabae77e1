"""Shape-changing operators: SURVEY §2.4 X1-X3 (X5-X7 live in sources/io.py;
X4, multi-file accumulation, is one multi-path scan in sources/text_sources.py).

All are pure DataFrame compositions — union/explode/select — that Catalyst
plans without any shuffle except where semantically required (none of these
need one: explode and union are narrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_hierarchy_level(df: DataFrame, parent_attr) -> tuple[DataFrame, DataFrame]:
    """X1a — split a flat GFF3 scan into root rows and child rows.

    Reference: src/import_genes_exons.py:100-136 walks BCBio's nested
    record tree: ``rec.features`` are exactly the rows WITHOUT a ``Parent``
    attribute (BCBio nests every Parent-bearing row under its parent), and
    ``feature.sub_features`` are the rows whose Parent names a root's ID.
    Relationally that's two filters over one scan — no recursion. The FK
    re-key join (child.Parent → root's business key, X1b) lives with the
    gene loader (plans/loaders.py) since the key choice (Dbxref) is
    loader-specific.
    """
    roots = df.filter(parent_attr.isNull())
    children = df.filter(parent_attr.isNotNull())
    return roots, children


def explode_delimited(df: DataFrame, col: str, out_col: str, sep: str = ",") -> DataFrame:
    """X2 — one row per element of a delimited string column.

    Reference: src/import_variants.py:80-82 (one output row per gene in
    VCF INFO['CG']). Narrow op: no shuffle.
    """
    return df.withColumn(out_col, F.explode(F.split(F.col(col), sep)))


def symmetric_union(df: DataFrame, swap: dict[str, str]) -> DataFrame:
    """X3 — emit every row twice with roles swapped: (ref,comp) ∪ (comp,ref).

    Reference: src/import_homologs.py:134-142, src/import_synteny_blocks.py:
    100-115 insert each record forward and reversed. ``swap`` maps each
    column to its role-partner (id ↔ partner id); unmapped columns pass
    through. unionByName of two projections of the same scan — Catalyst
    reuses the exchange; no shuffle.
    """
    inverse = {v: k for k, v in swap.items()}
    full_swap = {**swap, **inverse}
    swapped = df.select(
        *[F.col(full_swap.get(c, c)).alias(c) for c in df.columns]
    )
    return df.unionByName(swapped)
