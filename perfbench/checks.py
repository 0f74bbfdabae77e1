"""Untimed correctness checks of a built database, read back with DuckDB."""

from __future__ import annotations

import pyarrow as pa

from syntenybrowserv2_etl_spark import schemas

PRIMARY_KEYS = {
    "gene": schemas.GENE_PK,
    "exon": schemas.EXON_PK,
    "syntenic_block": schemas.SYNTENIC_BLOCK_PK,
    "feature": schemas.FEATURE_PK,
    "homolog": schemas.HOMOLOG_PK,
    "gene_ontology_map": schemas.GENE_ONTOLOGY_MAP_PK,
    "on_terms": ["id"],
    "on_pairs": ["parent", "child"],
}


def check_build(con, db_dir: str, counts: dict[str, int],
                is_a: list[tuple[str, str]]) -> list[tuple[str, bool]]:
    """(check name, passed) for: every table's read-back row count against
    the count the build returned, primary-key uniqueness, and ``on_pairs``
    against a recursive closure of the input ``is_a`` edges."""
    results = []
    for table in sorted(schemas.TABLES):
        src = f"read_parquet('{db_dir}/{table}/**/*.parquet', hive_partitioning = true)"
        n = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        results.append((f"count:{table}", n == counts.get(table)))
        if table in PRIMARY_KEYS:
            key = ", ".join(f'"{c}"' for c in PRIMARY_KEYS[table])
            dups = con.execute(
                f"SELECT count(*) FROM (SELECT {key} FROM {src} GROUP BY ALL "
                "HAVING count(*) > 1)").fetchone()[0]
            results.append((f"unique:{table}", dups == 0))
    con.register("is_a", pa.table({"child": [c for c, _ in is_a],
                                    "parent": [p for _, p in is_a]}))
    (missing, extra), = con.execute(f"""
        WITH RECURSIVE closure(parent, child) AS (
            SELECT parent, child FROM is_a
            UNION
            SELECT e.parent, c.child FROM closure c JOIN is_a e ON c.parent = e.child
        ),
        got AS (SELECT parent, child FROM read_parquet('{db_dir}/on_pairs/**/*.parquet'))
        SELECT (SELECT count(*) FROM (SELECT * FROM closure EXCEPT SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM closure))
    """).fetchall()
    results.append(("closure:on_pairs", missing == 0 and extra == 0))
    return results
