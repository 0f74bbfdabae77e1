"""Full-pipeline driver — the engine's create_database.sh.

Reference: /root/reference/create_database.sh:16-53 runs 13 sequential
single-threaded processes over a shared SQLite file, with no error
propagation. Here one SparkSession builds all nine tables; loads that the
reference serialized only for table-creation ordering run as independent
Spark jobs (submitted from threads — the scheduler interleaves their
stages), and any validation failure fails the whole build (fail-fast,
SURVEY §3.1 decision).

``TABLES`` is the one statement of how each output table is written: its
partition column, its in-file sort columns and its primary-key policy.
Genomic tables are partitioned by taxon and sorted within files by
(chr, start) so partition pruning + parquet row-group min/max stats serve
the reference's 15 B-tree indexes' query workload (SURVEY §4). Every write
— ``build_database`` and the per-loader CLI alike — goes through
``write_tables``, which applies that catalogue.
"""

from __future__ import annotations

import concurrent.futures as cf
import os
from dataclasses import dataclass, field
from typing import Literal

from pyspark.sql import DataFrame, SparkSession

from ..operators import shape
from ..sources import io
from .. import schemas
from . import loaders


@dataclass
class SpeciesInputs:
    taxon_id: int
    genes_gff3: str
    cytoband_gff3: str | None = None
    feature_gff3: str | None = None


@dataclass
class PipelineInputs:
    species: list[SpeciesInputs]
    synteny_tsvs: list[str]
    homolog_tsvs: list[str]
    vcf_paths: list[str]
    obo_paths: list[str]
    gaf_loads: list[tuple[str, int]]


# ---------------------------------------------------------------------------
# Table catalogue
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TablePlan:
    """How one output table is written.

    ``key`` is the policy for rows sharing ``pk``: ``"unique"`` aborts the
    load (X6, src/import_genes_exons.py:120-136), ``"dedup"`` keeps one
    (INSERT OR REPLACE last-write-wins, X5 — applied once to the union of
    all the family's files, since their order carries no meaning here).
    """

    partition_by: str | None = None
    sort_within_by: tuple[str, ...] = ()
    key: Literal["none", "unique", "dedup"] = "none"
    pk: list[str] = field(default_factory=list)


TABLES: dict[str, TablePlan] = {
    "gene": TablePlan("gene_taxonid", ("gene_chr", "gene_start_pos"), "unique", schemas.GENE_PK),
    "exon": TablePlan("taxonid", ("exon_chr", "exon_start_pos"), "unique", schemas.EXON_PK),
    "syntenic_block": TablePlan(
        "ref_taxonid", ("ref_chr", "ref_start_pos"), "dedup", schemas.SYNTENIC_BLOCK_PK
    ),
    "cytogenetic_band": TablePlan("taxon_id", ("chr", "start")),
    "feature": TablePlan("taxon_id", ("seq_id", "start")),
    "snp_variant": TablePlan("taxon_id", ("chr", "pos")),
    "homolog": TablePlan(
        "ref_taxon_id", ("ref_seq_id", "ref_start"), "dedup", schemas.HOMOLOG_PK
    ),
    "on_terms": TablePlan(),
    "on_pairs": TablePlan(sort_within_by=("parent", "child")),
    "gene_ontology_map": TablePlan(),
}


def write_tables(
    tables: dict[str, DataFrame], out_dir: str, mode: str = "overwrite"
) -> dict[str, int]:
    """Write a family's tables under ``out_dir`` by their ``TABLES`` plans;
    returns {table: rows written}.

    Every key check of the family runs before its first write, so a
    duplicate key leaves none of the family's tables written (V2).
    """
    planned = []
    for name, df in tables.items():
        plan = TABLES[name]
        if plan.key == "unique":
            io.assert_no_duplicates(df, plan.pk, name)
        elif plan.key == "dedup":
            df = io.upsert_dedup(df, plan.pk)
        planned.append((name, plan, df))
    return {
        name: io.write_table(
            df,
            f"{out_dir}/{name}",
            mode=mode,
            partition_by=[plan.partition_by] if plan.partition_by else None,
            sort_within_by=list(plan.sort_within_by),
        )
        for name, plan, df in planned
    }


# ---------------------------------------------------------------------------
# Table families — one per reference loader program. Each takes the loader's
# arguments after ``spark``, one tuple per source file, and returns
# {table: DataFrame}. Loaders are looked up on the module at call time.
# ---------------------------------------------------------------------------


def genes_exons(spark: SparkSession, loads: list[tuple]) -> dict[str, DataFrame]:
    pairs = [loaders.load_genes_exons(spark, *args) for args in loads]
    return {
        "gene": shape.accumulate([g.df for g, _ in pairs]),
        "exon": shape.accumulate([e.df for _, e in pairs]),
    }


def ontology(spark: SparkSession, loads: list[tuple]) -> dict[str, DataFrame]:
    """One load, ``(obo_paths, gaf_loads)``: all OBO files close into ONE
    global is_a graph (Q9), so the family is never split per file."""
    [(obo_paths, gaf_loads)] = loads
    terms, pairs, gmap = loaders.build_ontology(spark, obo_paths, gaf_loads)
    return {"on_terms": terms.df, "on_pairs": pairs.df, "gene_ontology_map": gmap.df}


def _single_table(table: str, loader: str):
    def family(spark: SparkSession, loads: list[tuple]) -> dict[str, DataFrame]:
        load = getattr(loaders, loader)
        return {table: shape.accumulate([load(spark, *args).df for args in loads])}

    return family


# CLI subcommand → family builder; each stands for one reference program
# (import_genes_exons.py, import_synteny_blocks.py, import_cytogenetic_loc.py,
# import_features.py, import_variants.py, import_homologs.py,
# import_ontology.py).
FAMILIES = {
    "genes-exons": genes_exons,
    "synteny-blocks": _single_table("syntenic_block", "load_synteny_blocks"),
    "cytobands": _single_table("cytogenetic_band", "load_cytobands"),
    "features": _single_table("feature", "load_features"),
    "variants": _single_table("snp_variant", "load_variants"),
    "homologs": _single_table("homolog", "load_homologs"),
    "ontology": ontology,
}


def build_database(spark: SparkSession, inputs: PipelineInputs, out_dir: str) -> dict[str, int]:
    """Build all nine tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    species = inputs.species
    loads = {
        "genes-exons": [(sp.genes_gff3, sp.taxon_id) for sp in species],
        "synteny-blocks": [(p,) for p in inputs.synteny_tsvs],
        "cytobands": [(sp.cytoband_gff3, sp.taxon_id) for sp in species if sp.cytoband_gff3],
        "features": [(sp.feature_gff3, sp.taxon_id) for sp in species if sp.feature_gff3],
        "variants": [(p,) for p in inputs.vcf_paths],
        "homologs": [(p,) for p in inputs.homolog_tsvs],
        "ontology": [(inputs.obo_paths, inputs.gaf_loads)] if inputs.obo_paths else [],
    }

    def family(cmd: str) -> dict[str, int]:
        if not loads[cmd]:
            return {}
        return write_tables(FAMILIES[cmd](spark, loads[cmd]), out_dir)

    results: dict[str, int] = {}
    # Independent table families run concurrently: Spark's FAIR-ish FIFO
    # scheduler interleaves their stages across the executor pool. Any
    # exception cancels the build (fail-fast — unlike the reference shell,
    # which ignores loader failures).
    with cf.ThreadPoolExecutor(max_workers=len(loads)) as pool:
        futures = [pool.submit(family, cmd) for cmd in loads]
        for fut in cf.as_completed(futures):
            results.update(fut.result())
    return results


# ---------------------------------------------------------------------------
# CLI — the reference's per-loader argv programs (create_database.sh:16-53)
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> dict[str, int]:
    """Per-loader CLI mirroring the reference programs' argv shape.

    Reference: ``python src/import_genes_exons.py <database> <filepath>
    <taxonid> [-c]`` etc., orchestrated by create_database.sh. Here
    ``<database>`` is a parquet directory; ``-c/--create`` = overwrite
    (the reference's DROP TABLE + CREATE, S9), default = append (S10).
    Returns {table: rows written} (also printed, one line per table).
    """
    import argparse

    p = argparse.ArgumentParser(prog="python -m syntenybrowserv2_etl_spark.plans.pipeline")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name: str, with_taxon: bool) -> None:
        sp = sub.add_parser(name)
        sp.add_argument("database", help="output parquet directory")
        sp.add_argument("filepath", help="source data file")
        if with_taxon:
            sp.add_argument("taxonid", type=int)
        sp.add_argument(
            "-c", "--create", action="store_true",
            help="(re)create the table: overwrite instead of append",
        )

    for name in ("genes-exons", "cytobands", "features", "variants"):
        add(name, True)
    for name in ("synteny-blocks", "homologs"):
        add(name, False)
    onto = sub.add_parser("ontology")
    onto.add_argument("database")
    onto.add_argument("--obo", action="append", default=[], metavar="OBO_PATH")
    onto.add_argument(
        "--gaf", action="append", default=[], metavar="GAF_PATH:TAXON"
    )
    onto.add_argument("-c", "--create", action="store_true")
    args = p.parse_args(argv)

    if args.cmd == "ontology":
        gaf_loads = [(path, int(taxon)) for path, taxon in (s.rsplit(":", 1) for s in args.gaf)]
        load = (args.obo, gaf_loads)
    elif "taxonid" in args:
        load = (args.filepath, args.taxonid)
    else:
        load = (args.filepath,)

    from ..session import get_spark

    spark = get_spark("pipeline-cli")
    mode = "overwrite" if args.create else "append"
    written = write_tables(FAMILIES[args.cmd](spark, [load]), args.database, mode)
    for name, n in written.items():
        print(f"{name}: {n} rows written ({mode})")
    return written


if __name__ == "__main__":
    main()
