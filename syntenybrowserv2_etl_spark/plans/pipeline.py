"""Full-pipeline driver — the engine's create_database.sh.

Reference: /root/reference/create_database.sh:16-53 runs 13 sequential
single-threaded processes over a shared SQLite file, with no error
propagation. Here one SparkSession builds all nine tables; loads that the
reference serialized only for table-creation ordering run as independent
Spark jobs (submitted from threads — the scheduler interleaves their
stages), and any validation failure fails the whole build (fail-fast,
SURVEY §3.1 decision).

A build is staged, checked, then published (SURVEY V2). Every family
writes into ``<database>__staging`` beside the database; each ``unique``
table's X6 key check reads the staged parquet's key columns; only when
every family and check has passed does the build publish, by renaming the
staging directory over the database (``build_database``) or moving the
staged tables into it (the per-loader CLI). A failure deletes the staging
directory and leaves the database exactly as it was. Each family's Spark
jobs carry the description ``build:<family>``, and ``build_database``
writes ``_build.json`` at the database root: rows, files and bytes per
table, wall seconds per family, and the size of the whole database
against its source files (``input_bytes``, ``bytes_per_input_byte``).

Each family builder reads all of its source files in one scan (see
plans.loaders), so the whole family is one plan however many species or
files it loads.

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
import json
import time
from dataclasses import dataclass, field
from typing import Literal

from pyspark.sql import DataFrame, SparkSession

from ..sources import io, text_sources
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


def write_tables(tables: dict[str, DataFrame], out_dir: str) -> dict[str, int]:
    """Write a family's tables under ``out_dir`` (a staging directory) by
    their ``TABLES`` plans; returns {table: rows written}.

    A ``unique`` table is checked right after its write, on the written
    parquet's key columns (X6), so the check reads compact columns instead
    of parsing the source text again; a duplicate raises ``LoadAborted``
    naming the key, and the caller discards the staging directory.
    """
    written = {}
    for name, df in tables.items():
        plan = TABLES[name]
        if plan.key == "dedup":
            df = io.upsert_dedup(df, plan.pk)
        path = f"{out_dir}/{name}"
        written[name] = io.write_table(
            df,
            path,
            partition_by=[plan.partition_by] if plan.partition_by else None,
            sort_within_by=list(plan.sort_within_by),
        )
        if plan.key == "unique":
            staged = df.sparkSession.read.schema(df.schema).parquet(path)
            io.assert_no_duplicates(staged.select(*plan.pk), plan.pk, name)
    return written


# ---------------------------------------------------------------------------
# Table families — one per reference loader program. Each takes the family's
# loads, one tuple per source file, and returns {table: DataFrame}. Loaders
# read all of a family's files in one scan and are looked up on the module at
# call time.
# ---------------------------------------------------------------------------


def genes_exons(spark: SparkSession, loads: list[tuple]) -> dict[str, DataFrame]:
    gene, exon = loaders.load_genes_exons(spark, loads)
    return {"gene": gene.df, "exon": exon.df}


def ontology(spark: SparkSession, loads: list[tuple]) -> dict[str, DataFrame]:
    """One load, ``(obo_paths, gaf_loads)``: all OBO files close into ONE
    global is_a graph (Q9), so the family is never split per file."""
    [(obo_paths, gaf_loads)] = loads
    terms, pairs, gmap = loaders.build_ontology(spark, obo_paths, gaf_loads)
    return {"on_terms": terms.df, "on_pairs": pairs.df, "gene_ontology_map": gmap.df}


# CLI subcommand → family builder; each stands for one reference program
# (import_genes_exons.py, import_synteny_blocks.py, import_cytogenetic_loc.py,
# import_features.py, import_variants.py, import_homologs.py,
# import_ontology.py).
FAMILIES = {
    "genes-exons": genes_exons,
    "synteny-blocks": lambda spark, loads: {
        "syntenic_block": loaders.load_synteny_blocks(spark, loads).df
    },
    "cytobands": lambda spark, loads: {
        "cytogenetic_band": loaders.load_cytobands(spark, loads).df
    },
    "features": lambda spark, loads: {"feature": loaders.load_features(spark, loads).df},
    "variants": lambda spark, loads: {"snp_variant": loaders.load_variants(spark, loads).df},
    "homologs": lambda spark, loads: {"homolog": loaders.load_homologs(spark, loads).df},
    "ontology": ontology,
}


def _stage(
    spark: SparkSession, loads: dict[str, list[tuple]], staging: str
) -> tuple[dict[str, int], dict[str, float]]:
    """Build each family of ``loads`` into a fresh ``staging`` directory;
    returns ({table: rows written}, {family: wall seconds}).

    Independent families run concurrently: Spark's scheduler interleaves
    their stages across the executor pool. Any exception fails the whole
    build (fail-fast — unlike the reference shell, which ignores loader
    failures) after deleting ``staging``.
    """
    sc = spark.sparkContext

    def family(cmd: str) -> tuple[str, dict[str, int], float]:
        t0 = time.perf_counter()
        sc.setJobDescription(f"build:{cmd}")
        try:
            written = write_tables(FAMILIES[cmd](spark, loads[cmd]), staging)
        finally:
            sc.setJobDescription(None)
        return cmd, written, time.perf_counter() - t0

    io.delete(spark, staging)
    rows: dict[str, int] = {}
    wall: dict[str, float] = {}
    try:
        with cf.ThreadPoolExecutor(max_workers=max(1, len(loads))) as pool:
            futures = [pool.submit(family, cmd) for cmd in loads]
            for fut in cf.as_completed(futures):
                cmd, written, seconds = fut.result()
                rows.update(written)
                wall[cmd] = seconds
    except BaseException:
        io.delete(spark, staging)
        raise
    return rows, wall


def build_database(spark: SparkSession, inputs: PipelineInputs, out_dir: str) -> dict[str, int]:
    """Build all nine tables and publish them as ``out_dir``; returns row
    counts.

    The build is staged in ``<out_dir>__staging`` and replaces ``out_dir``
    by rename (``io.swap_in``) only once every family and key check has
    passed; on any failure ``out_dir`` is left untouched. ``_build.json``
    at the root records rows, files and bytes per table, wall seconds per
    family, the summed size of the source files (``input_bytes``) and the
    tables' data bytes over it (``bytes_per_input_byte``).
    """
    species = inputs.species
    loads = {
        "genes-exons": [(sp.genes_gff3, sp.taxon_id) for sp in species],
        "synteny-blocks": [(p,) for p in inputs.synteny_tsvs],
        "cytobands": [(sp.cytoband_gff3, sp.taxon_id) for sp in species if sp.cytoband_gff3],
        "features": [(sp.feature_gff3, sp.taxon_id) for sp in species if sp.feature_gff3],
        # GWAS VCFs are human (reference src/import_variants.py)
        "variants": [(p, 9606) for p in inputs.vcf_paths],
        "homologs": [(p,) for p in inputs.homolog_tsvs],
        "ontology": [(inputs.obo_paths, inputs.gaf_loads)] if inputs.obo_paths else [],
    }
    out_dir = out_dir.rstrip("/")
    staging = f"{out_dir}__staging"
    rows, wall = _stage(spark, {cmd: ld for cmd, ld in loads.items() if ld}, staging)
    try:
        tables = {}
        for name, n in sorted(rows.items()):
            files = io.data_files(spark, f"{staging}/{name}")
            tables[name] = {"rows": n, "files": len(files), "bytes": sum(b for _, b in files)}
        families = {cmd: {"wall_s": round(s, 3)} for cmd, s in wall.items()}
        sources = [
            *(p for sp in species for p in (sp.genes_gff3, sp.cytoband_gff3, sp.feature_gff3) if p),
            *inputs.synteny_tsvs,
            *inputs.homolog_tsvs,
            *inputs.vcf_paths,
            *inputs.obo_paths,
            *(p for p, _ in inputs.gaf_loads),
        ]
        in_bytes = text_sources.input_bytes(spark, sources)
        data_bytes = sum(t["bytes"] for t in tables.values())
        report = json.dumps(
            {
                "tables": tables,
                "families": families,
                "input_bytes": in_bytes,
                "bytes_per_input_byte": data_bytes / in_bytes if in_bytes else None,
            },
            indent=1,
            sort_keys=True,
        )
        io.write_text(spark, f"{staging}/_build.json", report)
        io.swap_in(spark, staging, out_dir)
    finally:
        io.delete(spark, staging)
    return rows


# ---------------------------------------------------------------------------
# CLI — the reference's per-loader argv programs (create_database.sh:16-53)
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> dict[str, int]:
    """Per-loader CLI mirroring the reference programs' argv shape.

    Reference: ``python src/import_genes_exons.py <database> <filepath>
    <taxonid> [-c]`` etc., orchestrated by create_database.sh. Here
    ``<database>`` is a parquet directory; ``-c/--create`` = overwrite
    (the reference's DROP TABLE + CREATE, S9), default = append (S10).
    The family is staged and checked like ``build_database``; then each
    table replaces the live one (``-c``) or its files join the live
    partition directories (append).
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
    database = args.database.rstrip("/")
    staging = f"{database}__staging"
    written, _ = _stage(spark, {args.cmd: [load]}, staging)
    try:
        publish = io.swap_in if args.create else io.move_into
        for name in written:
            publish(spark, f"{staging}/{name}", f"{database}/{name}")
    finally:
        io.delete(spark, staging)
    for name, n in written.items():
        print(f"{name}: {n} rows written ({mode})")
    return written


if __name__ == "__main__":
    main()
