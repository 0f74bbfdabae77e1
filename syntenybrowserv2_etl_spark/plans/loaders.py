"""The seven loader programs of the reference, re-expressed as DataFrame plans.

Each loader is read → transform → validate → (DataFrame, warnings) — pure
logical-plan construction; the caller decides write mode (overwrite/append,
SURVEY S9/S10), and plans.pipeline.TABLES gives each table's write layout
and primary-key policy. Error channels follow SURVEY §2.6:
hard aborts raise before any write (V1/V2), skip/warn channels return
counted side-DataFrames (V3/V4). The X6 duplicate-key aborts of gene and
exon run on the staged output (plans.pipeline.write_tables); on_terms'
runs here, on the terms the ontology build has already collected.

A loader takes its table family's whole list of loads — one tuple per
source file, ``(path, taxon)`` or ``(path,)`` — and reads them all in ONE
scan; a per-file taxon is read off each row's source file
(text_sources.file_param). So a family plans, optimizes and compiles its
code once, however many species it loads.

Reference programs (all under /root/reference/src/):
  import_genes_exons.py       → load_genes_exons
  import_synteny_blocks.py    → load_synteny_blocks
  import_cytogenetic_loc.py   → load_cytobands
  import_features.py          → load_features
  import_variants.py          → load_variants
  import_homologs.py          → load_homologs
  import_ontology.py          → ontology.py functions (build_ontology)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions import transforms
from ..operators import closure as closure_ops
from ..operators import shape
from ..sources import io, obo, text_sources


@dataclass
class LoadResult:
    df: DataFrame
    warnings: dict[str, DataFrame] = field(default_factory=dict)


def _collect(limited: DataFrame) -> list[dict]:
    """Rows of a ``limit``-ed DataFrame as dicts, in ONE Spark job: through
    Arrow the limit runs over all partitions at once, where ``collect()``
    scans them in growing rounds, one job per round."""
    return limited.toArrow().to_pylist()


# ---------------------------------------------------------------------------
# genes + exons (src/import_genes_exons.py)
# ---------------------------------------------------------------------------


def genes_exons_from_gff3(raw: DataFrame) -> tuple[LoadResult, LoadResult]:
    """GFF3 rows → (gene, exon) DataFrames.

    ``raw`` holds the 9 GFF3 columns plus ``file`` (the row's source file)
    and ``taxon`` (the taxon that file was loaded for).

    Reference-faithful (src/import_genes_exons.py:100-136):
      - gene rows: EVERY top-level feature — BCBio's ``rec.features``, i.e.
        the rows with no ``Parent`` attribute; there is NO ``type == 'gene'``
        filter (:101, pseudogenes/ncRNA genes load too — SURVEY Q10).
        ``gene_id`` = ``Dbxref[0]`` (missing → skip the gene AND its
        children, V3 :108-113); ``gene_symbol`` = ``Symbol[0]`` (:118 — the
        reference crashes on a missing Symbol, we NULL instead, Q11);
        ``gene_name`` = ``Name[0]`` optional (P7 :103-106); ``gene_type`` =
        the feature's ``type`` column (:118); strand = BCBio ±1 int (:119);
        chr prefix stripped from the record id (:115); coordinates are
        BCBio 0-based — GFF start-1, end unchanged (Q6 :118).
      - exon rows: each surviving top-level feature's DIRECT children
        (``sub_features``, exactly one nesting level — :127; a level-2 exon
        under an mRNA is NOT emitted, and a non-exon direct child IS), with
        ``parent_gene`` = the parent gene's **Dbxref id** (:128) — not the
        raw GFF ``Parent`` string — so ``exon.parent_gene = gene.gene_id``
        is the working FK (§2.7 J1). A GFF ``ID`` is only unique within its
        file, so the child → parent join keys on (file, ID).
      - duplicate PK aborts the load (X6 :120-126) — checked on the staged
        output by plans.pipeline.write_tables, before anything is published.
    """
    # A real GFF3 arrives as ONE (often gzipped, unsplittable) file — a
    # 1-task scan that would serialize the per-row attribute parse below
    # no matter the cluster size. Spread before the expression-heavy map
    # parse (guide §2.5 input skew; fan_out is plan-only and a no-op on
    # already-parallel scans). Round 17: q57's 620k-row parse 5.7 s → par.
    attrs = transforms.fan_out(raw).withColumn(
        "m", transforms.attributes_to_map("attributes")
    )
    top, subs = shape.split_hierarchy_level(attrs, F.col("m").getItem("Parent"))
    dbxref = transforms.first_element(F.split(F.col("m").getItem("Dbxref"), ","))
    genes_ok = top.filter(dbxref.isNotNull() & (F.length(dbxref) > 0))
    genes_skipped = top.filter(dbxref.isNull() | (F.length(dbxref) == 0))
    gene_keyed = genes_ok.select(
        F.col("file").alias("__gff_file"),
        F.col("m").getItem("ID").alias("__gff_id"),
        dbxref.alias("gene_id"),
        F.col("taxon").cast("long").alias("gene_taxonid"),
        transforms.first_element(
            F.split(F.col("m").getItem("Symbol"), ",")
        ).alias("gene_symbol"),
        transforms.strip_chr_prefix("seq_id").alias("gene_chr"),
        (F.col("start").cast("long") - 1).alias("gene_start_pos"),
        F.col("end").cast("long").alias("gene_end_pos"),
        transforms.strand_to_int("strand").alias("gene_strand"),
        F.col("type").alias("gene_type"),
        transforms.first_element(
            F.split(F.col("m").getItem("Name"), ",")
        ).alias("gene_name"),
    )
    # X1b FK re-key: child.Parent (GFF id, possibly multi-valued) → the
    # parent gene's Dbxref id. Inner join drops children of skipped genes
    # (the reference's `continue` skips sub_features too) and children of
    # non-root features (level ≥ 2). Genes are the 1 side of 1:N — a full
    # genome's gene table is MBs while exons are the bulk — so broadcast
    # keeps the exon scan shuffle-free at any corpus size.
    children = subs.select(
        "file",
        F.col("m").getItem("ID").alias("exon_id"),
        F.explode(F.split(F.col("m").getItem("Parent"), ",")).alias("__parent"),
        F.col("start").cast("long").alias("__start"),
        F.col("end").cast("long").alias("__end"),
    )
    exon = children.join(
        F.broadcast(
            gene_keyed.select("__gff_file", "__gff_id", "gene_id", "gene_taxonid", "gene_chr")
        ),
        (children["file"] == F.col("__gff_file")) & (children["__parent"] == F.col("__gff_id")),
    ).select(
        "exon_id",
        F.col("gene_id").alias("parent_gene"),
        F.col("gene_taxonid").alias("taxonid"),
        # reference uses the record (chromosome) id for the exon row (:128)
        F.col("gene_chr").alias("exon_chr"),
        (F.col("__start") - 1).alias("exon_start_pos"),
        F.col("__end").alias("exon_end_pos"),
    )
    gene = gene_keyed.drop("__gff_file", "__gff_id")
    return (
        LoadResult(gene, {"missing_dbxref": genes_skipped}),
        LoadResult(exon),
    )


def load_genes_exons(
    spark: SparkSession, loads: list[tuple[str, int]]
) -> tuple[LoadResult, LoadResult]:
    """(GFF3 path, taxon) loads → (gene, exon); see genes_exons_from_gff3."""
    raw = text_sources.read_gff3(spark, [path for path, _ in loads]).select(
        "*",
        F.input_file_name().alias("file"),
        text_sources.file_param(spark, loads).alias("taxon"),
    )
    return genes_exons_from_gff3(raw)


# ---------------------------------------------------------------------------
# synteny blocks (src/import_synteny_blocks.py)
# ---------------------------------------------------------------------------


def load_synteny_blocks(spark: SparkSession, loads: list[tuple[str]]) -> LoadResult:
    """Headerless 10-col TSVs, one ``(path,)`` load each → symmetric
    syntenic_block rows.

    src/import_synteny_blocks.py:63-120: validate block_id prefix
    'ID=SynBlock' (V2 abort :70), strand → boolean (P5 :95), symbol =
    block_id minus 'ID=' (P4 :101), swap chr/taxon input order into
    taxon-first output (P1 :100-101), then insert forward AND reversed
    (X3 :100-115). Rows may repeat a PK: the INSERT OR REPLACE
    last-write-wins (X5 :83-88) is the syntenic_block key policy in
    plans.pipeline.TABLES, applied once to the union of all files.
    """
    raw = text_sources.read_headerless_tsv(
        spark, [path for path, in loads], schemas.SYNTENY_TSV_RAW
    )
    bad = raw.filter(
        F.col("block_id").isNull() | ~F.col("block_id").startswith("ID=SynBlock")
    ).select(F.input_file_name().alias("file"), "block_id")
    for row in _collect(bad.limit(1)):
        raise io.LoadAborted(
            f"{row['file']}: synteny block_id {row['block_id']!r} without "
            "'ID=SynBlock' prefix (V2 abort, reference "
            "src/import_synteny_blocks.py:63-70)"
        )
    fwd = raw.select(
        F.col("ref_taxonid").cast("long"),
        F.col("ref_chr"),
        F.col("ref_start_pos").cast("long"),
        F.col("ref_end_pos").cast("long"),
        F.col("comp_taxonid").cast("long"),
        F.col("comp_chr"),
        F.col("comp_start_pos").cast("long"),
        F.col("comp_end_pos").cast("long"),
        transforms.orientation_to_bool("orientation").alias("same_orientation"),
        transforms.strip_key_prefix("block_id", "ID=").alias("symbol"),
    )
    both = shape.symmetric_union(
        fwd,
        {
            "ref_taxonid": "comp_taxonid",
            "ref_chr": "comp_chr",
            "ref_start_pos": "comp_start_pos",
            "ref_end_pos": "comp_end_pos",
        },
    )
    return LoadResult(both)


# ---------------------------------------------------------------------------
# cytogenetic bands (src/import_cytogenetic_loc.py)
# ---------------------------------------------------------------------------


def load_cytobands(spark: SparkSession, loads: list[tuple[str, int]]) -> LoadResult:
    """(GFF3 path, taxon) loads → cytogenetic_band; start gets the +1 shift
    (P9/Q6 :82)."""
    raw = text_sources.read_gff3(spark, [path for path, _ in loads])
    m = transforms.attributes_to_map("attributes")
    df = raw.select(
        m.getItem("ID").alias("id"),
        text_sources.file_param(spark, loads).cast("long").alias("taxon_id"),
        transforms.strip_chr_prefix("seq_id").alias("chr"),
        F.col("source"),
        F.col("type"),
        # BCBio parses GFF3 to 0-based; reference stores start+1 → net: the
        # raw 1-based GFF3 start unchanged, end unchanged (SURVEY P9/Q6).
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        m.getItem("Location").alias("location"),
        m.getItem("Color").alias("color"),
    )
    return LoadResult(df)


# ---------------------------------------------------------------------------
# features / QTL (src/import_features.py)
# ---------------------------------------------------------------------------


def load_features(spark: SparkSession, loads: list[tuple[str, int]]) -> LoadResult:
    """(GFF3 path, taxon) loads → feature; blacklist filter, '.'→NULL,
    keep-first dedup.

    src/import_features.py: per-file version header check (V1 :72-76), type
    blacklist (F2 :107-162), attribute whitelist via map access (P6
    :93-99,175-185; Alias collected-but-dropped — Q1 parity), '.'→NULL
    (P8 :187-191), duplicate-PK-skip keeping first (X7 :203-210; the key
    holds the taxon, so it never spans two species' files).
    """
    raw = text_sources.read_gff3(
        spark, [path for path, _ in loads], require_version_header=True
    )
    kept = transforms.filter_type_blacklist(
        raw, "type", transforms.FEATURE_TYPE_BLACKLIST
    )
    m = transforms.attributes_to_map("attributes")
    df = kept.select(
        text_sources.file_param(spark, loads).cast("long").alias("taxon_id"),
        transforms.strip_chr_prefix("seq_id").alias("seq_id"),
        transforms.dot_to_null("source").alias("source"),
        F.col("type"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        transforms.dot_to_null("score").cast("double").alias("score"),
        transforms.dot_to_null("strand").alias("strand"),
        transforms.dot_to_null("phase").cast("long").alias("phase"),
        # '.'→NULL applies to attribute values too: the reference loops over
        # ALL fields incl. extracted attributes (src/import_features.py:187-191)
        transforms.dot_to_null(m.getItem("ID")).alias("id"),
        transforms.dot_to_null(m.getItem("Name")).alias("name"),
        transforms.dot_to_null(m.getItem("Dbxref")).alias("dbxref"),
        transforms.dot_to_null(m.getItem("bioType")).alias("bio_type"),
        transforms.dot_to_null(m.getItem("Status")).alias("status"),
        transforms.dot_to_null(m.getItem("Parent")).alias("parent"),
        F.monotonically_increasing_id().alias("__arrival"),
    )
    deduped = io.keep_first_dedup(df, schemas.FEATURE_PK, "__arrival").drop("__arrival")
    return LoadResult(deduped)


# ---------------------------------------------------------------------------
# variants (src/import_variants.py)
# ---------------------------------------------------------------------------


def load_variants(spark: SparkSession, loads: list[tuple[str, int]]) -> LoadResult:
    """(VCF path, taxon) loads → snp_variant; one row per gene in INFO['CG']
    (X2 :80-82), ALT joined '/' (P10 :86-90), AF/LT first element (P11 :93)."""
    vcf = text_sources.read_vcf(spark, [path for path, _ in loads]).withColumn(
        "taxon", text_sources.file_param(spark, loads)
    )
    info = F.col("info")
    exploded = vcf.withColumn(
        "gene",
        F.explode_outer(F.split(info.getItem("CG"), ",")),
    )
    df = exploded.select(
        transforms.strip_chr_prefix("chrom").alias("chr"),
        F.col("pos").cast("long").alias("pos"),
        F.col("id"),
        F.col("ref").alias("ref_base"),
        transforms.array_to_delimited("alt_alleles").alias("alt_allele"),
        F.col("qual").alias("quality"),
        F.col("filter"),
        transforms.first_element(F.split(info.getItem("AF"), ","))
        .cast("double")
        .alias("frequency"),
        F.col("gene"),
        transforms.first_element(F.split(info.getItem("LT"), ",")).alias("trait_id"),
        F.col("taxon").cast("long").alias("taxon_id"),
    )
    return LoadResult(df)


# ---------------------------------------------------------------------------
# homologs (src/import_homologs.py)
# ---------------------------------------------------------------------------


def load_homologs(spark: SparkSession, loads: list[tuple[str]]) -> LoadResult:
    """Headered TSVs, one ``(path,)`` load each → symmetric homolog rows.

    src/import_homologs.py:88-150: header contract (V5 :97-103 — raises),
    extra-column warn (V4 :105-108), non-ORTHOLOGUE type warn-and-keep
    (V4 :129-132, implementing the *intended* warning — Q3), chr strip
    case-insensitive (P3 :123-127), symmetric duplication (X3 :134-142).
    The INSERT OR REPLACE last-write-wins (X5 :114) is the homolog key
    policy in plans.pipeline.TABLES, applied to the union of all files.
    """
    raw, hdr_warnings = text_sources.read_headered_tsv(
        spark, [path for path, in loads], schemas.HOMOLOG_TSV_COLUMNS
    )
    non_ortho = raw.filter(F.upper(F.trim(F.col("type"))) != "ORTHOLOGUE")
    fwd = raw.select(
        F.trim("id1").alias("ref_gene_id"),
        F.trim("symbol1").alias("ref_gene_sym"),
        F.col("taxonid1").cast("long").alias("ref_taxon_id"),
        transforms.strip_chr_prefix(F.trim("seqid1")).alias("ref_seq_id"),
        F.col("start1").cast("long").alias("ref_start"),
        F.col("end1").cast("long").alias("ref_end"),
        F.trim("id2").alias("comp_gene_id"),
        F.trim("symbol2").alias("comp_gene_sym"),
        F.col("taxonid2").cast("long").alias("comp_taxon_id"),
        transforms.strip_chr_prefix(F.trim("seqid2")).alias("comp_seq_id"),
        F.col("start2").cast("long").alias("comp_start"),
        F.col("end2").cast("long").alias("comp_end"),
    )
    both = shape.symmetric_union(
        fwd,
        {
            "ref_gene_id": "comp_gene_id",
            "ref_gene_sym": "comp_gene_sym",
            "ref_taxon_id": "comp_taxon_id",
            "ref_seq_id": "comp_seq_id",
            "ref_start": "comp_start",
            "ref_end": "comp_end",
        },
    )
    return LoadResult(both, {"non_orthologue_type": non_ortho, **hdr_warnings})


# ---------------------------------------------------------------------------
# ontology (src/import_ontology.py)
# ---------------------------------------------------------------------------


def build_ontology(
    spark: SparkSession,
    obo_paths: list[str],
    gaf_loads: list[tuple[str, int]],
) -> tuple[LoadResult, LoadResult, LoadResult]:
    """OBO + GAF → (on_terms, on_pairs, gene_ontology_map).

    Mirrors src/import_ontology.py:312-349: all OBO files parse, in one
    scan, into one term set; their is_a edges accumulate into ONE global
    graph before closure (Q9 — module-global dict :54 accumulated across
    GO/MP/DO); closure pairs materialize as on_pairs with relationship
    'is_a' (:132-140); per-ancestor descendant counts land on
    on_terms.count (:141-145); GAF mappings filter by per-file taxon (F3
    :297-299) and dedup last-write-wins on (gene_id, ontology_id) — taxonid
    NOT in the key (Q7 :175-183), the later load of ``gaf_loads`` winning.

    The terms are collected ONCE (at most ``closure.EDGE_CAP`` of them)
    and the rest runs on the driver, as the reference does: a repeated
    term id raises ``LoadAborted`` naming it (X6, :212-224) before anything
    is written, ``closure.descendants`` closes the is_a graph (cycles
    raise), and on_terms / on_pairs go back through ``createDataFrame``.
    Each is written as ONE file (``coalesce(1)``): ``createDataFrame``
    slices to the default parallelism, but the rows are already on the
    driver and bounded by the cap, so more files buy no parallelism and
    each would repeat its dictionaries and footer.
    """
    terms = obo.read_obo_terms(spark, obo_paths).select(
        "file", "id", "name", "namespace", "def", "is_a"
    )
    rows = _collect(terms.limit(closure_ops.EDGE_CAP + 1))
    if len(rows) > closure_ops.EDGE_CAP:
        raise ValueError(
            f"build_ontology: more than {closure_ops.EDGE_CAP} terms; the "
            "ontology is closed on the driver and is capped at that size"
        )
    # duplicate term id → X6 abort before any write (reference :212-224)
    file_of: dict[str, str] = {}
    for r in rows:
        if r["id"] in file_of:
            raise io.LoadAborted(
                f"duplicate primary key in 'on_terms': {{'id': {r['id']!r}}} "
                f"in {file_of[r['id']]} and {r['file']} (V2/X6 abort)"
            )
        file_of[r["id"]] = r["file"]
    below = closure_ops.descendants(
        (parent, r["id"]) for r in rows for parent in r["is_a"] if parent
    )
    import pandas as pd  # local: keep module import light

    on_terms = spark.createDataFrame(
        pd.DataFrame(
            [
                (r["id"], r["name"], r["namespace"], r["def"], len(below.get(r["id"], ())))
                for r in rows
            ],
            columns=schemas.ON_TERMS.names,
        ),
        schemas.ON_TERMS,
    ).coalesce(1)
    on_pairs = spark.createDataFrame(
        pd.DataFrame(
            [(a, d, "is_a") for a, ds in below.items() for d in ds],
            columns=schemas.ON_PAIRS.names,
        ),
        schemas.ON_PAIRS,
    ).coalesce(1)
    if gaf_loads:
        arrival = text_sources.file_param(
            spark, [(path, i) for i, (path, _) in enumerate(gaf_loads)]
        )
        taxa = F.array(*(F.lit(taxon) for _, taxon in gaf_loads))
        gaf = text_sources.read_gaf(spark, [path for path, _ in gaf_loads]).withColumn(
            "__arrival", arrival
        )
        gmap = io.upsert_dedup(
            gaf.filter(F.col("taxonid") == taxa[F.col("__arrival")]),
            schemas.GENE_ONTOLOGY_MAP_PK,
            arrival_col="__arrival",
        ).drop("__arrival")
    else:
        gmap = spark.createDataFrame([], schemas.GENE_ONTOLOGY_MAP)
    return LoadResult(on_terms), LoadResult(on_pairs), LoadResult(gmap)
