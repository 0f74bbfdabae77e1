"""File-format readers: SURVEY §2.1 S1-S6, S8.

All readers are thin wrappers over ``spark.read.csv``/``text`` with declared
schemas (never inferred) so Catalyst gets pushdown/pruning and the vectorized
reader. Gzip (S1 — reference src/flex_open.py:10-20) is free: Spark infers
the codec from the ``.gz`` suffix on any text-based source.

Every reader takes the LIST of a table family's source paths (each a file,
directory or glob) and returns ONE scan over all of them, so a family's
plan is built, optimized and code-generated once, however many species or
files it loads. Where a loader needs a per-file parameter (the taxon a
GFF3 file was loaded for, a GAF file's arrival order), ``file_param``
reads it off the row's source file.

Scale posture: multi-file reads parallelize by file and by 128 MB split for
splittable formats. Gzipped text is NOT splittable — one .gz = one task — so
at 100 TB the ingest layer should receive many moderate .gz files (or
bgzip/zstd-seekable), which is exactly how genomics archives ship.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions import transforms


class SourceFormatError(ValueError):
    """Raised by precondition checks (V1/V5 hard-abort channels)."""


def _file_statuses(spark: SparkSession, path: str) -> list:
    """Expand a file/dir/glob path to the Hadoop ``FileStatus`` of each of
    its data files.

    Mirrors Spark's own listing rules: directories expand one level, names
    starting with ``_`` or ``.`` (committer metadata) are skipped. Listing
    is metadata-only — no data bytes are read — and works on any
    Hadoop-supported filesystem, so the probe is cluster-correct.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    matches = fs.globStatus(jpath)
    if matches is None:
        raise SourceFormatError(f"{path}: no such file")
    files = []

    def keep(p) -> bool:
        name = p.getName()
        return not (name.startswith("_") or name.startswith("."))

    for st in matches:
        if st.isDirectory():
            files += [
                sub for sub in fs.listStatus(st.getPath()) if sub.isFile() and keep(sub.getPath())
            ]
        elif st.isFile() and keep(st.getPath()):
            files.append(st)
    return files


def input_bytes(spark: SparkSession, paths: list[str]) -> int:
    """Summed size of the distinct data files under ``paths`` (a listing;
    no data is read)."""
    sizes = {
        st.getPath().toString(): st.getLen() for p in paths for st in _file_statuses(spark, p)
    }
    return sum(sizes.values())


def file_param(spark: SparkSession, loads: list[tuple[str, object]]) -> Column:
    """Column: the parameter of the load whose path holds the row's file.

    ``loads`` pairs each source path (file, directory or glob) with its
    parameter. The file names come from each path's ``inputFiles()``,
    the same strings ``input_file_name()`` gives a row of the scan, and
    become the keys of ONE map literal, so any number of files costs one
    constant in the plan. Evaluate the column in the scan's own stage
    (before any exchange): ``input_file_name()`` is empty after a shuffle.

    One scan reads each file once, so a file named by two loads has no
    single parameter and is refused.
    """
    by_file: dict[str, object] = {}
    for path, value in loads:
        for f in spark.read.text(path).inputFiles():
            if by_file.setdefault(f, value) != value:
                raise SourceFormatError(
                    f"{f}: loaded twice, for {by_file[f]!r} and {value!r}; "
                    "a family's scan reads each file once"
                )
    lookup = F.create_map(*(F.lit(x) for kv in by_file.items() for x in kv))
    return lookup[F.input_file_name()]


def first_lines(spark: SparkSession, paths: list[str]) -> list[tuple[str, str]]:
    """Each file's FIRST physical line, for every file under ``paths``.

    One ``spark.read.text(file).limit(1)`` per file, run from a small
    thread pool: the limit is pushed into the scan so only the head is
    decompressed/read (codec-safe for .gz), "first" is first by
    construction, and the read goes through the same Hadoop filesystem
    stack as the real load. This is one Spark job per file, sized for the
    few-file globs a genomics load passes. The pool's threads inherit the
    caller's Spark local properties and tags (``inheritable_thread_target``),
    so the probe jobs carry the caller's job description, e.g. a build's
    ``build:<family>``.

    Empty files yield ``""`` (they then fail the caller's header check,
    which is the right V1/V5 outcome).
    """
    import concurrent.futures as cf

    files = sorted({st.getPath().toString() for p in paths for st in _file_statuses(spark, p)})
    if not files:
        raise SourceFormatError(f"{paths}: empty file")

    def head(f: str) -> tuple[str, str]:
        rows = spark.read.text(f).limit(1).collect()
        return (f, rows[0]["value"] if rows else "")

    with cf.ThreadPoolExecutor(max_workers=min(8, len(files))) as pool:
        return list(pool.map(inheritable_thread_target(spark)(head), files))


def read_gff3(
    spark: SparkSession, paths: list[str], require_version_header: bool = False
) -> DataFrame:
    """S2/S3 — GFF3 as a 9-column DataFrame, comments skipped at scan.

    Reference: src/import_features.py:154-159 (hand-rolled split),
    src/import_genes_exons.py:100-101 (BCBio). The gene→exon hierarchy is NOT
    recovered recursively; it lives in the ``Parent`` attribute and is joined
    relationally (SURVEY S2/X1).

    ``require_version_header`` implements V1 (src/import_features.py:72-76):
    the first line of each file must be ``##gff-version 3`` else hard abort.
    The check reads only the file heads (limit pushdown), not the data.
    """
    if require_version_header:
        for fname, line in first_lines(spark, paths):
            if not line.startswith("##gff-version 3"):
                raise SourceFormatError(
                    f"{fname}: missing '##gff-version 3' header (V1 abort, "
                    "reference src/import_features.py:72-76)"
                )
    return (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("emptyValue", "")
        .schema(schemas.GFF3_RAW)
        .csv(paths)
    )


def read_headered_tsv(
    spark: SparkSession,
    paths: list[str],
    expected_columns: list[str],
    header_prefix: str = "##",
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """S4 — headered TSV with a PER-FILE header contract (homolog files).

    Reference: src/import_homologs.py:88-111 — strip the ``##`` prefix,
    lowercase header cells, FAIL on missing expected columns (V5), WARN on
    extras (V4, columns kept). The reference's DictReader re-reads the
    header per file; the relational equivalent validates EVERY file's first
    physical line (per-file limit(1) head probes — see ``first_lines``),
    requires one shared column order across the glob, then lets the CSV
    reader's ``header`` option drop each file's own first line — by
    POSITION, never by cell-value match, so a data row that happens to
    repeat the header cell survives.

    Returns ``(body, warnings)``; warnings may carry an ``extra_columns``
    DataFrame (file, column) for the caller's LoadResult channel (V4).
    """
    canonical: list[str] | None = None
    extra_rows: list[tuple[str, str]] = []
    for fname, raw_header in first_lines(spark, paths):
        if raw_header.startswith(header_prefix):
            raw_header = raw_header[len(header_prefix):]
        cols = [transforms_norm(c) for c in raw_header.split("\t")]
        missing = [c for c in expected_columns if c not in cols]
        if missing:
            raise SourceFormatError(
                f"{fname}: missing required columns {missing} (V5 fail, "
                "reference src/import_homologs.py:97-103)"
            )
        if canonical is None:
            canonical = cols
        elif cols != canonical:
            raise SourceFormatError(
                f"{fname}: header {cols} differs from first file's "
                f"{canonical}; the positional multi-file read requires one "
                "shared column order"
            )
        extra_rows += [
            (fname, c) for c in cols if c not in expected_columns
        ]
    warnings: dict[str, DataFrame] = {}
    if extra_rows:
        warnings["extra_columns"] = spark.createDataFrame(
            extra_rows, "file string, column string"
        )
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in canonical]
    )
    body = (
        spark.read.option("sep", "\t")
        # header=true drops each file's FIRST physical line, positionally;
        # names/types come from the explicit schema (enforceSchema default)
        .option("header", "true")
        .schema(schema)
        .csv(paths)
    )
    return body, warnings


def transforms_norm(cell: str) -> str:
    """Driver-side mirror of P12 strip().lower() for header cells."""
    return cell.strip().lower()


def read_headerless_tsv(spark: SparkSession, paths: list[str], schema) -> DataFrame:
    """S5 — positional headerless TSV (synteny blocks, 10 columns).

    Reference: src/import_synteny_blocks.py:90-94. Blank lines (F6) are
    dropped by the CSV reader's all-null filter below.
    """
    df = spark.read.option("sep", "\t").schema(schema).csv(paths)
    non_null = None
    for name in df.columns:
        cond = F.col(name).isNotNull()
        non_null = cond if non_null is None else (non_null | cond)
    return df.filter(non_null)


def read_vcf(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S6 — VCF: 8 fixed columns + INFO → MapType + ALT → ArrayType.

    Reference: src/import_variants.py:78-93 via PyVCF. Header/meta lines
    start with ``#`` → comment-skipped at scan. ``str_to_map`` on INFO and
    ``split`` on ALT keep everything in codegen.
    """
    raw = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .schema(schemas.VCF_RAW)
        .csv(paths)
    )
    return raw.select(
        "chrom",
        "pos",
        "id",
        "ref",
        F.when(F.col("alt") == ".", F.lit(None))
        .otherwise(F.split("alt", ","))
        .alias("alt_alleles"),
        transforms.dot_to_null("qual").cast("double").alias("qual"),
        transforms.dot_to_null("filter").alias("filter"),
        transforms.attributes_to_map("info").alias("info"),
    )


def read_gaf(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S8 — GAF annotation TSV; ``!`` comment lines skipped at scan.

    Reference: src/import_ontology.py:286-300.
    """
    return (
        spark.read.option("sep", "\t")
        .option("comment", "!")
        .schema(schemas.GAF_RAW)
        .csv(paths)
        .select(
            F.trim(F.col(schemas.GAF_GENE_ID_COL)).alias("gene_id"),
            F.trim(F.col(schemas.GAF_TERM_COL)).alias("ontology_id"),
            transforms.first_taxon(F.col(schemas.GAF_TAXON_COL)).alias("taxonid"),
        )
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    required: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Corpus-scale JSON-lines source with an explicit bad-record channel —
    the V3 skip-row-and-warn contract (reference
    src/import_genes_exons.py's missing-qualifier rule) applied to the
    format web-corpus pipelines actually ingest.

    Schema is DECLARED, never inferred (the engine's no-inference rule,
    SURVEY §1.4 — inference costs an extra full scan and locks in whatever
    the first sampled files happened to contain). PERMISSIVE parse routes
    every malformed line into ``_corrupt_record`` instead of killing the
    scan (one bad line in a billion must not fail the job); rows missing
    any ``required`` field join the bad channel too (a parseable line is
    not necessarily a usable document).

    Returns ``(good, bad)``:
      good — declared columns, required fields non-null;
      bad  — (reason, raw) rows for the warn/quarantine sink.

    Scale notes: uncompressed/bzip2 JSONL splits within files; gzip does
    not (one task per .gz file — shard uploads accordingly). Spark refuses
    a query whose only referenced column is the internal corrupt column,
    so the parsed scan is materialized once (the fix Spark's own error
    text prescribes): both channels are EAGERLY computed from one cached
    parse and the cache entry is released before returning — callers of a
    long-lived application never accumulate pinned corpus-sized cache
    entries. At 100 TB the production form stages the parse to parquet
    once and reads good/bad from the staged copy; either way the JSON
    text is parsed exactly once.
    """
    corrupt = "_corrupt_record"
    full_schema = f"{schema}, {corrupt} STRING"
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
        .cache()
    )
    try:
        parsed_ok = F.col(corrupt).isNull()
        good = raw.filter(parsed_ok).drop(corrupt)
        bad = raw.filter(~parsed_ok).select(
            F.lit("malformed_json").alias("reason"), F.col(corrupt).alias("raw")
        )
        for col in required or []:
            missing = good.filter(F.col(col).isNull())
            bad = bad.unionByName(
                missing.select(
                    F.lit(f"missing_required:{col}").alias("reason"),
                    F.to_json(F.struct(*[c for c in good.columns])).alias("raw"),
                )
            )
            good = good.filter(F.col(col).isNotNull())
        good = good.localCheckpoint(eager=True)
        bad = bad.localCheckpoint(eager=True)
    finally:
        raw.unpersist()
    return good, bad
