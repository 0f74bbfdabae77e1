"""End-to-end pipeline test (SURVEY §5.5): build all nine tables from the
domain fixtures and check counts + sampled semantics."""

from __future__ import annotations

import pytest

from syntenybrowserv2_etl_spark.plans import pipeline


def test_build_database(spark, fixtures_dir, tmp_path):
    inputs = pipeline.PipelineInputs(
        species=[
            pipeline.SpeciesInputs(
                taxon_id=10090,
                genes_gff3=f"{fixtures_dir}/genes.gff3",
                cytoband_gff3=f"{fixtures_dir}/cytobands.gff3",
                feature_gff3=f"{fixtures_dir}/features.gff3",
            )
        ],
        synteny_tsvs=[f"{fixtures_dir}/synteny.tsv"],
        homolog_tsvs=[f"{fixtures_dir}/homologs.tsv"],
        vcf_paths=[f"{fixtures_dir}/gwas.vcf"],
        obo_paths=[f"{fixtures_dir}/onto.obo"],
        gaf_loads=[(f"{fixtures_dir}/annotations.gaf", 10090)],
    )
    out = str(tmp_path / "db")
    counts = pipeline.build_database(spark, inputs, out)
    assert counts == {
        "gene": 3,
        "exon": 4,
        "syntenic_block": 6,
        "cytogenetic_band": 3,
        "feature": 3,
        "snp_variant": 4,
        "homolog": 6,
        "on_terms": 6,
        "on_pairs": 6,
        "gene_ontology_map": 2,
    }
    # every partitioned table is laid out in the catalogue's partition
    # column, one <column>=<taxon> directory per taxon
    import os

    for name, plan in pipeline.TABLES.items():
        if plan.partition_by is None:
            continue
        parts = [d for d in os.listdir(f"{out}/{name}") if not d.startswith(("_", "."))]
        assert parts, name
        for d in parts:
            col, _, taxon = d.partition("=")
            assert col == plan.partition_by and taxon.isdigit(), (name, d)
    # written layout is readable and partition-pruned by taxon
    gene = spark.read.parquet(f"{out}/gene")
    assert gene.filter("gene_taxonid = 10090").count() == 3
    on_pairs = spark.read.parquet(f"{out}/on_pairs")
    assert {(r["parent"], r["child"]) for r in on_pairs.collect()} == {
        ("b", "a"), ("q", "a"), ("c", "a"), ("c", "b"), ("c", "d"), ("q", "x"),
    }


def test_cli_loader_roundtrip(spark, fixtures_dir, tmp_path):
    """The create_database.sh argv surface: overwrite (-c) then append."""
    from syntenybrowserv2_etl_spark.plans import pipeline

    out = str(tmp_path / "db")
    w1 = pipeline.main(
        ["genes-exons", out, f"{fixtures_dir}/genes.gff3", "10090", "-c"]
    )
    assert w1 == {"gene": 3, "exon": 4}
    # second species appends (S10), first stays
    pipeline.main(["genes-exons", out, f"{fixtures_dir}/genes.gff3", "10116"])
    gene = spark.read.parquet(f"{out}/gene")
    assert gene.count() == 6
    assert gene.filter("gene_taxonid = 10116").count() == 3
    w3 = pipeline.main(["homologs", out, f"{fixtures_dir}/homologs.tsv", "-c"])
    assert w3 == {"homolog": 6}
    # table-level last-write-wins: 8 symmetric rows, 2 sharing a PK
    w4 = pipeline.main(["synteny-blocks", out, f"{fixtures_dir}/synteny.tsv", "-c"])
    assert w4 == {"syntenic_block": 6}


def test_build_database_single_computation(spark, fixtures_dir, tmp_path, monkeypatch):
    """Round-2 verdict #3: the pipeline used to write each table and then call
    ``df.count()`` on the UNWRITTEN plan, recomputing every loader DAG a
    second time (a 2x build cost at 100 TB). Row counts now come from an
    ``Observation`` inside the write job itself. Pin it: forbid ``count()``
    entirely during the build and check the reported numbers still match.
    The patch goes on the class the session really returns: PySpark's
    classic DataFrame overrides ``count``, so patching the base class would
    never fire. The ontology input covers the closure's collect path too.
    """

    def _no_count(self):
        raise AssertionError("df.count() called during build — plan recomputed")

    monkeypatch.setattr(type(spark.range(1)), "count", _no_count)
    inputs = pipeline.PipelineInputs(
        species=[
            pipeline.SpeciesInputs(
                taxon_id=10090,
                genes_gff3=f"{fixtures_dir}/genes.gff3",
                cytoband_gff3=f"{fixtures_dir}/cytobands.gff3",
            )
        ],
        synteny_tsvs=[f"{fixtures_dir}/synteny.tsv"],
        homolog_tsvs=[],
        vcf_paths=[],
        obo_paths=[f"{fixtures_dir}/onto.obo"],
        gaf_loads=[],
    )
    counts = pipeline.build_database(spark, inputs, str(tmp_path / "db"))
    assert counts == {
        "gene": 3,
        "exon": 4,
        "syntenic_block": 6,
        "cytogenetic_band": 3,
        "on_terms": 6,
        "on_pairs": 6,
        "gene_ontology_map": 0,
    }


def _fixture_inputs(fixtures_dir, genes_gff3=None):
    return pipeline.PipelineInputs(
        species=[
            pipeline.SpeciesInputs(
                taxon_id=10090,
                genes_gff3=genes_gff3 or f"{fixtures_dir}/genes.gff3",
                cytoband_gff3=f"{fixtures_dir}/cytobands.gff3",
                feature_gff3=f"{fixtures_dir}/features.gff3",
            )
        ],
        synteny_tsvs=[f"{fixtures_dir}/synteny.tsv"],
        homolog_tsvs=[f"{fixtures_dir}/homologs.tsv"],
        vcf_paths=[f"{fixtures_dir}/gwas.vcf"],
        obo_paths=[f"{fixtures_dir}/onto.obo"],
        gaf_loads=[(f"{fixtures_dir}/annotations.gaf", 10090)],
    )


def _snapshot(root):
    """{relative path: file bytes} of every file under ``root``."""
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            full = os.path.join(d, n)
            with open(full, "rb") as f:
                out[os.path.relpath(full, root)] = f.read()
    return out


def _dup_gene_gff3(fixtures_dir, tmp_path):
    """genes.gff3 plus a second top-level feature keyed MGI:101 on chr1."""
    text = open(f"{fixtures_dir}/genes.gff3").read()
    dup = "chr1\tENSEMBL\tgene\t8000\t9000\t.\t+\t.\tID=gene:G9;Dbxref=MGI:101\n"
    path = tmp_path / "genes_dup.gff3"
    path.write_text(text + dup)
    return str(path)


def test_failed_build_leaves_previous_database(spark, fixtures_dir, tmp_path):
    """A duplicate gene key (X6) aborts the build naming the key; the
    database already at ``out_dir`` stays byte-identical and no staging or
    set-aside directory is left behind."""
    import os

    from syntenybrowserv2_etl_spark.sources import io

    out = str(tmp_path / "db")
    pipeline.build_database(spark, _fixture_inputs(fixtures_dir), out)
    before = _snapshot(out)
    bad = _fixture_inputs(fixtures_dir, _dup_gene_gff3(fixtures_dir, tmp_path))
    with pytest.raises(io.LoadAborted, match="'gene'.*'MGI:101'"):
        pipeline.build_database(spark, bad, out)
    assert _snapshot(out) == before
    assert sorted(os.listdir(tmp_path)) == ["db", "genes_dup.gff3"]


def test_cli_failed_append_leaves_table_unchanged(spark, fixtures_dir, tmp_path):
    """A CLI append (S10) whose staged rows fail the X6 check moves nothing
    into the live table."""
    import os

    from syntenybrowserv2_etl_spark.sources import io

    out = str(tmp_path / "db")
    pipeline.main(["genes-exons", out, f"{fixtures_dir}/genes.gff3", "10090", "-c"])
    before = _snapshot(out)
    bad = _dup_gene_gff3(fixtures_dir, tmp_path)
    with pytest.raises(io.LoadAborted, match="MGI:101"):
        pipeline.main(["genes-exons", out, bad, "10116"])
    assert _snapshot(out) == before
    assert sorted(os.listdir(tmp_path)) == ["db", "genes_dup.gff3"]
    # a good append lands its files in the live partition directories
    pipeline.main(["genes-exons", out, f"{fixtures_dir}/genes.gff3", "10116"])
    assert sorted(d for d in os.listdir(f"{out}/gene") if "=" in d) == [
        "gene_taxonid=10090", "gene_taxonid=10116"
    ]
    assert spark.read.parquet(f"{out}/exon").count() == 8


def test_build_report(spark, fixtures_dir, tmp_path):
    """``_build.json``: rows per table equal the returned counts; files and
    bytes equal a walk of each table's data files; input_bytes is the
    fixture sources' summed size and bytes_per_input_byte the data bytes
    over it; every family has a wall time, and EVERY Spark job of the
    build carries the description ``build:<family>`` (head probes run on
    pool threads included)."""
    import json
    import os

    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def jobs():  # the status store's jobs, newest first (a Scala Seq)
        sc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
        seq = store.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    first_job = max([j.jobId() for j in jobs()] or [-1]) + 1
    out = str(tmp_path / "db")
    inputs = _fixture_inputs(fixtures_dir)
    counts = pipeline.build_database(spark, inputs, out)
    with open(f"{out}/_build.json") as f:
        report = json.load(f)
    assert {t: r["rows"] for t, r in report["tables"].items()} == counts
    data_bytes = 0
    for table, r in report["tables"].items():
        sizes = [
            os.path.getsize(os.path.join(d, n))
            for d, _, names in os.walk(f"{out}/{table}")
            for n in names
            if not n.startswith(("_", "."))
        ]
        assert (r["files"], r["bytes"]) == (len(sizes), sum(sizes)), table
        data_bytes += sum(sizes)
    sp = inputs.species[0]
    sources = [sp.genes_gff3, sp.cytoband_gff3, sp.feature_gff3, *inputs.synteny_tsvs,
               *inputs.homolog_tsvs, *inputs.vcf_paths, *inputs.obo_paths,
               inputs.gaf_loads[0][0]]
    input_bytes = sum(os.path.getsize(p) for p in sources)
    assert report["input_bytes"] == input_bytes
    assert report["bytes_per_input_byte"] == data_bytes / input_bytes
    assert set(report["families"]) == set(pipeline.FAMILIES)
    assert all(f["wall_s"] > 0 for f in report["families"].values())
    tags = {
        job.jobId(): job.description().get() if job.description().isDefined() else None
        for job in jobs()
        if job.jobId() >= first_job
    }
    families = {f"build:{fam}" for fam in pipeline.FAMILIES}
    assert {j: d for j, d in tags.items() if d not in families} == {}
    assert set(tags.values()) == families


def _parquet_files(root):
    import os

    return [os.path.join(d, n) for d, _, names in os.walk(root) for n in names
            if n.endswith(".parquet")]


def _assert_zstd(files):
    """Every column chunk of every file is zstd-compressed."""
    import pyarrow.parquet as pq

    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                assert md.row_group(g).column(c).compression == "ZSTD", f


def test_database_layout(spark, fixtures_dir, tmp_path):
    """The built database is zstd-compressed throughout; a sorted long
    column is delta-encoded (Parquet v2 writer); on_terms and on_pairs are
    one file each; DuckDB reads all ten tables, with their hive partition
    columns, to the same rows as Spark."""
    import duckdb
    import pyarrow.parquet as pq

    out = str(tmp_path / "db")
    pipeline.build_database(spark, _fixture_inputs(fixtures_dir), out)
    _assert_zstd(_parquet_files(out))
    for f in _parquet_files(f"{out}/gene"):
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("gene_start_pos")
        encodings = md.row_group(0).column(col).encodings
        assert any(e.startswith("DELTA_") for e in encodings), (f, encodings)
    assert len(_parquet_files(f"{out}/on_terms")) == 1
    assert len(_parquet_files(f"{out}/on_pairs")) == 1
    con = duckdb.connect()
    for name in pipeline.TABLES:
        df = spark.read.parquet(f"{out}/{name}")
        cols = ", ".join(f'"{c}"' for c in df.columns)
        got = con.execute(
            f"SELECT {cols} FROM read_parquet('{out}/{name}/**/*.parquet', "
            "hive_partitioning = true)"
        ).fetchall()
        want = [tuple(r) for r in df.collect()]
        assert want and sorted(got, key=repr) == sorted(want, key=repr), name


def test_cli_append_reads_back_whole(spark, fixtures_dir, tmp_path):
    """A CLI append (S10) onto the live table adds zstd files beside the
    live ones, and Spark and DuckDB both read every row of both loads."""
    import duckdb

    out = str(tmp_path / "db")
    gff = f"{fixtures_dir}/genes.gff3"
    pipeline.main(["genes-exons", out, gff, "10090", "-c"])
    pipeline.main(["genes-exons", out, gff, "10116"])
    _assert_zstd(_parquet_files(f"{out}/gene"))
    by_taxon = {10090: 3, 10116: 3}
    gene = spark.read.parquet(f"{out}/gene")
    assert {r[0]: r[1] for r in gene.groupBy("gene_taxonid").count().collect()} == by_taxon
    got = duckdb.connect().execute(
        f"SELECT gene_taxonid, count(*) FROM read_parquet('{out}/gene/**/*.parquet', "
        "hive_partitioning = true) GROUP BY 1"
    ).fetchall()
    assert dict(got) == by_taxon


def test_build_bench_small_deterministic(spark, monkeypatch, capsys):
    """The build-benchmark generator + 9-table build is deterministic end
    to end: seeded input synthesis at 1/10 scale (~170k input lines)
    produces byte-stable inputs and exactly these table counts. Guards the
    whole loader surface (gzip, version gate, headered/headerless TSV,
    VCF explode, OBO closure, GAF taxon filter, upsert channels) at a
    scale the unit fixtures don't reach."""
    import json
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import build_bench

    monkeypatch.setattr(sys, "argv", ["build_bench.py", "--small"])
    build_bench.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tables"] == {
        "cytogenetic_band": 2646,
        "exon": 28901,
        "feature": 5000,
        "gene": 7200,
        "gene_ontology_map": 40553,
        "homolog": 10000,
        "on_pairs": 63498,
        "on_terms": 6622,
        "snp_variant": 50000,
        "syntenic_block": 6000,
    }
    assert out["input_lines"] == 170248


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: a 40-file table rewrites to the measured
    target count with identical contents; with sort_within_by the files
    carry disjoint key ranges (clustering pass)."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.sources.io import compact_table

    path = str(tmp_path / "frag")
    spark.range(20_000).selectExpr("id", "id % 97 as k").repartition(
        40
    ).write.parquet(path)
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n_before, n_after = compact_table(spark, path, target_mb=1, sort_within_by=["id"])
    assert n_before == 40 and 1 <= n_after < 40
    after = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert after == before
    # clustering: per-file id ranges are disjoint
    import glob as _glob

    ranges = []
    for f in _glob.glob(path + "/*.parquet"):
        r = spark.read.parquet(f).agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).collect()[0]
        ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    assert not _glob.glob(path + "__*")  # staging/old cleaned up


def test_compact_table_keeps_database_layout(spark, tmp_path):
    """Compacting a taxon-partitioned ``write_table`` output keeps its
    ``gene_taxonid=`` directories and its zstd files: the rewrite goes
    through ``write_table`` with the partition columns read off the
    table's directories."""
    import os

    from syntenybrowserv2_etl_spark.sources import io

    path = str(tmp_path / "gene")
    df = spark.range(20_000).selectExpr(
        "concat('MGI:', id) as gene_id",
        "id * 7 as gene_start_pos",
        "if(id % 2 = 0, 10090, 9606) as gene_taxonid",
    )
    io.write_table(df.repartition(12), path, partition_by=["gene_taxonid"])
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n_before, n_after = io.compact_table(spark, path, target_mb=1)
    assert n_before == 24 and n_after < n_before
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before
    assert sorted(d for d in os.listdir(path) if d[0] not in "_.") == [
        "gene_taxonid=10090",
        "gene_taxonid=9606",
    ]
    files = _parquet_files(path)
    assert all(os.path.basename(os.path.dirname(f)).startswith("gene_taxonid=")
               for f in files)
    _assert_zstd(files)
