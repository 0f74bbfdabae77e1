"""Row-survival and transform contracts for the seven loaders (SURVEY §5.1-2).

Fixtures encode the reference's edge cases: missing Dbxref (V3 skip+warn),
blacklisted types (F2), '.' placeholders (P8), duplicate PKs (X5/X6/X7),
symmetric duplication (X3), chr-prefix variants (P3), header contracts (V5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syntenybrowserv2_etl_spark.plans import loaders
from syntenybrowserv2_etl_spark.sources import io, text_sources


def test_genes_exons(spark, fixtures_dir):
    genes_res, exons_res = loaders.load_genes_exons(
        spark, [(f"{fixtures_dir}/genes.gff3", 10090)]
    )
    genes = {r["gene_id"]: r.asDict() for r in genes_res.df.collect()}
    # G4 has no Dbxref → skipped (V3); G1-G3 survive.
    # gene_id = Dbxref[0] — multi-valued "MGI:101,ENSMUSG001" keeps first.
    assert set(genes) == {"MGI:101", "MGI:102", "MGI:103"}
    assert genes_res.warnings["missing_dbxref"].count() == 1
    g1 = genes["MGI:101"]
    assert g1["gene_chr"] == "1"  # chr prefix stripped (P3)
    assert g1["gene_taxonid"] == 10090  # literal stamp (P2)
    assert g1["gene_start_pos"] == 999  # BCBio 0-based start (Q6)
    assert g1["gene_end_pos"] == 5000
    assert g1["gene_symbol"] == "Alpha"  # Symbol[0] (ref :118)
    assert g1["gene_name"] == "alpha gene"  # Name[0] (ref :104)
    assert g1["gene_type"] == "gene"  # feature.type (ref :118)
    assert g1["gene_strand"] == 1  # BCBio int strand
    assert genes["MGI:102"]["gene_strand"] == -1
    # G3: no type filter — pseudogene loads with gene_type = its type (Q10);
    # missing Symbol → NULL (Q11)
    assert genes["MGI:103"]["gene_type"] == "pseudogene"
    assert genes["MGI:103"]["gene_symbol"] is None

    exons = {r["exon_id"]: r.asDict() for r in exons_res.df.collect()}
    # Direct children of surviving genes only: tx:T1 (an mRNA child of G1)
    # IS emitted (ref iterates all sub_features), the level-2 exon:T1.1 is
    # NOT, and exon:G4.1 drops with its skipped parent.
    assert set(exons) == {"exon:G1.1", "exon:G1.2", "exon:G2.1", "tx:T1"}
    # X1 FK: parent_gene carries the gene's Dbxref id (ref :128)
    assert exons["exon:G1.1"]["parent_gene"] == "MGI:101"
    assert exons["exon:G1.1"]["exon_start_pos"] == 999  # 0-based (Q6)
    assert exons["exon:G2.1"]["exon_chr"] == "2"


def test_genes_exons_fk_joins(spark, fixtures_dir):
    """The §2.7 implied join exon.parent_gene = gene.gene_id must be
    non-empty on the engine's own tables (the round-1 X1 defect)."""
    genes_res, exons_res = loaders.load_genes_exons(
        spark, [(f"{fixtures_dir}/genes.gff3", 10090)]
    )
    joined = exons_res.df.join(
        genes_res.df,
        exons_res.df["parent_gene"] == genes_res.df["gene_id"],
    )
    assert joined.count() == 4  # every exon row resolves to its gene


def test_synteny_blocks(spark, fixtures_dir):
    res = loaders.load_synteny_blocks(spark, [(f"{fixtures_dir}/synteny.tsv",)])
    rows = res.df.collect()
    # 4 input rows → ×2 symmetric (X3) = 8. Rows 1 and 4 share a PK in
    # both directions; the last-write-wins dedup that drops them to 6 is
    # the table's key policy (test_build_database, test_cli_loader_roundtrip)
    assert len(rows) == 8
    fwd = [r for r in rows if r["ref_taxonid"] == 9606]
    rev = [r for r in rows if r["ref_taxonid"] == 10090]
    assert len(fwd) == 4 and len(rev) == 4  # symmetric
    b2 = next(r for r in fwd if r["symbol"] == "SynBlock002")
    assert b2["same_orientation"] is False  # P5 '-'
    # chr prefix NOT stripped in synteny blocks — parity with the reference,
    # which inserts raw row values (src/import_synteny_blocks.py:100-115;
    # the P3 strip applies to genes/cytobands/features/variants/homologs only)
    assert b2["ref_chr"] == "chr1" and b2["comp_chr"] == "chr4"


def test_synteny_bad_prefix_aborts(spark, fixtures_dir):
    with pytest.raises(io.LoadAborted):
        loaders.load_synteny_blocks(spark, [(f"{fixtures_dir}/synteny_bad.tsv",)])


def test_synteny_bad_prefix_names_file_and_block(spark, fixtures_dir):
    """The V2 abort says which file and which block broke the rule."""
    with pytest.raises(io.LoadAborted, match=r"synteny_bad\.tsv: .*'BADPREFIX'"):
        loaders.load_synteny_blocks(
            spark,
            [(f"{fixtures_dir}/synteny.tsv",), (f"{fixtures_dir}/synteny_bad.tsv",)],
        )


def _gff3(path, rows):
    path.write_text(
        "##gff-version 3\n" + "".join("\t".join(r) + "\n" for r in rows)
    )
    return str(path)


def test_genes_exons_gff_ids_collide_across_files(spark, tmp_path):
    """GFF ``ID``s are unique only within a file: two species' files that
    both use gene:G1 / exon:E1 keep each exon on its own file's gene."""
    files = []
    for taxon, dbxref in ((10090, "MGI:1"), (10116, "RGD:1")):
        files.append((_gff3(tmp_path / f"genes_{taxon}.gff3", [
            ("chr1", "src", "gene", "100", "900", ".", "+", ".",
             f"ID=gene:G1;Symbol=S{taxon};Dbxref={dbxref}"),
            ("chr1", "src", "exon", "100", "200", ".", "+", ".",
             "ID=exon:E1;Parent=gene:G1"),
        ]), taxon))
    gene, exon = loaders.load_genes_exons(spark, files)
    assert {(r["gene_id"], r["gene_taxonid"]) for r in gene.df.collect()} == {
        ("MGI:1", 10090), ("RGD:1", 10116)
    }
    assert sorted(
        (r["exon_id"], r["parent_gene"], r["taxonid"]) for r in exon.df.collect()
    ) == [("exon:E1", "MGI:1", 10090), ("exon:E1", "RGD:1", 10116)]


def test_three_species_family_equals_per_file_union(spark, fixtures_dir, tmp_path):
    """One scan over three species' files gives exactly the rows of the
    three single-file loads, with each file's own taxon."""
    import shutil

    def loads_of(name):
        out = []
        for taxon in (10090, 10116, 9606):
            dst = tmp_path / f"{taxon}_{name}"
            shutil.copy(f"{fixtures_dir}/{name}", dst)
            out.append((str(dst), taxon))
        return out

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    genes, cyto, feats = (loads_of(n) for n in ("genes.gff3", "cytobands.gff3", "features.gff3"))
    gene, exon = loaders.load_genes_exons(spark, genes)
    singles = [loaders.load_genes_exons(spark, [ld]) for ld in genes]
    assert rows(gene.df) == sorted(r for g, _ in singles for r in rows(g.df))
    assert rows(exon.df) == sorted(r for _, e in singles for r in rows(e.df))
    assert len(rows(exon.df)) == 12
    for load, family in ((loaders.load_cytobands, cyto), (loaders.load_features, feats)):
        together = load(spark, family).df
        assert rows(together) == sorted(r for ld in family for r in rows(load(spark, [ld]).df))
        assert {r["taxon_id"] for r in together.collect()} == {10090, 10116, 9606}


def test_file_param_refuses_a_file_loaded_twice(spark, fixtures_dir):
    """One scan reads each file once, so one file cannot carry two taxa."""
    path = f"{fixtures_dir}/cytobands.gff3"
    with pytest.raises(text_sources.SourceFormatError, match="loaded twice"):
        loaders.load_cytobands(spark, [(path, 10090), (path, 10116)])


def test_cytobands(spark, fixtures_dir):
    res = loaders.load_cytobands(spark, [(f"{fixtures_dir}/cytobands.gff3", 9606)])
    rows = {r["id"]: r.asDict() for r in res.df.collect()}
    assert set(rows) == {"p36.33", "p36.32", "p25.3"}
    assert rows["p36.33"]["start"] == 1  # 1-based preserved (P9/Q6)
    assert rows["p36.33"]["chr"] == "1"
    assert rows["p25.3"]["location"] == "p25.3"
    assert rows["p36.32"]["color"] == "gpos25"


def test_features(spark, fixtures_dir):
    res = loaders.load_features(spark, [(f"{fixtures_dir}/features.gff3", 10090)])
    rows = sorted([r.asDict() for r in res.df.collect()], key=lambda r: r["id"])
    # CDS + match blacklisted (F2); QTL:3 duplicate keeps first (X7)
    assert [r["id"] for r in rows] == ["QTL:1", "QTL:2", "QTL:3"]
    q2 = rows[1]
    assert q2["seq_id"] == "2"  # case-insensitive chr strip (P3)
    assert q2["score"] is None and q2["strand"] is None  # '.' → NULL (P8)
    q3 = rows[2]
    assert q3["name"] == "Tail3"  # first arrival wins (X7)
    assert q3["status"] is None  # '.' attribute value → stored as '.'? No: P8 on columns only
    assert rows[0]["score"] == 1.5


def test_features_bad_version_aborts(spark, fixtures_dir):
    with pytest.raises(text_sources.SourceFormatError):
        loaders.load_features(spark, [(f"{fixtures_dir}/features_badversion.gff3", 10090)])


def test_variants(spark, fixtures_dir):
    res = loaders.load_variants(spark, [(f"{fixtures_dir}/gwas.vcf", 9606)])
    rows = res.df.collect()
    # rs1 explodes to 2 genes (X2); rs2 1; rs3 has no CG → explode_outer keeps 1
    assert len(rows) == 4
    rs1 = [r for r in rows if r["id"] == "rs1"]
    assert {r["gene"] for r in rs1} == {"GENE1", "GENE2"}
    assert rs1[0]["chr"] == "1"
    assert rs1[0]["frequency"] == pytest.approx(0.12)
    rs2 = next(r for r in rows if r["id"] == "rs2")
    assert rs2["alt_allele"] == "T/G"  # P10 join
    assert rs2["quality"] is None  # '.' QUAL → NULL
    rs3 = next(r for r in rows if r["id"] == "rs3")
    assert rs3["alt_allele"] is None  # empty ALT guard
    assert rs3["gene"] is None
    assert rs3["trait_id"] == "EFO:0003"  # P11 first element


def test_homologs(spark, fixtures_dir):
    res = loaders.load_homologs(spark, [(f"{fixtures_dir}/homologs.tsv",)])
    rows = res.df.collect()
    # 4 rows → ×2 = 8; the H1/M1 duplicate pair stays until the table's
    # last-write-wins key policy (X5) drops it to 6 at write time
    assert len(rows) == 8
    assert res.warnings["non_orthologue_type"].count() == 1  # V4 warn, row kept
    h1 = next(r for r in rows if r["ref_gene_id"] == "H1")
    assert h1["ref_seq_id"] == "17"  # chr strip
    assert h1["comp_seq_id"] == "11"  # CHR strip (case-insensitive)
    # symmetric: M1 appears as ref too
    assert any(r["ref_gene_id"] == "M1" and r["comp_gene_id"] == "H1" for r in rows)
    # paralogue row kept
    assert any(r["ref_gene_id"] == "H3" for r in rows)


def test_homologs_missing_column_fails(spark, fixtures_dir):
    with pytest.raises(text_sources.SourceFormatError):
        loaders.load_homologs(spark, [(f"{fixtures_dir}/homologs_missingcol.tsv",)])


def test_headered_tsv_per_file_contract(spark, tmp_path):
    """Header is stripped by POSITION per file; a data row repeating the
    header cell survives; differing column order across files fails (the
    round-1 cell-value-match dropped such rows silently)."""
    d = tmp_path / "multi"
    d.mkdir()
    (d / "f1.tsv").write_text("##A\tB\nA\t1\nx\t2\n")
    (d / "f2.tsv").write_text("##A\tB\ny\t3\n")
    body, warnings = text_sources.read_headered_tsv(spark, [str(d)], ["a", "b"])
    rows = {(r["a"], r["b"]) for r in body.collect()}
    # the ("A", "1") data row — first cell equals the header name — is KEPT
    assert rows == {("A", "1"), ("x", "2"), ("y", "3")}
    assert warnings == {}

    (d / "f3.tsv").write_text("##B\tA\nz\t4\n")  # same set, different order
    with pytest.raises(text_sources.SourceFormatError):
        text_sources.read_headered_tsv(spark, [str(d)], ["a", "b"])


def test_first_lines_many_file_glob(spark, tmp_path):
    """Every head of a 44-file directory is probed with per-file
    semantics: gzip heads, empty files → \"\", CRLF stripped,
    no-trailing-newline single lines."""
    import gzip

    d = tmp_path / "many"
    d.mkdir()
    n = 40
    expect = {}
    for i in range(n):
        f = d / f"part_{i:03d}.tsv"
        f.write_text(f"##header_{i}\tcol\nrow\t{i}\n")
        expect[str(f)] = f"##header_{i}\tcol"
    gz = d / "part_gz.tsv.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("##gz_header\tcol\nrow\t9\n")
    expect[str(gz)] = "##gz_header\tcol"
    (d / "part_empty.tsv").write_text("")
    expect[str(d / "part_empty.tsv")] = ""
    (d / "part_crlf.tsv").write_text("##crlf\tcol\r\nrow\t1\r\n")
    expect[str(d / "part_crlf.tsv")] = "##crlf\tcol"
    (d / "part_nonl.tsv").write_text("##only_line\tcol")
    expect[str(d / "part_nonl.tsv")] = "##only_line\tcol"

    got = text_sources.first_lines(spark, [str(d)])
    assert len(got) == len(expect)
    for fname, line in got:
        key = fname[len("file:"):] if fname.startswith("file:") else fname
        assert expect[key] == line, fname


def test_headered_tsv_extras_warning_channel(spark, fixtures_dir):
    """V4 extras flow through LoadResult.warnings, not a bare print."""
    res = loaders.load_homologs(spark, [(f"{fixtures_dir}/homologs_extracol.tsv",)])
    extras = {
        (r["column"],) for r in res.warnings["extra_columns"].collect()
    }
    assert extras == {("note",)}
    assert res.df.count() == 2  # the rows themselves load (warn-and-keep)


def test_ontology(spark, fixtures_dir):
    terms, pairs, gmap = loaders.build_ontology(
        spark,
        [f"{fixtures_dir}/onto.obo"],
        [(f"{fixtures_dir}/annotations.gaf", 10090)],
    )
    term_rows = {r["id"]: r.asDict() for r in terms.df.collect()}
    # obsolete old1 dropped (F4); Typedef ignored
    assert set(term_rows) == {"a", "b", "c", "d", "q", "x"}
    # reference docstring diamond (src/import_ontology.py:71-78):
    # closure of c = {a, b, d}, count(c) = 3
    assert term_rows["c"]["count"] == 3
    assert term_rows["q"]["count"] == 2  # {a, x}
    assert term_rows["b"]["count"] == 1  # {a}
    assert term_rows["a"]["count"] == 0

    pair_set = {(r["parent"], r["child"]) for r in pairs.df.collect()}
    assert pair_set == {
        ("b", "a"),
        ("q", "a"),
        ("c", "a"),
        ("c", "b"),
        ("c", "d"),
        ("q", "x"),
    }
    assert all(r["relationship"] == "is_a" for r in pairs.df.collect())

    gmap_rows = {(r["gene_id"], r["ontology_id"]): r["taxonid"] for r in gmap.df.collect()}
    # taxon filter: only taxon:10090 rows survive (F3); G1→q is taxon:9606|1280 → first
    # taxon 9606 ≠ 10090 → dropped; G3 9606 dropped
    assert set(gmap_rows) == {("G1", "c"), ("G2", "b")}


def test_ontology_duplicate_term_across_files_aborts(spark, fixtures_dir, tmp_path):
    """X6 (reference src/import_ontology.py:212-224): a term id defined in
    two OBO files aborts the build, naming the id."""
    other = tmp_path / "other.obo"
    other.write_text("[Term]\nid: zz\nname: fresh\n\n[Term]\nid: b\nname: again\n")
    with pytest.raises(io.LoadAborted, match="'b'"):
        loaders.build_ontology(
            spark, [f"{fixtures_dir}/onto.obo", str(other)], []
        )


def test_jsonl_source_routes_bad_records(spark, tmp_path):
    """read_jsonl: malformed lines and rows missing required fields land
    in the bad channel with a reason; good rows carry the declared schema
    only. One bad line must never fail the scan (PERMISSIVE contract)."""
    from syntenybrowserv2_etl_spark.sources.text_sources import read_jsonl

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        'this is not json at all\n'
        '{"doc_id": 2, "lang": "en"}\n'            # missing required text
        '{"doc_id": 3, "text": "bonjour", "lang": "fr"}\n'
        '{"doc_id": 4, "text": "ok", "lang": null}\n'  # lang not required
    )
    good, bad = read_jsonl(
        spark,
        str(p),
        "doc_id LONG, text STRING, lang STRING",
        required=["text"],
    )
    g = {r["doc_id"]: r for r in good.collect()}
    assert set(g) == {1, 3, 4}
    assert g[1]["text"] == "hello world" and g[4]["lang"] is None
    assert set(good.columns) == {"doc_id", "text", "lang"}
    b = sorted((r["reason"], r["raw"]) for r in bad.collect())
    assert len(b) == 2
    assert b[0][0] == "malformed_json" and "not json" in b[0][1]
    assert b[1][0] == "missing_required:text" and '"doc_id":2' in b[1][1]


# --- JSONL corpus source / sharded sink (sources/jsonl.py) -----------------


def test_read_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """Malformed JSONL lines must not kill the load OR vanish: clean rows
    come back typed, corrupt raw lines land intact in the quarantine
    (V3 discipline applied to the LLM-dump source)."""
    from syntenybrowserv2_etl_spark.sources import jsonl

    src = tmp_path / "dump.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "alpha beta"}\n'
        '{"doc_id": 2, "text": "gamma"}\n'
        'not json at all\n'
        '{"doc_id": broken\n'
        '{"doc_id": 3, "text": "delta"}\n'
    )
    qdir = str(tmp_path / "quarantine")
    clean = jsonl.read_jsonl_corpus(
        spark, str(src), "doc_id long, text string", quarantine_path=qdir
    )
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert rows == {1: "alpha beta", 2: "gamma", 3: "delta"}
    quarantined = {
        r["raw_line"]
        for r in spark.read.schema("raw_line string").json(qdir).collect()
    }
    assert quarantined == {"not json at all", '{"doc_id": broken'}


def test_write_jsonl_sharded_layout_and_determinism(spark, tmp_path):
    """Sharded export: content-addressed shard membership (re-export of the
    same rows -> same shards), one file per shard, values roundtrip."""
    import glob as _glob
    import os as _os

    from syntenybrowserv2_etl_spark.sources import jsonl

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    out1, out2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    jsonl.write_jsonl_sharded(docs, out1, n_shards=4, shard_by="doc_id")
    jsonl.write_jsonl_sharded(docs, out2, n_shards=4, shard_by="doc_id")

    def shards(p):
        return {
            d: sorted(
                r["doc_id"]
                for r in spark.read.schema("doc_id long, text string")
                .json(_os.path.join(p, d))
                .collect()
            )
            for d in _os.listdir(p)
            if d.startswith("shard=")
        }

    s1, s2 = shards(out1), shards(out2)
    assert s1 == s2 and len(s1) == 4
    # one file per shard
    for d in s1:
        files = [
            f
            for f in _os.listdir(_os.path.join(out1, d))
            if f.startswith("part-")
        ]
        assert len(files) == 1, (d, files)
    # roundtrip completeness
    back = spark.read.schema("doc_id long, text string").json(out1 + "/shard=*")
    assert back.count() == docs.count()
    assert (
        back.join(docs, ["doc_id", "text"], "left_anti").count() == 0
    )


def test_read_jsonl_corpus_all_corrupt_and_empty(spark, tmp_path):
    """Degenerate dumps: an all-corrupt file yields an EMPTY typed frame
    (with every line quarantined), and quarantine_path=None just drops
    corrupt lines without writing anywhere."""
    from syntenybrowserv2_etl_spark.sources import jsonl

    src = tmp_path / "junk.jsonl"
    src.write_text("garbage\nmore garbage\n")
    qdir = str(tmp_path / "q")
    clean = jsonl.read_jsonl_corpus(
        spark, str(src), "doc_id long, text string", quarantine_path=qdir
    )
    assert clean.count() == 0
    assert [f.name for f in clean.schema.fields] == ["doc_id", "text"]
    assert (
        spark.read.schema("raw_line string").json(qdir).count() == 2
    )
    # no quarantine path: corrupt lines dropped, nothing written
    clean2 = jsonl.read_jsonl_corpus(spark, str(src), "doc_id long, text string")
    assert clean2.count() == 0


def test_manifest_roundtrip_and_tamper_detection(spark, tmp_path):
    """write_with_manifest → verify_manifest roundtrips; the hash is
    layout-insensitive (a repartitioned byte-identical copy verifies);
    each drift class fails loudly naming the field: lost rows, altered
    values with the count intact, and a dropped column."""
    import pytest as _pt

    from syntenybrowserv2_etl_spark.sources import io as io_ops

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    path = str(tmp_path / "t")
    m = io_ops.write_with_manifest(docs, path)
    assert io_ops.verify_manifest(spark, path) == m

    # layout-insensitive: same rows, different partitioning, same manifest
    path2 = str(tmp_path / "t2")
    io_ops.write_with_manifest(docs.repartition(7), path2)
    assert io_ops.verify_manifest(spark, path2)["content_hash"] == m["content_hash"]

    # lost rows: a partial copy replaces the data but carries the old
    # manifest along (overwrite clobbers the manifest, so re-save it)
    lost = str(tmp_path / "lost")
    io_ops.write_with_manifest(docs, lost)
    manifest_raw = open(f"{lost}/_manifest.json").read()
    docs.limit(400).write.mode("overwrite").parquet(lost)
    open(f"{lost}/_manifest.json", "w").write(manifest_raw)
    with _pt.raises(ValueError, match="rows"):
        io_ops.verify_manifest(spark, lost)

    # altered values, count intact
    bad = str(tmp_path / "bad")
    io_ops.write_with_manifest(docs, bad)
    manifest_raw = open(f"{bad}/_manifest.json").read()
    from pyspark.sql import functions as FF

    docs.withColumn(
        "text", FF.when(FF.col("doc_id") == 0, FF.lit("tampered")).otherwise(FF.col("text"))
    ).write.mode("overwrite").parquet(bad)
    open(f"{bad}/_manifest.json", "w").write(manifest_raw)
    with _pt.raises(ValueError, match="content hash"):
        io_ops.verify_manifest(spark, bad)


def test_manifest_survives_compaction(spark, tmp_path):
    """compact_table rewrites files and partitioning but not content —
    and because the manifest hash is order-insensitive, the integrity
    record stays VALID across compaction with no re-stamp needed (the
    property that makes manifests compatible with ongoing maintenance)."""
    from syntenybrowserv2_etl_spark.sources import io as io_ops

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).repartition(16)
    path = str(tmp_path / "t")
    m = io_ops.write_with_manifest(docs, path)
    before, after = io_ops.compact_table(spark, path, target_mb=256)
    assert after < before
    # compact_table carries the manifest across its staged swap, and the
    # ORIGINAL record still verifies against the rewritten layout
    assert io_ops.verify_manifest(spark, path) == m


def test_ingest_jsonl_corpus_one_pass_routing(spark, tmp_path):
    """The 100 TB ingest shape (VERDICT r10 weak #2): ONE write job routes
    clean rows and quarantined raw lines by validity partition — no cache,
    no checkpoint, corpus copies in flight = 1. Clean reader prunes to the
    __valid=true partition; quarantine keeps the raw evidence intact."""
    from syntenybrowserv2_etl_spark.sources import jsonl

    src = tmp_path / "dump.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "wrongtype"}\n'
    )
    out = str(tmp_path / "ingested")
    clean = jsonl.ingest_jsonl_corpus(
        spark, str(src), "doc_id long, text string", out
    )
    assert {(r["doc_id"], r["text"]) for r in clean.collect()} == {
        (1, "alpha"),
        (2, "beta"),
    }
    q = {r["raw_line"] for r in jsonl.read_quarantine(spark, out).collect()}
    assert q == {"not json", '{"doc_id": "wrongtype"}'}
    # clean reader prunes: only the clean partition's files are read
    files = clean.inputFiles()
    assert files and all("__route=clean" in f for f in files)
    # the lazy ingest path pins NOTHING: no cache/checkpoint node in the
    # clean reader's plan (shared-session storage info is order-dependent,
    # so pin the plan, not the executor storage list)
    plan = clean._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan and "Checkpoint" not in plan


def test_compact_table_refuses_marker_disciplined_stores(spark, tmp_path):
    """Round-11 operational guard (found by driving tools/maintain.py):
    compact_table's flat rewrite on a merge table / marker-append index
    would destroy the __kb layout and drop _layout/_batches — the next
    batch would see no existing buckets and permanently lose untouched
    keys. It must refuse loudly and name the right tool."""
    import pytest as _pytest

    from syntenybrowserv2_etl_spark.sources.io import compact_table
    from syntenybrowserv2_etl_spark.streaming import merge as sm

    tbl = str(tmp_path / "mtbl")
    sm.merge_upsert_batch(
        spark.createDataFrame([(1, "a", 10)], "k bigint, v string, arrival bigint"),
        0,
        table_path=tbl,
        key_cols=["k"],
        arrival_col="arrival",
        n_buckets=8,
    )
    with _pytest.raises(ValueError, match="marker-disciplined"):
        compact_table(spark, tbl)
    # plain tables still compact
    plain = str(tmp_path / "plain")
    spark.range(100).repartition(8).write.parquet(plain)
    before, after = compact_table(spark, plain)
    assert after <= before and spark.read.parquet(plain).count() == 100


def test_ingest_jsonl_corpus_degenerate_dumps(spark, tmp_path):
    """Round-11 review catch: partitionBy only creates a __route dir when
    rows exist, so a HEALTHY dump (no corrupt lines — the common case)
    has no quarantine dir and an all-corrupt dump has no clean dir. Both
    reads must return empty typed frames, never PATH_NOT_FOUND."""
    from syntenybrowserv2_etl_spark.sources import jsonl

    healthy = tmp_path / "healthy.jsonl"
    healthy.write_text('{"doc_id": 1, "text": "a"}\n{"doc_id": 2, "text": "b"}\n')
    out1 = str(tmp_path / "o1")
    clean = jsonl.ingest_jsonl_corpus(spark, str(healthy), "doc_id long, text string", out1)
    assert clean.count() == 2
    q = jsonl.read_quarantine(spark, out1)
    assert q.count() == 0 and q.columns == ["raw_line"]

    junk = tmp_path / "junk.jsonl"
    junk.write_text("garbage\nmore garbage\n")
    out2 = str(tmp_path / "o2")
    clean2 = jsonl.ingest_jsonl_corpus(spark, str(junk), "doc_id long, text string", out2)
    assert clean2.count() == 0
    assert [f.name for f in clean2.schema.fields] == ["doc_id", "text"]
    assert jsonl.read_quarantine(spark, out2).count() == 2

    empty = tmp_path / "empty.jsonl"
    empty.write_text("\n\n")
    out3 = str(tmp_path / "o3")
    clean3 = jsonl.ingest_jsonl_corpus(spark, str(empty), "doc_id long, text string", out3)
    assert clean3.count() == 0
    assert [f.name for f in clean3.schema.fields] == ["doc_id", "text"]
    assert jsonl.read_quarantine(spark, out3).count() == 0
