"""Seeded genomics inputs for one benchmark run.

Three species' GFF3 genes and cytobands, synteny TSVs, plain and gzip QTL
GFF3, a GWAS VCF, GO/MP/DO OBO files and GAF annotations, written by the
``gen_*`` functions of ``tools/build_bench.py`` at its ``--small`` size
(~170k input lines). Homologs are generated here instead, pairing genes that
exist in the generated GFF3 so gene lookups find their homologs.
"""

from __future__ import annotations

import importlib.util
import os
import random
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SMALL = 10  # build_bench.py --small divides its full sizes by this
SPECIES = [(9606, 25_000 // SMALL), (10090, 25_000 // SMALL), (10116, 22_000 // SMALL)]
SYNTENY_PAIRS = [(9606, 10116), (10090, 9606), (10116, 10090)]
ONTOLOGIES = [("GO", 1, 40_000 // SMALL), ("MP", 1, 15_000 // SMALL), ("DO", 1, 12_000 // SMALL)]
HOMOLOG_HEADER = (
    "## Type\tTaxonID1\tID1\tSymbol1\tSeqID1\tStart1\tEnd1"
    "\tTaxonID2\tID2\tSymbol2\tSeqID2\tStart2\tEnd2"
)


def _build_bench():
    spec = importlib.util.spec_from_file_location(
        "build_bench", os.path.join(ROOT, "tools", "build_bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Inputs:
    dir: str
    files: list[str]
    lines: int

    @property
    def bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def pipeline_inputs(self):
        from syntenybrowserv2_etl_spark.plans import pipeline

        feature = {10090: "qtl_10090.gff3", 10116: "qtl_10116.gff3.gz"}
        return pipeline.PipelineInputs(
            species=[
                pipeline.SpeciesInputs(
                    taxon_id=taxon,
                    genes_gff3=self.path(f"genes_{taxon}.gff3"),
                    cytoband_gff3=self.path(f"cyto_{taxon}.gff3"),
                    feature_gff3=self.path(feature[taxon]) if taxon in feature else None,
                )
                for taxon, _ in SPECIES
            ],
            synteny_tsvs=[self.path(f"synteny_{r}_{c}.tsv") for r, c in SYNTENY_PAIRS],
            homolog_tsvs=[self.path("homologs.tsv")],
            vcf_paths=[self.path("gwas.vcf")],
            obo_paths=[self.path(f"{p.lower()}.obo") for p, _, _ in ONTOLOGIES],
            gaf_loads=[(self.path(f"gaf_{taxon}.gaf"), taxon) for taxon, _ in SPECIES],
        )

    def is_a_edges(self) -> list[tuple[str, str]]:
        """(child, parent) is_a edges of the non-obsolete OBO terms."""
        edges = []
        for p, _, _ in ONTOLOGIES:
            with open(self.path(f"{p.lower()}.obo")) as f:
                stanzas = f.read().split("\n\n")
            for st in stanzas:
                lines = st.strip().splitlines()
                if not lines or lines[0] != "[Term]" or "is_obsolete: true" in lines:
                    continue
                tid = next(ln[4:] for ln in lines if ln.startswith("id: "))
                edges += [
                    (tid, ln[6:].split("!")[0].strip())
                    for ln in lines
                    if ln.startswith("is_a: ")
                ]
        return edges


def _gene_rows(path: str) -> list[tuple[str, str, str, int, int]]:
    """(gene id, symbol, seq id, start, end) of the top-level GFF3 genes."""
    rows = []
    with open(path) as f:
        for line in f:
            cols = line.rstrip("\n").split("\t")
            if len(cols) == 9 and cols[2] == "gene":
                attrs = dict(kv.split("=", 1) for kv in cols[8].split(";"))
                rows.append((attrs["Dbxref"], attrs["Symbol"], cols[0], int(cols[3]), int(cols[4])))
    return rows


def _gen_homologs(path: str, genes: dict[int, list], n: int, rng: random.Random) -> int:
    lines = [HOMOLOG_HEADER]
    for _ in range(n):
        t1, t2 = rng.sample(sorted(genes), 2)
        g1, g2 = rng.choice(genes[t1]), rng.choice(genes[t2])
        kind = "ORTHOLOGUE" if rng.random() < 0.9 else "PARALOGUE"
        lines.append("\t".join(map(str, (kind, t1, *g1, t2, *g2))))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return len(lines)


def generate(out_dir: str, seed: int) -> Inputs:
    """Write the seeded input set under ``out_dir``; same seed, same files."""
    bb = _build_bench()
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    d = out_dir
    n = 0
    for taxon, n_genes in SPECIES:
        n += bb.gen_genes_gff3(f"{d}/genes_{taxon}.gff3", taxon, n_genes, rng)
        n += bb.gen_cytobands_gff3(f"{d}/cyto_{taxon}.gff3", 900, rng)
    for rt, ct in SYNTENY_PAIRS:
        n += bb.gen_synteny_tsv(f"{d}/synteny_{rt}_{ct}.tsv", rt, ct, 10_000 // SMALL, rng)
    n += bb.gen_features_gff3(f"{d}/qtl_10090.gff3", 10090, 25_000 // SMALL, rng)
    n += bb.gen_features_gff3(f"{d}/qtl_10116.gff3.gz", 10116, 25_000 // SMALL, rng)
    n += bb.gen_vcf(f"{d}/gwas.vcf", 250_000 // SMALL, rng)
    for prefix, off, cnt in ONTOLOGIES:
        n += bb.gen_obo(f"{d}/{prefix.lower()}.obo", prefix, cnt, off, rng)
    for taxon, n_genes in SPECIES:
        n += bb.gen_gaf(f"{d}/gaf_{taxon}.gaf", taxon, 150_000 // SMALL, n_genes, ONTOLOGIES, rng)
    genes = {t: _gene_rows(f"{d}/genes_{t}.gff3") for t, _ in SPECIES}
    n += _gen_homologs(f"{d}/homologs.tsv", genes, 50_000 // SMALL, rng)
    files = sorted(os.path.join(d, f) for f in os.listdir(d))
    return Inputs(dir=d, files=files, lines=n)
