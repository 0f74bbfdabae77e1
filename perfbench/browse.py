"""Synteny-browser requests against a built database, in Spark and in DuckDB.

Four request kinds, as the browser issues them:

- ``region``: genes, exons, bands, features or SNPs in a (taxon, chr, start,
  end) window 100 kb to 10 Mb wide;
- ``synteny_view``: syntenic blocks in a reference window, then the
  comparative species' genes inside them (``operators.range_join``);
- ``gene_detail``: a gene by id, its exons and its homologs;
- ``onto_subtree``: a term, its descendants from ``on_pairs``, then the genes
  annotated to any of them.

Each request is a few queries; its result is the list of their row sets. The
same request run in DuckDB over the same parquet files is the oracle.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from syntenybrowserv2_etl_spark import schemas

KINDS = ["region", "synteny_view", "gene_detail", "onto_subtree"]

# table -> (taxon, chr, start, end) columns of its genomic position
REGION_TABLES = {
    "gene": ("gene_taxonid", "gene_chr", "gene_start_pos", "gene_end_pos"),
    "exon": ("taxonid", "exon_chr", "exon_start_pos", "exon_end_pos"),
    "cytogenetic_band": ("taxon_id", "chr", "start", "end"),
    "feature": ("taxon_id", "seq_id", "start", "end"),
    "snp_variant": ("taxon_id", "chr", "pos", "pos"),
}
BROWSE_TABLES = sorted(set(REGION_TABLES) | {"syntenic_block", "homolog", "on_terms",
                                             "on_pairs", "gene_ontology_map"})
MIN_WIDTH, MAX_WIDTH = 100_000, 10_000_000
# syntenic_block keeps the source's chromosome names ("chr5") while the gene
# loader strips the prefix ("5"), so the synteny view joins on the block's
# chromosome with the prefix removed, as the browser must.
STRIP_CHR_SQL = "regexp_replace({}, '^[Cc][Hh][Rr]', '')"
# which part of each kind's result holds the data the request is for; a run
# fails if no request of a kind found any, since its check would be vacuous
DATA_PART = {"region": 0, "synteny_view": 1, "gene_detail": 0, "onto_subtree": 2}
SYNTENY_COLS = ["symbol", "ref_start_pos", "ref_end_pos", "comp_chr", "comp_start_pos",
                "comp_end_pos", "gene_id", "gene_symbol", "gene_start_pos", "gene_end_pos"]


def cols(table: str) -> list[str]:
    return schemas.TABLES[table].fieldNames()


@dataclass(frozen=True)
class Request:
    kind: str
    params: tuple


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


# ---------------------------------------------------------------------------
# DuckDB side: parameter draws and the oracle
# ---------------------------------------------------------------------------


class Oracle:
    """DuckDB views over the database's parquet tables."""

    def __init__(self, db_dir: str, tmp_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 2")
        for t in BROWSE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{db_dir}/{t}/**/*.parquet', hive_partitioning = true)"
            )

    def rows(self, sql: str, params: list | tuple = ()) -> list[tuple]:
        return _sorted(self.con.execute(sql, list(params)).fetchall())

    def answer(self, req: Request) -> list[list[tuple]]:
        p = req.params
        if req.kind == "region":
            table, taxon, chr_, start, end = p
            tc, cc, sc, ec = REGION_TABLES[table]
            return [self.rows(
                f"SELECT {_q(cols(table))} FROM {table} WHERE {tc} = ? AND {cc} = ? "
                f'AND "{sc}" <= ? AND "{ec}" >= ?', (taxon, chr_, end, start))]
        if req.kind == "synteny_view":
            taxon, chr_, start, end, comp = p
            blocks = self.rows(
                f"SELECT {_q(cols('syntenic_block'))} FROM syntenic_block "
                "WHERE ref_taxonid = ? AND ref_chr = ? AND ref_start_pos <= ? "
                "AND ref_end_pos >= ? AND comp_taxonid = ?", (taxon, chr_, end, start, comp))
            genes = self.rows(
                f"SELECT {_q(SYNTENY_COLS)} FROM syntenic_block b JOIN gene g "
                f"ON {STRIP_CHR_SQL.format('b.comp_chr')} = g.gene_chr "
                "AND b.comp_start_pos <= g.gene_end_pos "
                "AND b.comp_end_pos >= g.gene_start_pos "
                "WHERE b.ref_taxonid = ? AND b.ref_chr = ? AND b.ref_start_pos <= ? "
                "AND b.ref_end_pos >= ? AND b.comp_taxonid = ? AND g.gene_taxonid = ?",
                (taxon, chr_, end, start, comp, comp))
            return [blocks, genes]
        if req.kind == "gene_detail":
            gene_id, taxon = p
            return [
                self.rows(f"SELECT {_q(cols('gene'))} FROM gene "
                          "WHERE gene_id = ? AND gene_taxonid = ?", p),
                self.rows(f"SELECT {_q(cols('exon'))} FROM exon "
                          "WHERE parent_gene = ? AND taxonid = ?", p),
                self.rows(f"SELECT {_q(cols('homolog'))} FROM homolog "
                          "WHERE ref_gene_id = ? AND ref_taxon_id = ?", p),
            ]
        if req.kind == "onto_subtree":
            (term,) = p
            return [
                self.rows(f"SELECT {_q(cols('on_terms'))} FROM on_terms WHERE id = ?", p),
                self.rows("SELECT child FROM on_pairs WHERE parent = ?", p),
                self.rows(
                    f"SELECT {_q(cols('gene_ontology_map'))} FROM gene_ontology_map "
                    "WHERE ontology_id = ? OR ontology_id IN "
                    "(SELECT child FROM on_pairs WHERE parent = ?)", (term, term)),
            ]
        raise ValueError(req.kind)

    def catalog(self) -> dict[str, list[tuple]]:
        """Rows the request parameters are drawn from, in a fixed order."""
        out = {}
        for table, (tc, cc, sc, _) in REGION_TABLES.items():
            out[table] = self.con.execute(
                f'SELECT {tc}, {cc}, "{sc}" FROM {table} WHERE "{sc}" IS NOT NULL '
                "ORDER BY ALL").fetchall()
        out["synteny_view"] = self.con.execute(
            "SELECT ref_taxonid, ref_chr, ref_start_pos, comp_taxonid FROM syntenic_block "
            "ORDER BY ALL").fetchall()
        out["gene_detail"] = self.con.execute(
            "SELECT gene_id, gene_taxonid FROM gene ORDER BY ALL").fetchall()
        out["onto_subtree"] = self.con.execute(
            "SELECT DISTINCT parent FROM on_pairs ORDER BY ALL").fetchall()
        return out


def _q(names: list[str]) -> str:
    return ", ".join(f'"{n}"' for n in names)


# ---------------------------------------------------------------------------
# Request streams
# ---------------------------------------------------------------------------


def _window(pos: int, width: int) -> tuple[int, int]:
    start = max(0, pos - width // 2)
    return start, start + width


def draw(kind: str, catalog: dict, rng: random.Random, width: int | None = None) -> Request:
    """One request of ``kind`` whose parameters come from database rows.
    Windows are ``width`` wide, or log-uniform between the limits."""
    if width is None:
        width = int(MIN_WIDTH * (MAX_WIDTH / MIN_WIDTH) ** rng.random())
    if kind == "region":
        table = rng.choice(sorted(REGION_TABLES))
        taxon, chr_, pos = rng.choice(catalog[table])
        return Request(kind, (table, taxon, chr_, *_window(pos, width)))
    if kind == "synteny_view":
        taxon, chr_, pos, comp = rng.choice(catalog[kind])
        return Request(kind, (taxon, chr_, *_window(pos, width), comp))
    return Request(kind, tuple(rng.choice(catalog[kind])))  # gene_detail, onto_subtree


def hot_requests(catalog: dict, rng: random.Random) -> dict[str, Request]:
    """One hot request per kind, shared by all clients. Their windows take
    the middle width, so a seed's hot set is neither unusually cheap nor
    unusually dear: it repeats through a large share of the traffic."""
    mid = int((MIN_WIDTH * MAX_WIDTH) ** 0.5)
    return {k: draw(k, catalog, rng, width=mid) for k in KINDS}


def stream(catalog: dict, rng: random.Random, hot: dict[str, Request], hot_share: float):
    """Endless request stream: every block of four holds each kind once, in
    seeded order; with probability ``hot_share`` a request repeats its
    kind's hot request."""
    while True:
        for kind in rng.sample(KINDS, len(KINDS)):
            yield hot[kind] if rng.random() < hot_share else draw(kind, catalog, rng)


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


class SparkBrowser:
    """Serves requests from DataFrames opened once over the database."""

    def __init__(self, spark, db_dir: str, tracer=None):
        self.t = {name: spark.read.parquet(f"{db_dir}/{name}") for name in BROWSE_TABLES}
        self.tracer = tracer

    def _run(self, kind: str, build) -> list[tuple]:
        if self.tracer is None:
            return _sorted(build().collect())
        with self.tracer.span(f"browse.{kind}.plan"):
            df = build()
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span(f"browse.{kind}.exec"):
            return _sorted(df.collect())

    def execute(self, req: Request) -> list[list[tuple]]:
        from pyspark.sql import functions as F

        from syntenybrowserv2_etl_spark.functions import transforms
        from syntenybrowserv2_etl_spark.operators import range_join

        t, p, run = self.t, req.params, lambda b: self._run(req.kind, b)
        if req.kind == "region":
            table, taxon, chr_, start, end = p
            tc, cc, sc, ec = REGION_TABLES[table]
            return [run(lambda: t[table].filter(
                (F.col(tc) == taxon) & (F.col(cc) == chr_)
                & (F.col(sc) <= end) & (F.col(ec) >= start)).select(*cols(table)))]
        if req.kind == "synteny_view":
            taxon, chr_, start, end, comp = p

            def blocks():
                b = t["syntenic_block"]
                return b.filter(
                    (b.ref_taxonid == taxon) & (b.ref_chr == chr_) & (b.ref_start_pos <= end)
                    & (b.ref_end_pos >= start) & (b.comp_taxonid == comp))

            def genes():
                b = blocks().withColumn("chr_key", transforms.strip_chr_prefix("comp_chr"))
                g = t["gene"].filter(F.col("gene_taxonid") == comp).select(
                    "gene_id", "gene_symbol", F.col("gene_chr").alias("chr_key"),
                    "gene_start_pos", "gene_end_pos")
                j = range_join.overlap_join(
                    b, g, ["chr_key"], ("comp_start_pos", "comp_end_pos"),
                    ("gene_start_pos", "gene_end_pos"))
                return j.select(*(F.col(("l." if c in cols("syntenic_block") else "r.") + c)
                                  for c in SYNTENY_COLS))

            return [run(lambda: blocks().select(*cols("syntenic_block"))), run(genes)]
        if req.kind == "gene_detail":
            gene_id, taxon = p
            return [
                run(lambda: t["gene"].filter((F.col("gene_id") == gene_id)
                                             & (F.col("gene_taxonid") == taxon))
                    .select(*cols("gene"))),
                run(lambda: t["exon"].filter((F.col("parent_gene") == gene_id)
                                             & (F.col("taxonid") == taxon))
                    .select(*cols("exon"))),
                run(lambda: t["homolog"].filter((F.col("ref_gene_id") == gene_id)
                                                & (F.col("ref_taxon_id") == taxon))
                    .select(*cols("homolog"))),
            ]
        if req.kind == "onto_subtree":
            (term,) = p
            term_row = run(lambda: t["on_terms"].filter(F.col("id") == term)
                           .select(*cols("on_terms")))
            children = run(lambda: t["on_pairs"].filter(F.col("parent") == term)
                           .select("child"))
            ids = [term] + [c[0] for c in children]
            genes = run(lambda: t["gene_ontology_map"].filter(F.col("ontology_id").isin(ids))
                        .select(*cols("gene_ontology_map")))
            return [term_row, children, genes]
        raise ValueError(req.kind)
