"""Scale-stress harness: measure operator scaling at 1x / 4x / 16x data.

The correctness gate proves answers at small SF; this proves the *growth
curve*. Each replica of the base tables gets distinct ids (id offset per
replica) and lightly perturbed content, so dedup/join cardinalities grow
linearly with data — any super-linear wall-time growth is an operator
problem (quadratic candidate blowup, un-pruned fan-out), not a data
artifact.

Usage: python tools/scale_stress.py [base_sf_dir] [factors...] [--ops=a,b,c]
Writes scaled inputs under /root/repo/.scratch/ (gitignored) and prints one
JSON line per (operator, factor). ``--ops=`` restricts to a comma-separated
subset of operator keys — the deep (64x) tranche measures only the
operators whose cost is tied to corpus size by contract, instead of paying
every operator at every factor.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from syntenybrowserv2_etl_spark.operators import closure as cl
from syntenybrowserv2_etl_spark.operators import curation as cur
from syntenybrowserv2_etl_spark.operators import dedup as dd
from syntenybrowserv2_etl_spark.operators import range_join as rj
from syntenybrowserv2_etl_spark.operators import similarity as sim
from syntenybrowserv2_etl_spark.operators import text as txt
from syntenybrowserv2_etl_spark.session import get_spark

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scaled_docs(spark, base_dir: str, factor: int, path: str):
    """documents ×factor: distinct doc_ids; every 7th replica doc keeps its
    text verbatim (stable near-dup rate), others get a replica-tag suffix
    so the corpus isn't one giant duplicate class."""
    d = spark.read.parquet(f"{base_dir}/documents.parquet")
    n = d.count()
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    out = (
        d.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n)).alias("doc_id"),
            F.when(F.col("rep") % 7 == 0, F.col("text"))
            .otherwise(F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("rep"))))
            .alias("text"),
        )
    )
    out.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def scaled_emb(spark, base_dir: str, factor: int, path: str):
    e = spark.read.parquet(f"{base_dir}/embeddings.parquet")
    n = e.count()
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    out = (
        e.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(n)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + (F.col("rep") % 5) * F.lit(0.003) * F.cos(i.cast("double")),
            ).alias("embedding"),
        )
    )
    out.repartition(32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 2)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# Every key a measure() call below can emit — validated against --ops= so a
# typo fails fast instead of silently building scaled inputs and measuring
# nothing for the intended operator.
KNOWN_OPS = frozenset({
    "exact_dedup", "minhash_lsh", "ngram_jaccard", "simhash",
    "emb_neardup_lsh_star", "knn_bruteforce", "closure",
    "binned_point_join", "contamination", "boilerplate", "upsample_mix",
    "pack_sequences", "unigram_logprob", "chunk_documents",
    "repetition_profile", "gopher_quality", "dedup_corpus_e2e",
    "dedup_corpus_e2e_star", "dedup_spans", "deterministic_shuffle",
    "bloom_incremental", "bpe_merges_4", "bpe_price_corpus",
    "semantic_dedup", "tfidf_top_terms", "bm25_rank", "cap_per_group",
    "perplexity_buckets", "dsir_importance", "pq_encode_adc",
    "setsim_prefix", "streaming_confirm", "ivf_probe_indexed",
    "perplexity_buckets_sampled", "pagerank_skew", "scd2_apply",
    "triangles_skew", "rollup_apply", "heavy_hitters", "merge_apply",
    "containment_skew", "editdist_join", "event_transitions", "knn_batch",
    "transitions_apply", "merge_apply_skew", "interval_union",
    "jsonl_ingest", "pareto_skyline", "roc_auc", "rrf_fuse",
    "unigram_kl", "token_fold", "lang_kappa", "corpus_diversity",
    "repeated_spans", "repeated_spans_hash", "roc_auc_binned",
    "excise_repeated", "shingle_fold",
    "label_noise_ivf", "quantile_grid", "oov_rate", "entropy_rate",
    "image_dhash", "audio_ehash", "image_pair_join", "audio_pair_join",
    "structured_pair_join",
    "media_gate_fold", "media_gate_fold_video", "media_gate_fold_skew",
    "jpeg_decode_stats", "apng_decode_stats",
    "embedding_collapse", "label_separation", "label_cohesion",
    "assoc_mi", "ks_drift", "kmv_overlap", "zipf_fit",
    "balanced_shards", "key_skew", "dist_psi", "ipf_reweight",
    "emb_covariance",
})


def main():
    args = sys.argv[1:]
    only: set[str] | None = None
    for a in list(args):
        if a.startswith("--ops="):
            only = set(a[len("--ops="):].split(","))
            args.remove(a)
            unknown = only - KNOWN_OPS
            if unknown:
                raise SystemExit(
                    f"unknown --ops entries {sorted(unknown)}; "
                    f"known: {sorted(KNOWN_OPS)}"
                )
    base = args[0] if args else "/root/testdata/sf0.1"
    factors = [int(a) for a in args[1:]] or [1, 4, 16]
    spark = get_spark("scale_stress")
    os.makedirs(SCRATCH, exist_ok=True)

    # ops that build their own fixtures — when --ops selects only these,
    # skip the (expensive at 16x) scaled docs/embeddings build entirely
    SELF_FIXTURED = {
        "pagerank_skew", "scd2_apply", "rollup_apply", "merge_apply",
        "triangles_skew", "containment_skew", "editdist_join",
        "event_transitions", "transitions_apply", "merge_apply_skew",
        "interval_union", "jsonl_ingest", "pareto_skyline",
        "roc_auc", "rrf_fuse", "token_fold",
        "image_dhash", "audio_ehash", "image_pair_join", "audio_pair_join",
        "structured_pair_join",
        "media_gate_fold", "media_gate_fold_video",
        "media_gate_fold_skew",
        "jpeg_decode_stats", "apng_decode_stats",
    }
    results = []
    for f in factors:
        if only is not None and only <= SELF_FIXTURED:
            # lazy placeholders: later sections reference docs/emb when
            # BUILDING (never executing) their unselected DataFrames
            docs = spark.read.parquet(f"{base}/documents.parquet")
            emb = spark.read.parquet(f"{base}/embeddings.parquet")
            n_docs = n_emb = 0
            r = {"factor": f}
        else:
            docs = scaled_docs(spark, base, f, f"{SCRATCH}/docs_x{f}")
            emb = scaled_emb(spark, base, f, f"{SCRATCH}/emb_x{f}")
            n_docs, n_emb = docs.count(), emb.count()
            r = {"factor": f, "n_docs": n_docs, "n_emb": n_emb}

        def measure(name, fn):
            if only is None or name in only:
                r[name] = timed(fn)

        measure("exact_dedup", lambda: noop(dd.exact_dedup(docs, "text", "doc_id")))
        measure("minhash_lsh", 
            lambda: noop(
                dd.minhash_lsh_candidates(
                    dd.minhash_signatures_inline(
                        docs, "doc_id", "text", k=3, num_hashes=8
                    ),
                    "doc_id",
                    8,
                    4,
                )
            )
        )
        measure("ngram_jaccard", 
            lambda: noop(
                dd.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.1, max_df=100)
            )
        )
        measure("simhash", lambda: noop(dd.simhash_fingerprint(docs, "doc_id", "text", 16)))
        # star-linking: the scale path — all-pairs is quadratic in clone-class
        # size by definition (measured 337s at 16x vs 3s at 1x)
        measure("emb_neardup_lsh_star", 
            lambda: noop(
                dd.embedding_near_dupes(
                    emb, "vec_id", "embedding", 0.3, bucket_planes=8, link="star"
                )
            )
        )
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        measure("knn_bruteforce", lambda: noop(sim.knn_bruteforce(emb, q, k=10)))

        # q167: IVF-routed label-noise audit. The 1-in-4 audit sample and
        # neighbor pool BOTH grow with the corpus, so the exact vote would
        # be quadratic; the IVF route is O(n_audit * nprobe * n/C) with
        # C ~ sqrt(n) — the measured curve should grow ~linearly in f.
        from syntenybrowserv2_etl_spark.functions import hashing as hsh

        lab_emb = emb.withColumn("label", (F.col("vec_id") % 10).cast("int"))
        aud = lab_emb.filter(hsh.md5_long(F.col("vec_id")) % 4 == 0)
        c_sqrt = max(16, int((max(n_emb, 1)) ** 0.5 / 4))
        measure("label_noise_ivf",
            lambda: noop(
                sim.label_noise_audit_ivf(
                    lab_emb, k=5, audit=aud, num_centroids=c_sqrt, nprobe=4,
                    probe_salt=max(1, 32 // c_sqrt),
                )
            )
        )

        # closure on a 16-ary forest over n_docs*f nodes: depth ~log16(n),
        # held under the driver-side closure's edge cap
        edges = (
            spark.range(1, min(n_docs, cl.EDGE_CAP))
            .select(
                F.floor(F.col("id") / 16).alias("parent"), F.col("id").alias("child")
            )
        )
        measure("closure", lambda: noop(cl.transitive_closure(edges)))

        # binned interval join: events-in-bands at growing point counts
        from syntenybrowserv2_etl_spark import queries as q

        ev = q.t(spark, base, "events")  # handles TIMESTAMP(NANOS) conf
        pts = ev.crossJoin(spark.range(f).select(F.col("id").alias("rep"))).select(
            (F.col("value") + F.col("rep")).alias("v")
        )
        bands = spark.range(50).select(
            F.col("id").alias("band_id"),
            (F.col("id") * F.col("id")).cast("double").alias("lo"),
            ((F.col("id") + 1) * (F.col("id") + 1)).cast("double").alias("hi"),
        )
        measure("binned_point_join", 
            lambda: noop(
                rj.point_in_interval_join(
                    pts, bands, on=[], point_col="v", range_cols=("lo", "hi"), bin_width=64
                )
            )
        )

        # curation passes (round 2): contamination semi-join, boilerplate
        # inverted index, weighted mixing, sharded sequence packing
        bench_slice = docs.filter(F.col("doc_id") % 37 == 0)
        train_slice = docs.filter(F.col("doc_id") % 37 != 0)
        measure("contamination", 
            lambda: noop(
                cur.contaminated_ids(train_slice, bench_slice, "doc_id", "text", k=5)
            )
        )
        measure("boilerplate", 
            lambda: noop(cur.boilerplate_stats(docs, "doc_id", "text"))
        )
        strat = docs.withColumn(
            "stratum", (F.col("doc_id") % 4).cast("string")
        )
        measure("upsample_mix", 
            lambda: noop(
                cur.upsample_by_weight(
                    strat, "doc_id", "stratum",
                    {"0": 0.5, "1": 2.25, "2": 1.75}, default_weight=1.0,
                )
            )
        )
        sized = docs.withColumn("n_tok", txt.token_count(F.col("text")))
        measure("pack_sequences", 
            lambda: noop(
                cur.pack_sequences(sized, "doc_id", "n_tok", budget=512, shards=32)
            )
        )

        # round 3: corpus-LM scoring, chunking, repetition stats, and the
        # full LSH->verify->components dedup pipeline end-to-end
        measure("unigram_logprob", 
            lambda: noop(txt.unigram_logprob(docs, "doc_id", "text"))
        )
        measure("chunk_documents", 
            lambda: noop(cur.chunk_documents(docs, "doc_id", "text", 128, 16))
        )
        measure("repetition_profile", 
            lambda: noop(txt.repetition_profile(docs, "doc_id", "text"))
        )
        measure("gopher_quality", 
            lambda: noop(txt.gopher_quality(docs, "doc_id", "text"))
        )
        measure("dedup_corpus_e2e", 
            lambda: noop(dd.dedup_corpus(docs, "doc_id", "text"))
        )
        measure("dedup_corpus_e2e_star", 
            lambda: noop(dd.dedup_corpus(docs, "doc_id", "text", link="star"))
        )

        # round 5: span dedup, deterministic shuffle, bloom incremental
        from syntenybrowserv2_etl_spark.operators import sampling as smp

        measure("dedup_spans",
            lambda: noop(cur.dedup_spans(docs, "doc_id", "text", span_tokens=16))
        )
        measure("repeated_spans",
            lambda: noop(dd.repeated_spans(docs, "text", "doc_id", k=8))
        )
        measure("repeated_spans_hash",
            lambda: noop(
                dd.repeated_spans(docs, "text", "doc_id", k=8, exact=False)
            )
        )
        measure("excise_repeated",
            lambda: noop(dd.excise_repeated_spans(docs, "text", "doc_id", k=8))
        )
        measure("deterministic_shuffle", 
            lambda: noop(smp.deterministic_shuffle(docs, "doc_id", n_shards=32))
        )
        corpus_part = docs.filter(F.col("doc_id") % 3 != 0)
        batch_part = docs.filter(F.col("doc_id") % 3 == 0)
        measure("bloom_incremental", 
            lambda: noop(
                dd.bloom_incremental_dedup(
                    corpus_part, batch_part, "doc_id", "text",
                    expected_corpus_rows=n_docs * 2 // 3,
                )
            )
        )
        measure("bpe_merges_4",
            lambda: noop(txt.bpe_merge_table(docs, "text", n_merges=4))
        )

        # round 6: the corpus-pricing join (q75 shape) — explode corpus
        # words, join the learned (word -> n_pieces) segmentation vocab,
        # aggregate. Proves the pricing join stays linear in the corpus
        # (the vocab side grows sub-linearly and stays AQE/broadcast-safe).
        def _price_corpus():
            vocab = txt.bpe_segment_vocab(docs, "text", n_merges=4).select(
                F.col("word").alias("__w"), "n_pieces"
            )
            words = docs.select(
                "doc_id",
                F.explode(
                    F.split(dd.normalize_text("text"), " ")
                ).alias("__w"),
            ).filter(F.length("__w") > 0)
            noop(
                words.join(vocab, "__w")
                .groupBy((F.col("doc_id") % 20).alias("g"))
                .agg(F.sum("n_pieces").alias("n_bpe_tokens"))
            )

        measure("bpe_price_corpus", _price_corpus)

        # round 6: SemDeDup — pair work is bounded by cluster size; with
        # k fixed the within-cluster join grows O(Σ c_i²), so the measured
        # curve at fixed k=8 is the WORST case (production scales k with
        # the corpus to hold n/k members per cluster flat).
        measure("semantic_dedup",
            lambda: noop(dd.semantic_dedup(emb, "vec_id", "embedding",
                                           k=8, iters=3, threshold=0.35))
        )
        measure("tfidf_top_terms",
            lambda: noop(txt.tfidf_top_terms(docs, "doc_id", "text", top_k=3))
        )
        measure("bm25_rank",
            lambda: noop(txt.bm25_rank(docs, "doc_id", "text",
                                       ["join", "spark", "window"], top_k=20))
        )
        capped = docs.withColumn("grp", (F.col("doc_id") % 16).cast("string"))
        measure("cap_per_group",
            lambda: noop(smp.cap_per_group(capped, "doc_id", "grp", cap=100))
        )
        # round 6: CCNet bucketing — cost is the LM scoring passes plus one
        # per-group sort for ntile; 8 synthetic "languages" keep group sizes
        # growing linearly with the corpus (the skew-worst case).
        langed = docs.withColumn("lang", (F.col("doc_id") % 8).cast("string"))
        measure("perplexity_buckets",
            lambda: noop(cur.perplexity_buckets(langed, "doc_id", "text", "lang"))
        )
        # round 7: the sampled-cutoff variant — no per-lang corpus sort;
        # growth should track the LM scorer alone.
        measure("perplexity_buckets_sampled",
            lambda: noop(cur.perplexity_buckets_sampled(
                langed, "doc_id", "text", "lang", sample_mod=10))
        )
        # round 6: DSIR — histogram stays 256 rows at every factor; the
        # only data-sized work is the bigram build + two partial aggs.
        measure("dsir_importance",
            lambda: noop(smp.dsir_importance(
                docs, "doc_id", "text", target=F.col("doc_id") % 5 == 0))
        )

        # round 6: PQ train + encode + ADC top-k over the scaled embedding
        # table — training cost is bounded by (s, code, dim) aggregation
        # keys, encode is map-only, ADC touches only integer codes.
        def _pq_pipeline():
            cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64)
            codes = sim.pq_encode(emb, cb, 4, dim=64)
            qv = emb.limit(1).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
            noop(sim.pq_adc_topk(codes, cb, qv, 4, k=10, dim=64))

        measure("pq_encode_adc", _pq_pipeline)

        # round 6: exact set-similarity join — the scaled corpus keeps a
        # stable verbatim-duplicate rate (every 7th replica), so the true
        # pair count grows ~quadratically in the replica factor while the
        # prefix filter must keep CANDIDATE work near the true pairs.
        measure("setsim_prefix",
            lambda: noop(dd.setsim_join_prefix(docs, "doc_id", "text", 0.5))
        )

        # round 7: the streaming bloom confirm — per-batch cost against a
        # GROWING persisted survivor pair table must stay ~flat: the table
        # is bucketed by __h1 (bucket pruning picks files) and sorted by
        # __h1 within buckets (row-group stats pick pages), so bytes read
        # track the fixed hit-set size, not the corpus. The table build is
        # NOT timed (it is amortized ingest work); only the confirm is.
        def _streaming_confirm():
            from syntenybrowserv2_etl_spark.sources import io as sio
            from syntenybrowserv2_etl_spark.streaming import events as se

            tname = f"scale_confirm_pairs_x{f}"
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            h1, h2 = dd.bloom_hash_pair("text")
            pairs = (
                docs.select(h1.alias("__h1"), h2.alias("__h2"))
                .filter(F.col("__h1").isNotNull())
                .distinct()
                .withColumn("__batch_id", F.lit(0))
            )
            sio.write_bucketed(
                pairs, tname, ["__h1"], num_buckets=64,
                sort_cols=["__h1", "__h2"], path=f"{SCRATCH}/confirm_pairs_x{f}",
            )
            hits = (
                spark.table(tname)
                .select("__h1", "__h2")
                .filter(F.pmod("__h1", F.lit(997)) < 4)  # ~0.4% fixed-rate hit set
                .limit(200)
                .localCheckpoint(eager=True)
            )
            r["streaming_confirm"] = timed(
                lambda: noop(se.bloom_confirm_read(spark, tname, hits))
            )
            spark.sql(f"DROP TABLE IF EXISTS {tname}")

        if only is None or "streaming_confirm" in only:
            _streaming_confirm()

        # round 7: IVF-PQ probe against the PERSISTED index — production
        # sizes n_cells with the corpus (per-cell bytes flat), so cells
        # scale 16·factor here; the probe is a partition-pruned read of
        # nprobe directories and must stay ~flat. Index build (train +
        # encode + write) is amortized indexing work and is NOT timed.
        def _ivf_probe_indexed():
            tpath = f"{SCRATCH}/ivf_idx_x{f}"
            cells = sim.kmeans_centroids(emb, k=16 * f, iters=2)
            assigned = sim.assign_centroids(emb, cells)
            cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64)
            codes = sim.pq_encode(emb, cb, 4, dim=64)
            sim.write_ivf_index(assigned, codes, tpath)
            qv = emb.limit(1).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
            )
            r["ivf_probe_indexed"] = timed(
                lambda: noop(
                    sim.ivf_pq_topk_indexed(
                        spark, tpath, cells, cb, qv, 4, nprobe=4, k=10, dim=64
                    )
                )
            )

        if only is None or "ivf_probe_indexed" in only:
            _ivf_probe_indexed()

        # round 7: PageRank on a power-law graph — one hub whose
        # out-degree is ~N/2 (10^4x the mean of ~2) while every other
        # node has one out-edge plus one edge into the hub. The skew
        # stresses (a) the ranks ⋈ edges join on __src (the hub key
        # fans out to half the edge table) and (b) the per-dst partial
        # aggregation (the hub also RECEIVES half the edges). AQE
        # skew-join splitting + map-side combine must keep the curve
        # ~linear in |edges|.
        def _pagerank_skew():
            from syntenybrowserv2_etl_spark.operators import components as comp

            N = 20_000 * f
            ring = spark.range(1, N).select(
                F.col("id").alias("src"),
                (F.col("id") * 7 % N).alias("dst"),
            )
            hub_out = spark.range(1, N // 2).select(
                F.lit(0).cast("long").alias("src"),
                (F.col("id") * 2).alias("dst"),
            )
            hub_in = spark.range(1, N // 2).select(
                (F.col("id") * 2 + 1).alias("src"),
                F.lit(0).cast("long").alias("dst"),
            )
            edges = ring.union(hub_out).union(hub_in)
            r["pagerank_skew"] = timed(
                lambda: noop(comp.pagerank(edges, iters=3))
            )

        if only is None or "pagerank_skew" in only:
            _pagerank_skew()

        # round 8: triangle counting under adversarial skew — one hub
        # joined to every other node PLUS a ring so triangles exist.
        # Degree ordering must keep the hub's wedge contribution near
        # zero (the hub is the highest-rank endpoint of all its edges, so
        # it generates no wedges); without it the hub alone would emit
        # O(N^2) wedge candidates.
        def _triangles_skew():
            from syntenybrowserv2_etl_spark.operators import components as comp

            N = 20_000 * f
            ring = spark.range(N).select(
                F.col("id").alias("src"),
                ((F.col("id") + 1) % N).alias("dst"),
            )
            hub = spark.range(1, N).select(
                F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
            )
            edges = ring.union(hub)
            r["triangles_skew"] = timed(
                lambda: noop(comp.triangle_counts(edges))
            )

        if only is None or "triangles_skew" in only:
            _triangles_skew()

        # round 8: incremental rollup maintenance against a GROWING grid —
        # per-batch cost must stay flat: a fixed-size batch touches one
        # day-partition regardless of how many days of grid history have
        # accumulated (the scd2_apply contract, aggregate-flavored).
        def _rollup_apply():
            import datetime as _dt

            from syntenybrowserv2_etl_spark.streaming import events as se

            rpath = f"{SCRATCH}/rollup_x{f}"
            shutil.rmtree(rpath, ignore_errors=True)
            base = _dt.datetime(2024, 1, 1)
            # seed: f*30 days of history, 5 series × 24 hourly buckets/day
            n_days = 30 * f
            seed = spark.range(n_days * 5 * 24).select(
                F.col("id").alias("event_id"),
                F.timestamp_seconds(
                    F.lit(int(base.timestamp()))
                    + (F.col("id") % (n_days * 24)) * 3600
                ).alias("ts"),
                F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                (F.col("id") % 97).cast("double").alias("value"),
            ).localCheckpoint(eager=True)
            se.rollup_maintain_batch(seed, 0, path=rpath)
            batch = spark.range(2000).select(
                (F.col("id") + 10_000_000).alias("event_id"),
                F.timestamp_seconds(
                    F.lit(int(base.timestamp()))
                    + (n_days - 1) * 86400
                    + F.col("id") % 86400
                ).alias("ts"),
                F.concat(F.lit("s"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                (F.col("id") % 89).cast("double").alias("value"),
            ).localCheckpoint(eager=True)
            r["rollup_apply"] = timed(
                lambda: se.rollup_maintain_batch(batch, 1, path=rpath)
            )

        if only is None or "rollup_apply" in only:
            _rollup_apply()

        # round 8: exact heavy hitters over the scaled corpus's token
        # stream — contract-linear: pass 1 is a map-only MG summary,
        # pass 2 aggregates only candidate occurrences (partial-agg'd to
        # <= candidates per task before the exchange).
        def _heavy_hitters():
            from syntenybrowserv2_etl_spark.operators import frequent
            from syntenybrowserv2_etl_spark.operators import shape

            tok = shape.explode_delimited(docs, "text", "item", " ")
            r["heavy_hitters"] = timed(
                lambda: noop(frequent.heavy_hitters(tok, "item", k=64))
            )

        if only is None or "heavy_hitters" in only:
            _heavy_hitters()

        # round 7: streaming SCD2 per-batch apply against a GROWING
        # accumulated history — must stay ~flat: the open set is
        # bucket-partitioned, so a fixed-size batch prunes its read to
        # the touched buckets and rewrites only those, regardless of how
        # much closed history has accumulated. History build is untimed
        # (it is the amortized past); only one apply batch is timed.
        def _scd2_apply():
            import datetime as _dt

            from syntenybrowserv2_etl_spark.operators import scd as scd_ops
            from syntenybrowserv2_etl_spark.streaming import events as se

            hist = f"{SCRATCH}/scd2_hist_x{f}"
            shutil.rmtree(hist, ignore_errors=True)
            n_users = 2000 * f
            base_us = 1_700_000_000_000_000
            # 10 changes per user -> accumulated history ~20k*f intervals
            ev = (
                spark.range(n_users * 10)
                .select(
                    F.col("id").alias("event_id"),
                    F.timestamp_micros(
                        F.lit(base_us) + (F.col("id") / n_users).cast("long") * 60_000_000
                    ).alias("ts"),
                    (F.col("id") % n_users).alias("user_id"),
                    (F.col("id") % 7).alias("k"),
                )
            )
            hist_df = scd_ops.scd2_history(ev).localCheckpoint(eager=True)
            hist_df.filter(F.col("valid_to_us").isNotNull()).write.mode(
                "overwrite"
            ).parquet(f"{hist}/closed/__ingest_batch=0")
            (
                hist_df.filter(F.col("valid_to_us").isNull())
                .withColumn("__b", F.lit(0).cast("long"))
                .withColumn("__kb", F.pmod(F.col("user_id"), F.lit(64)))
                .write.mode("overwrite")
                .partitionBy("__kb")
                .parquet(f"{hist}/open")
            )
            batch = spark.range(500).select(
                (F.col("id") + n_users * 10).alias("event_id"),
                F.timestamp_micros(
                    F.lit(base_us) + F.lit(11 * 60_000_000) + F.col("id")
                ).alias("ts"),
                (F.col("id") * 37 % n_users).alias("user_id"),
                (F.col("id") % 5 + 10).alias("k"),
            ).localCheckpoint(eager=True)
            r["scd2_apply"] = timed(
                lambda: se.scd2_apply_batch(batch, 1, hist_path=hist)
            )

        if only is None or "scd2_apply" in only:
            _scd2_apply()

        # round 10: generic keyed MERGE upsert per-batch apply against a
        # GROWING table — must stay ~flat UNDER THE SIZING RULE (merge.py
        # docstring: n_buckets ∝ target key cardinality, constant bytes
        # per bucket). Per-batch cost is
        #   touched_buckets × (table_bytes / n_buckets),
        # so with n_buckets scaled with the table and a batch whose keys
        # land in a fixed set of buckets, cost is independent of how
        # large the table has grown. Seeding (batch 0) is untimed
        # amortized past; the timed batch updates every key hashing into
        # buckets 0-3 — a constant ~4-bucket footprint (~constant rows)
        # at every factor. A batch spraying keys across ALL buckets
        # degrades toward O(table) by construction — that is a batch-key
        # distribution problem the sizing rule exists to bound, not a
        # sink regression; the curve pins the contract's own terms.
        def _merge_apply():
            from syntenybrowserv2_etl_spark.streaming import merge as sm

            tbl = f"{SCRATCH}/merge_tbl_x{f}"
            shutil.rmtree(tbl, ignore_errors=True)
            n_keys = 100_000 * f
            n_buckets = 256 * f
            seed = spark.range(n_keys).select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("v"),
                F.lit(0).cast("long").alias("arrival"),
            ).localCheckpoint(eager=True)
            sm.merge_upsert_batch(
                seed, 0, table_path=tbl, key_cols=["k"],
                arrival_col="arrival", n_buckets=n_buckets,
            )
            batch = (
                seed.filter(
                    F.pmod(F.hash("k"), F.lit(n_buckets)) < 4
                )
                .select(
                    "k",
                    F.sha2((F.col("k") + 7).cast("string"), 256).alias("v"),
                    F.lit(1).cast("long").alias("arrival"),
                )
                .localCheckpoint(eager=True)
            )
            n_batch = batch.count()
            r["merge_apply_batch_rows"] = n_batch
            r["merge_apply"] = timed(
                lambda: sm.merge_upsert_batch(
                    batch, 1, table_path=tbl, key_cols=["k"],
                    arrival_col="arrival", n_buckets=n_buckets,
                )
            )

        if only is None or "merge_apply" in only:
            _merge_apply()

        # round 11: the ADVERSARIAL merge batch (VERDICT r10 #6) — every
        # row in ONE bucket and one hot key carrying 50k·f duplicate rows
        # (a CDC stream replaying a single entity's history). Without the
        # within-batch max_by pre-reduction the LWW window funnels the
        # hot key into one task (measured superlinear: 11.8 s at 12.8M
        # rows); with it the curve is flat (SCALE.md "merge hot-key
        # batch"). The winner check pins semantics alongside the timing.
        def _merge_apply_skew():
            from syntenybrowserv2_etl_spark.streaming import merge as sm

            tbl = f"{SCRATCH}/merge_skew_x{f}"
            shutil.rmtree(tbl, ignore_errors=True)
            n_keys, n_buckets = 100_000, 256
            seed = spark.range(n_keys).select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("v"),
                F.lit(0).cast("long").alias("arrival"),
            ).localCheckpoint(eager=True)
            sm.merge_upsert_batch(
                seed, 0, table_path=tbl, key_cols=["k"],
                arrival_col="arrival", n_buckets=n_buckets,
            )
            hot_rows = 50_000 * f
            hot = spark.range(hot_rows).select(
                F.lit(0).cast("long").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("v"),
                (F.col("id") + 1).alias("arrival"),
            )
            b0 = F.pmod(F.hash(F.lit(0)), F.lit(n_buckets))
            same_bucket = seed.filter(
                F.pmod(F.hash("k"), F.lit(n_buckets)) == b0
            ).select(
                "k",
                F.sha2((F.col("k") + 9).cast("string"), 256).alias("v"),
                F.lit(1).cast("long").alias("arrival"),
            )
            batch = hot.unionByName(same_bucket).localCheckpoint(eager=True)
            r["merge_apply_skew_batch_rows"] = batch.count()
            r["merge_apply_skew"] = timed(
                lambda: sm.merge_upsert_batch(
                    batch, 1, table_path=tbl, key_cols=["k"],
                    arrival_col="arrival", n_buckets=n_buckets,
                )
            )
            win = (
                sm.merge_read(spark, tbl).filter(F.col("k") == 0).collect()
            )
            assert len(win) == 1 and win[0]["arrival"] == hot_rows, win

        if only is None or "merge_apply_skew" in only:
            _merge_apply_skew()

        # round 11: interval coalescing (q127's operator) on the DENSE
        # fixture the self-join formulation dies on — 50k·f heavily-
        # overlapping intervals across only 20 groups (2.5k·f per group,
        # every one overlapping dozens of neighbors → a quadratic overlap
        # join would build ~100k·f pairs per group). The gaps-and-islands
        # plan is one window sort per group; cost must track rows (sort),
        # never pairs.
        def _interval_union():
            from syntenybrowserv2_etl_spark.operators import intervals as ivl

            n = 50_000 * f
            iv = spark.range(n).select(
                (F.col("id") % 20).alias("g"),
                (F.pmod(F.xxhash64("id"), F.lit(200_000))).alias("a"),
            ).withColumn(
                "b", F.col("a") + 50 + F.pmod(F.xxhash64("a", "g"), F.lit(5_000))
            ).localCheckpoint(eager=True)
            r["interval_union_rows"] = n
            r["interval_union"] = timed(
                lambda: noop(ivl.covered_length(iv, ["g"], "a", "b"))
            )

        if only is None or "interval_union" in only:
            _interval_union()

        # round 14: perceptual image hashing (q169's primitive) — the
        # decode+hash is map-only Arrow work, so cost must track rows
        # linearly with no shuffle. 48 real PNG payloads built once
        # driver-side, replicated f×16 in Spark with distinct ids
        # (payload bytes identical per replica — per-image decode cost
        # doesn't care; the pair join's growth is the LSH-band family's
        # already-measured story, not re-measured here).
        def _image_dhash():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            media48 = mmod.synthetic_neardup_png_media(spark, 16, 3)
            reps16 = spark.range(16 * f).select(F.col("id").alias("rep"))
            big = media48.crossJoin(reps16).select(
                (F.col("media_id") + F.col("rep") * 48).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            noop(mmod.image_dhash(big))

        measure("image_dhash", _image_dhash)

        def _audio_ehash():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            wav48 = mmod.synthetic_neardup_wav_media(spark, 16, 3)
            reps16 = spark.range(16 * f).select(F.col("id").alias("rep"))
            big = wav48.crossJoin(reps16).select(
                (F.col("media_id") + F.col("rep") * 48).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            noop(mmod.audio_envelope_hash(big))

        measure("audio_ehash", _audio_ehash)

        # round 15 (VERDICT r14 #3): the q169/q170 PAIR-JOIN stage's own
        # growth curve — the hash primitives above are flat by
        # construction (map-only); this measures the band-bucket join
        # with planted cluster DENSITY held constant: 15·f clusters of 3
        # near-dup copies each, so true pairs grow linearly (45·f) and
        # any super-linear wall or candidate growth is a banding problem,
        # not a data artifact. Clusters use HIGH-ENTROPY deterministic
        # patterns (hash-mixed pixels/samples, planted identity via the
        # operators' uniform-shift / integer-gain invariances) so band
        # values are ~uniform across clusters — the q169 oracle fixture's
        # linear-ramp patterns are pathologically band-collision-heavy
        # (measured separately: candidates ~N^1.6 there; the LSH-family
        # hot-bucket skew story, see SCALE.md). Hashes are
        # pre-materialized untimed (their cost is the flat curves above);
        # the timed region is candidates + Hamming filter, and the
        # candidate/pair counts land in the JSON row — candidates ≈ pairs
        # means the buckets prune to truth.
        def _mix32(*parts):
            v = 0x811C9DC5
            for p in parts:
                v = ((v ^ p) * 0x01000193) & 0xFFFFFFFF
            v ^= v >> 15
            v = (v * 0x2545F491) & 0xFFFFFFFF
            return (v ^ (v >> 13)) & 0xFFFFFFFF

        def _entropy_png_media(n_base, n_levels, base_off=0, id_off=0):
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            rows = []
            for i in range(n_base * n_levels):
                b, delta = i % n_base, (i // n_base) * 2
                w, h = 12 + b % 4, 9 + b % 3
                pix = bytes(
                    _mix32(b + base_off, x, y, c) % 240 + delta
                    for y in range(h)
                    for x in range(w)
                    for c in range(3)
                )
                rows.append(
                    (
                        i + id_off,
                        "image",
                        mmod._png_encode(w, h, 3, pix),
                        w,
                        h,
                        None,
                        "png",
                    )
                )
            return spark.createDataFrame(rows, schema=mmod.MEDIA_SCHEMA)

        def _entropy_wav_media(n_base, n_gains):
            import struct

            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            rows = []
            for i in range(n_base * n_gains):
                b, gain = i % n_base, 1 + i // n_base
                n = 130 + b % 7
                samples = [
                    (_mix32(b, j) % 2000 - 1000) * gain for j in range(n)
                ]
                pcm = struct.pack(f"<{len(samples)}h", *samples)
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                body = (
                    b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(pcm)) + pcm
                )
                rows.append((
                    i, "audio", b"RIFF" + struct.pack("<I", len(body)) + body,
                    None, None, n * 1000 // 8000, "pcm",
                ))
            return spark.createDataFrame(rows, schema=mmod.MEDIA_SCHEMA)

        # round 15: the two heaviest Python decode kernels (pure-stdlib
        # JPEG Huffman+IDCT, APNG inflate+unfilter+compose) through the
        # same replicate-payload harness as image_dhash — map-only
        # Arrow work, so wall must track images linearly with no
        # shuffle (per-image decode cost is payload-identical across
        # replicas by construction).
        def _jpeg_decode_stats():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            m40 = mmod.synthetic_jpeg420_media(spark, 40)
            reps = spark.range(4 * f).select(F.col("id").alias("rep"))
            big = m40.crossJoin(reps).select(
                (F.col("media_id") + F.col("rep") * 40).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            noop(mmod.image_stats(big))

        measure("jpeg_decode_stats", _jpeg_decode_stats)

        def _apng_decode_stats():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            m24 = mmod.synthetic_apng_media(spark, 24)
            reps = spark.range(4 * f).select(F.col("id").alias("rep"))
            big = m24.crossJoin(reps).select(
                (F.col("media_id") + F.col("rep") * 24).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            noop(mmod.video_frame_stats(big))

        measure("apng_decode_stats", _apng_decode_stats)

        # round 15: the streaming media gate's per-batch cost vs INDEX
        # size — pre-grow the banded index to 45·f images (untimed),
        # then time ONE constant 6-image batch fold (decode + bucket-
        # pruned probe + pair write + state merge). The batch touches
        # ≤ 24 of 64 buckets, so probe volume is (touched/64)·index:
        # growth must stay well under the index's own 16×. At production
        # n_buckets scales with the corpus (the family's sizing rule),
        # keeping per-batch probe volume bounded regardless of index
        # size.
        def _media_gate_fold():
            import shutil as _sh

            from syntenybrowserv2_etl_spark.streaming import mediadedup as md

            state = f"{SCRATCH}/mgate_state_x{f}"
            pairs = f"{SCRATCH}/mgate_pairs_x{f}"
            _sh.rmtree(state, ignore_errors=True)
            _sh.rmtree(pairs, ignore_errors=True)
            md.media_neardup_fold_batch(
                _entropy_png_media(15 * f, 3),
                0,
                state_path=state,
                pairs_path=pairs,
                kind="image",
                n_buckets=64,
            )
            batch = _entropy_png_media(2, 3, base_off=900_000, id_off=9_000_000)
            r["media_gate_fold"] = timed(
                lambda: md.media_neardup_fold_batch(
                    batch,
                    1,
                    state_path=state,
                    pairs_path=pairs,
                    kind="image",
                    n_buckets=64,
                )
            )

        if only is None or "media_gate_fold" in only:
            _media_gate_fold()

        # round 16 (VERDICT r15 #3): the gate's VIDEO leg under the same
        # discipline — pre-grow the frame-fingerprint index from 8·f
        # videos (untimed), then time ONE constant 2-video batch fold
        # (APNG decode + fingerprint-bucket-pruned probe + triple write
        # + state merge). Per-batch cost is bounded by the batch's own
        # fingerprints × bucket size, never O(index).
        def _media_gate_fold_video():
            import shutil as _sh

            from syntenybrowserv2_etl_spark.operators import multimodal as mmod
            from syntenybrowserv2_etl_spark.streaming import mediadedup as md

            state = f"{SCRATCH}/mgate_video_state_x{f}"
            pairs = f"{SCRATCH}/mgate_video_pairs_x{f}"
            _sh.rmtree(state, ignore_errors=True)
            _sh.rmtree(pairs, ignore_errors=True)
            md.media_neardup_fold_batch(
                mmod.synthetic_neardup_apng_media(spark, 8 * f, 3),
                0,
                state_path=state,
                pairs_path=pairs,
                kind="video",
                n_buckets=64,
            )
            batch = mmod.synthetic_neardup_apng_media(spark, 2, 1).select(
                (F.col("media_id") + 9_000_000).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            r["media_gate_fold_video"] = timed(
                lambda: md.media_neardup_fold_batch(
                    batch,
                    1,
                    state_path=state,
                    pairs_path=pairs,
                    kind="video",
                    n_buckets=64,
                )
            )

        if only is None or "media_gate_fold_video" in only:
            _media_gate_fold_video()

        # round 17 (VERDICT r16 #3): the streaming gate's occupancy
        # guard under skew-planted STATE — pre-grow the index from the
        # STRUCTURED (linear-ramp) population whose band values
        # concentrate (the ~N^1.6 batch-side blow-up fixture), then time
        # ONE constant 2-image batch fold with and without
        # max_bucket=8. Uncapped, the batch's probe of the hot
        # accumulated buckets grows with the index; capped, per-batch
        # probe volume is bounded by batch keys x 8 and the wall must
        # stay flat across index growth.
        def _media_gate_fold_skew():
            import shutil as _sh

            from syntenybrowserv2_etl_spark.operators import multimodal as mmod
            from syntenybrowserv2_etl_spark.streaming import mediadedup as md

            batch = mmod.synthetic_neardup_png_media(spark, 1, 2).select(
                (F.col("media_id") + 9_000_000).alias("media_id"),
                "kind", "payload", "width", "height", "duration_ms", "codec",
            )
            for tag, cap in (("capped", 8), ("uncapped", None)):
                state = f"{SCRATCH}/mgate_skew_state_{tag}_x{f}"
                pairs = f"{SCRATCH}/mgate_skew_pairs_{tag}_x{f}"
                _sh.rmtree(state, ignore_errors=True)
                _sh.rmtree(pairs, ignore_errors=True)
                md.media_neardup_fold_batch(
                    mmod.synthetic_neardup_png_media(spark, 15 * f, 3),
                    0,
                    state_path=state,
                    pairs_path=pairs,
                    kind="image",
                    n_buckets=64,
                    max_bucket=cap,
                )
                r[f"media_gate_fold_skew_{tag}"] = timed(
                    lambda: md.media_neardup_fold_batch(
                        batch,
                        1,
                        state_path=state,
                        pairs_path=pairs,
                        kind="image",
                        n_buckets=64,
                        max_bucket=cap,
                    )
                )
                r[f"media_gate_fold_skew_{tag}_pairs"] = md.read_dup_pairs(
                    spark, pairs
                ).count()

        if only is None or "media_gate_fold_skew" in only:
            _media_gate_fold_skew()

        def _media_pair_join(key, gen, hash_fn, hash_col):
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            hs_path = f"{SCRATCH}/{key}_hashes_x{f}"
            hash_fn(gen(15 * f, 3)).write.mode("overwrite").parquet(hs_path)
            hs = spark.read.parquet(hs_path)
            pairs = mmod.hamming_band_pairs(hs, "media_id", hash_col)
            r[key] = timed(lambda: noop(pairs))
            r[f"{key}_candidates"] = mmod.band_candidates(
                hs, "media_id", hash_col
            ).count()
            r[f"{key}_pairs"] = pairs.count()

        def _image_pair_join():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            _media_pair_join(
                "image_pair_join", _entropy_png_media, mmod.image_dhash, "dhash"
            )

        def _audio_pair_join():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            _media_pair_join(
                "audio_pair_join",
                _entropy_wav_media,
                mmod.audio_envelope_hash,
                "ahash",
            )

        if only is None or "image_pair_join" in only:
            _image_pair_join()
        if only is None or "audio_pair_join" in only:
            _audio_pair_join()

        # round 16 (VERDICT r15 #2): the STRUCTURED (linear-ramp) fixture
        # whose band values concentrate — previously measured ad hoc at
        # ~N^1.6 candidates — now measured WITH the band-occupancy guard
        # wired into the operator. max_bucket=8 (clusters are 3 copies;
        # any bucket past ~2 cluster widths is structural collision mass,
        # the same sizing rule as the LSH family's bucket cap). The
        # capped candidate count must grow ~linearly while retained true
        # pairs stay 45·f (occupancy-capped buckets only hold cross-base
        # ramp collisions at these sizes).
        def _structured_pair_join():
            from syntenybrowserv2_etl_spark.operators import multimodal as mmod

            hs_path = f"{SCRATCH}/structured_hashes_x{f}"
            mmod.image_dhash(
                mmod.synthetic_neardup_png_media(spark, 15 * f, 3)
            ).write.mode("overwrite").parquet(hs_path)
            hs = spark.read.parquet(hs_path)
            r["structured_candidates"] = mmod.band_candidates(
                hs, "media_id", "dhash"
            ).count()
            r["structured_pairs"] = mmod.hamming_band_pairs(
                hs, "media_id", "dhash"
            ).count()
            capped = mmod.hamming_band_pairs(
                hs, "media_id", "dhash", max_bucket=8
            )
            r["structured_pair_join"] = timed(lambda: noop(capped))
            r["structured_capped_candidates"] = mmod.band_candidates(
                hs, "media_id", "dhash", max_bucket=8
            ).count()
            r["structured_capped_pairs"] = capped.count()
            occ = {
                row["band"]: row
                for row in mmod.band_occupancy_report(
                    hs, "media_id", "dhash", max_bucket=8
                ).collect()
            }
            r["structured_max_occupancy"] = max(
                row["max_occupancy"] for row in occ.values()
            )
            r["structured_over_cap_pairs"] = sum(
                row["over_cap_pairs"] for row in occ.values()
            )

        if only is None or "structured_pair_join" in only:
            _structured_pair_join()

        # round 11: the single-pass JSONL ingest (r10 weak #2 fix) —
        # dump scaled f×, one validity-partitioned write job splitting
        # clean/quarantine (2% corrupt lines planted). Cost must track
        # the dump linearly with ZERO executor storage pinned (the old
        # cache+localCheckpoint path held ~2× corpus in memory).
        def _jsonl_ingest():
            from syntenybrowserv2_etl_spark.sources import jsonl as jz

            dump = f"{SCRATCH}/jsonl_dump_x{f}"
            out = f"{SCRATCH}/jsonl_out_x{f}"
            shutil.rmtree(dump, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)
            d0 = spark.read.parquet(f"{base}/documents.parquet").select(
                "doc_id", "text"
            )
            reps = [
                d0.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    "text",
                )
                for i in range(f)
            ]
            docs = reps[0]
            for r2 in reps[1:]:
                docs = docs.unionByName(r2)
            # plant ~2% corrupt lines: emit them as raw text rows
            good = docs.select(F.to_json(F.struct("doc_id", "text")).alias("value"))
            bad = docs.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0).select(
                F.concat(F.lit("corrupt "), F.col("doc_id").cast("string")).alias("value")
            )
            good.unionByName(bad).write.mode("overwrite").text(dump)
            n_lines = spark.read.text(dump).count()
            r["jsonl_ingest_lines"] = n_lines
            def run():
                clean = jz.ingest_jsonl_corpus(
                    spark, dump, "doc_id long, text string", out
                )
                assert clean.limit(1).count() == 1
            r["jsonl_ingest"] = timed(run)
            nq = jz.read_quarantine(spark, out).count()
            assert nq > 0, "planted corrupt lines must quarantine"
            r["jsonl_ingest_quarantined"] = nq
            # nothing pinned on executor storage by the ingest path
            assert not [
                x for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            ], "ingest pinned executor storage"

        if only is None or "jsonl_ingest" in only:
            _jsonl_ingest()

        # round 11: two-phase Pareto frontier on the WORST-case mix —
        # 500k·f points of which 10k are a perfectly anti-correlated
        # frontier (every one globally non-dominated, so the global
        # phase's candidate union is large and REAL — the concat-sweep
        # correctness fix is exercised, not idled) and the rest random
        # (mostly dominated, pruned in the local phase). Cost must track
        # the ONE narrow pass over the data; the global gather is bounded
        # by the candidate union.
        def _pareto_skyline():
            from syntenybrowserv2_etl_spark.operators.skyline import (
                pareto_frontier,
            )

            n = 500_000 * f
            front = spark.range(10_000).select(
                (F.col("id") + 1_000_000_000).alias("vid"),
                F.col("id").cast("double").alias("x"),
                (F.lit(10_000) - F.col("id")).alias("y"),
            )
            noise = spark.range(n).select(
                F.col("id").alias("vid"),
                # x offset past the whole planted frontier: noise can
                # never dominate a planted point (its x is always worse),
                # while planted (9999, 1) dominates every noise point —
                # so the exact frontier is the planted 10k by construction
                (
                    F.pmod(F.xxhash64("id"), F.lit(10_000)).cast("double")
                    + F.lit(20_000.0)
                ).alias("x"),
                (
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000))
                    + F.lit(10)
                ).alias("y"),
            )
            pts = noise.unionByName(front).localCheckpoint(eager=True)
            r["pareto_skyline_rows"] = n + 10_000
            def run():
                got = pareto_frontier(pts, "x", "y").count()
                # the planted anti-correlated frontier survives intact;
                # noise is offset by +10 in both axes so it never
                # dethrones a planted point
                assert got == 10_000, got
            r["pareto_skyline"] = timed(run)

        if only is None or "pareto_skyline" in only:
            _pareto_skyline()

        # round 12: exact AUC — the scale claim is cardinality reduction:
        # the single-partition cumulative window sees DISTINCT scores
        # (1000 here), never rows, so the curve must track the one
        # groupBy(score) scan. Labels are score-biased so the asserted
        # AUC is far from coin-flip (a wiring bug shows as ~0.5).
        def _roc_auc():
            from syntenybrowserv2_etl_spark.operators.evaluation import roc_auc

            n = 1_000_000 * f
            d = spark.range(n).select(
                F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double").alias("s"),
                (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000))
                 < F.pmod(F.xxhash64("id"), F.lit(1000))).alias("y"),
            ).localCheckpoint(eager=True)
            r["roc_auc_rows"] = n

            def run():
                row = roc_auc(d, "s", "y").collect()[0]
                # analytic value: positives' score density ∝ s, negatives'
                # ∝ (1−s) ⇒ AUC = 5/6; a wiring bug shows as ~0.5
                assert 0.82 < row["auc"] < 0.85, row

            r["roc_auc"] = timed(run)

        if only is None or "roc_auc" in only:
            _roc_auc()

        # round 13: the adversarial case the score_bins knob exists for —
        # effectively-unique double scores (distinct count ≈ row count),
        # where the unbinned single-partition window would see every row.
        # score_bins=4096 caps the window input at 4096 regardless of f;
        # the analytic AUC (5/6) and the returned error bound are both
        # asserted, so the knob's correctness is checked, not just timed.
        def _roc_auc_binned():
            from syntenybrowserv2_etl_spark.operators.evaluation import roc_auc

            n = 1_000_000 * f
            d = spark.range(n).select(
                (
                    F.pmod(F.xxhash64("id"), F.lit(1_000_000_000)).cast(
                        "double"
                    )
                    / 1e9
                ).alias("s"),
                (
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000_000))
                    .cast("double")
                    / 1e9
                    < F.pmod(F.xxhash64("id"), F.lit(1_000_000_000)).cast(
                        "double"
                    )
                    / 1e9
                ).alias("y"),
            ).localCheckpoint(eager=True)
            r["roc_auc_binned_rows"] = n

            def run():
                row = roc_auc(d, "s", "y", score_bins=4096).collect()[0]
                assert 0.82 < row["auc"] < 0.85, row
                assert row["auc_err_bound"] < 0.001, row

            r["roc_auc_binned"] = timed(run)

        if only is None or "roc_auc_binned" in only:
            _roc_auc_binned()

        # round 12: RRF — per-partition windows (the per-query fusion
        # shape): 1M·f candidate rows over 1000·f query partitions, two
        # signals, top-10 per query. Must scale with rows, never with a
        # global sort.
        def _rrf_fuse():
            from syntenybrowserv2_etl_spark.operators.ranking import rrf_fuse

            n = 1_000_000 * f
            d = spark.range(n).select(
                F.pmod(F.col("id"), F.lit(1000 * f)).alias("qid"),
                F.col("id").alias("item"),
                F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("s1"),
                F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100_000)).alias("s2"),
            ).localCheckpoint(eager=True)
            r["rrf_fuse_rows"] = n

            def run():
                got = rrf_fuse(
                    d, ["item"], ["s1", "s2"], partition_cols=["qid"],
                    top_n=10,
                ).count()
                assert got == 10 * 1000 * f, got

            r["rrf_fuse"] = timed(run)

        if only is None or "rrf_fuse" in only:
            _rrf_fuse()

        # round 12: unigram KL — token scans reduce to vocab-sized frames
        # before any join; the curve must track the two token scans of
        # the scaled corpus (the lazy checkpoint keeps it ONE scan per
        # side despite the two output branches).
        def _unigram_kl():
            from syntenybrowserv2_etl_spark.operators.drift import unigram_kl

            def run():
                rows = unigram_kl(
                    docs.filter(F.col("doc_id") % 2 == 0),
                    docs.filter(F.col("doc_id") % 2 == 1),
                    "text",
                    top_k=20,
                ).collect()
                assert rows and rows[0]["kl_total"] >= 0.0  # Gibbs

            r["unigram_kl"] = timed(run)

        if only is None or "unigram_kl" in only:
            _unigram_kl()

        # round 12: streaming token-count fold — per-batch cost must be
        # O(batch vocabulary), flat in ACCUMULATED corpus size: seed the
        # state with 200k·f distinct tokens (one seeding batch), then
        # time one fixed 2k-token batch against the grown state.
        def _token_fold():
            from syntenybrowserv2_etl_spark.streaming import drift as sdrift

            state = f"{SCRATCH}/tokfold_x{f}"
            shutil.rmtree(state, ignore_errors=True)
            n_tokens = 200_000 * f
            seed = spark.range(n_tokens).select(
                F.concat(F.lit("tok"), F.col("id")).alias("text")
            ).localCheckpoint(eager=True)
            sdrift.token_counts_fold_batch(
                seed, 0, state_path=state, n_buckets=64
            )
            batch = spark.range(2_000).select(
                F.concat(F.lit("tok"), F.pmod(F.xxhash64("id"), F.lit(n_tokens)))
                .alias("text")
            ).localCheckpoint(eager=True)
            r["token_fold_state_tokens"] = n_tokens
            r["token_fold"] = timed(
                lambda: sdrift.token_counts_fold_batch(
                    batch, 1, state_path=state, n_buckets=64
                )
            )

        if only is None or "token_fold" in only:
            _token_fold()

        # round 13: incremental exact-substring dedup — per-batch fold AND
        # report cost must be flat in ACCUMULATED shingle-state size (the
        # batch's shingles hash across all buckets: honest worst case).
        def _shingle_fold():
            from syntenybrowserv2_etl_spark.streaming import substr as ss

            state = f"{SCRATCH}/shfold_x{f}"
            shutil.rmtree(state, ignore_errors=True)
            n_docs_seed = 20_000 * f
            seed = spark.range(n_docs_seed).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("w"),
                            F.pmod(F.xxhash64("id", F.lit(j)), F.lit(500_000 * f)),
                        )
                        for j in range(12)
                    ],
                ).alias("text"),
            ).localCheckpoint(eager=True)
            ss.shingle_counts_fold_batch(
                seed, 0, state_path=state, k=8, n_buckets=64
            )
            batch = spark.range(1_000).select(
                (F.col("id") + 10_000_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("w"),
                            F.pmod(
                                F.xxhash64("id", F.lit(j + 100)),
                                F.lit(500_000 * f),
                            ),
                        )
                        for j in range(12)
                    ],
                ).alias("text"),
            ).localCheckpoint(eager=True)
            r["shingle_fold_state_docs"] = n_docs_seed
            r["shingle_report"] = timed(
                lambda: noop(ss.batch_repeated_report(batch, state, k=8))
            )
            r["shingle_fold"] = timed(
                lambda: ss.shingle_counts_fold_batch(
                    batch, 1, state_path=state, k=8, n_buckets=64
                )
            )

        if only is None or "shingle_fold" in only:
            _shingle_fold()

        # round 12: label agreement + diversity reports — both must track
        # the single token/label scan (marginal/vocab frames are
        # category- or vocabulary-sized, never row-sized).
        def _lang_kappa():
            from syntenybrowserv2_etl_spark.operators import text as txt_ops
            from syntenybrowserv2_etl_spark.operators.evaluation import (
                cohens_kappa,
            )

            # scaled docs lack lang; replicate the base table WITH labels
            d = spark.read.parquet(f"{base}/documents.parquet")
            reps = spark.range(f).select(F.col("id").alias("rep"))
            dd_ = d.crossJoin(reps).select("lang", "text")
            scored = dd_.select(
                F.col("lang").alias("truth"),
                txt_ops.lang_id(F.col("text")).alias("pred"),
            )
            r["lang_kappa"] = timed(
                lambda: cohens_kappa(scored, "truth", "pred").collect()
            )

        if only is None or "lang_kappa" in only:
            _lang_kappa()

        measure(
            "corpus_diversity",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.drift",
                    fromlist=["corpus_diversity"],
                ).corpus_diversity(
                    docs.withColumn(
                        "source",
                        F.pmod(F.col("doc_id"), F.lit(20)).cast("string"),
                    ),
                    "source",
                    "text",
                )
            ),
        )

        # round 13: corpus-audit family — every one must track the single
        # row scan (stat frames are category-/vocab-/multiplicity-sized).
        def _audit_docs():
            return docs.withColumn(
                "source", F.pmod(F.col("doc_id"), F.lit(20)).cast("string")
            ).withColumn(
                "lang", F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
            )

        measure(
            "assoc_mi",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.association",
                    fromlist=["categorical_association"],
                ).categorical_association(_audit_docs(), "source", "lang")
            ),
        )
        measure(
            "ks_drift",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.drift",
                    fromlist=["ks_drift"],
                ).ks_drift(_audit_docs(), "source", F.length("text"))
            ),
        )
        measure(
            "zipf_fit",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.drift",
                    fromlist=["zipf_fit"],
                ).zipf_fit(_audit_docs(), "source", "text")
            ),
        )
        measure(
            "kmv_overlap",
            lambda: noop(
                dd.kmv_source_overlap(
                    _audit_docs(), "source", "doc_id", "text", k=3, sketch_k=256
                )
            ),
        )
        measure(
            "balanced_shards",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.layout",
                    fromlist=["balanced_shards"],
                ).balanced_shards(
                    docs.withColumn("sz", F.length("text")), "sz", "doc_id", 64
                )
            ),
        )
        measure(
            "dist_psi",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.drift",
                    fromlist=["dist_psi"],
                ).dist_psi(_audit_docs(), "source", F.length("text"))
            ),
        )
        measure(
            "ipf_reweight",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.sampling",
                    fromlist=["ipf_reweight"],
                ).ipf_reweight(_audit_docs(), "source", "lang", n_iters=2)
            ),
        )
        measure(
            "emb_covariance",
            lambda: noop(
                sim.embedding_covariance(emb, "embedding")
            ),
        )
        measure(
            "key_skew",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.profiling",
                    fromlist=["key_skew_report"],
                ).key_skew_report(
                    docs.withColumn(
                        "k", F.expr("cast(sqrt(doc_id) as long)")
                    ),
                    "k",
                )
            ),
        )

        # round 14: the q160-q166 tail (VERDICT r13 #5) — exact quantile
        # grid, OOV, collapse, label separation/cohesion, entropy rate.
        measure(
            "quantile_grid",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.profiling",
                    fromlist=["exact_quantiles_bounded"],
                ).exact_quantiles_bounded(
                    _audit_docs().withColumn("n_chars", F.length("text")),
                    "source",
                    "n_chars",
                    qs=(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
                )
            ),
        )
        measure(
            "oov_rate",
            lambda: noop(
                txt.oov_rate(_audit_docs(), "source", "text", vocab_k=1000)
            ),
        )
        measure(
            "entropy_rate",
            lambda: noop(
                __import__(
                    "syntenybrowserv2_etl_spark.operators.drift",
                    fromlist=["entropy_rate"],
                ).entropy_rate(_audit_docs(), "source", "text")
            ),
        )
        measure(
            "embedding_collapse",
            lambda: noop(
                sim.embedding_collapse_report(emb, "vec_id", "embedding")
            ),
        )
        measure(
            "label_separation",
            lambda: noop(
                sim.label_centroid_separation(
                    emb.withColumn("label", (F.col("vec_id") % 10).cast("int")),
                    "label",
                    "embedding",
                )
            ),
        )
        measure(
            "label_cohesion",
            lambda: noop(
                sim.label_cohesion(
                    emb.withColumn("label", (F.col("vec_id") % 10).cast("int")),
                    "label",
                    "embedding",
                    "vec_id",
                )
            ),
        )

        def _transitions_apply():
            # per-batch transition-matrix fold vs ACCUMULATED user-state
            # size: seed 100k·f users' last events (bucket count scaled
            # with keys, the sizing rule), then fold one CONSTANT batch
            # (~1.6k rows, fixed 4-bucket footprint). Flat growth means
            # the boundary join reads O(touched buckets), not O(users).
            import datetime as _dt

            from syntenybrowserv2_etl_spark.streaming import (
                transitions as tr,
            )

            state = f"{SCRATCH}/trans_state_x{f}"
            shutil.rmtree(state, ignore_errors=True)
            n_users = 100_000 * f
            n_buckets = 256 * f
            base_us = 1_700_000_000_000_000
            seed = spark.range(n_users).select(
                F.col("id").alias("event_id"),
                F.timestamp_micros(F.lit(base_us) + F.col("id")).alias("ts"),
                F.col("id").alias("user_id"),
                F.concat(
                    F.lit("t"), (F.col("id") % 5).cast("string")
                ).alias("event_type"),
            ).localCheckpoint(eager=True)
            tr.transitions_fold_batch(
                seed, 0, state_path=state, n_buckets=n_buckets
            )
            batch = (
                seed.filter(F.pmod(F.hash("user_id"), F.lit(n_buckets)) < 4)
                .select(
                    (F.col("event_id") + n_users).alias("event_id"),
                    F.timestamp_micros(
                        F.lit(base_us + 10_000_000) + F.col("user_id")
                    ).alias("ts"),
                    "user_id",
                    F.concat(
                        F.lit("t"), ((F.col("user_id") + 1) % 5).cast("string")
                    ).alias("event_type"),
                )
                .localCheckpoint(eager=True)
            )
            r["transitions_apply_batch_rows"] = batch.count()
            r["transitions_apply"] = timed(
                lambda: tr.transitions_fold_batch(
                    batch, 1, state_path=state, n_buckets=n_buckets
                )
            )

        if only is None or "transitions_apply" in only:
            _transitions_apply()

        # round 10: containment join under hot-gram skew — the corpus the
        # prefix-rarity discipline CANNOT defuse: 30% of documents are
        # clones of one short text, so its shingles are simultaneously
        # (a) in every clone's prefix (the clone has no rarer grams) and
        # (b) hot (df = 0.3·n) — one join key carries 0.3·n indexed rows
        # × 0.3·n probes. The candidate/output size is genuinely
        # quadratic in the clone class (exact operator — every ordered
        # clone pair IS a true containment); what chunking must fix is
        # the SERIALIZATION: unchunked, one task builds/joins the whole
        # hot key; chunked (hot_gram_chunk) the key splits into
        # ⌈df/chunk⌉ sub-keys that verify in parallel. Both variants are
        # timed on the same corpus — the ratio is the straggler removed.
        def _containment_skew():
            n = 4000 * f
            n_hot = int(n * 0.3)
            hot_txt = "alpha beta gamma delta"
            corpus = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") < n_hot, F.lit(hot_txt))
                .otherwise(
                    F.concat_ws(
                        " ",
                        F.concat(F.lit("u"), F.col("id"), F.lit("a")),
                        F.concat(F.lit("u"), F.col("id"), F.lit("b")),
                        F.concat(F.lit("u"), F.col("id"), F.lit("c")),
                        F.concat(F.lit("u"), F.col("id"), F.lit("d")),
                    )
                )
                .alias("text"),
            ).localCheckpoint(eager=True)
            r["containment_skew_unchunked"] = timed(
                lambda: noop(
                    dd.containment_join_prefix(
                        corpus, "doc_id", "text", 0.5, 3,
                        hot_gram_chunk=1_000_000_000,
                    )
                )
            )
            # same, with AQE's skew-join split OFF: the runtime heuristic
            # that otherwise papers over the single-key straggler — the
            # raw hazard chunking removes DETERMINISTICALLY (plan-level,
            # not dependent on AQE stats thresholds firing)
            skew_conf = "spark.sql.adaptive.skewJoin.enabled"
            prev = spark.conf.get(skew_conf)
            spark.conf.set(skew_conf, "false")
            try:
                r["containment_skew_unchunked_noaqe"] = timed(
                    lambda: noop(
                        dd.containment_join_prefix(
                            corpus, "doc_id", "text", 0.5, 3,
                            hot_gram_chunk=1_000_000_000,
                        )
                    )
                )
                r["containment_skew_chunked_noaqe"] = timed(
                    lambda: noop(
                        dd.containment_join_prefix(
                            corpus, "doc_id", "text", 0.5, 3,
                            hot_gram_chunk=256,
                        )
                    )
                )
            finally:
                spark.conf.set(skew_conf, prev)
            r["containment_skew_chunked"] = timed(
                lambda: noop(
                    dd.containment_join_prefix(
                        corpus, "doc_id", "text", 0.5, 3, hot_gram_chunk=256
                    )
                )
            )
            r["containment_skew_pairs"] = n_hot * (n_hot - 1)

        if only is None or "containment_skew" in only:
            _containment_skew()

        def _editdist_join():
            # 20k·f digit-dense names (the entity-resolution shape):
            # sequential ids mean MOST single-digit substitutions exist,
            # so the true pair count grows ~linearly with n while the
            # variant-key join stays posting-list bounded
            n = 20_000 * f
            names = spark.range(n).select(
                F.col("id"),
                F.concat(
                    F.lit("Customer#"), F.lpad(F.col("id").cast("string"), 9, "0")
                ).alias("name"),
            ).localCheckpoint(eager=True)
            r["editdist_join"] = timed(
                lambda: noop(dd.editdist1_join(names, "id", "name"))
            )
            r["editdist_join_n"] = n

        if only is None or "editdist_join" in only:
            _editdist_join()

        def _event_transitions():
            # 200k·f events over 10k·f users, 5 types — the q113 shape:
            # lag window on user partitions, then the |types|² grid agg
            n = 200_000 * f
            ev = spark.range(n).select(
                F.col("id").alias("event_id"),
                (F.col("id") % (10_000 * f)).alias("user_id"),
                F.concat(
                    F.lit("t"), (F.col("id") * 7919 % 5).cast("string")
                ).alias("event_type"),
                F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
            ).localCheckpoint(eager=True)
            from pyspark.sql import Window as W

            def run():
                w = W.partitionBy("user_id").orderBy("ts", "event_id")
                seq = ev.select(
                    "event_type",
                    F.lag("event_type").over(w).alias("prev_type"),
                )
                tr = (
                    seq.filter(F.col("prev_type").isNotNull())
                    .groupBy("prev_type", F.col("event_type").alias("next_type"))
                    .agg(F.count(F.lit(1)).alias("n_trans"))
                )
                tot = W.partitionBy("prev_type")
                noop(
                    tr.select(
                        "prev_type", "next_type", "n_trans",
                        F.round(
                            F.col("n_trans").cast("double")
                            / F.sum("n_trans").over(tot),
                            4,
                        ).alias("p_next"),
                    )
                )

            r["event_transitions"] = timed(run)

        if only is None or "event_transitions" in only:
            _event_transitions()

        def _knn_batch():
            # batched kNN join: query-set size grows WITH the corpus
            # (64·f queries over n_emb·f vectors) — the shape where the
            # broadcast-probe strategy eventually dies and shuffle-probe
            # must stay linear-ish
            cents = sim.pick_centroids(emb, 16).localCheckpoint(eager=True)
            assigned = sim.assign_centroids(emb, cents).localCheckpoint(
                eager=True
            )
            qs = emb.filter(F.col("vec_id") % 1000 < 32).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            for flag, salt, label in (
                (False, 1, "knn_batch"),
                (False, 32, "knn_batch_salted"),
                (True, 1, "knn_batch_bcast"),
            ):
                r[label] = timed(
                    lambda flag=flag, salt=salt: noop(
                        sim.knn_ivf(
                            assigned, cents, qs, k=3, nprobe=4,
                            broadcast_probe=flag, probe_salt=salt,
                        )
                    )
                )

        if only is None or "knn_batch" in only:
            _knn_batch()

        results.append(r)
        print(json.dumps(r), flush=True)

    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
