"""Operator-level contracts: closure, range joins, dedup, similarity, text,
multimodal, streaming."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from syntenybrowserv2_etl_spark.operators import (
    closure as closure_ops,
    dedup as dedup_ops,
    multimodal,
    range_join as rj,
    similarity as sim_ops,
    text as text_ops,
)


# --- transitive closure ----------------------------------------------------


def test_closure_diamond(spark):
    # the reference docstring DAG (src/import_ontology.py:71-78)
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "q"), ("b", "c"), ("d", "c"), ("x", "q")],
        ["child", "parent"],
    )
    out = {
        (r["ancestor"], r["descendant"])
        for r in closure_ops.transitive_closure(edges).collect()
    }
    assert out == {
        ("b", "a"),
        ("q", "a"),
        ("c", "a"),
        ("c", "b"),
        ("c", "d"),
        ("q", "x"),
    }


def test_closure_chain_depth(spark):
    n = 20
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(n)], ["child", "parent"]
    )
    cl = closure_ops.transitive_closure(edges)
    assert cl.count() == n * (n + 1) // 2
    counts = {
        r["ancestor"]: r["count"]
        for r in closure_ops.descendant_counts(cl).collect()
    }
    assert counts[f"n{n}"] == n


def test_closure_cycle_guard(spark):
    # is_a must be a DAG: a cycle raises, naming a term on it, instead of
    # converging to the cycle's cross pairs
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["child", "parent"]
    )
    with pytest.raises(ValueError, match=r"cycle through term '[abc]'"):
        closure_ops.transitive_closure(edges)


def test_closure_self_loop(spark):
    edges = spark.createDataFrame([("x", "y"), ("a", "a")], ["child", "parent"])
    with pytest.raises(ValueError, match="cycle through term 'a'"):
        closure_ops.transitive_closure(edges)


def test_closure_keeps_long_ids(spark):
    edges = spark.range(1, 8).select(
        F.col("id").alias("child"), (F.col("id") - 1).alias("parent")
    )
    cl = closure_ops.transitive_closure(edges)
    assert [f.dataType.simpleString() for f in cl.schema] == ["bigint", "bigint"]
    assert cl.count() == 7 * 8 // 2
    assert all(isinstance(v, int) for r in cl.collect() for v in r)


def test_closure_no_edges(spark):
    edges = spark.createDataFrame(
        [(None, "a"), ("b", None)], "child string, parent string"
    )
    cl = closure_ops.transitive_closure(edges)
    assert cl.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in cl.schema] == [
        ("ancestor", "string"),
        ("descendant", "string"),
    ]


def test_descendants_order_ignores_hash_seed():
    """The walk's output order (and so the row order, and the part files,
    of on_pairs) depends on the edges alone, not on the hash seed that
    orders a Python set of strings."""
    import subprocess
    import sys

    prog = (
        "from syntenybrowserv2_etl_spark.operators.closure import descendants\n"
        "edges = [(f'GO:{i // 7}', f'GO:{i + 1}') for i in range(400)]\n"
        "print([(a, list(ds)) for a, ds in descendants(edges).items()])\n"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", prog],
            env={**os.environ, "PYTHONHASHSEED": seed},
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True, check=True,
        ).stdout
        for seed in ("1", "2", "3")
    }
    assert len(outs) == 1


def test_closure_job_count(spark):
    """The closure is one collect of the distinct edges, not a loop of
    Spark rounds: the 20-deep chain closes in at most 2 jobs (the distinct's
    shuffle stage and the collect)."""
    n = 20
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(n)], ["child", "parent"]
    )
    sc = spark.sparkContext
    sc.setJobGroup("closure-job-count", "closure job-count pin")
    try:
        cl = closure_ops.transitive_closure(edges)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("closure-job-count")
    assert 1 <= len(jobs) <= 2, jobs
    assert cl.count() == n * (n + 1) // 2


# --- range joins -----------------------------------------------------------


@pytest.fixture(scope="module")
def genes_blocks(spark):
    genes = spark.createDataFrame(
        [
            (9606, "1", 100, 200, "g1"),
            (9606, "1", 500, 900, "g2"),
            (9606, "2", 100, 200, "g3"),
            (10090, "1", 100, 200, "g4"),
        ],
        ["taxon", "chr", "gs", "ge", "gid"],
    )
    blocks = spark.createDataFrame(
        [
            (9606, "1", 150, 600, "b1"),
            (9606, "2", 1000, 2000, "b2"),
            (10090, "1", 50, 120, "b3"),
        ],
        ["taxon", "chr", "bs", "be", "bid"],
    )
    return genes, blocks


def test_overlap_join(spark, genes_blocks):
    genes, blocks = genes_blocks
    out = rj.overlap_join(
        genes, blocks, on=["taxon", "chr"], left_range=("gs", "ge"), right_range=("bs", "be")
    )
    pairs = {(r["gid"], r["bid"]) for r in out.collect()}
    assert pairs == {("g1", "b1"), ("g2", "b1"), ("g4", "b3")}


def test_binned_overlap_join_matches_plain(spark, genes_blocks):
    genes, blocks = genes_blocks
    plain = rj.overlap_join(
        genes, blocks, on=["taxon", "chr"], left_range=("gs", "ge"), right_range=("bs", "be")
    )
    binned = rj.binned_overlap_join(
        genes, blocks, on=["taxon", "chr"], left_range=("gs", "ge"),
        right_range=("bs", "be"), bin_width=100,
    )
    key = lambda r: (r["gid"], r["bid"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, binned.collect()))
    # binned emits no duplicates by construction
    assert binned.count() == binned.dropDuplicates(["gid", "bid"]).count()


def test_point_in_interval_binned_matches_plain(spark, genes_blocks):
    genes, blocks = genes_blocks
    pts = genes.select("taxon", "chr", F.col("gs").alias("pos"), "gid")
    plain = rj.point_in_interval_join(
        pts, blocks, on=["taxon", "chr"], point_col="pos", range_cols=("bs", "be")
    )
    binned = rj.point_in_interval_join(
        pts, blocks, on=["taxon", "chr"], point_col="pos", range_cols=("bs", "be"),
        bin_width=64,
    )
    key = lambda r: (r["gid"], r["bid"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, binned.collect()))


def test_binned_joins_negative_coordinates(spark):
    """floor-division binning: bins -1 and 0 must not collapse (a
    truncate-toward-zero bin id loses overlaps below the origin)."""
    pts = spark.createDataFrame([(1, -5), (2, -101), (3, 3)], ["pid", "pos"])
    ivs = spark.createDataFrame(
        [(10, -110, -100), (11, -8, -2), (12, 1, 7)], ["iid", "s", "e"]
    )
    plain = rj.point_in_interval_join(
        pts, ivs, on=[], point_col="pos", range_cols=("s", "e")
    )
    binned = rj.point_in_interval_join(
        pts, ivs, on=[], point_col="pos", range_cols=("s", "e"), bin_width=4
    )
    key = lambda r: (r["pid"], r["iid"])  # noqa: E731
    expect = sorted(map(key, plain.collect()))
    assert expect == [(1, 11), (2, 10), (3, 12)]
    assert sorted(map(key, binned.collect())) == expect

    b_plain = rj.overlap_join(
        ivs, ivs.select(F.col("iid").alias("jid"), F.col("s").alias("s2"),
                        F.col("e").alias("e2")),
        on=[], left_range=("s", "e"), right_range=("s2", "e2"),
    )
    b_binned = rj.binned_overlap_join(
        ivs, ivs.select(F.col("iid").alias("jid"), F.col("s").alias("s2"),
                        F.col("e").alias("e2")),
        on=[], left_range=("s", "e"), right_range=("s2", "e2"), bin_width=4,
    )
    k2 = lambda r: (r["iid"], r["jid"])  # noqa: E731
    assert sorted(map(k2, b_binned.collect())) == sorted(map(k2, b_plain.collect()))


def test_lsh_bands_must_divide_num_hashes(spark):
    with pytest.raises(ValueError, match="must divide"):
        dedup_ops.minhash_lsh_candidates(
            spark.range(1), "id", num_hashes=10, bands=4
        )


# --- dedup -----------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "The  Quick Brown Fox jumps over the lazy dog"),  # case/ws dup of 1
            # near-dup of 1: only the final token differs, so just 1 of 7
            # 3-shingles changes (jaccard 6/8 = 0.75 — solidly above any
            # LSH band threshold, unlike a mid-sentence edit which touches
            # k shingles at once)
            (4, "the quick brown fox jumps over the lazy cat"),
            (5, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dupe_count"] for r in dedup_ops.exact_dedup(docs, "text", "doc_id").collect()}
    assert out == {1: 3, 4: 1, 5: 1}  # min-id winner; 1≡2≡3 after normalization


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup_ops.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.3, max_df=None
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0 and pairs[(2, 3)] == 1.0
    assert 0.3 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    sh = dedup_ops.shingles(docs, "doc_id", "text", k=3)
    sig = dedup_ops.minhash_signatures(sh, "doc_id", num_hashes=16)
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup_ops.minhash_lsh_candidates(sig, "doc_id", 16, bands=8).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= cand  # identical sets always collide
    assert (1, 4) in cand  # high-jaccard near-dup caught at rows_per_band=2
    assert (1, 5) not in cand


def test_simhash_near_dups_close(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup_ops.simhash_fingerprint(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2] == fp[3]
    ham_near = bin(fp[1] ^ fp[4]).count("1")
    ham_far = bin(fp[1] ^ fp[5]).count("1")
    assert ham_near < ham_far


def test_embedding_near_dupes(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup_ops.embedding_near_dupes(
            emb, "vec_id", "embedding", threshold=0.95, bucket_planes=4
        ).collect()
    }
    assert (1, 2) in out and (1, 3) not in out


def test_embedding_lsh_planes_are_distinct(spark):
    """Regression: the per-plane hyperplane signs must actually vary by plane.

    A two-parameter lambda (``lambda i, p=p``) inside F.transform is
    dispatched by pyspark as the binary (element, index) form — the plane
    number gets rebound to the array index at runtime, every plane computes
    the same sign pattern, and the bucket string degenerates to one repeated
    bit (2 effective buckets instead of up to 2^planes). On spread-out
    vectors the candidate set then explodes; pin that 6 planes carve
    strictly finer buckets than 1 plane, via the operator's own hash family.
    """
    import math

    from syntenybrowserv2_etl_spark.functions import hashing as H

    rows = [
        (i, [math.cos(a), math.sin(a), math.cos(3 * a), math.sin(5 * a)])
        for i, a in enumerate(x / 7.0 for x in range(60))
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dim_idx = F.sequence(F.lit(0), F.size("embedding") - 1)

    def plane_sign(p):
        return lambda i: (
            H.md5_long(F.concat_ws(":", F.lit(7), F.lit(p), i)) % 2
        ) * 2 - 1

    # the sign patterns themselves must differ across planes
    pats = emb.limit(1).select(
        *[F.transform(dim_idx, plane_sign(p)).alias(f"s{p}") for p in range(4)]
    ).collect()[0]
    assert len({tuple(pats[f"s{p}"]) for p in range(4)}) > 1

    def n_buckets(n_planes):
        sig = []
        for p in range(n_planes):
            signed = F.zip_with(
                F.col("embedding"), F.transform(dim_idx, plane_sign(p)),
                lambda v, s: v * s,
            )
            dot = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
            sig.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)).cast("string"))
        return emb.select(F.concat_ws("", *sig).alias("b")).distinct().count()

    assert n_buckets(6) > n_buckets(1) >= 2


# --- similarity ------------------------------------------------------------


def test_knn_bruteforce_exact(spark):
    import math

    rows = [(i, [math.cos(i / 10.0), math.sin(i / 10.0)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim_ops.knn_bruteforce(emb, q, k=3).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]


def test_knn_ivf_recall(spark):
    import math

    rows = [(i, [math.cos(i / 7.0), math.sin(i / 7.0), 0.1, 0.2]) for i in range(100)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {r["vec_id"] for r in sim_ops.knn_bruteforce(emb, q, k=5).collect()}
    cents = sim_ops.pick_centroids(emb, 8)
    assigned = sim_ops.assign_centroids(emb, cents)
    approx = {r["vec_id"] for r in sim_ops.knn_ivf(assigned, cents, q, k=5, nprobe=4).collect()}
    assert len(exact & approx) >= 3  # recall@5 ≥ 0.6 with nprobe=4 of 8 cells


# --- text ------------------------------------------------------------------


def test_text_profile(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in a hat for a while"),
            (2, "der hund und die katze ist nicht auf dem tisch"),
            (3, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r.asDict() for r in text_ops.text_profile(df, "doc_id", "text").collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[2]["lang_pred"] == "de"
    assert out[3]["lang_pred"] == "und"
    assert out[1]["n_tokens"] == 12
    assert out[3]["punct_ratio"] == 0.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", text_ops.fingerprint("text").alias("fp")).collect()}
    assert fp[1] == fp[2] != fp[3]


# --- multimodal ------------------------------------------------------------


def test_multimodal_features(spark):
    media = multimodal.synthetic_media(spark, 12)
    out = multimodal.extract_features(media).collect()
    assert len(out) == 12
    for r in out:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] >= 128
    # deterministic across runs
    again = multimodal.extract_features(media).collect()
    assert sorted([tuple(r["feature"]) for r in out]) == sorted(
        [tuple(r["feature"]) for r in again]
    )


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, 12)
    plan = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert all(r["sample_ms"] % 1000 == 0 for r in rows)
    vids = media.filter(F.col("kind") == "video").collect()
    expected = sum(v["duration_ms"] // 1000 + 1 for v in vids)
    assert len(rows) == expected


# --- as-of join ------------------------------------------------------------


def test_asof_join_basic(spark):
    from syntenybrowserv2_etl_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d"), (3, 10, "e")],
        ["k", "ts", "lv"],
    )
    right = spark.createDataFrame(
        [(1, 5, "r5"), (1, 15, "r15"), (2, 10, "r10"), (2, 11, "r11")],
        ["k", "ts", "rv"],
    )
    out = {
        (r["k"], r["ts"]): r["rv"]
        for r in asof.asof_join(left, right, on=["k"], left_ts="ts").collect()
    }
    assert out == {
        (1, 10): "r5",   # latest right at-or-before 10
        (1, 20): "r15",
        (1, 5): "r5",    # inclusive: equal ts matches
        (2, 10): "r10",  # r11 is in the future → excluded
        (3, 10): None,   # no right rows for key → left join NULL
    }


def test_asof_join_tolerance(spark):
    from syntenybrowserv2_etl_spark.operators import asof

    left = spark.createDataFrame([(1, 100, "a"), (1, 200, "b")], ["k", "ts", "lv"])
    right = spark.createDataFrame([(1, 95, "r95")], ["k", "ts", "rv"])
    out = {
        (r["k"], r["ts"]): r["rv"]
        for r in asof.asof_join(
            left, right, on=["k"], left_ts="ts", tolerance=F.lit(10)
        ).collect()
    }
    # 100-95=5 within tolerance 10; 200-95=105 outside → nulled
    assert out == {(1, 100): "r95", (1, 200): None}


def test_asof_join_prefix_and_dedup(spark):
    from syntenybrowserv2_etl_spark.operators import asof

    left = spark.createDataFrame([(1, 10, "x")], ["k", "ts", "rv"])  # name collision
    right = spark.createDataFrame(
        [(1, 10, "dup1"), (1, 10, "dup2")], ["k", "ts", "rv"]
    )
    rows = asof.asof_join(
        left, right, on=["k"], left_ts="ts", right_prefix="r_", dedup_right=True
    ).collect()
    assert len(rows) == 1
    assert rows[0]["rv"] == "x"
    assert rows[0]["r_rv"] == "dup2"  # LWW dedup keeps max payload


# --- skew-mitigation join ---------------------------------------------------


def test_salted_join_matches_plain(spark):
    from syntenybrowserv2_etl_spark.operators import skew

    # heavily skewed: 90% of fact rows share key 0
    fact = spark.createDataFrame(
        [(0 if i % 10 else i % 3, i) for i in range(200)], ["k", "fid"]
    )
    dim = spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")], ["k", "name"])
    plain = {(r["fid"], r["name"]) for r in fact.join(dim, "k").collect()}
    salted = {
        (r["fid"], r["name"])
        for r in skew.salted_join(fact, dim, ["k"], salt_buckets=8).collect()
    }
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    from syntenybrowserv2_etl_spark.operators import skew

    fact = spark.createDataFrame([(1, 10), (9, 11)], ["k", "fid"])
    dim = spark.createDataFrame([(1, "one")], ["k", "name"])
    rows = {r["fid"]: r["name"] for r in skew.salted_join(fact, dim, ["k"], 4, "left").collect()}
    assert rows == {10: "one", 11: None}


def test_salted_join_rejects_right_joins(spark):
    from syntenybrowserv2_etl_spark.operators import skew
    import pytest as _pytest

    df = spark.range(1).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError):
        skew.salted_join(df, df, ["k"], 4, "full")


def test_salted_join_tiebreaker_spreads_identical_rows(spark):
    """Byte-identical big-side rows hash to one salt bucket (the full-row
    xxhash64 can't tell them apart); a tiebreaker expression folded into
    the salt must spread them — and results stay identical either way."""
    from syntenybrowserv2_etl_spark.operators import skew

    # 400 literal clones of one row: the classic raw-corpus hot-key shape
    fact = spark.createDataFrame([(0, "same") for _ in range(400)], ["k", "v"])
    dim = spark.createDataFrame([(0, "zero")], ["k", "name"])

    def bucket_spread(tb):
        b = fact.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(
                    *[F.col(c) for c in fact.columns],
                    *([tb] if tb is not None else []),
                ),
                F.lit(8),
            ),
        )
        return b.select("__salt").distinct().count()

    assert bucket_spread(None) == 1  # degenerate without a tiebreaker
    assert bucket_spread(F.monotonically_increasing_id()) > 1

    out = skew.salted_join(
        fact, dim, ["k"], salt_buckets=8,
        tiebreaker=F.monotonically_increasing_id(),
    )
    assert out.count() == 400
    assert {tuple(r) for r in out.collect()} == {(0, "same", "zero")}


def test_embedding_neardup_star_links_to_representative(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (5, [0.998, 0.02, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),  # different bucket
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup_ops.embedding_near_dupes(
            emb, "vec_id", "embedding", threshold=0.95, bucket_planes=4, link="star"
        ).collect()
    }
    # star: 2 and 5 each link to bucket representative 1; no (2,5) pair
    assert out == {(1, 2), (1, 5)}


# --- connected components ---------------------------------------------------


def test_connected_components_chain_and_islands(spark):
    from syntenybrowserv2_etl_spark.operators import components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["comp"] for r in components.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_end_to_end(spark, docs):
    from syntenybrowserv2_etl_spark.operators import components

    out = {
        r["doc_id"]: r["cluster_rep"]
        for r in components.dedup_clusters(docs, "doc_id", "text").collect()
    }
    # docs fixture: 1≡2≡3 after normalization; 4 and 5 are singletons
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


# --- deterministic sampling / quantization ---------------------------------


def test_hash_sample_deterministic_and_stable(spark):
    from syntenybrowserv2_etl_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.3).collect()}
    s2 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.3).collect()}
    assert s1 == s2  # rerun-identical (no RNG state)
    # growth-stable: fate of existing ids unchanged when the corpus grows
    bigger = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    s3 = {r["doc_id"] for r in sampling.hash_sample(bigger, "doc_id", 0.3).collect()}
    assert {i for i in s3 if i < 2000} == s1
    # nested: a smaller fraction is a subset of a larger one (same seed)
    s_small = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.1).collect()}
    assert s_small <= s1
    assert abs(len(s1) / 2000 - 0.3) < 0.05
    # different seeds decorrelate
    s_seed = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.3, seed=9).collect()}
    assert s_seed != s1


def test_train_test_split_disjoint_exhaustive(spark):
    from syntenybrowserv2_etl_spark.operators import sampling

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = sampling.train_test_split(df, "doc_id", test_fraction=0.2)
    counts = dict(out.groupBy("split").count().collect())
    assert counts["test"] + counts["train"] == 1000
    assert abs(counts["test"] / 1000 - 0.2) < 0.05


def test_stratified_hash_sample_fractions(spark):
    from syntenybrowserv2_etl_spark.operators import sampling

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = sampling.stratified_hash_sample(
        df, "doc_id", "lang", {"en": 0.1, "de": 1.0}
    )
    got = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in got}
    assert by_lang["de"] == 1000  # fraction 1.0 keeps every row
    assert abs(by_lang["en"] / 1000 - 0.1) < 0.05
    # absent stratum -> default 0.0 -> dropped
    df2 = spark.createDataFrame([(1, "fr")], ["doc_id", "lang"])
    assert sampling.stratified_hash_sample(
        df2, "doc_id", "lang", {"en": 1.0}
    ).count() == 0


def test_quantize_int8_bounds_and_reconstruction(spark):
    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [3.0])],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in sim_ops.quantize_int8(emb).collect()}
    assert out[1]["codes"] == [64, -127, 32, 0]  # max|v|=1.0 -> scale=1/127
    assert out[1]["scale"] == pytest.approx(1.0 / 127)
    assert out[2]["codes"] == [0, 0, 0, 0]  # zero vector: no div-by-zero
    assert out[3]["codes"] == [127]
    # reconstruction error bounded by scale/2 per dim
    r = out[1]
    for v, c in zip([0.5, -1.0, 0.25, 0.0], r["codes"]):
        assert abs(v - c * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_multimodal_resize(spark):
    media = multimodal.synthetic_media(spark, 12)
    out = {r["media_id"]: r for r in multimodal.resize_images(media, 224, 224).collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert set(out) == set(src)  # schema-in = schema-out, row-for-row
    for mid, r in out.items():
        if r["kind"] == "image":
            assert (r["width"], r["height"]) == (224, 224)
            assert r["payload"] != src[mid]["payload"]  # re-encoded
        else:  # non-images pass through untouched
            assert r["payload"] == src[mid]["payload"]
            assert r["width"] == src[mid]["width"]
    # composes with downstream media ops (same contract)
    feats = multimodal.extract_features(multimodal.resize_images(media)).collect()
    assert len(feats) == 12
    # deterministic
    again = {r["media_id"]: r["payload"] for r in multimodal.resize_images(media, 224, 224).collect()}
    assert {m: r["payload"] for m, r in out.items()} == again


def test_winnowing_shared_substring_guarantee(spark):
    # any shared substring of length >= k + window - 1 (= 11) must yield
    # at least one shared fingerprint; disjoint texts share none
    shared = "zqxwvutsrqponm"  # 14 chars, embedded in both docs
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"epsilon {shared} zeta eta theta"),
            (3, "completely different content here with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: set(r["fingerprints"])
        for r in text_ops.rolling_fingerprints(df, "text", k=8, window=4).collect()
    }
    assert out[1] & out[2], "shared 14-char substring must share a fingerprint"
    assert not (out[1] & out[3])
    assert not (out[2] & out[3])


def test_kmeans_objective_monotone(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def objective(cents):
        prof = sim_ops.cluster_profile(emb, cents).collect()
        n = sum(r["n_vectors"] for r in prof)
        return sum(r["n_vectors"] * r["mean_cosine"] for r in prof) / n

    objs = [
        objective(sim_ops.kmeans_centroids(emb, k=4, iters=i)) for i in range(3)
    ]
    # spherical updates: mean cosine to assigned centroid never decreases
    assert objs[1] >= objs[0] - 1e-6
    assert objs[2] >= objs[1] - 1e-6
    # centroids are unit-normalized after training
    cents = sim_ops.kmeans_centroids(emb, k=4, iters=2).collect()
    for r in cents:
        nrm = sum(x * x for x in r["centroid"]) ** 0.5
        assert abs(nrm - 1.0) < 1e-3


def test_kmeans_wide_dim_plan_constant(spark):
    """Production embedding widths: the update step must not grow the plan
    with dimension (r1 built one avg aggregate PER dim). At dim 512 the
    round still runs through a single posexplode aggregate and returns
    unit-normalized centroids of the right width."""
    import math

    rows = [
        (i, [math.sin(i * 0.37 + j * 0.11) for j in range(512)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim_ops.kmeans_centroids(df, k=4, iters=2).collect()
    assert 1 <= len(cents) <= 4
    for r in cents:
        assert len(r["centroid"]) == 512
        nrm = sum(x * x for x in r["centroid"]) ** 0.5
        assert abs(nrm - 1.0) < 1e-3


def test_kmeans_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {r["centroid_id"]: list(r["centroid"]) for r in sim_ops.kmeans_centroids(emb, k=4, iters=2).collect()}
    b = {r["centroid_id"]: list(r["centroid"]) for r in sim_ops.kmeans_centroids(emb, k=4, iters=2).collect()}
    assert set(a) == set(b)
    for cid in a:
        assert all(abs(x - y) < 1e-5 for x, y in zip(a[cid], b[cid]))


def test_approx_distinct_within_rsd_of_exact(spark):
    """q38 is now SELF-verifying: it emits the exact per-group distinct
    (oracle-hashed) plus a within_bound flag asserting the HLL++ estimate
    sits inside the 3·rsd envelope. Pin (a) every group's flag is true,
    (b) the exact counts agree with q37's independent formulation."""
    from syntenybrowserv2_etl_spark import queries as q

    sf = "/root/testdata/sf0.001"
    exact = {
        r["month"]: r["n_cust"]
        for r in q.REGISTRY["q37_distinct_counts"].spark_fn(spark, sf).collect()
    }
    rows = q.REGISTRY["q38_approx_distinct"].spark_fn(spark, sf).collect()
    assert {r["month"] for r in rows} == set(exact)
    for r in rows:
        assert r["within_bound"] is True, r
        assert r["n_cust"] == exact[r["month"]], r


# --- curation / skew -------------------------------------------------------

from syntenybrowserv2_etl_spark.operators import curation as cur_ops
from syntenybrowserv2_etl_spark.operators import skew as skew_ops


def test_contaminated_ids(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally unrelated words here only once"),
            (3, "prefix alpha beta gamma delta epsilon suffix"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma delta epsilon yy")], ["doc_id", "text"]
    )
    hits = {
        r["doc_id"]
        for r in cur_ops.contaminated_ids(train, bench, "doc_id", "text", k=5).collect()
    }
    assert hits == {1, 3}


def test_boilerplate_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "shared sentence. unique one."),
            (2, "shared sentence. another unique."),
            (3, "totally distinct text here."),
        ],
        ["doc_id", "text"],
    )
    m = {
        r["doc_id"]: (r["n_sentences"], r["n_shared"])
        for r in cur_ops.boilerplate_stats(df, "doc_id", "text").collect()
    }
    assert m == {1: (2, 1), 2: (2, 1), 3: (1, 0)}


def test_upsample_by_weight(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 100 else "b") for i in range(200)], ["id", "s"]
    )
    whole = cur_ops.upsample_by_weight(df, "id", "s", {"a": 2.0, "b": 0.0})
    m = {r["s"]: r["count"] for r in whole.groupBy("s").count().collect()}
    assert m == {"a": 200}  # exactly 2 copies each; weight-0 stratum dropped
    # fractional weights keep a deterministic subset — same ids every run
    frac = lambda: {  # noqa: E731
        (r["id"], r["copy"])
        for r in cur_ops.upsample_by_weight(df, "id", "s", {"b": 0.5})
        .filter("s = 'b'")
        .collect()
    }
    one, two = frac(), frac()
    assert one == two
    assert 20 <= len(one) <= 80  # ~50 of 100, hash-chosen


def test_upsample_non_binary_exact_weight(spark):
    """ADVICE r2: 0.29 is not binary-exact — 0.29*1e6 = 289999.999... in
    doubles, so FLOOR would put Spark one lattice unit below a DECIMAL
    oracle. ROUND-before-cast makes both engines use threshold 290000;
    pin Spark against the exact-integer lattice computed in Python."""
    import hashlib

    from syntenybrowserv2_etl_spark.operators.sampling import _DENOM

    def md5_long_py(s: str) -> int:  # python twin of hashing.md5_long
        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    df = spark.createDataFrame([(i, "x") for i in range(500)], ["id", "s"])
    got = {
        r["id"]
        for r in cur_ops.upsample_by_weight(df, "id", "s", {"x": 0.29}, seed=7)
        .select("id")
        .collect()
    }
    thr = round(0.29 * _DENOM)  # exact 290000, the DECIMAL-oracle threshold
    want = {i for i in range(500) if md5_long_py(f"{i}:7") % _DENOM < thr}
    assert got == want


def test_pack_sequences(spark):
    docs = spark.createDataFrame([(i, 100) for i in range(50)], ["id", "n_tok"])
    packed = cur_ops.pack_sequences(docs, "id", "n_tok", budget=300, shards=4)
    assert packed.count() == 50  # every doc placed exactly once
    prof = packed.groupBy("shard", "seq").agg(F.count(F.lit(1)).alias("n")).collect()
    # equal 100-token docs, 300 budget: a sequence can seat at most 3 docs
    assert all(r["n"] <= 3 for r in prof)
    # deterministic across runs
    a = sorted(map(tuple, packed.select("id", "shard", "seq").collect()))
    b = sorted(
        map(
            tuple,
            cur_ops.pack_sequences(docs, "id", "n_tok", budget=300, shards=4)
            .select("id", "shard", "seq")
            .collect(),
        )
    )
    assert a == b


def test_salted_join_equals_plain(spark):
    big = spark.createDataFrame([(i % 3, i) for i in range(1000)], ["k", "v"])
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], ["k", "tag"])
    salted = skew_ops.salted_join(big, small, "k", salt_buckets=4)
    plain = big.join(small, "k")
    assert salted.count() == plain.count() == 1000
    sg = sorted(map(tuple, salted.groupBy("k", "tag").count().collect()))
    pg = sorted(map(tuple, plain.groupBy("k", "tag").count().collect()))
    assert sg == pg


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob@x.co or 10.1.2.3 ok"), (2, "clean text")],
        ["id", "t"],
    )
    rows = {r["id"]: r for r in text_ops.scrub_pii(df, "t").collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_ips"] == 1
    assert "<EMAIL>" in rows[1]["scrubbed"] and "<IP>" in rows[1]["scrubbed"]
    assert "bob@" not in rows[1]["scrubbed"]
    assert rows[2]["n_emails"] == 0 and rows[2]["scrubbed"] == "clean text"


def test_gopher_quality_signals(spark):
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in a house that it liked for days"),
            (2, ""),  # empty -> 0 words, fails everything
            (3, "### ### ### ###"),  # symbols, no alpha words
            (4, "one"),  # single word
        ],
        ["id", "text"],
    )
    rows = {
        r["id"]: r
        for r in text_ops.gopher_quality(
            df, "id", "text", min_words=5, max_words=100
        ).collect()
    }
    assert rows[1]["n_words"] == 14 and rows[1]["passes"]
    assert rows[1]["stop_hits"] >= 2 and rows[1]["alpha_frac"] == 1.0
    assert rows[2]["n_words"] == 0 and not rows[2]["passes"]
    assert rows[3]["alpha_frac"] == 0.0 and not rows[3]["r_alpha"]
    assert rows[3]["symbol_ratio"] > 0.1 and not rows[3]["r_symbol"]
    assert rows[4]["n_words"] == 1 and not rows[4]["r_words"]


def test_repetition_profile(spark):
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "click here click here click here"),  # 5 bigrams, top=3
            (2, "all words differ completely here"),   # 4 bigrams all distinct
            (3, "solo"),                               # 0 bigrams
            (4, ""),                                   # 0 bigrams
        ],
        ["id", "text"],
    )
    m = {
        r["id"]: (r["n_bigrams"], r["n_distinct_bigrams"], r["top_bigram_count"])
        for r in text_ops.repetition_profile(df, "id", "text").collect()
    }
    assert m[1] == (5, 2, 3)  # 'click here' x3, 'here click' x2
    assert m[2] == (4, 4, 1)
    assert m[3] == (0, 0, 0)
    assert m[4] == (0, 0, 0)


def test_chunk_documents(spark):
    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")], ["id", "text"])
    rows = (
        cur_ops.chunk_documents(df, "id", "text", chunk_tokens=4, overlap=1)
        .orderBy("id", "chunk_idx")
        .collect()
    )
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    # doc 1: stride 3 -> starts 0,3,6 cover [0,4),[3,7),[6,10) -> 3 chunks
    c1 = by_id[1]
    assert [(r["start_tok"], r["n_chunk_tokens"]) for r in c1] == [
        (0, 4), (3, 4), (6, 4),
    ]
    assert c1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert c1[1]["chunk_text"] == "w3 w4 w5 w6"
    assert c1[2]["chunk_text"] == "w6 w7 w8 w9"
    # short doc: one chunk, whole text; empty doc: one empty chunk
    assert [(r["n_chunk_tokens"], r["chunk_text"]) for r in by_id[2]] == [(2, "a b")]
    assert [(r["n_chunk_tokens"], r["chunk_text"]) for r in by_id[3]] == [(0, "")]
    # overlap guard
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cur_ops.chunk_documents(df, "id", "text", chunk_tokens=4, overlap=4)


def test_unigram_logprob(spark):
    import math

    from syntenybrowserv2_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")], ["id", "text"]
    )
    # corpus: a:2 b:2 c:1, N=5
    rows = {r["id"]: r for r in text_ops.unigram_logprob(df, "id", "text").collect()}
    lp = lambda c: math.log10(c) - math.log10(5)  # noqa: E731
    assert rows[1]["n_toks"] == 3 and rows[1]["n_scored"] == 3
    assert rows[1]["mean_logprob"] == pytest.approx((2 * lp(2) + lp(2)) / 3)
    assert rows[2]["mean_logprob"] == pytest.approx((lp(2) + lp(1)) / 2)
    assert rows[3]["n_toks"] == 0 and rows[3]["n_scored"] == 0
    assert rows[3]["mean_logprob"] is None
    # min_df prunes rare tokens from scoring (OOV floor) but not from N
    pruned = {
        r["id"]: r
        for r in text_ops.unigram_logprob(df, "id", "text", min_df=2).collect()
    }
    assert pruned[2]["n_scored"] == 1
    assert pruned[2]["mean_logprob"] == pytest.approx(lp(2))


def test_jaccard_verify_pairs(spark):
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),  # shingles {abc, bcd}
            (2, "a b c e"),  # shingles {abc, bce}
            (3, "x y z w"),  # shingles {xyz, yzw}
        ],
        ["id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"], r["jaccard"])
        for r in dd.jaccard_verify_pairs(docs, pairs, "id", "text", k=3).collect()
    }
    assert got[(1, 2)] == (1, 3, pytest.approx(1 / 3))
    assert got[(1, 3)] == (0, 4, 0.0)


def test_dedup_corpus_end_to_end(spark):
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("dog", "cat")  # 1 of 13 words differs
    docs = spark.createDataFrame(
        [
            (10, base),
            (11, base),            # exact dup of 10
            (12, near),            # near dup (jaccard 8/14 over 3-shingles)
            (13, "completely unrelated content with distinct vocabulary"),
        ],
        ["id", "text"],
    )
    reps = {
        r["id"]: r["cluster_rep"]
        for r in dd.dedup_corpus(docs, "id", "text").collect()
    }
    assert reps[10] == 10 and reps[11] == 10
    assert reps[12] == 10  # pulled in through the verified near-dup edge
    assert reps[13] == 13


def test_lsh_star_links_same_components(spark):
    """Star links within LSH buckets yield the same candidate *components*
    as all-pairs links (the CC input is what matters for dedup); the star
    edge list is the linear-size spanning structure."""
    from syntenybrowserv2_etl_spark.operators import components as comps
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = dd.minhash_signatures_inline(d, "doc_id", "text", k=3, num_hashes=8)
    full = dd.minhash_lsh_candidates(sig, "doc_id", 8, 4, link="all")
    star = dd.minhash_lsh_candidates(sig, "doc_id", 8, 4, link="star")
    assert star.count() <= full.count()
    comp_full = {
        (r["id"], r["comp"])
        for r in comps.connected_components(full).collect()
    }
    comp_star = {
        (r["id"], r["comp"])
        for r in comps.connected_components(star).collect()
    }
    assert comp_full == comp_star


# --- round 5: span dedup, deterministic shuffle, bloom incremental ---------


def test_dedup_spans_semantics(spark):
    """First corpus-wide occurrence of each span survives; documents
    reassemble in span order; empty and fully-deduped docs keep a row."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # spans(k=4): abcd | efgh | ij
            (2, "a b c d x y z w"),       # abcd is doc1's → dropped
            (3, ""),                      # no spans at all
            (4, "e f g h"),               # single span, owned by doc1
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in cur_ops.dedup_spans(docs, "doc_id", "text", span_tokens=4).collect()
    }
    assert len(out) == 4
    assert out[1]["clean_text"] == "a b c d e f g h i j"
    assert (out[1]["n_spans"], out[1]["n_spans_kept"]) == (3, 3)
    assert out[2]["clean_text"] == "x y z w"
    assert (out[2]["n_spans"], out[2]["n_spans_kept"]) == (2, 1)
    assert (out[3]["n_spans"], out[3]["n_spans_kept"]) == (0, 0)
    assert out[3]["clean_text"] == ""
    assert (out[4]["n_spans"], out[4]["n_spans_kept"]) == (1, 0)
    assert out[4]["clean_text"] == ""


def test_deterministic_shuffle_is_a_reproducible_permutation(spark):
    from syntenybrowserv2_etl_spark.operators import sampling as samp

    docs = spark.range(200).select(F.col("id").alias("doc_id"))
    a = samp.deterministic_shuffle(docs, "doc_id", n_shards=4, seed=7)
    rows = a.collect()
    # every id exactly once; shards in range; pos contiguous 1..|shard|
    assert sorted(r["doc_id"] for r in rows) == list(range(200))
    by_shard = {}
    for r in rows:
        assert 0 <= r["shard"] < 4
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # bit-reproducible across runs and partitionings
    b = samp.deterministic_shuffle(
        docs.repartition(13), "doc_id", n_shards=4, seed=7
    )
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in b.collect()} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in rows
    }
    # a different seed produces a different order (not the identity check,
    # a correlation check: some id changes (shard, pos))
    c = samp.deterministic_shuffle(docs, "doc_id", n_shards=4, seed=8)
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in c.collect()} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in rows
    }


def test_deterministic_shuffle_rejects_column_collision(spark):
    """Inputs already carrying shard/pos must raise instead of being
    silently overwritten with unrelated values."""
    import pytest as _pytest

    from syntenybrowserv2_etl_spark.operators import sampling as samp

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(3).alias("shard")
    )
    with _pytest.raises(ValueError, match="shard"):
        samp.deterministic_shuffle(docs, "doc_id", n_shards=4)


def test_bloom_incremental_dedup_contract(spark):
    """is_dup agrees exactly with the anti-join truth; bloom has zero
    false negatives; the false-positive excess respects a loose fpp bound."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} alpha beta") for i in range(300)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        # 100 true dups (same text, new ids), 200 genuinely new
        [(1000 + i, f"corpus document number {i} alpha beta") for i in range(100)]
        + [(2000 + i, f"fresh unseen text {i} gamma delta") for i in range(200)],
        ["doc_id", "text"],
    )
    out = dd.bloom_incremental_dedup(
        corpus, batch, "doc_id", "text", expected_corpus_rows=300, fpp=0.01
    ).collect()
    assert len(out) == 300
    truth = {r["doc_id"]: r["doc_id"] < 2000 for r in out}  # ids 1000-1099 are dups
    for r in out:
        assert r["is_dup"] == truth[r["doc_id"]], r
        if r["is_dup"]:
            assert r["bloom_hit"], f"false negative on {r['doc_id']}"
        if not r["bloom_hit"]:
            assert not r["is_dup"]
    fp = sum(1 for r in out if r["bloom_hit"] and not r["is_dup"])
    assert fp <= 20  # 200 new rows @ fpp=0.01 → expect ~2; 20 = 10× slack


def test_bpe_merges_textbook_example(spark):
    """The Sennrich et al. walkthrough corpus learns the expected merges
    with exact weighted counts."""
    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest widest"),
            (2, "low lowest newest"),
        ],
        ["doc_id", "text"],
    )
    got = [
        (r["rank"], r["pair"], r["merged"], r["pair_count"])
        for r in sorted(
            txt.bpe_merge_table(docs, "text", n_merges=6).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == [
        (1, "e s", "es", 8),
        (2, "es t", "est", 8),
        (3, "l o", "lo", 7),
        (4, "lo w", "low", 7),
        (5, "e w", "ew", 5),
        (6, "ew est", "ewest", 5),
    ]


def test_bpe_exhaustion_emits_no_rows(spark):
    """When the pair space runs out before n_merges, later rounds emit
    nothing instead of failing or looping."""
    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    rows = txt.bpe_merge_table(docs, "text", n_merges=4).collect()
    # only one mergeable pair exists ('a b'); after it merges, the single
    # fused symbol has no neighbors
    assert [(r["rank"], r["pair"]) for r in rows] == [(1, "a b")]


def test_bpe_segment_vocab_prices_words_exactly(spark):
    """After the 6 textbook merges, the learned segmentation prices each
    word with its exact piece count, and every corpus word is priced."""
    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest newest widest widest"),
            (2, "low lowest newest"),
        ],
        ["doc_id", "text"],
    )
    seg = {
        r["word"]: (r["segmented"], r["n_pieces"])
        for r in txt.bpe_segment_vocab(docs, "text", n_merges=6).collect()
    }
    # merges learned: es, est, lo, low, ew, ewest
    assert seg["low"] == ("low", 1)
    assert seg["lower"] == ("low e r", 3)
    assert seg["newest"] == ("n ewest", 2)
    assert seg["widest"] == ("w i d est", 4)
    assert seg["lowest"] == ("low est", 2)
    assert set(seg) == {"low", "lower", "newest", "widest", "lowest"}


def test_bloom_incremental_duplicate_batch_ids_no_fanout(spark):
    """A batch that repeats an id (retried ingest) must yield exactly one
    output row per batch row, and the verdict must be per-CONTENT: the
    same id carrying a known text and a new text (retry + edit) gets
    is_dup True for the former, False for the latter."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    corpus = spark.createDataFrame([(1, "known text here")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (7, "known text here"),
            (7, "known text here"),
            (7, "brand new edited text"),
            (8, "new text"),
        ],
        ["doc_id", "text"],
    )
    out = dd.bloom_incremental_dedup(
        corpus, batch, "doc_id", "text", expected_corpus_rows=1
    ).collect()
    assert len(out) == 4
    assert sorted((r["doc_id"], r["text"], r["is_dup"]) for r in out) == [
        (7, "brand new edited text", False),
        (7, "known text here", True),
        (7, "known text here", True),
        (8, "new text", False),
    ]
    for r in out:
        if r["is_dup"]:
            assert r["bloom_hit"]  # content-keyed: no false negatives


def test_bloom_incremental_null_text_is_new(spark):
    """NULL-text batch rows are unhashable: they must come out with
    bloom_hit = is_dup = False (not NULL), preserving the documented
    boolean contract and the is_dup ⇒ bloom_hit invariant."""
    from pyspark.sql import types as T

    from syntenybrowserv2_etl_spark.operators import dedup as dd

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    corpus = spark.createDataFrame([(1, "known text here")], schema)
    batch = spark.createDataFrame(
        [(7, "known text here"), (8, None), (9, "fresh")], schema
    )
    out = {
        r["doc_id"]: (r["bloom_hit"], r["is_dup"])
        for r in dd.bloom_incremental_dedup(
            corpus, batch, "doc_id", "text", expected_corpus_rows=1
        ).collect()
    }
    assert out == {7: (True, True), 8: (False, False), 9: (False, False)}


# --- real PNG/WAV decode kernels (round 6) ---------------------------------


def _make_png(w, h, pixel_rows, ctype=2, filters=None):
    """Minimal PNG encoder for test fixtures: 8-bit, non-interlaced.
    pixel_rows = list of rows, each a bytes of w*channels samples;
    filters = per-row filter type (default all 0)."""
    import struct
    import zlib

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    filters = filters or [0] * h
    raw = b"".join(bytes([f]) + bytes(row) for f, row in zip(filters, pixel_rows))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(samples, n_ch=1, rate=8000):
    import struct

    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    data = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    data += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(data)) + data


def test_png_decode_real_exact_channel_means():
    """A 2x2 RGB PNG with known pixels decodes to exact channel means and
    quadrant luminances — a REAL inflate + unfilter, not the stub."""
    # pixels: (255,0,0) (0,255,0) / (0,0,255) (255,255,255)
    rows = [bytes([255, 0, 0, 0, 255, 0]), bytes([0, 0, 255, 255, 255, 255])]
    png = _make_png(2, 2, rows)
    f = multimodal.decode_real(png, "image")
    # channel means: R=(255+0+0+255)/4, G=(0+255+0+255)/4, B=(0+0+255+255)/4
    assert f[:4] == [510 / 4 / 255.0, 510 / 4 / 255.0, 510 / 4 / 255.0, 0.0]
    # quadrants (2x2: each pixel its own quadrant): luminance = mean(RGB)
    assert f[4:] == [
        85 / 255.0,  # top-left (255,0,0)
        85 / 255.0,  # top-right (0,255,0)
        85 / 255.0,  # bottom-left (0,0,255)
        255 / 255.0,  # bottom-right white
    ]


def test_png_decode_real_unfilters_sub_and_up():
    """Filter types 1 (Sub) and 2 (Up) reconstruct exactly: an image
    encoded with them must decode to the same pixels as filter 0."""
    rows = [bytes([10, 20, 30, 40, 50, 60]), bytes([15, 25, 35, 45, 55, 65])]
    plain = multimodal._png_decode(_make_png(2, 2, rows))
    # Sub row 0: first pixel raw, second = delta from first (per channel)
    sub_row0 = bytes([10, 20, 30, (40 - 10) % 256, (50 - 20) % 256, (60 - 30) % 256])
    # Up row 1: delta from row 0
    up_row1 = bytes([(15 - 10) % 256, (25 - 20) % 256, (35 - 30) % 256,
                     (45 - 40) % 256, (55 - 50) % 256, (65 - 60) % 256])
    filtered = multimodal._png_decode(
        _make_png(2, 2, [sub_row0, up_row1], filters=[1, 2])
    )
    assert filtered == plain


def test_wav_decode_real_exact_rms():
    """A constant-amplitude PCM16 WAV decodes to exact per-segment RMS."""
    wav = _make_wav([16384] * 64)
    f = multimodal.decode_real(wav, "audio")
    assert f == [0.5] * 8
    # structure checks on the parser itself
    n_ch, rate, samples = multimodal._wav_decode(wav)
    assert (n_ch, rate, len(samples)) == (1, 8000, 64)


def test_extract_features_with_real_decoder(spark):
    """The real kernels run end-to-end through the Arrow mapInPandas path:
    PNG and WAV payloads produce their exact features; an unknown
    container raises through (the documented seam)."""
    png = _make_png(2, 2, [bytes([255, 0, 0, 0, 255, 0]),
                           bytes([0, 0, 255, 255, 255, 255])])
    wav = _make_wav([16384] * 64)
    media = spark.createDataFrame(
        [
            (1, "image", png, 2, 2, None, "png"),
            (2, "audio", wav, None, None, 8, "pcm"),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_features(
            media, decoder=multimodal.decode_real
        ).collect()
    }
    assert out[1]["n_bytes"] == len(png)
    assert [round(x, 6) for x in out[1]["feature"][:3]] == [0.5] * 3
    assert [round(x, 6) for x in out[2]["feature"]] == [0.5] * 8
    # stub path unchanged (q40 oracle): same media through default kernel
    stub = multimodal.extract_features(media).collect()
    assert len(stub) == 2


def test_decode_real_malformed_payloads_raise_clean_errors():
    """Malformed payloads that pass the magic check must surface as
    ValueError/NotImplementedError (classifiable bad-payload), never raw
    KeyError/TypeError/struct.error that would kill the Spark task."""
    import pytest as _pt
    import struct
    import zlib

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    magic = b"\x89PNG\r\n\x1a\n"
    # invalid color type 5 -> ValueError, not KeyError
    bad_ctype = magic + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 5, 0, 0, 0))
    with _pt.raises(ValueError, match="color type"):
        multimodal._png_decode(bad_ctype)
    # no IHDR at all -> ValueError, not TypeError on w=None
    with _pt.raises(ValueError, match="IHDR"):
        multimodal._png_decode(magic + chunk(b"IEND", b""))
    # truncated IDAT -> ValueError, not IndexError in the unfilter loop
    good = _make_png(2, 2, [bytes([1] * 6), bytes([2] * 6)])
    ihdr = magic + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    short = ihdr + chunk(b"IDAT", zlib.compress(b"\x00" + bytes(6))) + chunk(b"IEND", b"")
    with _pt.raises(ValueError, match="truncated"):
        multimodal._png_decode(short)
    # garbage IDAT bytes -> ValueError, not zlib.error
    corrupt = ihdr + chunk(b"IDAT", b"\xde\xad\xbe\xef") + chunk(b"IEND", b"")
    with _pt.raises(ValueError, match="IDAT"):
        multimodal._png_decode(corrupt)
    assert multimodal._png_decode(good)  # the helpers themselves are fine
    # IHDR body shorter than the 13 declared bytes -> ValueError, not struct.error
    trunc_ihdr = magic + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 5
    with _pt.raises(ValueError, match="IHDR"):
        multimodal._png_decode(trunc_ihdr)
    # zero-dimension image -> ValueError here, not ZeroDivisionError downstream
    zero = magic + chunk(b"IHDR", struct.pack(">IIBBBBB", 0, 0, 8, 2, 0, 0, 0))
    with _pt.raises(ValueError, match="zero-dimension"):
        multimodal._png_decode(zero)
    # IDAT inflating past the IHDR-declared volume -> ValueError (bomb guard)
    bomb = (
        ihdr
        + chunk(b"IDAT", zlib.compress(b"\x00" * 1_000_000))
        + chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="inflates past"):
        multimodal._png_decode(bomb)
    # WAV fmt chunk with a short body -> ValueError, not struct.error
    short_fmt = (
        b"RIFF" + struct.pack("<I", 16) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
    )
    with _pt.raises(ValueError, match="fmt"):
        multimodal._wav_decode(short_fmt)


def test_jpeg_roundtrip_block_constant_exact():
    """The q168 exactness construction: grayscale block-constant pixels
    with even offsets from 128 survive encode→decode BIT-EXACTLY (DC
    quantizes losslessly, AC vanish) — through the full real codec
    (FDCT, Huffman encode, marker stream, Huffman decode, IDCT)."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h = 24, 32
    pix = bytes(
        128 + 2 * ((5 * 31 + (x // 8) * 7 + (y // 8) * 13) % 60) - 60
        for y in range(h)
        for x in range(w)
    )
    w2, h2, ch, out = mm._jpeg_decode(mm._jpeg_encode(w, h, 1, pix))
    assert (w2, h2, ch) == (w, h, 1)
    assert out == pix


def test_jpeg_roundtrip_gradients_within_quant_error():
    """General (inexact) paths — AC coefficients, run-lengths, byte
    stuffing, non-multiple-of-8 dimensions, RGB/YCbCr — reconstruct
    within a small per-pixel bound (Annex-K tables keep smooth gradients
    within a few levels)."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h = 21, 13  # deliberately not multiples of 8 (edge replication)
    gray = bytes((x * 5 + y * 3) % 256 for y in range(h) for x in range(w))
    _, _, ch, out = mm._jpeg_decode(mm._jpeg_encode(w, h, 1, gray))
    assert ch == 1 and len(out) == w * h
    assert max(abs(a - b) for a, b in zip(gray, out)) <= 8

    rgb = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x * 9) % 256, (y * 13) % 256, ((x + y) * 5) % 256)
    )
    w2, h2, ch3, out3 = mm._jpeg_decode(mm._jpeg_encode(w, h, 3, rgb))
    assert (w2, h2, ch3) == (w, h, 3)
    assert max(abs(a - b) for a, b in zip(rgb, out3)) <= 12


def test_jpeg_codec_boundaries():
    """Progressive (SOF2) and subsampled-chroma JPEGs stay behind
    NotImplementedError (the documented codec seam); structural garbage
    raises ValueError; decode_real dispatches JPEG by magic and keeps the
    8-float contract."""
    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    base = mm._jpeg_encode(8, 8, 1, bytes([130] * 64))
    # flip SOF0 -> SOF2: since round 16 progressive DECODES, so this
    # hack now fails structurally (the baseline SOS has Se=63, illegal
    # for a progressive DC scan) instead of hitting a blanket seam
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pt.raises(ValueError, match="Se == 0"):
        mm._jpeg_decode(prog)
    # extended sequential (SOF1): identical semantics at 8-bit, decodes
    # like SOF0 since round 16; 12-bit sample precision stays seamed,
    # as do the hierarchical/arithmetic SOF codes
    sof1 = base.replace(b"\xff\xc0", b"\xff\xc1", 1)
    assert mm._jpeg_decode(sof1) == mm._jpeg_decode(base)
    twelve = bytearray(sof1)
    twelve[sof1.index(b"\xff\xc1") + 4] = 12
    with _pt.raises(NotImplementedError, match="8-bit"):
        mm._jpeg_decode(bytes(twelve))
    with _pt.raises(NotImplementedError, match="SOF"):
        mm._jpeg_decode(base.replace(b"\xff\xc0", b"\xff\xc3", 1))
    # 16-bit (Pq=1) quant tables parse since round 16; a bad precision
    # nibble is structural invalidity
    import struct as _st

    dqt_at = base.index(b"\xff\xdb")
    ln = int.from_bytes(base[dqt_at + 2 : dqt_at + 4], "big")
    body = base[dqt_at + 4 : dqt_at + 2 + ln]
    body16 = bytes([0x10]) + b"".join(
        _st.pack(">H", v) for v in body[1:]
    )
    wide = (
        base[:dqt_at]
        + _st.pack(">HH", 0xFFDB, len(body16) + 2)
        + body16
        + base[dqt_at + 2 + ln :]
    )
    assert mm._jpeg_decode(wide) == mm._jpeg_decode(base)
    with _pt.raises(ValueError, match="DQT precision"):
        mm._jpeg_decode(
            base[: dqt_at + 4] + bytes([0x20]) + base[dqt_at + 5 :]
        )
    # review r16: a stream whose SOF references a never-defined quant
    # table raises ValueError, not a bare KeyError escaping mapInPandas
    with _pt.raises(ValueError, match="missing DQT"):
        mm._jpeg_decode(base[:dqt_at] + base[dqt_at + 2 + ln :])
    # 2x2-subsampled luminance: patch the SOF sampling byte (0x11 -> 0x22)
    sof_at = base.index(b"\xff\xc0")
    sub = bytearray(base)
    sub[sof_at + 11] = 0x22  # marker(2) + len(2) + P(1) + Y(2) + X(2) + Nf(1) + Cid(1)
    with _pt.raises(NotImplementedError, match="subsampl"):
        mm._jpeg_decode(bytes(sub))
    with _pt.raises(ValueError, match="not a JPEG"):
        mm._jpeg_decode(b"\x00\x11" + base)
    with _pt.raises(ValueError):
        mm._jpeg_decode(base[:40])  # truncated mid-headers
    # a scan sequence that leaves components never coded (here: the SOS
    # hacked to a luma-only scan, chroma scans absent) — decoding it
    # would return all-zero chroma planes with no error (ADVICE r14).
    # Since round 16 the decoder ACCEPTS legal multi-scan baseline
    # streams, so the incomplete sequence is structural invalidity
    # (ValueError), no longer an unsupported-feature seam.
    rgb3 = mm._jpeg_encode(8, 8, 3, bytes([10, 200, 60] * 64))
    sos_at = rgb3.index(b"\xff\xda")
    multi = bytearray(rgb3)
    multi[sos_at + 4] = 1  # ns: 3 -> 1 (luma-only first scan)
    with _pt.raises(ValueError, match="cover each frame component"):
        mm._jpeg_decode(bytes(multi))
    # SOS naming a component id absent from SOF: ValueError, not a bare
    # StopIteration escaping mapInPandas as RuntimeError (PEP 479)
    badcs = bytearray(base)
    badcs[badcs.index(b"\xff\xda") + 5] = 9  # cs: 1 -> 9
    with _pt.raises(ValueError, match="unknown component"):
        mm._jpeg_decode(bytes(badcs))
    # exotic factors stay behind the seam: mixed luma factors (2x4 —
    # 4:1:1's 4x1 DECODES since round 16), and subsampled CHROMA
    # (non-1:1 second component)
    rgb420 = mm._jpeg_encode(16, 16, 3, bytes([90, 90, 90] * 256), subsample="420")
    sof420 = rgb420.index(b"\xff\xc0")
    h24 = bytearray(rgb420)
    h24[sof420 + 11] = 0x24  # luma 2x2 -> 2x4
    with _pt.raises(NotImplementedError, match="subsampl"):
        mm._jpeg_decode(bytes(h24))
    hsubc = bytearray(rgb420)
    hsubc[sof420 + 14] = 0x21  # Cb 1x1 -> 2x1
    with _pt.raises(NotImplementedError, match="subsampl"):
        mm._jpeg_decode(bytes(hsubc))
    feat = mm.decode_real(base, "image")
    assert len(feat) == 8
    assert feat[0] == _pt.approx(130 / 255.0, abs=1e-9)
    assert all(q == _pt.approx(130 / 255.0, abs=1e-9) for q in feat[4:])


def test_jpeg_411_roundtrips():
    """4:1:1 (luma 4×1, 32×8 MCUs) and its vertical mirror (1×4) — the
    last common luma-led layout, open since round 16 (the MCU loop and
    nearest upsample were already factor-general; this pins the
    whitelist): (a) MCU-constant even-offset grays roundtrip EXACTLY
    through ALL FOUR scan modes (interleaved, separate, progressive,
    progressive_sa); (b) general content decodes identically across
    scan modes; (c) mixed luma factors (2×4) stay behind the seam."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    for sub, mw, mh in (("411", 32, 8), ("411v", 8, 32)):
        w, h = mw * 2, mh * 3
        pix = bytes(
            128 + 2 * ((5 + (x // mw) * 7 + (y // mh) * 13) % 60) - 60
            for y in range(h)
            for x in range(w)
            for _c in range(3)
        )
        for mode in ("interleaved", "separate", "progressive",
                     "progressive_sa"):
            got = mm._jpeg_decode(
                mm._jpeg_encode(w, h, 3, pix, subsample=sub, scans=mode)
            )
            assert got == (w, h, 3, pix), (sub, mode)

    w, h = 36, 20  # not MCU multiples: edge-replicated padding
    pix = bytes(
        (x * 5 + y * 9 + c * 17) % 240
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    ref = mm._jpeg_decode(mm._jpeg_encode(w, h, 3, pix, subsample="411"))
    for mode in ("separate", "progressive", "progressive_sa"):
        assert mm._jpeg_decode(
            mm._jpeg_encode(w, h, 3, pix, subsample="411", scans=mode)
        ) == ref, mode


def test_jpeg_progressive_roundtrips_and_boundaries():
    """Progressive (SOF2) JPEG (round 16, part 2 — the dominant
    real-world web layout): (a) spectral-selection AND successive-
    approximation streams decode BIT-IDENTICALLY to the interleaved
    baseline of the same source for every supported sampling layout and
    for grayscale; (b) the equality holds on adversarial content that
    exercises EOB runs, ZRL-in-refinement and dense correction bits
    (smooth gradient, isolated spikes, hash noise, 1-px checkerboard);
    (c) constant-gray MCUs roundtrip exactly through five-scan SA (the
    q177 fixture's claim); (d) structural seams: an AC-only stream
    (missing DC scan), a multi-component AC scan, and a bad spectral
    band all raise."""
    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h = 20, 18
    pix = bytes(
        (x * 7 + y * 13 + c * 29) % 240
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    for sub in ("444", "420", "422", "440"):
        inter = mm._jpeg_decode(mm._jpeg_encode(w, h, 3, pix, subsample=sub))
        for mode in ("progressive", "progressive_sa"):
            got = mm._jpeg_decode(
                mm._jpeg_encode(w, h, 3, pix, subsample=sub, scans=mode)
            )
            assert got == inter, (sub, mode)
    pixg = bytes((x * 16 + y * 3) % 256 for y in range(16) for x in range(16))
    ig = mm._jpeg_decode(mm._jpeg_encode(16, 16, 1, pixg))
    for mode in ("progressive", "progressive_sa"):
        assert mm._jpeg_decode(
            mm._jpeg_encode(16, 16, 1, pixg, scans=mode)
        ) == ig, mode

    # adversarial content: EOB runs (smooth), ZRL (spikes), dense
    # refinement (noise), max frequency (checker)
    spikes = bytearray([128] * (48 * 48 * 3))
    for i in range(0, len(spikes), 997):
        spikes[i] = 255
    cases = [
        ("smooth", 64, 64, bytes(
            min(255, x + y) for y in range(64) for x in range(64)
            for _ in range(3))),
        ("spikes", 48, 48, bytes(spikes)),
        ("noise", 40, 40, bytes(
            (((i * 2654435761) & 0xFFFFFFFF) >> 16) & 0xFF
            for i in range(40 * 40 * 3))),
        ("checker", 32, 32, bytes(
            (255 if (x + y) % 2 else 0) for y in range(32)
            for x in range(32) for _ in range(3))),
    ]
    for name, cw, chh, cpix in cases:
        for mode in ("progressive", "progressive_sa"):
            for sub in ("444", "420"):
                got = mm._jpeg_decode(mm._jpeg_encode(
                    cw, chh, 3, cpix, subsample=sub, scans=mode))
                ref = mm._jpeg_decode(
                    mm._jpeg_encode(cw, chh, 3, cpix, subsample=sub))
                assert got == ref, (name, mode, sub)

    # constant-gray exactness through five-scan successive approximation
    w2, h2 = 32, 48
    pixc = bytes(
        128 + 2 * ((3 + (x // 16) * 7 + (y // 16) * 13) % 60) - 60
        for y in range(h2)
        for x in range(w2)
        for _c in range(3)
    )
    for mode in ("progressive", "progressive_sa"):
        for sub in ("444", "420"):
            assert mm._jpeg_decode(mm._jpeg_encode(
                w2, h2, 3, pixc, subsample=sub, scans=mode
            )) == (w2, h2, 3, pixc), (mode, sub)

    # seams: drop the DC scan from a spectral-selection stream -> the
    # AC-only remainder must raise, not decode flat-gray planes
    data = mm._jpeg_encode(16, 16, 3, bytes([90] * 768), scans="progressive")
    sos = [i for i in range(len(data) - 1)
           if data[i] == 0xFF and data[i + 1] == 0xDA]
    assert len(sos) == 4  # DC + 3 AC scans
    no_dc = data[: sos[0]] + data[sos[1] :]
    with _pt.raises(ValueError, match="DC scan for"):
        mm._jpeg_decode(no_dc)
    # review r16: a refinement-only DC scan must NOT satisfy the gate —
    # dropping the Ah=0 first pass from an SA stream while keeping the
    # DC refinement would decode flat gray with no error
    sa = mm._jpeg_encode(16, 16, 3, bytes([200] * 768), scans="progressive_sa")
    sos_sa = [i for i in range(len(sa) - 1)
              if sa[i] == 0xFF and sa[i + 1] == 0xDA]
    with _pt.raises(ValueError, match="first-pass"):
        mm._jpeg_decode(sa[: sos_sa[0]] + sa[sos_sa[1] :])
    # multi-component AC scan: patch an AC SOS to ns=3 (header bytes
    # exist in the stream? build one by hand with a legal length)
    two_comp_ac = bytes(
        [0xFF, 0xDA, 0x00, 0x0C, 3, 1, 0x01, 2, 0x01, 3, 0x01, 1, 63, 0]
    )
    hacked = data[: sos[1]] + two_comp_ac + data[sos[1] + 10 :]
    with _pt.raises(ValueError, match="single-component"):
        mm._jpeg_decode(hacked)
    # bad spectral band: Ss > Se
    bad_band = bytearray(data)
    bad_band[sos[1] + 7] = 63  # Ss: 1 -> 63 while Se stays 63? set Se < Ss
    bad_band[sos[1] + 8] = 1   # Se: 63 -> 1
    with _pt.raises(ValueError, match="spectral band"):
        mm._jpeg_decode(bytes(bad_band))

    with _pt.raises(ValueError, match="scans must be"):
        mm._jpeg_encode(8, 8, 3, bytes(192), scans="sequential")


def test_jpeg_multiscan_roundtrips_and_boundaries():
    """The non-interleaved (multi-scan) baseline leg (round 16, VERDICT
    r15 #5): (a) a separate-scans stream decodes BIT-IDENTICALLY to the
    interleaved stream of the same source for every supported sampling
    layout, including non-MCU-multiple dims where the luma scan's raster
    grid differs from the interleaved padding; (b) MCU-constant
    even-offset grays roundtrip exactly (the q176 fixture's claim); (c)
    a partially interleaved (2-of-3-component) scan and a scan sequence
    coding a component twice stay behind their seams."""
    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    for sub in ("444", "420", "422", "440"):
        w, h = 20, 18
        pix = bytes(
            (x * 7 + y * 13 + c * 29) % 240
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        sep = mm._jpeg_decode(
            mm._jpeg_encode(w, h, 3, pix, subsample=sub, scans="separate")
        )
        inter = mm._jpeg_decode(mm._jpeg_encode(w, h, 3, pix, subsample=sub))
        assert sep == inter, sub

    # constant-gray MCUs: exact through three scans (q176's argument)
    w, h = 32, 48
    pix = bytes(
        128 + 2 * ((3 + (x // 16) * 7 + (y // 16) * 13) % 60) - 60
        for y in range(h)
        for x in range(w)
        for _c in range(3)
    )
    for sub in ("444", "420"):
        got = mm._jpeg_decode(
            mm._jpeg_encode(w, h, 3, pix, subsample=sub, scans="separate")
        )
        assert got == (w, h, 3, pix), sub

    # legal 0xFF fill bytes before markers (B.1.1.2 — real encoders emit
    # them; review r16: the first skip implementation misread a
    # fill-prefixed SOS as a segment length and dropped legal streams)
    pix2 = bytes(
        (x * 7 + y * 13 + c * 29) % 240
        for y in range(18)
        for x in range(20)
        for c in range(3)
    )
    data2 = mm._jpeg_encode(20, 18, 3, pix2, subsample="420", scans="separate")
    want2 = mm._jpeg_decode(data2)
    sos2 = [i for i in range(len(data2) - 1)
            if data2[i] == 0xFF and data2[i + 1] == 0xDA]
    filled = (
        data2[: sos2[1]] + b"\xff\xff\xff" + data2[sos2[1] : sos2[2]]
        + b"\xff" + data2[sos2[2] : -2] + b"\xff\xff" + data2[-2:]
    )
    assert mm._jpeg_decode(filled) == want2

    # seam: a 2-of-3-component scan (legal but unseen in practice).
    # Surgery on the separate-scans stream: replace scan 1's SOS with a
    # 2-component header and drop scan 2's SOS so coverage stays exact —
    # the parse phase must raise BEFORE touching entropy data.
    data = mm._jpeg_encode(16, 16, 3, bytes([90] * 768), scans="separate")
    sos = [i for i in range(len(data) - 1)
           if data[i] == 0xFF and data[i + 1] == 0xDA]
    assert len(sos) == 3
    two_comp = bytes([0xFF, 0xDA, 0x00, 0x0A, 2, 1, 0x00, 2, 0x00, 0, 63, 0])
    hacked = (
        data[: sos[0]]
        + two_comp
        + data[sos[0] + 10 : sos[1]]  # scan 1 entropy (1-comp SOS is 10 B)
        + data[sos[1] + 10 : sos[2]]  # scan 2 entropy, ITS SOS DROPPED
        + data[sos[2] :]
    )
    with _pt.raises(NotImplementedError, match="partially interleaved"):
        mm._jpeg_decode(hacked)

    # seam: a component coded twice across scans (structural invalidity)
    dup = (
        data[: sos[2]]
        + data[sos[0] : sos[1]]  # scan 1 (component 1) again
        + data[sos[2] :]
    )
    with _pt.raises(ValueError, match="cover each frame component"):
        mm._jpeg_decode(dup)

    with _pt.raises(ValueError, match="separate scans require RGB"):
        mm._jpeg_encode(8, 8, 1, bytes(64), scans="separate")
    with _pt.raises(ValueError, match="interleaved"):
        mm._jpeg_encode(8, 8, 3, bytes(192), scans="zigzag-first")


def test_jpeg420_roundtrips():
    """Round 15 (VERDICT r14 #5): the 4:2:0 leg. (a) MCU-constant
    even-offset grays roundtrip EXACTLY (the q171 fixture's claim),
    including dims that are not MCU multiples; (b) per-MCU constant
    COLORS roundtrip within the quantization tolerance — this exercises
    non-neutral chroma through the box-downsample + nearest-upsample
    path; (c) full-image gradients stay within the same bound the 1:1
    tests allow."""
    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    # (a) exact: 2x2-MCU gray checkerboard, then odd dims 20x12
    pix = bytearray()
    for y in range(32):
        for x in range(32):
            v = 130 if (x // 16 + y // 16) % 2 == 0 else 184
            pix += bytes([v, v, v])
    w2, h2, ch, out = mm._jpeg_decode(
        mm._jpeg_encode(32, 32, 3, bytes(pix), subsample="420")
    )
    assert (w2, h2, ch) == (32, 32, 3) and out == bytes(pix)
    odd = bytes([140, 140, 140] * (20 * 12))
    w3, h3, ch3, out3 = mm._jpeg_decode(
        mm._jpeg_encode(20, 12, 3, odd, subsample="420")
    )
    assert (w3, h3, ch3) == (20, 12, 3) and out3 == odd

    # (b) colored MCUs: chroma is real (nonzero Cb/Cr), bounded error
    cpix = bytearray()
    colors = [(200, 80, 40), (40, 180, 220), (90, 200, 90), (230, 230, 30)]
    for y in range(32):
        for x in range(32):
            cpix += bytes(colors[(x // 16) + 2 * (y // 16)])
    _, _, _, cout = mm._jpeg_decode(
        mm._jpeg_encode(32, 32, 3, bytes(cpix), subsample="420")
    )
    assert max(abs(a - b) for a, b in zip(cout, cpix)) <= 4

    # (c) gradient tolerance (quant error + 2x2 chroma averaging)
    gpix = bytes(
        min(255, (x * 5 + y * 3 + c * 7) % 220)
        for y in range(16)
        for x in range(16)
        for c in range(3)
    )
    _, _, _, gout = mm._jpeg_decode(
        mm._jpeg_encode(16, 16, 3, gpix, subsample="420")
    )
    # chroma is 2x2-averaged: neighboring-pixel chroma deltas fold in
    assert max(abs(a - b) for a, b in zip(gout, gpix)) <= 40
    n = len(gpix)
    mean_err = sum(abs(a - b) for a, b in zip(gout, gpix)) / n
    assert mean_err <= 8, mean_err

    # encoder seam: unknown subsample mode refused ("411" ENCODES since
    # round 16); gray + subsampling is a contradiction
    with _pt.raises(NotImplementedError, match="444, 420, 422, 440"):
        mm._jpeg_encode(16, 16, 3, bytes(768), subsample="211")
    with _pt.raises(ValueError, match="RGB"):
        mm._jpeg_encode(16, 16, 1, bytes(256), subsample="420")


@pytest.mark.parametrize(
    "mode,mw,mh", [("422", 16, 8), ("440", 8, 16)]
)
def test_jpeg422_440_roundtrips(mode, mw, mh):
    """Round 15: the remaining luma-led layouts (q174's legs) — MCU-
    constant even-offset grays roundtrip EXACTLY incl. non-MCU-multiple
    dims; colored MCUs within quant tolerance (real chroma through the
    fh×fv box-downsample + nearest-upsample path)."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    W, H = mw * 2, mh  # two MCUs side by side
    pix = bytearray()
    for y in range(H):
        for x in range(W):
            v = 130 if x < mw else 184
            pix += bytes([v, v, v])
    w2, h2, ch, out = mm._jpeg_decode(
        mm._jpeg_encode(W, H, 3, bytes(pix), subsample=mode)
    )
    assert (w2, h2, ch) == (W, H, 3) and out == bytes(pix)
    odd = bytes([140, 140, 140] * (21 * 13))
    w3, h3, _, oo = mm._jpeg_decode(
        mm._jpeg_encode(21, 13, 3, odd, subsample=mode)
    )
    assert (w3, h3) == (21, 13) and oo == odd
    cpix = bytes([200, 80, 40] * (mw * mh))
    _, _, _, oc = mm._jpeg_decode(
        mm._jpeg_encode(mw, mh, 3, cpix, subsample=mode)
    )
    assert max(abs(a - b) for a, b in zip(oc, cpix)) <= 4


def test_apng_compositing_legs():
    """Round 16: the full fcTL compositing model. (a) dispose_op=2
    (previous) reverts the painted region to its pre-frame content, so
    a later partial frame shows the restored canvas; (b) blend_op=1
    (alpha-over) on RGBA: fa=255 replaces, fa=0 keeps, fa=128 over an
    opaque background lands exactly on the documented integer rounding
    (den = fa·255 + da·(255−fa); white over black at fa=128 → 128);
    (c) dispose_op=2 on the FIRST frame is treated as background per
    spec; (d) gray+alpha (ch=2) composites through the same path."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h = 10, 8
    base = bytes(10 for _ in range(w * h * 3))
    patch = bytes(200 for _ in range(4 * 3 * 3))
    tiny = bytes(99 for _ in range(2 * 2 * 3))
    _, _, _, fr = mm._apng_decode(mm._apng_encode(
        w, h, 3, [base, patch, tiny],
        fctls=[(0, 0, w, h, 0, 0), (2, 1, 4, 3, 2, 0), (0, 0, 2, 2, 0, 0)],
    ))
    c1 = bytearray(base)  # frame 1: patch visible at (2,1)
    for yy in range(3):
        o = ((1 + yy) * w + 2) * 3
        c1[o : o + 12] = bytes([200] * 12)
    assert fr[1][2] == bytes(c1)
    c2 = bytearray(base)  # frame 2: patch REVERTED, tiny painted at 0,0
    for yy in range(2):
        o = (yy * w) * 3
        c2[o : o + 6] = bytes([99] * 6)
    assert fr[2][2] == bytes(c2)

    # (b) alpha-over on RGBA
    w2, h2 = 4, 2
    bg = bytes([0, 0, 0, 255] * (w2 * h2))
    fg = bytes([255, 255, 255, 128] * (w2 * h2))
    _, _, _, fr = mm._apng_decode(mm._apng_encode(
        w2, h2, 4, [bg, fg],
        fctls=[(0, 0, w2, h2, 0, 0), (0, 0, w2, h2, 0, 1)],
    ))
    assert fr[1][2][0:4] == bytes([128, 128, 128, 255])
    fg2 = bytes([7, 8, 9, 255]) + bytes([1, 2, 3, 0]) + bytes(
        [7, 8, 9, 255] * (w2 * h2 - 2)
    )
    _, _, _, fr = mm._apng_decode(mm._apng_encode(
        w2, h2, 4, [bg, fg2],
        fctls=[(0, 0, w2, h2, 0, 0), (0, 0, w2, h2, 0, 1)],
    ))
    assert fr[1][2][0:4] == bytes([7, 8, 9, 255])   # fa=255 replaces
    assert fr[1][2][4:8] == bytes([0, 0, 0, 255])   # fa=0 keeps bg

    # (c) first-frame dispose=2 -> background (no raise, region cleared)
    nxt = bytes(55 for _ in range(2 * 2 * 3))
    _, _, _, fr = mm._apng_decode(mm._apng_encode(
        w, h, 3, [base, nxt],
        fctls=[(0, 0, w, h, 2, 0), (1, 1, 2, 2, 0, 0)],
    ))
    want = bytearray(w * h * 3)  # cleared canvas after frame 0
    for yy in range(2):
        o = ((1 + yy) * w + 1) * 3
        want[o : o + 6] = bytes([55] * 6)
    assert fr[1][2] == bytes(want)

    # (d) gray+alpha over
    bg2 = bytes([40, 255] * 6)
    fg3 = bytes([240, 128] * 6)
    _, _, _, fr = mm._apng_decode(mm._apng_encode(
        3, 2, 2, [bg2, fg3],
        fctls=[(0, 0, 3, 2, 0, 0), (0, 0, 3, 2, 0, 1)],
    ))
    # den = 128*255 + 255*127 = 65025; out = (128*255*240 + 255*127*40)/den
    expect = (128 * 255 * 240 + 255 * 127 * 40 + 65025 // 2) // 65025
    assert fr[1][2][0:2] == bytes([expect, 255])


def test_apng_codec_roundtrip_and_seams():
    """Round 15 (VERDICT r14 #8, preferred shape): the APNG codec.
    (a) full-frame encode→decode roundtrip is EXACT (PNG lossless),
    delays preserved, held frames byte-identical; (b) a REGION frame
    (fcTL offsets) composes onto the canvas, and dispose_op=1 clears its
    region for the next frame; (c) out-of-range blend/dispose codes
    raise ValueError, and blend_op=1 WITHOUT an alpha channel reduces
    to source (implicit alpha 255 — the over/previous semantics proper
    are pinned in test_apng_compositing_legs); a plain PNG raises
    ValueError (no acTL); frame count must match acTL; (d) the still
    decoder reads an APNG's default image (frame 0) — the spec's
    fallback behavior."""
    import struct
    import zlib

    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h, ch = 12, 9, 3
    f0 = bytes(
        (x * 11 + y * 23 + c * 71) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )
    f2 = bytes(
        (5 + x * 11 + y * 23 + c * 71) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )
    apng = mm._apng_encode(w, h, ch, [f0, f0, f2], [(4, 100), (5, 100), (6, 100)])
    w2, h2, ch2, frames = mm._apng_decode(apng)
    assert (w2, h2, ch2) == (w, h, ch)
    assert [f[:2] for f in frames] == [(4, 100), (5, 100), (6, 100)]
    assert frames[0][2] == f0 and frames[1][2] == f0 and frames[2][2] == f2
    # (d) still-decoder fallback: default image = frame 0
    assert mm._png_decode(apng)[3] == f0
    with _pt.raises(ValueError, match="acTL"):
        mm._apng_decode(mm._png_encode(8, 8, 1, bytes(64)))

    # (b) hand-build: frame 2 is a 4x3 region at (2, 1) over frame 1,
    # dispose_op=1 on frame 2 so frame 3 sees the region cleared
    region = bytes(range(4 * 3 * ch))
    out = bytearray(mm._PNG_MAGIC)
    out += mm._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    out += mm._png_chunk(b"acTL", struct.pack(">II", 3, 0))
    out += mm._png_chunk(
        b"fcTL", struct.pack(">IIIIIHHBB", 0, w, h, 0, 0, 4, 100, 0, 0)
    )
    out += mm._png_chunk(
        b"IDAT", zlib.compress(mm._png_filter_scanlines(w, h, ch, f0))
    )
    out += mm._png_chunk(
        b"fcTL", struct.pack(">IIIIIHHBB", 1, 4, 3, 2, 1, 4, 100, 1, 0)
    )
    out += mm._png_chunk(
        b"fdAT",
        struct.pack(">I", 2)
        + zlib.compress(mm._png_filter_scanlines(4, 3, ch, region)),
    )
    out += mm._png_chunk(
        b"fcTL", struct.pack(">IIIIIHHBB", 3, 1, 1, 0, 0, 4, 100, 0, 0)
    )
    out += mm._png_chunk(
        b"fdAT",
        struct.pack(">I", 4)
        + zlib.compress(mm._png_filter_scanlines(1, 1, ch, f0[:3])),
    )
    out += mm._png_chunk(b"IEND", b"")
    _, _, _, fr3 = mm._apng_decode(bytes(out))
    # frame 2: region pasted over f0
    want = bytearray(f0)
    for yy in range(3):
        dst = ((1 + yy) * w + 2) * ch
        want[dst : dst + 4 * ch] = region[yy * 4 * ch : (yy + 1) * 4 * ch]
    assert fr3[1][2] == bytes(want)
    # frame 3: region cleared (dispose 1), then 1x1 repaint at origin
    want3 = bytearray(f0)
    for yy in range(3):
        dst = ((1 + yy) * w + 2) * ch
        want3[dst : dst + 4 * ch] = bytes(4 * ch)
    want3[0:3] = f0[:3]
    assert fr3[2][2] == bytes(want3)

    # (c) compositing-code boundaries: since round 16 blend 1 and
    # dispose 2 DECODE; out-of-range codes raise, and alpha-less
    # blend-over reduces to source
    bad_blend = bytearray(out)
    # patch the SECOND fcTL's blend byte (last byte of its 26-byte body)
    idx = bad_blend.index(b"fcTL", bad_blend.index(b"fcTL") + 4)
    body = bytes(
        bad_blend[idx + 4 : idx + 4 + 25]
    ) + bytes([1])  # blend 0 -> 1 (legal; no alpha channel here)
    fixed = (
        bytes(bad_blend[: idx - 4])
        + mm._png_chunk(b"fcTL", body)
        + bytes(bad_blend[idx + 4 + 26 + 4 :])
    )
    assert [f[2] for f in mm._apng_decode(fixed)[3]] == [
        f[2] for f in mm._apng_decode(out)[3]
    ]  # alpha-less over == source
    body_bad = bytes(bad_blend[idx + 4 : idx + 4 + 25]) + bytes([9])
    fixed_bad = (
        bytes(bad_blend[: idx - 4])
        + mm._png_chunk(b"fcTL", body_bad)
        + bytes(bad_blend[idx + 4 + 26 + 4 :])
    )
    with _pt.raises(ValueError, match="blend_op"):
        mm._apng_decode(fixed_bad)
    bad_disp = bytearray(out)
    idx = bad_disp.index(b"fcTL", bad_disp.index(b"fcTL") + 4)
    body = bytearray(bad_disp[idx + 4 : idx + 4 + 26])
    body[24] = 3  # out-of-range dispose
    fixed2 = (
        bytes(bad_disp[: idx - 4])
        + mm._png_chunk(b"fcTL", bytes(body))
        + bytes(bad_disp[idx + 4 + 26 + 4 :])
    )
    with _pt.raises(ValueError, match="dispose_op"):
        mm._apng_decode(fixed2)
    # acTL/frame-count mismatch
    trunc = bytearray(mm._apng_encode(w, h, ch, [f0, f2]))
    actl_at = trunc.index(b"acTL")
    body = struct.pack(">II", 5, 0)
    fixed3 = (
        bytes(trunc[: actl_at - 4])
        + mm._png_chunk(b"acTL", body)
        + bytes(trunc[actl_at + 4 + 8 + 4 :])
    )
    with _pt.raises(ValueError, match="declares"):
        mm._apng_decode(fixed3)


def test_video_operators_rgba_alpha_over(spark):
    """Round 16: an RGBA APNG whose second frame alpha-overs the first
    flows through BOTH video operators — frame stats report the
    composited (blended) channel sums with channels=4 (alpha excluded
    from the per-channel sums by the min(ch,3) rule), and the per-frame
    dHash sees the blended pixels (both frames distinct here)."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    w, h = 12, 9
    f0 = bytes(
        (x * 11 + y * 23 + c * 71) % 256
        for y in range(h) for x in range(w) for c in range(4)
    )
    f1 = bytes([255, 255, 255, 128] * (w * h))
    apng = mm._apng_encode(
        w, h, 4, [f0, f1],
        fctls=[(0, 0, w, h, 0, 0), (0, 0, w, h, 0, 1)],
    )
    media = spark.createDataFrame(
        [(0, "video", apng, w, h, 80, "apng")], schema=mm.MEDIA_SCHEMA
    )
    stats = sorted(
        mm.video_frame_stats(media).collect(), key=lambda r: r["frame_idx"]
    )
    assert len(stats) == 2 and stats[0]["channels"] == 4
    # frame 1 is f1 alpha-overed onto f0 — recompute the blend exactly
    _, _, _, frames = mm._apng_decode(apng)
    import numpy as np

    arr = np.frombuffer(frames[1][2], dtype=np.uint8).reshape(-1, 4)
    for c in range(3):
        assert stats[1][f"sum_c{c}"] == int(
            arr[:, c].astype(np.int64).sum()
        )
    hashes = mm.video_scene_changes(media).collect()
    assert len(hashes) == 2
    assert hashes[0]["dhash"] != hashes[1]["dhash"]


def test_video_operators_edge_cases(spark):
    """video_frame_stats / video_scene_changes: non-video rows, NULL
    payloads, and undecodable bytes contribute zero rows; a video
    smaller than the 9x8 dHash grid yields stats but no scene rows;
    planted held frames flag scene_change exactly on pattern changes."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    tiny = mm._apng_encode(
        4, 4, 3, [bytes(48), bytes(48)], [(4, 100), (4, 100)]
    )
    good = mm._apng_encode(
        12, 9, 3,
        [bytes([10] * 324), bytes([10] * 324),
         bytes((x * 13 + y * 29 + c) % 256 for y in range(9) for x in range(12) for c in range(3))],
        [(4, 100), (5, 100), (25, 1000)],
    )
    media = spark.createDataFrame(
        [
            (0, "video", good, 12, 9, 115, "apng"),
            (1, "video", tiny, 4, 4, 80, "apng"),
            (2, "image", good, 12, 9, None, "apng"),  # wrong kind
            (3, "video", None, None, None, None, "apng"),
            (4, "video", b"garbage", None, None, None, "apng"),
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    stats = mm.video_frame_stats(media).collect()
    by_media = {}
    for r in stats:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {0, 1}
    assert [r["t_ms"] for r in sorted(by_media[0], key=lambda r: r["frame_idx"])] == [0, 40, 90]
    assert by_media[0][0]["sum_c0"] == 10 * 108
    scenes = mm.video_scene_changes(media).collect()
    assert {r["media_id"] for r in scenes} == {0}  # tiny video: no rows
    flags = [r["scene_change"] for r in sorted(scenes, key=lambda r: r["frame_idx"])]
    assert flags == [True, False, True]


def test_video_dedup_planted_clusters(spark):
    """q175's planted semantics: every within-cluster video pair shares
    AT LEAST its two even frames' fingerprints (n_shared >= 2); all 24
    within-cluster pairs are present; pair ids are ordered a < b."""
    from syntenybrowserv2_etl_spark import queries as q

    got = {
        (r["media_id_a"], r["media_id_b"]): r["n_shared"]
        for r in q.REGISTRY["q175_video_dedup"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    for c in range(8):
        ids = [c * 3 + k for k in range(3)]
        for i in range(3):
            for j in range(i + 1, 3):
                assert got[(ids[i], ids[j])] >= 2, (ids[i], ids[j])
    assert all(a < b for a, b in got)


def _band_hash_row(i, b0, b1, b2, b3):
    h = (b3 << 48) | (b2 << 32) | (b1 << 16) | b0
    if h >= 1 << 63:
        h -= 1 << 64
    return (i, h, b0, b1, b2, b3)


def test_hamming_band_pairs_occupancy_guard(spark):
    """The band-occupancy guard (round 16, VERDICT r15 #2): a planted
    hot-bucket population — 10 rows sharing the SAME band-0 and band-1
    values but pairwise Hamming 4 — generates 66 useless candidates
    uncapped; with max_bucket=6 those buckets are skipped, the cool-bucket
    true pair survives, and the hot-only true pair (every matching band
    over cap) is the documented recall loss. band_occupancy_report
    hand-checks the per-band bucket counts and the skipped pair mass."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    rows = []
    # hot population: bands 0/1 identical across all 10, bands 2/3 are
    # disjoint single bits -> pairwise Hamming 4 (never true pairs)
    for i in range(10):
        rows.append(_band_hash_row(i, 0xAAAA, 0xBBBB, 1 << i, 1 << (15 - i)))
    # cool true pair: shares three cool buckets, Hamming 1
    rows.append(_band_hash_row(100, 0x1111, 0x2222, 0x3333, 0x4444))
    rows.append(_band_hash_row(101, 0x1111, 0x2222, 0x3333, 0x4445))
    # hot-only true pair: Hamming 2, but its ONLY matching bands (0 and 1)
    # are the hot buckets
    rows.append(_band_hash_row(200, 0xAAAA, 0xBBBB, 0x5555, 0x6666))
    rows.append(_band_hash_row(201, 0xAAAA, 0xBBBB, 0x5554, 0x6667))
    hashes = spark.createDataFrame(
        rows, "media_id long, hsh long, b0 long, b1 long, b2 long, b3 long"
    )

    uncapped = {
        (r["media_id_a"], r["media_id_b"]): r["hamming"]
        for r in mm.hamming_band_pairs(hashes, "media_id", "hsh").collect()
    }
    assert uncapped == {(100, 101): 1, (200, 201): 2}
    # 12 rows share the band-0 bucket AND the band-1 bucket -> 66 distinct
    # candidate pairs, plus the cool pair
    assert mm.band_candidates(hashes, "media_id", "hsh").count() == 67

    capped_cands = mm.band_candidates(
        hashes, "media_id", "hsh", max_bucket=6
    )
    assert capped_cands.count() == 1
    capped = {
        (r["media_id_a"], r["media_id_b"]): r["hamming"]
        for r in mm.hamming_band_pairs(
            hashes, "media_id", "hsh", max_bucket=6
        ).collect()
    }
    assert capped == {(100, 101): 1}  # hot-only pair is the recall trade

    rep = {
        r["band"]: r
        for r in mm.band_occupancy_report(
            hashes, "media_id", "hsh", max_bucket=6
        ).collect()
    }
    assert set(rep) == {0, 1, 2, 3}
    for band in (0, 1):
        r = rep[band]
        assert r["n_buckets"] == 2
        assert r["max_occupancy"] == 12
        assert r["candidate_pairs"] == 66 + 1
        assert r["over_cap_pairs"] == 66
        assert r["over_cap_buckets"] == 1
    assert rep[2]["n_buckets"] == 13
    assert rep[2]["max_occupancy"] == 2
    assert rep[2]["candidate_pairs"] == 1
    assert rep[2]["over_cap_pairs"] == 0
    assert rep[3]["n_buckets"] == 14
    assert rep[3]["max_occupancy"] == 1
    assert rep[3]["candidate_pairs"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.band_candidates(hashes, "media_id", "hsh", max_bucket=0)


def test_dhash_bands_matches_kernel_convention(spark):
    """dhash_bands re-derives b0..b3 from the packed signed hash; it
    must agree bit-for-bit with the bands the hash kernel emits inline
    (image_dhash) — including hashes whose top band sets the sign bit."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    media = mm.synthetic_neardup_png_media(spark, 6, 3)
    hs = mm.image_dhash(media)
    rederived = mm.dhash_bands(
        hs.select("media_id", "dhash"), "dhash"
    )
    want = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in hs.collect()
    }
    got = {
        r["media_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in rederived.collect()
    }
    assert got == want
    # at least one fixture hash is negative (sign bit set) or the
    # top-band extraction under arithmetic shiftright went untested
    assert any(r["dhash"] < 0 for r in hs.collect())
    # frames that already carry inline bands are refused (re-deriving
    # would shadow them with ambiguous duplicates — review r17)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.dhash_bands(hs, "dhash")


def test_video_neardup_hamming_pairs(spark):
    """video_neardup_hamming_pairs (q178's operator): banded join ≡
    brute-force all-pairs Hamming over the per-frame hashes (pigeonhole
    completeness on a fixture with real near-misses — the q175 fixture
    carries Hamming-1 and Hamming-2 cross-video frame pairs beyond its
    exact collisions); n_near ≥ q175's exact n_shared pairwise with
    strictly more total mass; radius > 2 is refused; the occupancy
    guard forwards."""
    import itertools

    import pytest as _pytest

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    media = mm.synthetic_neardup_apng_media(spark, 8, 3)
    got = {
        (r["media_id_a"], r["media_id_b"]): r["n_near"]
        for r in mm.video_neardup_hamming_pairs(media).collect()
    }

    # brute-force oracle from the same decoded hashes, driver-side
    hs = {}
    for r in mm.video_scene_changes(media).select("media_id", "dhash").collect():
        hs.setdefault(r["media_id"], set()).add(r["dhash"])
    want = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        n = sum(
            1
            for ha in hs[a]
            for hb in hs[b]
            if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= 2
        )
        if n:
            want[(a, b)] = n
    assert got == want
    # the tolerant radius finds strictly more than exact fingerprinting
    exact = {
        (a, b): len(hs[a] & hs[b])
        for a, b in itertools.combinations(sorted(hs), 2)
        if hs[a] & hs[b]
    }
    assert all(got[k] >= v for k, v in exact.items())
    assert sum(got.values()) > sum(exact.values())

    with _pytest.raises(ValueError):
        mm.video_neardup_hamming_pairs(media, max_hamming=3)
    # a generous cap changes nothing; the knob reaches band_candidates
    capped = {
        (r["media_id_a"], r["media_id_b"]): r["n_near"]
        for r in mm.video_neardup_hamming_pairs(
            media, max_bucket=10_000
        ).collect()
    }
    assert capped == got


def test_image_dhash_brightness_invariant_and_boundaries(spark):
    """image_dhash (q169's primitive): uniform brightness shifts hash
    identically (the cross-multiplied gradient bits cancel the shift
    exactly); genuinely different patterns hash differently; sub-grid
    images and undecodable payloads contribute zero rows; bands always
    reassemble the hash; the JPEG decode path feeds the same hash."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    media = mm.synthetic_neardup_png_media(spark, 4, 3)
    rows = {r["media_id"]: r for r in mm.image_dhash(media).collect()}
    assert set(rows) == set(range(12))
    for base in range(4):
        assert (
            rows[base]["dhash"]
            == rows[4 + base]["dhash"]
            == rows[8 + base]["dhash"]
        )
    assert len({rows[b]["dhash"] for b in range(4)}) == 4
    for r in rows.values():
        uh = r["dhash"] + (1 << 64) if r["dhash"] < 0 else r["dhash"]
        assert all(((uh >> (16 * j)) & 0xFFFF) == r[f"b{j}"] for j in range(4))

    # 8x8 (below the 9-wide grid) and junk payloads: zero rows
    small_png = mm._png_encode(8, 8, 1, bytes(range(64)))
    edge = spark.createDataFrame(
        [(0, "image", small_png, 8, 8, None, "png"),
         (1, "image", b"junk", None, None, None, "png")],
        schema=mm.MEDIA_SCHEMA,
    )
    assert mm.image_dhash(edge).count() == 0

    # a (lossless-by-construction) JPEG of a gradient hashes through the
    # JPEG decode leg — same magic-dispatch pipeline
    w, h = 16, 16
    pix = bytes((x * 16) % 256 for y in range(h) for x in range(w))
    jpg = mm._jpeg_encode(w, h, 1, pix)
    jm = spark.createDataFrame(
        [(7, "image", jpg, w, h, None, "jpeg")], schema=mm.MEDIA_SCHEMA
    )
    out = mm.image_dhash(jm).collect()
    assert len(out) == 1 and out[0]["media_id"] == 7
    # a monotone left-to-right ramp: every gradient bit set
    uh = out[0]["dhash"] + (1 << 64) if out[0]["dhash"] < 0 else out[0]["dhash"]
    assert uh == (1 << 64) - 1


def test_wav_sample_format_legs():
    """Round 16: the WAV decoder's three new sample formats — unsigned
    PCM8, signed PCM24, IEEE float32 — each normalized into the int16
    domain. (a) int16 samples that are multiples of 256 roundtrip
    EXACTLY through all four containers; (b) general int16 samples stay
    exact through pcm16/pcm24/float32 while pcm8 quantizes to the high
    byte as documented; (c) the SAME waveform in different containers
    yields the SAME decode_real feature vector; (d) 32-bit integer PCM
    stays behind the seam."""
    import struct

    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    samples = [(((i * 37) % 256) - 128) * 256 for i in range(200)]
    feats = set()
    for fmt in ("pcm16", "pcm8", "pcm24", "float32"):
        data = mm._wav_encode(1, 8000, samples, fmt)
        n_ch, rate, got = mm._wav_decode(data)
        assert (n_ch, rate, got) == (1, 8000, samples), fmt
        feats.add(tuple(mm.decode_real(data, "audio")))
    assert len(feats) == 1  # container-independent features

    s2 = [((i * 123) % 4001) - 2000 for i in range(150)]
    for fmt in ("pcm16", "pcm24", "float32"):
        assert mm._wav_decode(mm._wav_encode(1, 8000, s2, fmt))[2] == s2
    assert mm._wav_decode(mm._wav_encode(1, 8000, s2, "pcm8"))[2] == [
        (s >> 8) << 8 for s in s2
    ]

    # seam: 32-bit integer PCM (fmt 1, bits 32)
    hdr = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 4, 4, 32)
    body = struct.pack("<10i", *range(10))
    bad = (
        b"RIFF" + (4 + 8 + len(hdr) + 8 + len(body)).to_bytes(4, "little")
        + b"WAVE" + b"fmt " + len(hdr).to_bytes(4, "little") + hdr
        + b"data" + len(body).to_bytes(4, "little") + body
    )
    with _pt.raises(NotImplementedError, match="WAV"):
        mm._wav_decode(bad)
    with _pt.raises(ValueError, match="WAV fixture format"):
        mm._wav_encode(1, 8000, s2, "alaw")

    # review r16: inf/-inf clamp, NaN -> 0 — round(inf) would raise
    # OverflowError, escaping the callers' quarantine and failing the
    # whole Arrow task on one corrupt row
    data = bytearray(mm._wav_encode(1, 8000, [1000] * 8, "float32"))
    off = bytes(data).index(b"data") + 8
    data[off : off + 4] = struct.pack("<f", float("inf"))
    data[off + 4 : off + 8] = struct.pack("<f", float("-inf"))
    data[off + 8 : off + 12] = struct.pack("<f", float("nan"))
    assert mm._wav_decode(bytes(data))[2][:3] == [32767, -32768, 0]


def test_audio_envelope_hash_gain_invariant_and_boundaries(spark):
    """audio_envelope_hash (q170's primitive): exact integer gain levels
    hash identically (energies scale by gain², cancelling in the
    cross-multiplied compare); distinct frequencies hash differently;
    sub-segment-count streams and junk payloads contribute zero rows;
    bands reassemble the hash."""
    from syntenybrowserv2_etl_spark.operators import multimodal as mm

    media = mm.synthetic_neardup_wav_media(spark, 4, 3)
    rows = {r["media_id"]: r for r in mm.audio_envelope_hash(media).collect()}
    assert set(rows) == set(range(12))
    for base in range(4):
        assert (
            rows[base]["ahash"]
            == rows[4 + base]["ahash"]
            == rows[8 + base]["ahash"]
        )
    assert len({rows[b]["ahash"] for b in range(4)}) == 4
    for r in rows.values():
        uh = r["ahash"] + (1 << 64) if r["ahash"] < 0 else r["ahash"]
        assert all(((uh >> (16 * j)) & 0xFFFF) == r[f"b{j}"] for j in range(4))

    import struct

    short_pcm = struct.pack("<10h", *range(10))  # 10 samples < 65 segments
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 28 + len(short_pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(short_pcm)) + short_pcm
    )
    edge = spark.createDataFrame(
        [(0, "audio", wav, None, None, 1, "pcm"),
         (1, "audio", b"RIFFjunk", None, None, None, "pcm"),
         (2, "image", b"not audio", None, None, None, "png")],
        schema=mm.MEDIA_SCHEMA,
    )
    assert mm.audio_envelope_hash(edge).count() == 0


def test_bm25_rank_empty_query_terms_rejected(spark):
    import pytest as _pt

    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pt.raises(ValueError, match="non-empty"):
        txt.bm25_rank(docs, "doc_id", "text", [])


def test_wav_decode_odd_length_data_chunk_drops_final_byte():
    """A data chunk whose declared length overruns the buffer by an odd
    byte count decodes the whole samples (struct.error would escape the
    ValueError seam and kill the mapInPandas task)."""
    wav = _make_wav([100, 200, 300])
    truncated = wav[:-1]  # 5 pcm bytes remain under a 6-byte declared len
    n_ch, rate, samples = multimodal._wav_decode(truncated)
    assert samples == [100, 200]


def test_png_gray_alpha_luminance_excludes_alpha():
    """Gray+alpha (ctype 4): quadrant luminance uses the gray channel
    only, consistent with RGBA where alpha is excluded — an opaque
    mid-gray image reads ~0.5, not (gray+alpha)/2."""
    rows = [bytes([128, 255] * 2), bytes([128, 255] * 2)]
    f = multimodal.decode_real(_make_png(2, 2, rows, ctype=4), "image")
    assert f[0] == 128 / 255.0  # channel-0 mean: gray
    assert f[1] == 1.0  # channel-1 mean: alpha
    assert f[4:] == [128 / 255.0] * 4  # luminance excludes alpha


def test_tfidf_top_terms_hand_corpus(spark):
    """3-doc corpus with hand-computed smooth-idf scores."""
    import math

    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog fish"), (3, "fish fish fish cat")],
        ["doc_id", "text"],
    )
    out = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["score"], r["rank"])
        for r in txt.tfidf_top_terms(docs, "doc_id", "text", top_k=2).collect()
    }

    def s(tf, df):
        return round(tf * (math.log(4.0 / (df + 1.0)) + 1.0), 6)

    # doc1: cat tf=2 df=2 -> rank1; dog tf=1 df=2
    assert out[(1, "cat")] == (2, 2, s(2, 2), 1)
    assert out[(1, "dog")] == (1, 2, s(1, 2), 2)
    # doc2: equal scores (tf=1, df=2 both) -> tie to lexicographic 'dog'
    assert out[(2, "dog")][3] == 1 and out[(2, "fish")][3] == 2
    # doc3: fish tf=3 beats cat
    assert out[(3, "fish")] == (3, 2, s(3, 2), 1)
    assert len(out) == 6  # top-2 per doc exactly


def test_bm25_rank_hand_corpus(spark):
    """BM25 against a 1-term query: more hits in a shorter doc wins; docs
    without the term score 0; scores match the closed-form formula."""
    import math

    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark and other words here"),
         (3, "nothing relevant at all")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in txt.bm25_rank(docs, "doc_id", "text", ["spark"], top_k=3).collect()
    }
    n, avgdl = 3, (3 + 5 + 4) / 3.0
    idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))

    def bm(tf, dl):
        return round((idf * tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)

    assert rows[1]["rank"] == 1 and rows[1]["score"] == bm(3, 3)
    assert rows[2]["rank"] == 2 and rows[2]["score"] == bm(1, 5)
    assert rows[3]["rank"] == 3 and rows[3]["score"] == 0.0


def test_temperature_mix_weights_alpha_limits(spark):
    """alpha=1 reproduces proportional sampling; alpha=0 is uniform; the
    default alpha=0.5 upweights the small source; p sums to ~1 and
    expected_docs to ~budget."""
    from syntenybrowserv2_etl_spark.operators import curation as cur

    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        ["doc_id", "src"],
    )
    prop = {
        r["src"]: r for r in cur.temperature_mix_weights(df, "src", alpha=1.0).collect()
    }
    assert prop["big"]["p"] == 0.9 and prop["small"]["p"] == 0.1
    unif = {
        r["src"]: r["p"]
        for r in cur.temperature_mix_weights(df, "src", alpha=0.0).collect()
    }
    assert unif == {"big": 0.5, "small": 0.5}
    temp = {
        r["src"]: r for r in cur.temperature_mix_weights(df, "src", alpha=0.5).collect()
    }
    assert 0.1 < temp["small"]["p"] < 0.5  # upweighted, not dominant
    assert abs(temp["big"]["p"] + temp["small"]["p"] - 1.0) < 1e-5
    assert abs(temp["big"]["expected_docs"] + temp["small"]["expected_docs"] - 1000.0) < 1e-2


def test_perplexity_buckets_hand_corpus(spark):
    """Per-lang tertiles: most corpus-typical doc gets bucket 1, least
    bucket 3; empty docs are dropped; buckets stay within 1..n."""
    from syntenybrowserv2_etl_spark.operators import curation as cur

    docs = spark.createDataFrame(
        [
            # lang A: 'x' dominates the corpus vocab, 'q r s' are rare
            (1, "x x x x", "A"),
            (2, "x x y", "A"),
            (3, "q r s", "A"),
            (4, "", "A"),  # unscoreable: excluded
            (5, "x y", "B"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {
        r["doc_id"]: r
        for r in cur.perplexity_buckets(
            docs, "doc_id", "text", "lang", n_buckets=3
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 5}
    assert rows[1]["bucket"] == 1  # all-'x' doc is the head
    assert rows[3]["bucket"] == 3  # rare-vocab doc is the tail
    assert rows[5]["bucket"] == 1  # sole doc of lang B
    assert all(1 <= r["bucket"] <= 3 for r in rows.values())


def test_dsir_importance_orders_target_like_docs_first(spark):
    """Docs sharing the target domain's bigrams must outweigh docs with
    bigrams seen only in the raw remainder; short docs get NULL weight."""
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta", "wiki"),
            (2, "alpha beta gamma", "wiki"),
            (3, "alpha beta", "web"),      # target-like non-target doc
            (4, "delta epsilon zeta", "web"),  # raw-only bigrams
            (5, "solo", "web"),            # < 2 tokens: no bigrams
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        r["doc_id"]: r
        for r in smp.dsir_importance(
            docs, "doc_id", "text", target=F.col("source") == "wiki"
        ).collect()
    }
    assert out[5]["n_bigrams"] == 0 and out[5]["weight"] is None
    assert out[3]["n_bigrams"] == 1
    # 'alpha beta' appears in the target; 'delta epsilon' never does
    assert out[3]["weight"] > out[4]["weight"]
    assert out[1]["weight"] > out[4]["weight"]


def test_funnel_requires_strict_stage_order(spark):
    """q83 semantics: a click only counts after the first view; a purchase
    only after such a click — out-of-order events never advance a user."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)

    def ts(m):
        return base + _dt.timedelta(minutes=m)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), 1, "view"), (2, ts(1), 1, "click"), (3, ts(2), 1, "purchase"),
        # user 2: click BEFORE the only view -> stage stops at view
        (4, ts(0), 2, "click"), (5, ts(1), 2, "view"),
        # user 3: purchase without an intervening click -> stage 1
        (6, ts(0), 3, "view"), (7, ts(1), 3, "purchase"),
        # user 4: no view at all
        (8, ts(0), 4, "purchase"),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}"))
    import syntenybrowserv2_etl_spark.queries as q

    orig_t = q.t
    try:
        q.t = lambda spark_, sf_dir, name: e
        out = {r["user_id"]: r["stage"] for r in q.REGISTRY["q83_funnel"].spark_fn(spark, "ignored").collect()}
    finally:
        q.t = orig_t
    assert out == {1: 3, 2: 1, 3: 1, 4: 0}


def test_pagerank_star_graph_ranks_hub_highest(spark):
    """On a symmetric star (hub <-> 4 leaves) the hub must out-rank every
    leaf, leaves tie exactly (same rounded arithmetic), and total rank
    mass stays ~1."""
    from syntenybrowserv2_etl_spark.operators import components as comp

    leaves = ["l1", "l2", "l3", "l4"]
    edges = spark.createDataFrame(
        [("hub", x) for x in leaves] + [(x, "hub") for x in leaves],
        ["src", "dst"],
    )
    rows = {r["node"]: r["rank"] for r in comp.pagerank(edges, iters=3).collect()}
    assert set(rows) == {"hub", *leaves}
    assert all(rows["hub"] > rows[x] for x in leaves)
    assert len({rows[x] for x in leaves}) == 1
    assert abs(sum(rows.values()) - 1.0) < 1e-6


def test_pagerank_dangling_nodes_keep_rank_mass(spark):
    """A directed edge list with a dst-only sink must neither drop the sink
    from the output nor leak its rank mass: the dangling sum teleports
    uniformly each round (canonical random-surfer dead-end handling), so
    the result matches a pure-Python power iteration with identical
    per-round rounding and sums to ~1."""
    from syntenybrowserv2_etl_spark.operators import components as comp

    # a -> b, a -> c, b -> c ; c has NO out-edges (dangling sink)
    pairs = [("a", "b"), ("a", "c"), ("b", "c")]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in comp.pagerank(edges, iters=3).collect()}

    nodes = sorted({x for p_ in pairs for x in p_})
    n = len(nodes)
    out = {}
    for s_, d_ in pairs:
        out.setdefault(s_, []).append(d_)
    d = 0.85
    ranks = {x: round(1.0 / n, 8) for x in nodes}
    for _ in range(3):
        contrib = {x: 0.0 for x in nodes}
        dmass = 0.0
        for x in nodes:
            dsts = out.get(x)
            if not dsts:
                dmass += ranks[x]
                continue
            for y in dsts:
                contrib[y] += ranks[x] / len(dsts)
        ranks = {
            x: round((1 - d) / n + d * (contrib[x] + dmass / n), 8)
            for x in nodes
        }
    assert got == ranks
    assert abs(sum(got.values()) - 1.0) < 1e-6
    assert "c" in got and got["c"] > got["b"] > got["a"]


def test_scd2_history_intervals_are_contiguous(spark):
    """q86 semantics: per user, valid_to of one row equals valid_from of
    the next; the last row stays open (NULL); unchanged values never open
    a new interval."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, '{"k": 5}'),
        (2, base + _dt.timedelta(minutes=1), 1, '{"k": 5}'),   # no change
        (3, base + _dt.timedelta(minutes=2), 1, '{"k": 7}'),   # change
        (4, base + _dt.timedelta(minutes=3), 1, '{"k": 5}'),   # change back
        (5, base, 2, '{"k": 9}'),
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "props"]
    ).withColumn("event_type", F.lit("x")).withColumn("value", F.lit(0.0))
    import syntenybrowserv2_etl_spark.queries as q

    orig_t = q.t
    try:
        q.t = lambda spark_, sf_dir, name: e
        out = sorted(
            q.REGISTRY["q86_scd2_history"].spark_fn(spark, "ignored").collect(),
            key=lambda r: (r["user_id"], r["valid_from_us"]),
        )
    finally:
        q.t = orig_t
    u1 = [r for r in out if r["user_id"] == 1]
    assert [r["k"] for r in u1] == [5, 7, 5]
    assert u1[0]["valid_to_us"] == u1[1]["valid_from_us"]
    assert u1[1]["valid_to_us"] == u1[2]["valid_from_us"]
    assert u1[2]["valid_to_us"] is None
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["valid_to_us"] is None


def test_quality_classifier_gate_semantics(spark):
    """Clean prose passes the gate; symbol soup and empty docs fail; the
    label always equals score >= 0.5 exactly (rounded-score contract)."""
    from syntenybrowserv2_etl_spark.operators import text as txt

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a good day for all of us "
                "to walk in the park with friends and talk about the news"),
            (2, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) !!!!"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in txt.quality_classifier(docs, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False
    assert out[3]["keep"] is False and out[3]["n_tokens"] == 0
    for r in out.values():
        assert r["keep"] == (r["score"] >= 0.5)


def test_pq_adc_score_equals_reconstructed_dot(spark):
    """ADC invariant: the subspace-decomposed score Σ_m dot(q_m, c_m[code])
    must equal the dot product of the query with the RECONSTRUCTED
    (quantized) vector — PQ's defining identity. Also: every vector gets
    exactly m codes, each within [1, k]."""
    from syntenybrowserv2_etl_spark import queries as q
    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = q.t(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
    emb = emb.localCheckpoint(eager=True)
    cb = sim.pq_codebooks(emb, m_subspaces=4, k=4, iters=2, dim=64)
    codes = sim.pq_encode(emb, cb, 4, dim=64)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == 4 for r in per_vec) and len(per_vec) == 100
    rng = codes.agg(F.min("code").alias("lo"), F.max("code").alias("hi")).first()
    assert rng["lo"] >= 1 and rng["hi"] <= 4
    qv = emb.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    adc = {
        r["vec_id"]: r["score"]
        for r in sim.pq_adc_topk(codes, cb, qv, 4, k=100, dim=64).collect()
    }
    # reconstruct each vector from its codewords (ordered by subspace)
    recon = (
        codes.join(cb, (codes["s"] == cb["s"]) & (codes["code"] == cb["centroid_id"]))
        .select("vec_id", codes["s"].alias("ss"), "centroid")
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("ss"), F.col("centroid")))),
                    lambda p: p["centroid"],
                )
            ).alias("rvec")
        )
    )
    qrow = qv.first()
    exact = {
        r["vec_id"]: r["d"]
        for r in recon.withColumn(
            "d", sim.dot_expr(F.col("rvec"), F.lit(qrow["qvec"]).cast("array<float>"))
        ).collect()
    }
    checked = 0
    for vid, score in adc.items():
        assert abs(score - exact[vid]) < 1e-4, (vid, score, exact[vid])
        checked += 1
    assert checked > 50


def test_weighted_sample_favors_heavy_rows_and_is_deterministic(spark):
    """A-ES contract: with weights 100:1, heavy rows dominate the sample;
    the same seed reproduces the exact selection; a different seed draws a
    different one."""
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    rows = [(i, 100 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    picked = lambda seed: [
        r["doc_id"]
        for r in smp.weighted_sample(df, "doc_id", "w", n=30, seed=seed).collect()
    ]
    a = picked(1)
    heavy = sum(1 for i in a if i < 50)
    # 50 rows carry 100x weight vs 450 rows at 1x: ~92% of total mass
    assert heavy >= 20, heavy
    assert picked(1) == a
    assert set(picked(2)) != set(a)


def test_ivf_pq_scores_subset_of_full_adc(spark):
    """IVF-PQ invariant: every (vec, score) it returns appears with the
    IDENTICAL score in the full-corpus ADC ranking (same codebooks), and
    every returned vector belongs to a probed cell."""
    from syntenybrowserv2_etl_spark import queries as q
    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = q.t(spark, "/root/testdata/sf0.001", "embeddings").localCheckpoint(
        eager=True
    )
    cells = sim.pick_centroids(emb, 16)
    assigned = sim.assign_centroids(emb, cells).select("vec_id", "centroid_id")
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64)
    codes = sim.pq_encode(emb, cb, 4, dim=64)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ivf = {
        r["vec_id"]: r["score"]
        for r in sim.ivf_pq_topk(
            assigned, codes, cells, cb, qv, 4, nprobe=4, k=10, dim=64
        ).collect()
    }
    full = {
        r["vec_id"]: r["score"]
        for r in sim.pq_adc_topk(codes, cb, qv, 4, k=500, dim=64).collect()
    }
    assert len(ivf) == 10
    for vid, score in ivf.items():
        assert full[vid] == score, (vid, score, full[vid])


def test_scd2_null_attribute_is_null_safe(spark):
    """Review fix: a missing attribute is a real SCD2 state — transitions
    to/from NULL are detected, runs of NULLs stay ONE interval, and plain
    <> semantics (which lose both) are rejected."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, '{"k": 5}'),
        (2, base + _dt.timedelta(minutes=1), 1, '{}'),        # 5 -> NULL
        (3, base + _dt.timedelta(minutes=2), 1, '{}'),        # same run
        (4, base + _dt.timedelta(minutes=3), 1, '{"k": 5}'),  # NULL -> 5
        (5, base, 2, '{}'),                                   # opens NULL
    ]
    e = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "props"]
    ).withColumn("event_type", F.lit("x")).withColumn("value", F.lit(0.0))
    import syntenybrowserv2_etl_spark.queries as q

    orig_t = q.t
    try:
        q.t = lambda spark_, sf_dir, name: e
        out = sorted(
            q.REGISTRY["q86_scd2_history"].spark_fn(spark, "ignored").collect(),
            key=lambda r: (r["user_id"], r["valid_from_us"]),
        )
    finally:
        q.t = orig_t
    u1 = [r["k"] for r in out if r["user_id"] == 1]
    assert u1 == [5, None, 5]
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["k"] is None


def test_dsir_null_source_counts_as_non_target(spark):
    """Review fix: rows where the target predicate evaluates NULL must
    count as raw-only — weights stay finite and n_bigrams consistent."""
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "wiki"),
            (2, "delta epsilon zeta", None),   # NULL-predicate rows
            (3, "delta epsilon zeta", None),
        ],
        ["doc_id", "text", "source"],
    )
    out = {
        r["doc_id"]: r
        for r in smp.dsir_importance(
            docs, "doc_id", "text", target=F.col("source") == "wiki"
        ).collect()
    }
    for vid in (1, 2, 3):
        assert out[vid]["weight"] is not None
        assert out[vid]["n_bigrams"] == 2
    # NULL-source docs share raw-only bigrams: weight below the target doc
    assert out[2]["weight"] < out[1]["weight"]


def test_apply_scd2_edge_cases(spark):
    """apply_scd2 merge semantics at the boundary: heartbeat-only batches
    leave the open row untouched; a first-run change closes it; brand-new
    keys open intervals even with NULL attribute values (the 'has open
    row' guard, not eqNullSafe alone)."""
    import datetime as _dt

    from syntenybrowserv2_etl_spark.operators import scd as scd_ops

    base = _dt.datetime(2024, 3, 1)
    us = lambda m: int((base + _dt.timedelta(minutes=m)).timestamp() * 1_000_000)
    snapshot = spark.createDataFrame(
        [
            (1, 5, us(0), us(10)),   # closed: passes through untouched
            (1, 7, us(10), None),    # open, k=7
            (2, None, us(0), None),  # open, k=NULL
        ],
        "user_id bigint, k bigint, valid_from_us bigint, valid_to_us bigint",
    )
    changes = spark.createDataFrame(
        [
            (101, base + _dt.timedelta(minutes=20), 1, 7),     # heartbeat: absorbed
            (102, base + _dt.timedelta(minutes=30), 1, 9),     # change: closes open
            (103, base + _dt.timedelta(minutes=20), 2, None),  # NULL heartbeat: absorbed
            (104, base + _dt.timedelta(minutes=20), 3, None),  # NEW key, NULL value
            (105, base + _dt.timedelta(minutes=25), 3, 4),     # its first change
        ],
        "event_id bigint, ts timestamp, user_id bigint, k bigint",
    )
    got = {
        tuple(r)
        for r in scd_ops.apply_scd2(snapshot, changes)
        .select("user_id", "k", "valid_from_us", "valid_to_us")
        .collect()
    }
    want = {
        (1, 5, us(0), us(10)),      # untouched closed
        (1, 7, us(10), us(30)),     # open closed at the REAL change, not the heartbeat
        (1, 9, us(30), None),       # new open
        (2, None, us(0), None),     # heartbeat-only key: still open, untouched
        (3, None, us(20), us(25)),  # new key's NULL interval exists
        (3, 4, us(25), None),
    }
    assert got == want


def test_perplexity_buckets_sampled_matches_exact_contract(spark):
    """The sampled-cutoff variant must honor the exact twin's contract
    within sample jitter: buckets partition each group, scores are
    monotone across buckets (every head doc outscores every tail doc up
    to the shared cutoff), sizes stay near-balanced, and per-doc
    agreement with the exact ntile stays high at this sample rate."""
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    )
    exact = {
        r["doc_id"]: r["bucket"]
        for r in cur_ops.perplexity_buckets(d, "doc_id", "text", "lang").collect()
    }
    rows = cur_ops.perplexity_buckets_sampled(
        d, "doc_id", "text", "lang", sample_mod=3
    ).collect()
    assert {r["doc_id"] for r in rows} == set(exact)
    by_grp: dict[tuple, list] = {}
    for r in rows:
        by_grp.setdefault(r["lang"], []).append(r)
    for grp, rs in by_grp.items():
        sizes = {b: sum(1 for r in rs if r["bucket"] == b) for b in (1, 2, 3)}
        n = len(rs)
        assert set(sizes) == {1, 2, 3}
        for b, c in sizes.items():
            assert abs(c - n / 3) < 0.25 * n, (grp, sizes)
        # monotone: min score of bucket b >= max score of bucket b+1
        # (threshold assignment makes this exact, not approximate)
        for b in (1, 2):
            lo = min(r["score"] for r in rs if r["bucket"] == b)
            hi = max(r["score"] for r in rs if r["bucket"] == b + 1)
            assert lo >= hi, (grp, b, lo, hi)
    agree = sum(exact[r["doc_id"]] == r["bucket"] for r in rows) / len(rows)
    assert agree > 0.75, agree


def test_leakage_free_split_never_straddles_clusters(spark):
    """Every near-dup cluster must land whole on one side of the split —
    the operator's entire contract — and the test fraction must stay in
    the right neighborhood."""
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = smp.leakage_free_split(d, "doc_id", "text", test_fraction=0.2).collect()
    assert len(rows) == d.count()
    split_of_cluster: dict = {}
    for r in rows:
        prev = split_of_cluster.setdefault(r["cluster_rep"], r["split"])
        assert prev == r["split"], f"cluster {r['cluster_rep']} straddles"
    frac = sum(1 for r in rows if r["split"] == "test") / len(rows)
    assert 0.05 < frac < 0.45, frac


def test_keep_best_representative_hand_corpus(spark):
    """The survivor of each near-dup family must be its highest-quality
    member (longest here), with ties broken by id; singletons survive as
    themselves with cluster_size 1."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd
    from syntenybrowserv2_etl_spark.operators import text as txt

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base + " with a much longer informative tail added here"),
        (3, base),                                # ties with 1 -> min id wins among equals
        (4, "completely different words live in this one document here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["cluster_size"], r["quality"])
        for r in dd.keep_best_representative(
            df, "doc_id", "text", txt.token_count("text")
        ).collect()
    }
    # docs 1,2,3 cluster (2 is a near-dup of the base at j >= 1/2); doc 2
    # is longest so IT survives, speaking for 3 docs; doc 4 is a singleton
    assert set(got) == {2, 4}
    assert got[2][0] == 3 and got[4][0] == 1
    assert got[2][1] > got[4][1] == 9


def test_audio_frame_features_exact_values(spark):
    """Per-frame RMS / peak / zero-crossings over a REAL WAV decode must be
    exact: an alternating-sign square wave has a known crossing count and
    constant RMS; a stereo payload downmixes to the channel mean before
    framing; non-audio and undecodable rows contribute zero frames."""
    # mono: 10 alternating +1000/-1000 samples, frame size 4 -> frames of
    # 4, 4, 2 samples
    mono = [1000 if i % 2 == 0 else -1000 for i in range(10)]
    # stereo: L=2000, R=0 constant -> mono mean 1000, no crossings
    stereo = [2000, 0] * 6
    media = spark.createDataFrame(
        [
            (1, "audio", _make_wav(mono), None, None, 2, "pcm"),
            (2, "audio", _make_wav(stereo, n_ch=2), None, None, 2, "pcm"),
            (3, "image", b"not audio", None, None, None, "png"),
            (4, "audio", None, None, None, None, "pcm"),
            (5, "audio", b"garbage-bytes", None, None, None, "pcm"),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {
        (r["media_id"], r["frame_idx"]): r
        for r in multimodal.audio_frame_features(media, frame_samples=4).collect()
    }
    assert {k[0] for k in rows} == {1, 2}
    # media 1: frames (4, 4, 2) samples; rms = 1000/32768 everywhere;
    # crossings = transitions within the frame (3, 3, 1)
    assert [rows[(1, i)]["n_samples"] for i in range(3)] == [4, 4, 2]
    for i, zc in [(0, 3), (1, 3), (2, 1)]:
        r = rows[(1, i)]
        assert r["zero_crossings"] == zc
        assert r["rms"] == 1000.0 / 32768.0
        assert r["peak"] == 1000.0 / 32768.0
        assert r["start_sample"] == i * 4
    # media 2: 6 mono samples after downmix -> frames (4, 2); constant
    # +1000 -> zero crossings nowhere
    assert [rows[(2, i)]["n_samples"] for i in range(2)] == [4, 2]
    assert all(rows[(2, i)]["zero_crossings"] == 0 for i in range(2))
    assert all(rows[(2, i)]["rms"] == 1000.0 / 32768.0 for i in range(2))


def test_synthetic_wav_media_roundtrips_through_decoder(spark):
    """The closed-form WAV fixture must decode back to its formula samples
    byte-exactly — the premise that lets q97 value-check the real decode
    path against SQL arithmetic."""
    media = multimodal.synthetic_wav_media(spark, 5)
    for r in media.collect():
        n_ch, rate, samples = multimodal._wav_decode(bytes(r["payload"]))
        i = r["media_id"]
        want = [
            ((i * 37 + j * 11) % 2048) - 1024 for j in range(200 + i % 7)
        ]
        assert (n_ch, rate) == (1, 8000) and samples == want


# --- round 8: graph cohesion, time-series shaping, profiling, layout ---

from syntenybrowserv2_etl_spark.operators import components as comp_ops8
from syntenybrowserv2_etl_spark.operators import layout as layout_ops8
from syntenybrowserv2_etl_spark.operators import profiling as prof_ops8
from syntenybrowserv2_etl_spark.operators import timeseries as ts_ops8


def test_triangle_counts_k4_plus_pendant(spark):
    """K4 (every node in C(3,2)=3 triangles) plus a pendant edge (node 5
    in none). Direction/duplicates in the input must not matter."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        ["src", "dst"],
    )
    got = {
        (r["node"], r["n_triangles"])
        for r in comp_ops8.triangle_counts(edges).collect()
    }
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_triangle_counts_hub_star_has_none(spark):
    """A pure star (hub + leaves, no leaf-leaf edges) has zero triangles —
    and under degree ordering the hub contributes zero wedges, which is
    the O(m^1.5) guarantee in miniature."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], ["src", "dst"]
    )
    assert comp_ops8.triangle_counts(edges).count() == 0


def test_downsample_gapfill_fills_interior_zeros(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, "a", 1.0),
        (2, base + dt.timedelta(hours=3), "a", 2.0),
        (3, base + dt.timedelta(hours=1), "b", 5.0),
    ]
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    out = {
        (r["series"], r["bucket_us"]): (r["n_events"], r["sum_value"])
        for r in ts_ops8.downsample_gapfill(e).collect()
    }
    us = lambda h: int((base + dt.timedelta(hours=h)).timestamp() * 1e6)
    # series a spans 4 buckets, hours 1 and 2 zero-filled
    assert out[("a", us(0))] == (1, 1.0)
    assert out[("a", us(1))] == (0, 0.0)
    assert out[("a", us(2))] == (0, 0.0)
    assert out[("a", us(3))] == (1, 2.0)
    # series b is a single bucket — no spill past its own span
    assert out[("b", us(1))] == (1, 5.0)
    assert len(out) == 5


def test_zscore_outliers_flags_known_spike(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 9 quiet (user, day) cells with 1 event, one cell with 20
    for u in range(9):
        rows.append((eid, base + dt.timedelta(days=u), u, "click"))
        eid += 1
    for _ in range(20):
        rows.append((eid, base + dt.timedelta(days=9, minutes=eid), 9, "click"))
        eid += 1
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = {r["key"]: r for r in ts_ops8.zscore_outliers(e).collect()}
    assert out[9]["is_outlier"] and out[9]["cnt"] == 20
    assert not any(out[u]["is_outlier"] for u in range(9))
    # z of the quiet cells is identical and negative; spike's z ~ +3
    assert out[9]["z"] > 2.0 and out[0]["z"] < 0


def test_zscore_outliers_zero_variance_is_null_not_flagged(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [(i, base + dt.timedelta(days=i), i, "view") for i in range(4)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string",
    )
    out = ts_ops8.zscore_outliers(e).collect()
    assert all(r["z"] is None and not r["is_outlier"] for r in out)


def test_zscore_outliers_two_sided_flags_collapse(spark):
    """The documented one-sidedness contract, both ways: a partial
    activity COLLAPSE (cnt 1 in a population of 10s, z ≈ −3) is
    invisible to the default spikes-only flag and caught by
    two_sided=True; the flip changes NOTHING else (same cells, same z)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 9 busy (user, day) cells with 10 events, one collapsed cell with 1
    for u in range(9):
        for _ in range(10):
            rows.append((eid, base + dt.timedelta(days=u, minutes=eid), u, "click"))
            eid += 1
    rows.append((eid, base + dt.timedelta(days=9), 9, "click"))
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    one = {r["key"]: r for r in ts_ops8.zscore_outliers(e).collect()}
    two = {r["key"]: r for r in ts_ops8.zscore_outliers(e, two_sided=True).collect()}
    assert one[9]["z"] < -2.0 and not one[9]["is_outlier"]  # spikes-only default
    assert two[9]["is_outlier"]  # |z| catches the collapse
    assert all(one[u]["z"] == two[u]["z"] for u in range(10))
    assert not any(two[u]["is_outlier"] for u in range(9))


def test_profile_table_counts_nulls_and_types(spark):
    df = spark.createDataFrame(
        [(1, "x", 2.0), (2, None, None), (None, "y", 4.0)],
        "a bigint, s string, v double",
    )
    out = {r["column"]: r for r in prof_ops8.profile_table(df).collect()}
    assert (out["a"]["n_nulls"], out["a"]["n_distinct"]) == (1, 2)
    assert (out["a"]["min_num"], out["a"]["max_num"]) == (1.0, 2.0)
    assert out["a"]["min_str"] is None
    assert (out["s"]["n_nulls"], out["s"]["min_str"], out["s"]["max_str"]) == (
        1, "x", "y",
    )
    assert out["s"]["min_num"] is None
    assert (out["v"]["n_nulls"], out["v"]["min_num"], out["v"]["max_num"]) == (
        1, 2.0, 4.0,
    )


def test_profile_table_approx_within_rsd(spark):
    """The approx=True profile must agree with the exact one on
    everything but n_distinct — nulls and min/max are computed the same
    way — and its HLL++ cardinality estimates must sit inside the
    3·rsd envelope of the exact counts (the q38 bound pattern)."""
    rsd = 0.05
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    exact = {r["column"]: r for r in prof_ops8.profile_table(df).collect()}
    approx = {
        r["column"]: r
        for r in prof_ops8.profile_table(df, approx=True, rsd=rsd).collect()
    }
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        for f in ("n_nulls", "min_num", "max_num", "min_str", "max_str"):
            assert e[f] == a[f], (c, f)
        assert abs(a["n_distinct"] - e["n_distinct"]) <= max(
            3 * rsd * e["n_distinct"], 1
        ), c


def test_morton_key_matches_reference_bits(spark):
    """Hand-computed interleaves plus the SQL twin: morton_key and
    morton_key_sql must agree bit-for-bit (the q102 oracle premise)."""
    rows = spark.createDataFrame(
        [(5, 3), (0, 0), (7, 0), (0, 7), (1234, 4321)], ["x", "y"]
    )
    both = rows.select(
        layout_ops8.morton_key("x", "y", 13).alias("k"),
        F.expr(layout_ops8.morton_key_sql("x", "y", 13)).alias("k_sql"),
    ).collect()
    assert all(r["k"] == r["k_sql"] for r in both)
    one = rows.filter("x = 5").select(
        layout_ops8.morton_key("x", "y", 3).alias("k")
    ).first()
    assert one["k"] == 27  # x=101, y=011 -> 011011


def test_zorder_box_buckets_cover_the_box(spark):
    """Every row inside the box must live in a candidate bucket — the
    IN-list may over-approximate (curve cells partially outside the box)
    but NEVER under-approximate (that would drop rows)."""
    import itertools

    bits, zb = 6, 4
    pts = spark.createDataFrame(
        [(x, y) for x, y in itertools.product(range(0, 64, 3), repeat=2)],
        ["x", "y"],
    ).withColumn(
        "__zb",
        F.shiftright(layout_ops8.morton_key("x", "y", bits), 2 * bits - zb),
    )
    cells = layout_ops8.zorder_box_buckets(10, 40, 20, 55, bits, zb)
    escaped = pts.filter(
        "x between 10 and 40 and y between 20 and 55"
    ).filter(~F.col("__zb").isin(cells))
    assert escaped.count() == 0


from syntenybrowserv2_etl_spark.operators import delta as delta_ops8


def test_snapshot_diff_classifies_all_change_kinds(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k bigint, s string, v bigint",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 41), (5, "e", 50)],
        "k bigint, s string, v bigint",
    )
    got = {
        r["k"]: (r["change_type"], r["changed_cols"])
        for r in delta_ops8.snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        2: ("changed", "s"),          # value change
        3: ("removed", ""),
        4: ("changed", "s,v"),        # NULL -> value IS a change; both cols
        5: ("added", ""),
    }  # key 1 unchanged: absent


def test_snapshot_diff_null_keys_match_null_safely(spark):
    """A NULL-keyed row (including a composite key whose FIRST component
    is NULL) must match itself across snapshots — not emit as
    added+removed (the == join / isNotNull-presence bug ADVICE r8 named)."""
    old = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), (7, None, 70)],
        "k1 bigint, k2 bigint, v bigint",
    )
    new = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 21), (7, None, 70), (None, 3, 30)],
        "k1 bigint, k2 bigint, v bigint",
    )
    got = {
        (r["k1"], r["k2"]): (r["change_type"], r["changed_cols"])
        for r in delta_ops8.snapshot_diff(
            old, new, ["k1", "k2"], ["v"]
        ).collect()
    }
    assert got == {
        (None, 2): ("changed", "v"),
        (None, 3): ("added", ""),
    }  # (None,1) and (7,None) unchanged: absent


def test_expectations_report_known_violations(spark):
    from syntenybrowserv2_etl_spark.operators import profiling as prof

    child = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 99), (3, None)], "id bigint, fk bigint"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk bigint")
    out = {
        r["expectation"]: (r["n_violations"], r["passed"])
        for r in prof.run_expectations([
            prof.expect_unique("uq", child, ["id"]),
            prof.expect_not_null("nn", child, "fk"),
            prof.expect_fk("fk", child, "fk", parent, "pk"),
            prof.expect_range("rng", child, "fk", 0, 15),
            prof.expect_in("dom", child, "id", [1, 2]),
        ]).collect()
    }
    assert out["uq"] == (1, False)   # id 1 twice
    assert out["nn"] == (1, False)   # one NULL fk
    assert out["fk"] == (1, False)   # 99 orphaned; NULL fk not counted
    assert out["rng"] == (3, False)  # 20 and 99 out of range, NULL violates
    assert out["dom"] == (1, False)  # id 3 outside domain


def test_ohlc_ties_resolved_by_total_order(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12)
    # two events at the SAME timestamp: event_id breaks the tie for both
    # open (lowest id) and close (highest id)
    e = spark.createDataFrame(
        [(2, base, "a", 7.0), (1, base, "a", 3.0), (3, base + dt.timedelta(hours=1), "a", 5.0)],
        "event_id bigint, ts timestamp, event_type string, value double",
    )
    r = ts_ops8.ohlc(e).collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n"]) == (
        3.0, 7.0, 3.0, 5.0, 3,
    )


def test_time_weighted_avg_known_value(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # value 10 held 1h, value 20 held 3h -> twavg = (10*1 + 20*3)/4 = 17.5
    e = spark.createDataFrame(
        [
            (1, base, 1, "a", 10.0),
            (2, base + dt.timedelta(hours=1), 1, "a", 20.0),
            (3, base + dt.timedelta(hours=4), 1, "a", 99.0),
            (4, base, 2, "a", 5.0),  # single observation: dropped
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    rows = ts_ops8.time_weighted_avg(e).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["key"], r["twavg"], r["span_us"], r["n"]) == (
        1, 17.5, 4 * 3600 * 1_000_000, 3,
    )


def test_write_zordered_splits_hot_cell_across_files(spark, tmp_path):
    """files_per_bucket must actually spread a hot cell: range
    partitioning on (cell, zkey) splits it at curve-order boundaries
    into multiple sorted files (a hash repartition on the cell id alone
    silently writes one giant file per cell — the bug this pins out)."""
    import glob as _glob

    # all 4000 rows land in ONE coarse cell (tiny coordinates)
    df = spark.range(4000).selectExpr("id % 60 as x", "cast(id / 60 as long) as y")
    path = str(tmp_path / "zhot")
    layout_ops8.write_zordered(
        df, path, "x", "y", bits=12, zbucket_bits=4, files_per_bucket=4
    )
    cells = _glob.glob(path + "/__zb=*")
    assert len(cells) == 1  # genuinely one hot cell
    files = _glob.glob(cells[0] + "/*.parquet")
    assert len(files) > 1  # split, not one giant file
    # and the split respects curve order: per-file zkey ranges are disjoint
    ranges = []
    for f in files:
        zf = spark.read.parquet(f).agg(
            F.min("zkey").alias("lo"), F.max("zkey").alias("hi")
        ).collect()[0]
        ranges.append((zf["lo"], zf["hi"]))
    ranges.sort()
    assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))


def test_morton_key_nd_matches_2d_and_sql_twin(spark):
    """morton_key_nd([x,y]) must equal the 2-D morton_key bit-for-bit
    (same axis layout → old tables stay readable), and the d=3 SQL twin
    must agree with the Column formula (the oracle premise at any d)."""
    df = spark.range(500).selectExpr(
        "cast(id % 29 as long) as x",
        "cast(id % 17 as long) as y",
        "cast(id % 13 as long) as z",
    )
    got = df.select(
        (
            layout_ops8.morton_key_nd(["x", "y"], 13)
            == layout_ops8.morton_key("x", "y", 13)
        ).alias("eq2"),
        (
            layout_ops8.morton_key_nd(["x", "y", "z"], 9)
            == F.expr(layout_ops8.morton_key_nd_sql(["x", "y", "z"], 9))
        ).alias("eq3"),
    )
    assert got.filter("NOT eq2 OR NOT eq3").count() == 0


def test_zordered_nd_pruned_box_read_equals_full_scan(spark, tmp_path):
    """3-column layout, odd zbucket_bits: the pruned read must return
    exactly the rows the brute-force box filter returns (the
    pruned-read == full-scan contract, now at d=3 with the even-split
    restriction lifted), and must genuinely prune partitions."""
    import glob as _glob

    df = spark.range(3000).selectExpr(
        "cast(id % 61 as long) as x",
        "cast((id * 7) % 53 as long) as y",
        "cast((id * 13) % 47 as long) as z",
    )
    path = str(tmp_path / "z3")
    layout_ops8.write_zordered_nd(
        df, path, ["x", "y", "z"], bits=6, zbucket_bits=5
    )
    box = [(5, 30), (10, 40), (0, 20)]
    got = layout_ops8.read_zordered_box_nd(
        spark, path, box, ["x", "y", "z"], bits=6, zbucket_bits=5
    )
    want = df.filter(
        "x between 5 and 30 and y between 10 and 40 and z between 0 and 20"
    )
    assert got.count() == want.count()
    assert got.select("x", "y", "z").exceptAll(
        want.select("x", "y", "z")
    ).count() == 0
    # pruning is real: candidate cells < written cells
    written = len(_glob.glob(path + "/__zb=*"))
    cells = layout_ops8.zorder_box_cells_nd(box, 6, 5)
    assert len(cells) < written


def test_zordered_domain_guard_fails_write_and_read(spark, tmp_path):
    """Out-of-domain coordinates must FAIL the write (not alias onto the
    curve and silently vanish from pruned reads); out-of-domain box
    bounds must raise in the read (ADVICE r8)."""
    import pytest as _pytest

    bad = spark.range(5).selectExpr(
        "cast(id + 62 as long) as x", "cast(id as long) as y"
    )  # x reaches 66 > 2^6-1
    with _pytest.raises(Exception) as ei:
        layout_ops8.write_zordered(
            bad, str(tmp_path / "zbad"), "x", "y", bits=6, zbucket_bits=4
        )
    assert "z-order coordinate outside" in str(ei.value)
    with _pytest.raises(ValueError):
        layout_ops8.read_zordered_box_nd(
            spark, str(tmp_path / "zbad"), [(0, 64), (0, 3)], ["x", "y"],
            bits=6, zbucket_bits=4,
        )


def test_compact_table_zkey_retro_clusters(spark, tmp_path):
    """compact_table(sort_within_by=["zkey"]) is the documented
    retro-clustering path for already-ingested tables: after compaction
    the per-file zkey ranges are disjoint (row-group min/max stats become
    selective) and every row survives."""
    import glob as _glob
    from syntenybrowserv2_etl_spark.sources.io import compact_table

    path = str(tmp_path / "ingested")
    df = spark.range(4000).selectExpr(
        "cast(id % 57 as long) as x", "cast((id * 11) % 57 as long) as y"
    ).withColumn("zkey", layout_ops8.morton_key("x", "y", 6))
    # simulate many small append batches (un-clustered arrival order)
    df.orderBy(F.rand(7)).repartition(16).write.mode("overwrite").parquet(path)
    n_before, n_after = compact_table(
        spark, path, target_mb=1, sort_within_by=["zkey"]
    )
    assert spark.read.parquet(path).count() == 4000
    files = _glob.glob(path + "/*.parquet")
    ranges = sorted(
        tuple(
            spark.read.parquet(f)
            .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
            .collect()[0]
        )
        for f in files
    )
    assert all(
        ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1)
    )


def test_containment_join_detects_quote_not_jaccard(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    1.0 (detected) while Jaccard is far below any useful threshold —
    the directed relation is the operator's reason to exist. No reverse
    pair (the long doc is not contained in the short one), no
    self-pairs, unrelated docs silent."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "prefix words here the quick brown fox jumps over the lazy "
            "dog and then much more trailing content follows here"),
        (3, "completely unrelated text about spark execution engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_join_prefix(
            df, "doc_id", "text", threshold=0.8, k=3
        ).collect()
    }
    assert out == {(1, 2): 1.0}


def test_knn_batch_shuffle_probe_equals_broadcast(spark):
    """knn_ivf's two probe-distribution strategies are the SAME algorithm:
    broadcast_probe=False (the table-scale query-set path) must return
    exactly the broadcast path's neighbors for a whole query batch."""
    from syntenybrowserv2_etl_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = sim.pick_centroids(emb, 8)
    assigned = sim.assign_centroids(emb, cents)
    qs = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run = lambda bc, salt=1: {
        (r.query_id, r.vec_id, r["rank"])
        for r in sim.knn_ivf(
            assigned, cents, qs, k=3, nprobe=3,
            broadcast_probe=bc, probe_salt=salt,
        ).collect()
    }
    got = run(False)
    assert got == run(True)
    # cell-salting is result-invariant: every (corpus row, probe) pair
    # meets on exactly one (cell, salt) sub-key
    assert got == run(False, salt=7)
    assert len({q for q, _, _ in got}) == 16  # every query answered


def test_trailing_window_shrinks_over_calendar_gaps(spark):
    """RANGE-interval semantics (the q114 contract): the 7-day frame is
    TIME-bounded, so a calendar gap longer than the window leaves only
    the current day in frame — where a ROWS frame would silently reach
    across the gap and sum unrelated history."""
    import datetime as dt
    from syntenybrowserv2_etl_spark import queries as q

    rows = [
        (i, 0, "O", 10.0, dt.datetime(1995, 1, d), "P")
        for i, d in enumerate([1, 2, 3, 20, 21])
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    import os, tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "orders.parquet"))
        out = {
            r.day.day: (r.rev_7d, r.orders_7d)
            for r in q.REGISTRY["q114_trailing_window"].spark_fn(
                spark, tmp
            ).collect()
        }
    assert out[3] == (30.0, 3)    # days 1-3 in frame
    assert out[20] == (10.0, 1)   # the 17-day gap empties the frame
    assert out[21] == (20.0, 2)   # day 20 + 21


def test_ivf_index_append_equals_full_rebuild(spark, tmp_path):
    """Incremental index growth: seeding with half the corpus and
    appending the rest in two batches must serve IDENTICAL IVF-PQ
    results to a one-shot full build (same cells/codebooks → same
    assignments and codes, layout is the only difference). Redelivered
    append batches are no-ops (duplicated codes would double ADC partial
    sums), and each (cell, batch) sub-partition is one file."""
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).localCheckpoint(eager=True)
    cells = sim.kmeans_centroids(emb, k=8, iters=2).localCheckpoint(eager=True)
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64).localCheckpoint(eager=True)
    qv = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def topk(path):
        return {
            (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
            for r in sim.ivf_pq_topk_indexed(
                spark, path, cells, cb, qv, 4, nprobe=3, k=5, dim=64
            ).collect()
        }

    full = str(tmp_path / "full")
    sim.write_ivf_index(
        sim.assign_centroids(emb, cells), sim.pq_encode(emb, cb, 4, dim=64),
        full,
    )

    inc = str(tmp_path / "inc")
    seed = emb.filter(F.col("vec_id") < 250)
    sim.write_ivf_index(
        sim.assign_centroids(seed, cells), sim.pq_encode(seed, cb, 4, dim=64),
        inc,
    )
    b1 = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 400))
    b2 = emb.filter(F.col("vec_id") >= 400)
    for i, b in ((1, b1), (2, b2)):
        sim.ivf_index_append_batch(
            b, i, index_path=inc, cells=cells, codebooks=cb, dim=64
        )
    assert topk(inc) == topk(full)
    n_codes = spark.read.parquet(inc).count()
    # committed-batch redelivery: skipped, no code duplication
    sim.ivf_index_append_batch(
        b1, 1, index_path=inc, cells=cells, codebooks=cb, dim=64
    )
    assert spark.read.parquet(inc).count() == n_codes
    # one file per (cell, batch) sub-partition
    for d in _glob.glob(_os.path.join(inc, "centroid_id=*", "__ib=*")):
        files = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} has {len(files)} files"


from syntenybrowserv2_etl_spark.operators import index as index_ops10


def test_phrase_search_counts_overlaps_and_repeats(spark):
    """Toy corpus with known phrase geometry: overlapping matches all
    count (n_matches = start positions, not a greedy cover), repeated
    phrase terms align by offset, an absent term yields an EMPTY result
    (not an error), and positions are 1-based (SQL ordinality twin)."""
    docs = spark.createDataFrame(
        [
            (1, "x a b a b a y"),   # "a b a" starts at pos 2 and 4 (overlap)
            (2, "a b a"),           # one match at pos 1
            (3, "b a b"),           # no "a b a"
            (4, "c c c c"),         # "c c" at 1,2,3 — repeated-term phrase
        ],
        "doc_id long, text string",
    )
    idx = index_ops10.positional_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in index_ops10.phrase_search(idx, "a b a").collect()
    }
    assert got == {1: (2, 2), 2: (1, 1)}
    rep = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in index_ops10.phrase_search(idx, "c c").collect()
    }
    assert rep == {4: (3, 1)}
    assert index_ops10.phrase_search(idx, "a zebra").count() == 0
    with pytest.raises(ValueError, match="empty phrase"):
        index_ops10.phrase_search(idx, "   ")


def test_write_index_read_postings_pruned(spark, tmp_path):
    """The persisted index is term-bucketed; a postings read for k terms
    must (a) return exactly the full-scan-filter rows and (b) touch only
    the pruned buckets' files — the partition-pruning contract that makes
    phrase queries corpus-size-independent at 100 TB."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = index_ops10.positional_index(docs, "doc_id", "text")
    path = str(tmp_path / "pidx")
    index_ops10.write_index(idx, path, term_buckets=16)
    terms = ["small", "query"]
    got = index_ops10.read_postings(spark, path, terms, term_buckets=16)
    full = spark.read.parquet(path).filter(F.col("term").isin(terms))
    assert sorted(
        (r["doc_id"], r["pos"], r["term"])
        for r in got.select("doc_id", "pos", "term").collect()
    ) == sorted(
        (r["doc_id"], r["pos"], r["term"])
        for r in full.select("doc_id", "pos", "term").collect()
    )
    # plan pin: the foldable xxhash64(lit) bucket predicate must constant-
    # fold into literal equalities that land in PartitionFilters — i.e. the
    # scan lists only the k matching bucket directories, not the index.
    # (inputFiles() reports the pre-pruning relation listing, so the plan
    # is the observable contract.)
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re as _re

    pf = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, plan
    assert _re.search(r"term_bucket#\d+ = \d+", pf.group(1)), pf.group(1)
    assert "xxhash64" not in pf.group(1)  # folded to literals, prunable


def test_lsh_cross_candidates_match_self_join_restriction(spark):
    """Two-sided LSH candidates (train x bench) must equal the one-table
    self-join candidates restricted to pairs that span the slices — same
    banding (_banded_keys), different join shape, identical recall."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
        .localCheckpoint(eager=True)
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    sig_all = dd.minhash_signatures_inline(docs, "doc_id", "text", k=3, num_hashes=8)
    sig_t = dd.minhash_signatures_inline(train, "doc_id", "text", k=3, num_hashes=8)
    sig_b = dd.minhash_signatures_inline(bench, "doc_id", "text", k=3, num_hashes=8)
    cross = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates_cross(
            sig_t, sig_b, "doc_id", num_hashes=8, bands=4
        ).collect()
    }
    self_pairs = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_candidates(
            sig_all, "doc_id", num_hashes=8, bands=4
        ).collect()
    }
    expected = set()
    for a, b in self_pairs:
        if a % 7 != 0 and b % 7 == 0:
            expected.add((a, b))
        elif a % 7 == 0 and b % 7 != 0:
            expected.add((b, a))
    assert cross == expected


def test_decontaminate_neardup_confirms_planted_leak(spark):
    """A train doc that is a near-copy of a bench doc (one token changed,
    J >> 1/5) must come back confirmed; an unrelated train doc that
    happens to band-collide may appear as a candidate but never as
    confirmed. Integer-threshold discipline: inter*den >= num*uni."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    bench = spark.createDataFrame([(0, base)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, near), (2, "mu nu xi omicron pi rho sigma tau upsilon phi")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_candidates"], r["n_confirmed"])
        for r in dd.decontaminate_neardup(
            train, bench, "doc_id", "text", k=3, num_hashes=8, bands=4
        ).collect()
    }
    assert out.get(1, (0, 0))[1] == 1  # planted near-dup confirmed
    assert out.get(2, (0, 0))[1] in (0, None) or out[2][1] == 0


def test_index_append_equals_full_rebuild(spark, tmp_path):
    """Incremental postings growth: seed with half the corpus, append the
    rest in two batches — identical postings (and identical phrase-search
    answers) to a one-shot full build; committed-batch redelivery is a
    no-op; a crash BETWEEN data write and marker (marker deleted, batch
    replayed) never duplicates postings; one file per (bucket, batch)."""
    import glob as _glob
    import os as _os

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).localCheckpoint(eager=True)

    def postings(path):
        return sorted(
            (r["doc_id"], r["pos"], r["term"])
            for r in spark.read.parquet(path)
            .select("doc_id", "pos", "term")
            .collect()
        )

    full = str(tmp_path / "full")
    index_ops10.write_index(
        index_ops10.positional_index(docs, "doc_id", "text"), full,
        term_buckets=8,
    )

    inc = str(tmp_path / "inc")
    index_ops10.write_index(
        index_ops10.positional_index(
            docs.filter(F.col("doc_id") < 250), "doc_id", "text"
        ),
        inc,
        term_buckets=8,
    )
    b1 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 400))
    b2 = docs.filter(F.col("doc_id") >= 400)
    for i, b in ((1, b1), (2, b2)):
        index_ops10.index_append_batch(
            b, i, index_path=inc, id_col="doc_id", text_col="text",
            term_buckets=8,
        )
    assert postings(inc) == postings(full)

    # phrase answers identical through the pruned read path
    def answer(path):
        idx = index_ops10.read_postings(
            spark, path, ["small", "query", "line"], term_buckets=8
        )
        return sorted(
            tuple(r) for r in index_ops10.phrase_search(idx, "small query line").collect()
        )

    assert answer(inc) == answer(full) and len(answer(inc)) > 0

    n_rows = spark.read.parquet(inc).count()
    # committed redelivery: marker present => skip
    index_ops10.index_append_batch(
        b1, 1, index_path=inc, id_col="doc_id", text_col="text", term_buckets=8
    )
    assert spark.read.parquet(inc).count() == n_rows
    # crash window: data written, marker lost => replay overwrites its own
    # sub-partitions, no duplication
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(inc).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{inc}/_batches/2"), True)
    index_ops10.index_append_batch(
        b2, 2, index_path=inc, id_col="doc_id", text_col="text", term_buckets=8
    )
    assert postings(inc) == postings(full)
    # one file per (bucket, batch) sub-partition
    for d in _glob.glob(_os.path.join(inc, "term_bucket=*", "__ib=*")):
        files = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d} has {len(files)} files"
    with pytest.raises(ValueError, match="batch_id must be >= 1"):
        index_ops10.index_append_batch(
            b1, 0, index_path=inc, id_col="doc_id", text_col="text"
        )


def test_term_stats_sidecar_and_rare_first_equivalence(spark, tmp_path):
    """The _stats dictionary sidecar must equal a recount of the full
    postings after base + appends (including a crash-window replay), and
    phrase_search with rare-first stats ordering must return exactly the
    default left-to-right answer — join order is a physical choice, never
    a semantic one."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "pidx")
    index_ops10.write_index(
        index_ops10.positional_index(
            docs.filter(F.col("doc_id") < 300), "doc_id", "text"
        ),
        path,
        term_buckets=8,
    )
    b1 = docs.filter(F.col("doc_id") >= 300)
    index_ops10.index_append_batch(
        b1, 1, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    # crash window on the stats too: marker lost, batch replayed
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{path}/_batches/1"), True)
    index_ops10.index_append_batch(
        b1, 1, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    stats = index_ops10.read_term_stats(spark, path)
    recount = {
        r["term"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stats == recount
    idx = spark.read.parquet(path)
    default = sorted(
        tuple(r) for r in index_ops10.phrase_search(idx, "small query line").collect()
    )
    rare_first = sorted(
        tuple(r)
        for r in index_ops10.phrase_search(
            idx,
            "small query line",
            term_stats=index_ops10.read_term_stats(
                spark, path, ["small", "query", "line"]
            ),
        ).collect()
    )
    assert default == rare_first and len(default) > 0
    # absent term + stats: early-exit empty with the contract schema
    gone = index_ops10.phrase_search(idx, "small zebra", term_stats=stats)
    assert gone.count() == 0
    assert [f.name for f in gone.schema.fields] == [
        "doc_id", "n_matches", "first_pos",
    ]


def test_index_compact_folds_committed_drops_uncommitted(spark, tmp_path):
    """Compaction folds base + COMMITTED batches into one file per bucket,
    DROPS an uncommitted crash batch (its replay rewrites it — folding it
    would make the replay a duplication), preserves markers (committed
    redelivery stays a no-op), rebuilds the stats sidecar consistently,
    and leaves phrase answers unchanged."""
    import glob as _glob
    import os as _os

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "pidx")
    index_ops10.write_index(
        index_ops10.positional_index(
            docs.filter(F.col("doc_id") < 200), "doc_id", "text"
        ),
        path,
        term_buckets=8,
    )
    b1 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    b2 = docs.filter(F.col("doc_id") >= 350)
    index_ops10.index_append_batch(
        b1, 1, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    # batch 2 "crashes" between data write and marker
    index_ops10.index_append_batch(
        b2, 2, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{path}/_batches/2"), True)

    before, after = index_ops10.index_compact(spark, path)
    assert after < before
    # folded = base + b1 only; the uncommitted b2 rows are gone
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(path).select("doc_id").distinct().collect()
    }
    assert max(ids) < 350
    # one file per bucket, everything in __ib=0
    for d in _glob.glob(_os.path.join(path, "term_bucket=*")):
        subs = _os.listdir(d)
        assert subs == ["__ib=0"], subs
        files = [
            f for f in _os.listdir(_os.path.join(d, "__ib=0"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    # committed marker preserved: redelivering b1 is still a no-op
    n = spark.read.parquet(path).count()
    index_ops10.index_append_batch(
        b1, 1, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    assert spark.read.parquet(path).count() == n
    # the crashed batch replays cleanly post-compaction → full corpus
    index_ops10.index_append_batch(
        b2, 2, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    full = str(tmp_path / "full")
    index_ops10.write_index(
        index_ops10.positional_index(docs, "doc_id", "text"), full, term_buckets=8
    )
    def postings(p):
        return sorted(
            (r["doc_id"], r["pos"], r["term"])
            for r in spark.read.parquet(p).select("doc_id", "pos", "term").collect()
        )
    assert postings(path) == postings(full)
    # stats sidecar consistent after compact + replay
    stats = index_ops10.read_term_stats(spark, path)
    recount = {
        r["term"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert stats == recount


def test_ivf_index_compact_preserves_serving(spark, tmp_path):
    """Compacting the IVF index (base + 2 committed appends + 1 crash
    batch) must: serve IDENTICAL top-k to the uncompacted full build for
    the committed corpus, drop the uncommitted batch's codes, leave one
    file per cell, and keep committed redeliveries no-ops."""
    import glob as _glob
    import os as _os

    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).localCheckpoint(eager=True)
    cells = sim.kmeans_centroids(emb, k=8, iters=2).localCheckpoint(eager=True)
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64).localCheckpoint(eager=True)
    qv = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def topk(path):
        return {
            (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
            for r in sim.ivf_pq_topk_indexed(
                spark, path, cells, cb, qv, 4, nprobe=3, k=5, dim=64
            ).collect()
        }

    inc = str(tmp_path / "inc")
    seed = emb.filter(F.col("vec_id") < 250)
    sim.write_ivf_index(
        sim.assign_centroids(seed, cells), sim.pq_encode(seed, cb, 4, dim=64),
        inc,
    )
    b1 = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 400))
    b2 = emb.filter(F.col("vec_id") >= 400)
    for i, b in ((1, b1), (2, b2)):
        sim.ivf_index_append_batch(
            b, i, index_path=inc, cells=cells, codebooks=cb, dim=64
        )
    # batch 3 crashes between data and marker
    sim.ivf_index_append_batch(
        b1.withColumn("vec_id", F.col("vec_id") + 10_000), 3,
        index_path=inc, cells=cells, codebooks=cb, dim=64,
    )
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(inc).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{inc}/_batches/3"), True)

    full = str(tmp_path / "full")
    sim.write_ivf_index(
        sim.assign_centroids(emb, cells), sim.pq_encode(emb, cb, 4, dim=64),
        full,
    )
    before, after = sim.ivf_index_compact(spark, inc)
    assert after < before
    assert topk(inc) == topk(full)
    # uncommitted batch's codes dropped
    assert (
        spark.read.parquet(inc).filter(F.col("vec_id") >= 10_000).count() == 0
    )
    # one file per cell, all in __ib=-1
    for d in _glob.glob(_os.path.join(inc, "centroid_id=*")):
        subs = _os.listdir(d)
        assert subs == ["__ib=-1"], subs
        files = [
            f for f in _os.listdir(_os.path.join(d, "__ib=-1"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    # committed redelivery still a no-op
    n = spark.read.parquet(inc).count()
    sim.ivf_index_append_batch(
        b2, 2, index_path=inc, cells=cells, codebooks=cb, dim=64
    )
    assert spark.read.parquet(inc).count() == n


def test_multi_phrase_search_equals_per_phrase_single(spark):
    """The batched matcher must return, per phrase, exactly what the
    single-phrase operator returns — including repeated-term phrases and a
    phrase with zero matches (absent from the output, never a zero row)."""
    docs = spark.createDataFrame(
        [
            (1, "x a b a b a y"),
            (2, "a b a"),
            (3, "b a b"),
            (4, "c c c c"),
        ],
        "doc_id long, text string",
    )
    idx = index_ops10.positional_index(docs, "doc_id", "text")
    ph = spark.createDataFrame(
        [(10, "a b a"), (20, "c c"), (30, "a zebra")],
        "phrase_id int, phrase string",
    )
    out = index_ops10.multi_phrase_search(idx, ph).collect()
    got = {}
    for r in out:
        got.setdefault(r["phrase_id"], {})[r["doc_id"]] = (
            r["n_matches"], r["first_pos"],
        )
    for pid, phrase in ((10, "a b a"), (20, "c c")):
        single = {
            r["doc_id"]: (r["n_matches"], r["first_pos"])
            for r in index_ops10.phrase_search(idx, phrase).collect()
        }
        assert got.get(pid) == single, (pid, got.get(pid), single)
    assert 30 not in got  # zero-match phrase: no rows


def test_multi_phrase_plan_single_broadcast_join(spark):
    """Scale contract of the batched matcher: ONE term equi-join with the
    phrase side broadcast (never |phrases| sequential joins, never a
    cartesian) — the plan is independent of the number of phrases."""
    import io as _io
    import contextlib as _ctx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = index_ops10.positional_index(docs, "doc_id", "text")
    ph = spark.createDataFrame(
        [(i, "small query line") for i in range(50)],
        "phrase_id int, phrase string",
    )
    df = index_ops10.multi_phrase_search(idx, ph)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    import re as _re

    p = buf.getvalue()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # formatted plans print each node twice (tree + detail) — count node ids
    bhj = set(_re.findall(r"\((\d+)\) BroadcastHashJoin", p))
    assert len(bhj) == 1, bhj
    assert "SortMergeJoin" not in p


def test_session_window_builtin_agrees_with_lag_cumsum(spark):
    """Spark's native session_window must produce the same session
    partition as q21's lag+cumsum formulation — INCLUDING the exact gap
    boundary: an event exactly gap after its predecessor merges under
    both (session_window extends through its end; q21's strict '>' test
    is false at equality). Pinned on real data and on a crafted boundary
    pair so neither formulation drifts from the other silently."""
    from syntenybrowserv2_etl_spark import queries as qq

    e = qq.t(spark, "/root/testdata/sf0.001", "events")
    from pyspark.sql import Window as W

    native = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("user_id", "n_events", "sum_value")
    )
    custom = qq.REGISTRY["q21_sessionize"].spark_fn(
        spark, "/root/testdata/sf0.001"
    ).select("user_id", "n_events", "sum_value")
    a = sorted(tuple(r) for r in native.collect())
    b = sorted(tuple(r) for r in custom.collect())
    assert a == b and len(a) > 0
    # the boundary pin: one user, two events exactly 30 minutes apart
    toy = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    n_native = (
        toy.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .count()
    )
    assert n_native == 1  # boundary event merges (window extends to its end)
    # q21 semantics agree: ts > prev + gap is FALSE at equality -> one session
    w2 = W.partitionBy("user_id").orderBy("ts")
    n_custom = (
        toy.withColumn("prev", F.lag("ts").over(w2))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ts") > F.col("prev") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .agg(F.sum("new_s"))
        .collect()[0][0]
    )
    assert n_custom == 1


def test_phrase_tokenization_and_empty_phrase_edges(spark):
    """Code-review regressions pinned: (a) a phrase containing unicode
    whitespace tokenizes like the INDEX side (Java ASCII-\\s), so a
    verbatim-present NBSP token still matches; (b) an empty/whitespace
    phrase row in a multi-phrase table matches NOTHING (never pairs with
    empty documents' \"\" postings); (c) the stats-path absent-term early
    exit returns the index's id TYPE, not a hardcoded long."""
    docs = spark.createDataFrame(
        [(1, "x a b c"), (2, ""), (3, "   ")],
        "doc_id long, text string",
    )
    idx = index_ops10.positional_index(docs, "doc_id", "text")
    # (a) 'a b' is ONE token in the index; the phrase must match it
    got = index_ops10.phrase_search(idx, "a b c").collect()
    assert [(r["doc_id"], r["n_matches"], r["first_pos"]) for r in got] == [
        (1, 1, 2)
    ]
    # (b) empty phrase rows in a table are inert
    ph = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "c")], "phrase_id int, phrase string"
    )
    out = {
        (r["phrase_id"], r["doc_id"])
        for r in index_ops10.multi_phrase_search(idx, ph).collect()
    }
    assert out == {(3, 1)}
    # (c) string-id index: absent-term exit carries the string id type
    sdocs = spark.createDataFrame(
        [("d1", "a b")], "doc_id string, text string"
    )
    sidx = index_ops10.positional_index(sdocs, "doc_id", "text")
    empty = index_ops10.phrase_search(
        sidx, "a zebra", term_stats={"a": 1, "b": 1}
    )
    assert empty.schema["doc_id"].dataType.simpleString() == "string"
    assert empty.count() == 0


def test_uncommitted_batch_invisible_to_readers(spark, tmp_path):
    """ADVICE r10: a batch that crashed AFTER its data/_stats write but
    BEFORE its _batches marker must be invisible to every read path —
    read_postings, read_term_stats, phrase answers, and the IVF probe —
    not just to compaction. Redelivering the batch then makes it visible
    exactly once."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "pidx")
    index_ops10.write_index(
        index_ops10.positional_index(docs, "doc_id", "text"), path,
        term_buckets=8,
    )
    crash = spark.createDataFrame(
        [(3, "alpha beta gamma")], "doc_id long, text string"
    )
    index_ops10.index_append_batch(
        crash, 1, index_path=path, id_col="doc_id", text_col="text",
        term_buckets=8,
    )
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{path}/_batches/1"), True)

    # postings read: doc 3's rows exist on disk but must not be served
    idx = index_ops10.read_postings(
        spark, path, ["alpha", "beta", "gamma"], term_buckets=8
    )
    assert {r["doc_id"] for r in idx.select("doc_id").distinct().collect()} == {1, 2}
    # stats read: the crashed batch's increments must not inflate counts
    assert index_ops10.read_term_stats(spark, path, ["alpha"]) == {"alpha": 2}
    # phrase answer through the committed view
    hits = index_ops10.phrase_search(idx, "alpha beta gamma").collect()
    assert [(r["doc_id"], r["n_matches"]) for r in hits] == [(1, 1)]
    # redelivery commits the batch; all readers now see it
    index_ops10.index_append_batch(
        crash, 1, index_path=path, id_col="doc_id", text_col="text",
        term_buckets=8,
    )
    idx2 = index_ops10.read_postings(
        spark, path, ["alpha", "beta", "gamma"], term_buckets=8
    )
    assert {r["doc_id"] for r in idx2.select("doc_id").distinct().collect()} == {1, 2, 3}
    assert index_ops10.read_term_stats(spark, path, ["alpha"]) == {"alpha": 3}


def test_ivf_probe_skips_uncommitted_batch(spark, tmp_path):
    """IVF twin of the committed-read contract: probe_ivf_index must not
    serve codes from a crash-window batch (duplicated rows would double
    ADC partial sums on redelivery)."""
    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(300).localCheckpoint(eager=True)
    cells = sim.kmeans_centroids(emb, k=4, iters=2).localCheckpoint(eager=True)
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf")
    seed = emb.filter(F.col("vec_id") < 200)
    sim.write_ivf_index(
        sim.assign_centroids(seed, cells), sim.pq_encode(seed, cb, 4, dim=64),
        path,
    )
    b1 = emb.filter(F.col("vec_id") >= 200)
    sim.ivf_index_append_batch(
        b1, 1, index_path=path, cells=cells, codebooks=cb, dim=64
    )
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath(f"{path}/_batches/1"), True)
    all_cells = list(range(4))
    served = {
        r["vec_id"]
        for r in sim.probe_ivf_index(spark, path, all_cells)
        .select("vec_id").distinct().collect()
    }
    assert served and max(served) < 200  # crash batch invisible
    sim.ivf_index_append_batch(
        b1, 1, index_path=path, cells=cells, codebooks=cb, dim=64
    )
    served2 = {
        r["vec_id"]
        for r in sim.probe_ivf_index(spark, path, all_cells)
        .select("vec_id").distinct().collect()
    }
    assert max(served2) >= 200  # visible exactly after commit


def test_stats_base_build_parallel_write(spark, tmp_path):
    """VERDICT r10 weak #1: the whole-vocabulary _stats write (base build /
    compaction) must fan out across multiple files — never a coalesce(1)
    single task — while per-batch appends stay one small file. Readers
    aggregate across files, so counts are unchanged."""
    import glob as _glob

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "pidx")
    index_ops10.write_index(
        index_ops10.positional_index(docs, "doc_id", "text"), path,
        term_buckets=8,
    )
    base_files = _glob.glob(f"{path}/_stats/__ib=0/*.parquet")
    assert len(base_files) > 1, "base-build stats funneled through one task"
    b = spark.createDataFrame(
        [(99_999, "alpha beta")], "doc_id long, text string"
    )
    index_ops10.index_append_batch(
        b, 1, index_path=path, id_col="doc_id", text_col="text", term_buckets=8
    )
    batch_files = _glob.glob(f"{path}/_stats/__ib=1/*.parquet")
    assert len(batch_files) == 1, "per-batch stats should stay one file"
    # read side unchanged: sidecar equals a recount of committed postings
    stats = index_ops10.read_term_stats(spark, path)
    recount = {
        r["term"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert stats == recount


# --- interval coalescing + forward as-of (round 11) -------------------------


def test_coalesce_intervals_semantics(spark):
    """Gaps-and-islands contract: overlap merges, TOUCHING (closed
    intervals) merges, nested collapses, disjoint stays apart, NULL spans
    drop, groups never mix, numeric covered_length measures end-start."""
    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    df = spark.createDataFrame(
        [
            ("g1", 1, 5), ("g1", 4, 8),      # overlap -> [1,8]
            ("g1", 8, 10),                    # touching -> [1,10]
            ("g1", 2, 3),                     # nested, absorbed
            ("g1", 20, 25),                   # disjoint island
            ("g2", 1, 2),                     # other group untouched
            ("g2", None, 9), ("g2", 9, None), # NULL spans dropped
        ],
        "g string, a int, b int",
    )
    got = {
        (r["g"], r["a"], r["b"])
        for r in ivl.coalesce_intervals(df, ["g"], "a", "b").collect()
    }
    assert got == {("g1", 1, 10), ("g1", 20, 25), ("g2", 1, 2)}
    cov = {
        r["g"]: (r["n_intervals"], r["covered"])
        for r in ivl.covered_length(df, ["g"], "a", "b").collect()
    }
    assert cov == {"g1": (2, (10 - 1) + (25 - 20)), "g2": (1, 1)}


def test_coalesce_intervals_plan_single_exchange(spark):
    """Scale pin: the coalesce plan carries exactly ONE Exchange (the
    group-key shuffle the window and the groupBy share) — no self-join,
    no nested-loop, no second shuffle."""
    import re

    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    df = spark.range(1000).select(
        (F.col("id") % 10).alias("g"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") % 97 + 5).alias("b"),
    )
    plan = (
        ivl.coalesce_intervals(df, ["g"], "a", "b")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_asof_forward_and_tolerance(spark):
    """Forward as-of: earliest right at-or-after each left ts, inclusive
    at equal ts, NULL when nothing follows; forward tolerance nulls
    matches beyond left_ts + tol. Backward behavior unchanged."""
    from syntenybrowserv2_etl_spark.operators import asof as asof_ops

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 40), (2, 5)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 30, "r30"), (2, 1, "r1")], "k int, ts int, v string"
    )
    fwd = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_ops.asof_join(
            left, right, on=["k"], left_ts="ts", direction="forward"
        ).collect()
    }
    assert fwd == {(1, 10): "r10", (1, 25): "r30", (1, 40): None, (2, 5): None}
    tol = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_ops.asof_join(
            left, right, on=["k"], left_ts="ts", direction="forward",
            tolerance=F.lit(4),
        ).collect()
    }
    # (1,25): nearest-after is ts=30, outside 25+4 -> nulled
    assert tol == {(1, 10): "r10", (1, 25): None, (1, 40): None, (2, 5): None}
    back = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_ops.asof_join(
            left, right, on=["k"], left_ts="ts", direction="backward"
        ).collect()
    }
    assert back == {(1, 10): "r10", (1, 25): "r10", (1, 40): "r30", (2, 5): "r1"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown direction"):
        asof_ops.asof_join(left, right, on=["k"], left_ts="ts", direction="nearest")


def test_interval_gaps_semantics(spark):
    """Gap report: strict idle spans between coalesced islands only —
    touching/overlapping inputs yield no gap, a single-island group yields
    nothing, groups never mix."""
    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    df = spark.createDataFrame(
        [
            ("g1", 1, 5), ("g1", 4, 8),   # one island [1,8]
            ("g1", 12, 14),                # gap (8, 12)
            ("g1", 14, 20),                # touching -> same island, no gap
            ("g1", 30, 31),                # gap (20, 30)
            ("g2", 0, 100),                # single island -> no rows
        ],
        "g string, a int, b int",
    )
    got = {
        (r["g"], r["gap_after"], r["gap_before"])
        for r in ivl.interval_gaps(df, ["g"], "a", "b").collect()
    }
    assert got == {("g1", 8, 12), ("g1", 20, 30)}


def test_interval_depth_profile_semantics(spark):
    """±1 sweep: depth segments between boundaries, half-open [a, b) —
    an interval ending where another starts does NOT overlap it; interior
    zero-depth segments appear; empty/NULL spans dropped."""
    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    df = spark.createDataFrame(
        [
            ("g", 0, 10), ("g", 5, 15),   # overlap: depth 2 on [5,10)
            ("g", 15, 20),                 # touches at 15: no overlap
            ("g", 30, 35),                 # interior gap [20,30) depth 0
            ("g", 7, 7), ("g", 9, None),   # empty + NULL dropped
        ],
        "g string, a int, b int",
    )
    got = {
        (r["seg_start"], r["seg_end"], r["depth"])
        for r in ivl.interval_depth_profile(df, ["g"], "a", "b").collect()
    }
    assert got == {
        (0, 5, 1), (5, 10, 2), (10, 15, 1), (15, 20, 1),
        (20, 30, 0), (30, 35, 1),
    }
    mc = ivl.max_concurrency(df, ["g"], "a", "b").collect()[0]
    assert (mc["max_depth"], mc["hull_start"], mc["hull_end"]) == (2, 0, 35)


def test_pareto_frontier_many_candidates(spark):
    """Round-11 review catch: the GLOBAL sweep must see every candidate
    in one pass. 15k anti-correlated points (each locally non-dominated,
    so ALL survive phase 1 — well past Arrow's 10k default batch size)
    plus one point dominating everything: a per-batch global sweep leaks
    dominated rows across the batch boundary; the exact answer is the
    single dominating point."""
    from syntenybrowserv2_etl_spark.operators.skyline import pareto_frontier

    n = 15_000
    rows = [(i, float(i), n - i) for i in range(1, n)] + [(0, 0.0, 0)]
    df = spark.createDataFrame(rows, "id int, x double, y int").repartition(7)
    got = pareto_frontier(df, "x", "y").collect()
    assert [(r["id"], r["x"], r["y"]) for r in got] == [(0, 0.0, 0)]


def test_pareto_frontier_anticorrelated_bounded_batches(spark):
    """VERDICT r11 #6 / ADVICE r11: the global phase folds each Arrow
    batch into a running frontier instead of concatenating the candidate
    union, so memory is bounded by the true frontier + one batch. The
    adversarial input — EVERY row non-dominated (strictly anti-correlated
    diagonal), far more rows than the Arrow batch size — must come back
    exactly, interleaved with dominated filler that must not survive the
    fold across batch boundaries."""
    from syntenybrowserv2_etl_spark.operators.skyline import pareto_frontier

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        n = 4_000
        # frontier: (i, n-i) for all i — all mutually non-dominated;
        # filler: (i+0.5, n-i+1) each dominated by frontier point i only,
        # which on a shuffled partitioning often sits in a DIFFERENT
        # global-phase batch — the cross-batch leak a per-batch sweep has
        rows = [(i, float(i), n - i) for i in range(n)] + [
            (n + i, i + 0.5, n - i + 1) for i in range(n)
        ]
        df = (
            spark.createDataFrame(rows, "id int, x double, y int")
            .repartition(13)
        )
        got = sorted(r["id"] for r in pareto_frontier(df, "x", "y").collect())
        assert got == list(range(n))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_golden_records_survivorship_rules(spark):
    """Survivorship: mode with lexicographic tie-break, per-entity max,
    and multi-field carry AS A UNIT from the top-ordered member; NULLs
    don't win modes; singleton entities pass through."""
    from syntenybrowserv2_etl_spark.operators.components import golden_records

    mem = spark.createDataFrame(
        [
            # entity 1: name mode tie (Ann x1, Bob x1) -> 'Ann' (lex);
            # carry from member with max (score, key) = (9, 13)
            (1, 11, "Ann", 5.0, "us"),
            (1, 12, "Bob", 9.0, "de"),
            (1, 13, None, 9.0, "fr"),
            # entity 2: clear mode
            (2, 21, "Cat", 1.0, "jp"),
            (2, 22, "Cat", 2.0, "jp"),
            (2, 23, "Dog", 3.0, "cn"),
            # entity 3: singleton
            (3, 31, "Eve", 7.0, "br"),
        ],
        "ent int, key int, name string, score double, country string",
    )
    got = {
        r["ent"]: (
            r["golden_name"], r["max_score"], r["carried_country"],
            r["carried_key"], r["n_members"],
        )
        for r in golden_records(
            mem, "ent",
            mode_cols=["name"],
            max_cols=["score"],
            carry=(["score", "key"], ["country", "key"]),
        ).collect()
    }
    assert got == {
        1: ("Ann", 9.0, "fr", 13, 3),  # NULL name never wins the mode
        2: ("Cat", 3.0, "cn", 23, 3),
        3: ("Eve", 7.0, "br", 31, 1),
    }


def test_interval_depth_single_exchange(spark):
    """Plan pin: the depth profile pays exactly ONE group-key exchange —
    hash-partitioning on the group alone serves both the boundary
    aggregation (superset clustering) and the running-sum window."""
    import re

    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    df = spark.range(1000).select(
        (F.col("id") % 10).alias("g"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") % 97 + 5).alias("b"),
    )
    plan = (
        ivl.interval_depth_profile(df, ["g"], "a", "b")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_ivf_marker_pruning_committed_reads(spark, tmp_path):
    """Watermark pruning on the IVF index (base __ib = -1): after pruning,
    a redelivered pruned batch is skipped and the probe serves base +
    every pruned batch's codes (the watermark range replaces the marker
    list; the -1 base rides the explicit base_ib equality)."""
    import os as _os

    from syntenybrowserv2_etl_spark.operators import similarity as sim
    from syntenybrowserv2_etl_spark.sources import io as sio

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(400).localCheckpoint(eager=True)
    cells = sim.kmeans_centroids(emb, k=4, iters=2).localCheckpoint(eager=True)
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf")
    seed = emb.filter(F.col("vec_id") < 200)
    sim.write_ivf_index(
        sim.assign_centroids(seed, cells), sim.pq_encode(seed, cb, 4, dim=64),
        path,
    )
    b1 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    b2 = emb.filter(F.col("vec_id") >= 300)
    for i, b in ((1, b1), (2, b2)):
        sim.ivf_index_append_batch(
            b, i, index_path=path, cells=cells, codebooks=cb, dim=64
        )
    w = sio.prune_batch_markers(
        spark, path, first_batch_id=1, trust_first_batch_id=True
    )
    assert w == 2
    assert sorted(_os.listdir(_os.path.join(path, "_batches"))) == ["2", "w2"]
    all_cells = [r["centroid_id"] for r in cells.select("centroid_id").collect()]
    served = {
        r["vec_id"]
        for r in sim.probe_ivf_index(spark, path, all_cells)
        .select("vec_id").distinct().collect()
    }
    assert len(served) == 400  # base + both pruned batches all served
    n = spark.read.parquet(path).count()
    sim.ivf_index_append_batch(  # pruned redelivery: skipped
        b1, 1, index_path=path, cells=cells, codebooks=cb, dim=64
    )
    assert spark.read.parquet(path).count() == n
    # compaction still folds watermark-committed batches into the base
    sim.ivf_index_compact(spark, path)
    served2 = {
        r["vec_id"]
        for r in sim.probe_ivf_index(spark, path, all_cells)
        .select("vec_id").distinct().collect()
    }
    assert served2 == served


def test_rrf_fuse_ranks_and_topn(spark):
    """RRF: per-partition row_number ranks with id tie-break, Σ 1/(k+rank)
    fusion, deterministic top-n. An item ranked 1st under both signals
    must lead its partition; score ties resolve by ascending id."""
    from syntenybrowserv2_etl_spark.operators.ranking import rrf_fuse

    df = spark.createDataFrame(
        [
            # partition A: item 1 dominates both signals; 2 and 3 tie on s1
            ("A", 1, 9.0, 9.0),
            ("A", 2, 5.0, 7.0),
            ("A", 3, 5.0, 1.0),
            # partition B: split leaders
            ("B", 4, 8.0, 1.0),
            ("B", 5, 1.0, 8.0),
        ],
        "g string, id int, s1 double, s2 double",
    )
    out = {
        r["id"]: (r["rank_s1"], r["rank_s2"], r["rrf"])
        for r in rrf_fuse(
            df, ["id"], ["s1", "s2"], k=60, partition_cols=["g"]
        ).collect()
    }
    assert out[1] == (1, 1, round(2 / 61, 8))
    assert out[2][0] == 2 and out[3][0] == 3  # s1 tie broken by id asc
    assert out[2][1] == 2 and out[3][1] == 3
    # split leaders fuse symmetrically
    assert out[4] == (1, 2, round(1 / 61 + 1 / 62, 8))
    assert out[5] == (2, 1, round(1 / 62 + 1 / 61, 8))
    top1 = rrf_fuse(
        df, ["id"], ["s1", "s2"], k=60, partition_cols=["g"], top_n=1
    ).collect()
    assert {(r["g"], r["id"]) for r in top1} == {("A", 1), ("B", 4)}
    # B's leaders tie on rrf — top_n breaks on id asc (4 < 5)


def test_calibration_bins_exact(spark):
    """Equal-width [0,1] bins: clamped top bin, exact int/int pos_rate,
    mean score per bin."""
    from syntenybrowserv2_etl_spark.operators.evaluation import (
        calibration_bins,
    )

    df = spark.createDataFrame(
        [
            (0.05, False),
            (0.08, False),
            (0.55, True),
            (0.58, False),
            (1.00, True),  # score exactly 1.0 clamps into bin 9
        ],
        "sc double, y boolean",
    )
    got = {
        r["bin"]: (r["n"], r["mean_score"], r["pos_rate"])
        for r in calibration_bins(df, "sc", "y", n_bins=10).collect()
    }
    assert got == {
        0: (2, round((0.05 + 0.08) / 2, 6), 0.0),
        5: (2, round((0.55 + 0.58) / 2, 6), 0.5),
        9: (1, 1.0, 1.0),
    }


def test_shard_stitch_pairs_semantics(spark):
    """Suffix-prefix adjacency: (A ends '...x y', B starts 'x y ...') pairs
    found; self-pairs excluded; docs of exactly k tokens excluded; the
    max_key_df guard drops boilerplate boundaries."""
    from syntenybrowserv2_etl_spark.operators.curation import (
        shard_stitch_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # ends "gamma delta"
            (2, "gamma delta epsilon zeta"),   # starts "gamma delta" -> 1->2
            (3, "gamma delta"),                # exactly k tokens: excluded
            (4, "zzz gamma delta"),            # also ends "gamma delta" -> 4->2
            # boilerplate boundary "the end" ending 1 doc, starting 3 docs
            (5, "body text the end"),
            (6, "the end a1 b1"),
            (7, "the end a2 b2"),
            (8, "the end a3 b3"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["left_id"], r["right_id"], r["boundary"])
        for r in shard_stitch_pairs(df, "doc_id", "text", k=2).collect()
    }
    assert got == {
        (1, 2, "gamma delta"),
        (4, 2, "gamma delta"),
        (5, 6, "the end"),
        (5, 7, "the end"),
        (5, 8, "the end"),
    }
    capped = {
        (r["left_id"], r["right_id"])
        for r in shard_stitch_pairs(
            df, "doc_id", "text", k=2, max_key_df=2
        ).collect()
    }
    # "the end" starts 3 docs (> 2): dropped as boilerplate; "gamma delta"
    # starts 1 doc: kept
    assert capped == {(1, 2), (4, 2)}


def test_dup_size_histogram_exact(spark):
    """Exact-cluster histogram over normalized text: case/whitespace
    variants collapse into one cluster; shares sum to 1."""
    from syntenybrowserv2_etl_spark.operators.dedup import dup_size_histogram

    df = spark.createDataFrame(
        [
            ("Hello  World",),
            ("hello world",),   # same cluster as above (normalized)
            ("hello world ",),  # and again -> cluster of 3
            ("unique one",),
            ("unique two",),
        ],
        "text string",
    )
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"], r["doc_share"])
        for r in dup_size_histogram(df, "text").collect()
    }
    assert got == {3: (1, 3, 0.6), 1: (2, 2, 0.4)}


def test_corpus_diversity_exact(spark):
    """TTR + Shannon entropy per group against hand-computed values."""
    import math

    from syntenybrowserv2_etl_spark.operators.drift import corpus_diversity

    df = spark.createDataFrame(
        [("a", "x x y"), ("a", "z"), ("b", "w w w w"), ("b", "")],
        "src string, text string",
    )
    got = {
        r["src"]: (r["n_tokens"], r["n_types"], r["ttr"], r["entropy"])
        for r in corpus_diversity(df, "src", "text").collect()
    }
    h_a = round(-(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25)), 6)
    assert got["a"] == (4, 3, 0.75, h_a)
    assert got["b"] == (4, 1, 0.25, 0.0)  # empty doc contributes nothing


def test_png_encode_decode_roundtrip_all_filters():
    """The fixture writer (_png_encode, per-row filter y % 5) round-trips
    bit-exactly through _png_decode for RGB and grayscale, across heights
    that exercise every filter type — so the q143 closed-form oracle is
    checking the REAL inflate + un-filter path, not a fixture tautology."""
    for ch in (1, 3):
        for w, h in [(1, 1), (3, 7), (10, 6), (7, 11)]:
            pix = bytes(
                (x * 11 + y * 23 + c * 71 + w) % 256
                for y in range(h)
                for x in range(w)
                for c in range(ch)
            )
            got = multimodal._png_decode(multimodal._png_encode(w, h, ch, pix))
            assert got == (w, h, ch, pix)


def test_image_stats_real_decode_and_codec_boundary(spark):
    """image_stats through the real PNG path: closed-form sums for one
    image pinned by hand; undecodable/non-image payloads contribute zero
    rows (the codec boundary still raises inside decode_real itself)."""
    import pytest

    media = multimodal.synthetic_png_media(spark, 6)
    got = {r["media_id"]: r for r in multimodal.image_stats(media).collect()}
    assert set(got) == set(range(6))
    i = 2  # w=8, h=6
    w, h = 8, 6
    exp_c = [
        sum((i * 37 + x * 11 + y * 23 + c * 71) % 256
            for x in range(w) for y in range(h))
        for c in range(3)
    ]
    r = got[i]
    assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
    assert [r["sum_c0"], r["sum_c1"], r["sum_c2"]] == exp_c
    # quadrant sums cover every pixel exactly once
    assert (
        r["lum_q0"] + r["lum_q1"] + r["lum_q2"] + r["lum_q3"] == sum(exp_c)
    )
    # garbage / non-image rows: zero output rows, no crash
    junk = spark.createDataFrame(
        [(99, "image", b"not a png", None, None, None, "png"),
         (100, "audio", b"RIFF", None, None, None, "pcm")],
        schema=multimodal.MEDIA_SCHEMA,
    )
    assert multimodal.image_stats(junk).count() == 0
    # a JPEG magic with a garbage body is now a DECODE error — the real
    # baseline decoder landed in round 14, so the codec boundary moved to
    # progressive/subsampled variants (test_jpeg_codec_boundaries);
    # unknown containers still raise NotImplementedError
    with pytest.raises(ValueError):
        multimodal.decode_real(b"\xff\xd8\xff\xe0JFIF-ish", "image")
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(b"\x00unknown-container-magic", "image")


def test_categorical_association_hand_computed(spark):
    """MI / chi-square / Cramér's V against hand-computed values on a
    2×2 table: cells (a,p)=2, (a,q)=1, (b,q)=3."""
    import math

    from syntenybrowserv2_etl_spark.operators.association import (
        categorical_association,
    )

    rows = [("a", "p")] * 2 + [("a", "q")] + [("b", "q")] * 3
    df = spark.createDataFrame(rows, "x string, y string")
    r = categorical_association(df, "x", "y").collect()[0]
    # MI = sum p_xy ln(p_xy/(p_x p_y))
    mi = (
        (2 / 6) * math.log((2 / 6) / (0.5 * (2 / 6)))
        + (1 / 6) * math.log((1 / 6) / (0.5 * (4 / 6)))
        + (3 / 6) * math.log((3 / 6) / (0.5 * (4 / 6)))
    )
    hx = -2 * 0.5 * math.log(0.5)
    hy = -(2 / 6) * math.log(2 / 6) - (4 / 6) * math.log(4 / 6)
    assert (r["n"], r["r_cats"], r["c_cats"]) == (6, 2, 2)
    assert r["mi"] == round(mi, 6)
    assert r["nmi"] == round(mi / math.sqrt(hx * hy), 6)
    # chi2: expected (1,2,1,2) -> (2-1)^2/1 + (1-2)^2/2 + (0-1)^2/1 + (3-2)^2/2
    assert r["chi2"] == 3.0
    assert r["cramers_v"] == round(math.sqrt(3.0 / 6.0), 6)


def test_categorical_association_independent_and_degenerate(spark):
    """A perfectly independent table scores 0 everywhere; a constant
    column yields NULL nmi/cramers_v (undefined denominators)."""
    from syntenybrowserv2_etl_spark.operators.association import (
        categorical_association,
    )

    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "pq" for _ in range(3)],
        "x string, y string",
    )
    r = categorical_association(indep, "x", "y").collect()[0]
    assert (r["mi"], r["nmi"], r["chi2"], r["cramers_v"]) == (0.0, 0.0, 0.0, 0.0)

    const = spark.createDataFrame(
        [("a", "p"), ("b", "p"), ("a", "p")], "x string, y string"
    )
    r = categorical_association(const, "x", "y").collect()[0]
    assert r["c_cats"] == 1
    assert r["nmi"] is None and r["cramers_v"] is None
    assert r["mi"] == 0.0 and r["chi2"] == 0.0


def test_ks_drift_matches_bruteforce(spark):
    """Exact KS per group vs a brute-force Python ECDF sweep."""
    from syntenybrowserv2_etl_spark.operators.drift import ks_drift

    data = [
        ("a", v) for v in [1, 1, 2, 5, 9, 9, 9]
    ] + [("b", v) for v in [2, 3, 3, 4]] + [("c", v) for v in [1, 9]]
    df = spark.createDataFrame(data, "g string, v long")
    got = {r["g"]: (r["n_in"], r["n_rest"], r["ks"], r["ks_at"])
           for r in ks_drift(df, "g", "v").collect()}

    vals = sorted({v for _, v in data})
    for g in "abc":
        ins = sorted(v for gg, v in data if gg == g)
        outs = sorted(v for gg, v in data if gg != g)
        best, best_at = -1.0, None
        for x in vals:
            fi = sum(1 for v in ins if v <= x) / len(ins)
            fo = sum(1 for v in outs if v <= x) / len(outs)
            d = abs(fi - fo)
            if d > best + 1e-15:
                best, best_at = d, x
        assert got[g][0] == len(ins) and got[g][1] == len(outs)
        assert got[g][2] == round(best, 6)
        assert got[g][3] == best_at


def test_kmv_overlap_exact_when_sketch_covers(spark):
    """With sketch_k >= every slice's distinct-shingle count, the KMV
    estimate IS the exact Jaccard of the shingle sets."""
    from syntenybrowserv2_etl_spark.operators.dedup import kmv_source_overlap

    # source a and b share exactly one 3-shingle ('x y z' via overlap docs)
    df = spark.createDataFrame(
        [
            (1, "x y z p q", "a"),
            (2, "x y z r s", "b"),
            (3, "m n o", "c"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["src_a"], r["src_b"]): r for r in
           kmv_source_overlap(df, "source", "doc_id", "text", k=3,
                              sketch_k=1000).collect()}
    # a: {x y z, y z p, z p q}; b: {x y z, y z r, z r s}; J = 1/5
    r = out[("a", "b")]
    assert (r["sketch_a"], r["sketch_b"]) == (3, 3)
    assert r["matches"] == 1 and r["kmv_k"] == 5
    assert r["jaccard_est"] == 0.2
    assert out[("a", "c")]["matches"] == 0
    assert out[("b", "c")]["matches"] == 0


def test_kmv_overlap_estimates_within_tolerance(spark):
    """Truncated sketches estimate exact Jaccard within a loose bound
    (deterministic hashing — the tolerance is a fixed fact, not a flake)."""
    from syntenybrowserv2_etl_spark.operators.dedup import kmv_source_overlap

    # two sources of 120 docs sharing 60: J over 3-shingle sets ~ 1/3
    mk = lambda i: f"tok{i} tok{i+1} tok{i+2} tok{i+3}"
    rows = (
        [(i, mk(i), "a") for i in range(120)]
        + [(1000 + i, mk(i + 60), "b") for i in range(120)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = kmv_source_overlap(
        df, "source", "doc_id", "text", k=3, sketch_k=64
    ).collect()[0]
    # exact: |A|=|B|=242 shingles... both slices have 2 shingles/doc over a
    # sliding range; exact J computed brute below.
    def sh(lo, n):
        toks = [f"tok{i}" for i in range(lo, lo + n + 3)]
        return {
            " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
        }
    a = set()
    for i in range(120):
        a |= {s for s in sh(i, 1)}
    b = set()
    for i in range(120):
        b |= {s for s in sh(i + 60, 1)}
    exact = len(a & b) / len(a | b)
    assert abs(r["jaccard_est"] - exact) < 0.15


def test_zipf_fit_matches_bruteforce_ols(spark):
    """Slope/intercept/r2 equal a brute-force Python OLS on the same
    (ln rank, ln count) points."""
    import math

    from syntenybrowserv2_etl_spark.operators.drift import zipf_fit

    text = " ".join(
        ["a"] * 16 + ["b"] * 8 + ["c"] * 4 + ["d"] * 2 + ["e"]
    )
    df = spark.createDataFrame([("s", text)], "source string, text string")
    r = zipf_fit(df, "source", "text", max_rank=1000).collect()[0]
    counts = [16, 8, 4, 2, 1]
    pts = [(math.log(i + 1), math.log(c)) for i, c in enumerate(counts)]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
    syy = sum(y * y for _, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert r["n_ranks"] == 5
    assert r["slope"] == round(slope, 6)
    assert r["intercept"] == round((sy - slope * sx) / n, 6)
    assert r["r2"] == round(r2, 6)


def test_distributed_rank_exact_total_order(spark):
    """Two-pass distributed rank equals the global sort's 1..n, ties
    broken by the id column — regardless of range-sampler boundaries."""
    from syntenybrowserv2_etl_spark.operators.layout import distributed_rank

    rows = [(i, (i * 37) % 11) for i in range(500)]  # heavy ties
    df = spark.createDataFrame(rows, "id long, sz long").repartition(13)
    out = distributed_rank(df, F.col("sz").desc(), F.col("id").asc()).collect()
    expect = {
        (sz, i): r + 1
        for r, (i, sz) in enumerate(
            sorted(((i, sz) for i, sz in rows), key=lambda t: (-t[1], t[0]))
        )
    }
    assert len(out) == 500
    for row in out:
        assert row["rank"] == expect[(row["sz"], row["id"])]


def test_balanced_shards_matches_snake_bruteforce(spark):
    """Shard report equals the Python snake deal, and the balance is
    tight: max/min shard byte spread ≤ the largest item."""
    from syntenybrowserv2_etl_spark.operators.layout import balanced_shards

    rows = [(i, 10 + ((i * 97) % 400)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {r["shard"]: (r["n_docs"], r["total_size"])
           for r in balanced_shards(df, "n_chars", "doc_id", 8).collect()}

    order = sorted(rows, key=lambda t: (-t[1], t[0]))
    tot = [0] * 8
    cnt = [0] * 8
    for rank0, (_, sz) in enumerate(order):
        pos = rank0 % 8
        shard = pos if (rank0 // 8) % 2 == 0 else 7 - pos
        tot[shard] += sz
        cnt[shard] += 1
    assert got == {s: (cnt[s], tot[s]) for s in range(8)}
    assert max(tot) - min(tot) <= max(sz for _, sz in rows)


def test_key_skew_report_hand_computed(spark):
    """Gini/HHI/entropy/top-1 against a brute-force Python computation."""
    import math

    from syntenybrowserv2_etl_spark.operators.profiling import key_skew_report

    keys = ["a"] * 6 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1 + ["e"] * 1
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    r = key_skew_report(df, "k").collect()[0]
    counts = sorted([6, 3, 3, 1, 1])
    n, tt = len(counts), sum(counts)
    gini = 2 * sum((i + 1) * c for i, c in enumerate(counts)) / (n * tt) - (n + 1) / n
    hhi = sum((c / tt) ** 2 for c in counts)
    ent = -sum((c / tt) * math.log(c / tt) for c in counts)
    assert (r["n_keys"], r["n_rows"], r["max_count"]) == (5, 14, 6)
    assert r["top1_share"] == round(6 / 14, 6)
    assert r["gini"] == round(gini, 6)
    assert r["hhi"] == round(hhi, 8)
    assert r["entropy"] == round(ent, 6)


def test_lsh_recall_curve_identical_docs_always_caught(spark):
    """Identical documents (Jaccard 1.0 -> bucket 0.9) share every
    minhash, so every band agrees: recall must be exactly 1.0 there;
    and n_caught never exceeds n_pairs in any bucket."""
    from syntenybrowserv2_etl_spark.operators.dedup import lsh_recall_curve

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base), (2, base),                      # exact pair, J = 1.0
        (3, base + " iota kappa"), (4, base),      # high-J pair with 2
        (5, "one two three four five six"),
        (6, "seven eight nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bucket_lo"]: r for r in
           lsh_recall_curve(df, "doc_id", "text").collect()}
    assert out[0.9]["recall"] == 1.0 and out[0.9]["n_pairs"] >= 1
    for r in out.values():
        assert 0 <= r["n_caught"] <= r["n_pairs"]


def test_ipf_reweight_hits_target_marginals(spark):
    """After 2 sweeps the y (ending) marginal is EXACT (the last sweep
    scales y), and the x marginal is near-uniform; weights conserve the
    total mass."""
    from syntenybrowserv2_etl_spark.operators.sampling import ipf_reweight

    rows = (
        [("s1", "en")] * 8 + [("s1", "de")] * 2
        + [("s2", "en")] * 1 + [("s2", "de")] * 5
        + [("s3", "en")] * 3 + [("s3", "de")] * 1
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    out = ipf_reweight(df, "source", "lang", n_iters=2).collect()
    n_all = len(rows)
    by_lang: dict[str, float] = {}
    by_src: dict[str, float] = {}
    for r in out:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0.0) + r["weight"]
        by_src[r["source"]] = by_src.get(r["source"], 0.0) + r["weight"]
    # observed lang marginal: en=12, de=8 — exact after the final y-sweep
    assert abs(by_lang["en"] - 12) < 1e-4 and abs(by_lang["de"] - 8) < 1e-4
    assert abs(sum(by_lang.values()) - n_all) < 1e-4
    # x marginal approaches uniform (n_all/3) monotonically with sweeps
    tgt = n_all / 3
    err2 = max(abs(v - tgt) for v in by_src.values())
    out1 = ipf_reweight(df, "source", "lang", n_iters=1).collect()
    by_src1: dict[str, float] = {}
    for r in out1:
        by_src1[r["source"]] = by_src1.get(r["source"], 0.0) + r["weight"]
    err1 = max(abs(v - tgt) for v in by_src1.values())
    assert err2 <= err1 + 1e-9


def test_dist_psi_matches_bruteforce(spark):
    """PSI + JSD per group vs a brute-force Python computation over the
    same equal-width bins and add-one smoothing; identical distributions
    score ~0."""
    import math

    from syntenybrowserv2_etl_spark.operators.drift import dist_psi

    data = [("a", v) for v in [10, 12, 14, 90, 95]] + [
        ("b", v) for v in [10, 11, 50, 55, 60, 91]
    ]
    df = spark.createDataFrame(data, "g string, v long")
    got = {r["g"]: r for r in dist_psi(df, "g", "v", n_bins=10).collect()}
    mn = min(v for _, v in data)
    mx = max(v for _, v in data)
    for g in "ab":
        ins = [v for gg, v in data if gg == g]
        outs = [v for gg, v in data if gg != g]
        psi = jsd = 0.0
        for b in range(10):
            c = sum(1 for v in ins if (v - mn) * 10 // (mx - mn + 1) == b)
            r_ = sum(1 for v in outs if (v - mn) * 10 // (mx - mn + 1) == b)
            p = (c + 1) / (len(ins) + 10)
            q = (r_ + 1) / (len(outs) + 10)
            m = (p + q) / 2
            psi += (p - q) * math.log(p / q)
            jsd += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
        assert got[g]["psi"] == round(psi, 6)
        assert got[g]["jsd"] == round(jsd, 6)
        assert (got[g]["n_in"], got[g]["n_rest"]) == (len(ins), len(outs))

    same = spark.createDataFrame(
        [("a", v) for v in range(50)] + [("b", v) for v in range(50)],
        "g string, v long",
    )
    for r in dist_psi(same, "g", "v", n_bins=10).collect():
        assert abs(r["psi"]) < 1e-9 and abs(r["jsd"]) < 1e-9


def test_soft_dedup_weights_and_ess(spark):
    """Soft-dedup weights are 1/global-cluster-size; per-group ESS
    matches the hand-computed (Σw)²/Σw² with cross-source clusters
    discounting in both sources."""
    from syntenybrowserv2_etl_spark.operators.dedup import (
        effective_sample_size,
        soft_dedup_weights,
    )

    rows = [
        (1, "dup text", "a"),
        (2, "dup text", "a"),
        (3, "dup text", "b"),   # cluster of 3 spans sources
        (4, "unique a", "a"),
        (5, "unique b", "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = {r["doc_id"]: (r["cluster_size"], r["weight"])
         for r in soft_dedup_weights(df, "doc_id", "text").collect()}
    third = round(1 / 3, 6)
    assert w == {1: (3, third), 2: (3, third), 3: (3, third),
                 4: (1, 1.0), 5: (1, 1.0)}
    got = {r["source"]: r for r in
           effective_sample_size(df, "source", "doc_id", "text").collect()}
    # a: weights (1/3, 1/3, 1) -> sum 5/3, sum2 2/9+1 = 11/9, ess = 25/11
    assert got["a"]["n_docs"] == 3
    assert got["a"]["sum_w"] == round(5 / 3, 6)
    assert got["a"]["ess"] == round((5 / 3) ** 2 / (11 / 9), 6)
    # b: weights (1/3, 1) -> sum 4/3, sum2 10/9, ess = 16/10
    assert got["b"]["ess"] == round((4 / 3) ** 2 / (10 / 9), 6)
    assert got["b"]["dup_discount"] == round((4 / 3) / 2, 6)


def test_embedding_covariance_matches_numpy(spark):
    """Distributed partial-Gram covariance == numpy's np.cov/corrcoef
    (population) on the gathered matrix; constant dims get NULL corr."""
    import numpy as np

    rng = np.random.default_rng(7)
    x = rng.normal(size=(40, 5)).astype(np.float32)
    x[:, 3] = 2.5  # zero-variance dimension
    rows = [(i, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["i"], r["j"]): r for r in
           sim_ops.embedding_covariance(df, "embedding").collect()}
    xd = x.astype(np.float64)
    cov = np.cov(xd, rowvar=False, bias=True)
    sd = np.sqrt(np.diag(cov))
    assert len(got) == 15  # upper triangle of 5x5
    for (i, j), r in got.items():
        assert r["n"] == 40
        assert abs(r["cov"] - cov[i, j]) < 1e-6
        if sd[i] > 0 and sd[j] > 0:
            assert abs(r["corr"] - cov[i, j] / (sd[i] * sd[j])) < 1e-5
        else:
            assert r["corr"] is None


def test_exact_quantiles_bounded_matches_bruteforce(spark):
    """Type-1 quantiles from count frames == the textbook smallest-value-
    at-ceil(q*n) on the sorted list, across odd/even sizes and ties."""
    import math

    from syntenybrowserv2_etl_spark.operators.profiling import (
        exact_quantiles_bounded,
    )

    data = [("a", v) for v in [5, 1, 3, 3, 9, 7, 3]] + [
        ("b", v) for v in [2, 4, 4, 8]
    ]
    df = spark.createDataFrame(data, "g string, v long")
    qs = (0.1, 0.5, 0.9, 0.99)
    got = {(r["g"], r["q"]): r["v"]
           for r in exact_quantiles_bounded(df, "g", "v", qs).collect()}
    for g in "ab":
        vals = sorted(v for gg, v in data if gg == g)
        for q in qs:
            want = vals[math.ceil(q * len(vals)) - 1]
            assert got[(g, round(q, 4))] == want


def test_ks_drift_single_group_yields_empty(spark):
    """A group that is the whole corpus has no rest-ECDF — the operator
    returns empty rather than a 0/0 row."""
    from syntenybrowserv2_etl_spark.operators.drift import ks_drift

    df = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    assert ks_drift(df, "g", "v").count() == 0


def test_oov_rate_hand_computed(spark):
    """OOV against a tiny top-K vocab: with vocab_k=2 the two globally
    most frequent tokens are in-vocab; everything else counts as OOV."""
    from syntenybrowserv2_etl_spark.operators.text import oov_rate

    df = spark.createDataFrame(
        [
            ("a", "the the the cat"),
            ("a", "the dog"),
            ("b", "cat cat zebra quokka"),
        ],
        "source string, text string",
    )
    # global counts: the=4, cat=3, dog=1, zebra=1, quokka=1 -> vocab {the, cat}
    got = {r["source"]: r for r in oov_rate(df, "source", "text", vocab_k=2).collect()}
    assert got["a"]["n_tokens"] == 6 and got["a"]["oov_tokens"] == 1  # dog
    assert got["a"]["oov_rate"] == round(1 / 6, 6) and got["a"]["oov_types"] == 1
    assert got["b"]["n_tokens"] == 4 and got["b"]["oov_tokens"] == 2  # zebra, quokka
    assert got["b"]["oov_types"] == 2


def test_embedding_collapse_report_known_geometry(spark):
    """Orthogonal consecutive pairs -> mean_cos 0; identical vectors ->
    mean_cos 1 and frac_high 1; norms exact."""
    from syntenybrowserv2_etl_spark.operators.similarity import (
        embedding_collapse_report,
    )

    axes = spark.createDataFrame(
        [(i, [1.0 if j == i % 4 else 0.0 for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    r = embedding_collapse_report(axes).collect()[0]
    assert r["n_pairs"] == 7 and r["mean_cos"] == 0.0 and r["frac_high"] == 0.0
    assert r["n_vecs"] == 8 and r["mean_norm"] == 1.0

    same = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    r = same.transform(lambda df: embedding_collapse_report(df)).collect()[0]
    assert r["mean_cos"] == 1.0 and r["std_cos"] == 0.0 and r["frac_high"] == 1.0
    assert r["mean_norm"] == 5.0


def test_label_noise_audit_planted_mislabels(spark):
    """Two tight clusters, one vector carrying the wrong label — the kNN
    vote flags exactly that vector's label row."""
    from syntenybrowserv2_etl_spark.operators.similarity import (
        label_noise_audit,
    )

    rows = []
    # cluster 0 near [1, 0], labels 0 — except vec 5 which is labeled 9
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 9 if i == 5 else 0))
    # cluster 1 near [0, 1], labels 1
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in label_noise_audit(df, k=5).collect()}
    assert got[9]["n"] == 1 and got[9]["n_suspect"] == 1  # the plant
    assert got[0]["n_suspect"] == 0 and got[1]["n_suspect"] == 0


def test_label_noise_audit_ivf_matches_exact_on_clusters(spark):
    """The IVF-routed audit (q167's corpus-scale path) reaches the same
    verdicts as the exact vote when the probe covers the clusters: two
    tight clusters, 2 centroids, nprobe=2 (full coverage) — the planted
    mislabel is flagged and the clean labels stay clean, identical to
    the brute-force result above."""
    from syntenybrowserv2_etl_spark.operators.similarity import (
        label_noise_audit,
        label_noise_audit_ivf,
    )

    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i], 9 if i == 5 else 0))
    for i in range(6, 12):
        rows.append((i, [0.01 * (i - 6), 1.0], 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {r["label"]: (r["n"], r["n_suspect"])
             for r in label_noise_audit(df, k=5).collect()}
    ivf = {r["label"]: (r["n"], r["n_suspect"])
           for r in label_noise_audit_ivf(
               df, k=5, num_centroids=2, nprobe=2).collect()}
    assert ivf == exact
    assert ivf[9] == (1, 1)


def test_knn_ivf_narrow_probe_identical_to_window_probe(spark):
    """The round-14 narrow probe (array_sort over the broadcast centroid
    array — zero probe-stage exchanges) must select the SAME cells with
    the SAME tie-breaks as the window form, hence produce identical
    (query_id, vec_id, rank) output on a real query table."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.pick_centroids(emb, 16)
    assigned = S.assign_centroids(emb, cents)
    q = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, nprobe=4, broadcast_probe=False)
    window_out = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in S.knn_ivf(assigned, cents, q, **kw).collect()
    }
    narrow_out = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in S.knn_ivf(
            assigned, cents, q, narrow_probe=True, **kw
        ).collect()
    }
    assert narrow_out == window_out and len(narrow_out) > 0
    # the narrow probe composes with cell salting (salt applies AFTER
    # probe construction; result-invariant by the sub-key argument)
    salted = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in S.knn_ivf(
            assigned, cents, q, narrow_probe=True, probe_salt=5, **kw
        ).collect()
    }
    assert salted == window_out


@pytest.mark.parametrize(
    "sf_dir,max_flip_mass",
    [
        ("/root/testdata/sf0.001", 0.12),
        ("/root/testdata/sf0.01", 0.08),
    ],
)
def test_label_noise_audit_ivf_recall_vs_exact(spark, sf_dir, max_flip_mass):
    """Recall grade for the q167 approximation, floor RAISED to the
    measured band (VERDICT r14 #4; was a loose 0.20 at sf0.001 only):
    on the real embeddings with the q163/q167 audit sample, the IVF
    report (C=16, nprobe=4, hash-picked centroids — q167's exact
    config) must keep per-label flip mass within the measured value +
    noise room: measured 0.0976 at sf0.001 and 0.0650 at sf0.01
    (deterministic — no RNG anywhere in the path; see
    tools/recall_curve.py and SCALE.md's round-15 recall table, which
    also grades nprobe ∈ {2,4,8} and k-means-trained centroids).
    Flip mass bounds the audit's DELIVERABLE (per-label suspect
    rates); the stricter per-vector metrics are recorded in SCALE.md
    (suspect-flag agreement 0.83-0.94 across the curve; raw majority-
    vote agreement is low on these near-random synthetic neighborhoods
    and is documented, not pinned)."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.functions import hashing
    from syntenybrowserv2_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    audit = emb.filter(hashing.md5_long(F.col("vec_id")) % 4 == 0)
    exact = S.label_noise_audit(emb, k=5, audit=audit)
    appx = S.label_noise_audit_ivf(
        emb, k=5, audit=audit, num_centroids=16, nprobe=4
    )
    e = {r["label"]: r for r in exact.collect()}
    a = {r["label"]: r for r in appx.collect()}
    assert set(e) == set(a)
    n = sum(r["n"] for r in e.values())
    # per-label suspect counts can only differ where the majority vote
    # flipped; bound the total flip mass
    flips = sum(abs(e[k]["n_suspect"] - a[k]["n_suspect"]) for k in e)
    assert n > 0 and flips / n <= max_flip_mass, (flips, n)


@pytest.mark.parametrize(
    "sf_dir,max_flip_mass",
    [
        ("/root/testdata/sf0.001", 0.04),
        ("/root/testdata/sf0.01", 0.065),
    ],
)
def test_label_noise_audit_ivf_high_precision_preset(
    spark, sf_dir, max_flip_mass
):
    """Round 16 (VERDICT r15 #6): the measured precision knob as API.
    preset="high_precision" (k-means-trained centroids, 3 Lloyd rounds,
    nprobe raised to 8) must (a) keep per-label flip mass within the
    measured value + noise room — 0.0244 at sf0.001, 0.0488 at sf0.01
    (deterministic path, no RNG; tools/recall_curve.py's kmeans/nprobe-8
    row reads 0.049 at sf0.01) — STRICTLY tighter floors than the
    default config's 0.12/0.08 pins; (b) reject unknown presets; (c)
    honor an explicit centroids frame over the preset's training (same
    plan lineage => identical rows)."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.functions import hashing
    from syntenybrowserv2_etl_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    audit = emb.filter(hashing.md5_long(F.col("vec_id")) % 4 == 0)
    exact = S.label_noise_audit(emb, k=5, audit=audit)
    hp = S.label_noise_audit_ivf(
        emb, k=5, audit=audit, num_centroids=16, preset="high_precision"
    )
    e = {r["label"]: r for r in exact.collect()}
    a = {r["label"]: r for r in hp.collect()}
    assert set(e) == set(a)
    n = sum(r["n"] for r in e.values())
    flips = sum(abs(e[k]["n_suspect"] - a[k]["n_suspect"]) for k in e)
    assert n > 0 and flips / n <= max_flip_mass, (flips, n)

    with pytest.raises(ValueError, match="preset"):
        S.label_noise_audit_ivf(emb, audit=audit, preset="turbo")

    # explicit trained centroids + preset: the explicit frame wins, and
    # with the SAME training config the result is identical
    cents = S.kmeans_centroids(emb, k=16, iters=3)
    explicit = S.label_noise_audit_ivf(
        emb, k=5, audit=audit, num_centroids=16,
        preset="high_precision", centroids=cents,
    )
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, hp.collect())
    )


def test_label_centroid_separation_known_geometry(spark):
    """Orthogonal-class centroids score ~0; co-directional classes score
    1.0; counts reported per label."""
    from syntenybrowserv2_etl_spark.operators.similarity import (
        label_centroid_separation,
    )

    rows = (
        [(i, [1.0, 0.0], 0) for i in range(3)]
        + [(10 + i, [0.0, 1.0], 1) for i in range(4)]
        + [(20 + i, [2.0, 0.0], 2) for i in range(2)]  # same direction as 0
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["label_a"], r["label_b"]): r
           for r in label_centroid_separation(df).collect()}
    assert got[(0, 1)]["centroid_cos"] == 0.0
    assert got[(0, 2)]["centroid_cos"] == 1.0
    assert got[(1, 2)]["centroid_cos"] == 0.0
    assert (got[(0, 1)]["n_a"], got[(0, 1)]["n_b"]) == (3, 4)


def test_label_cohesion_known_geometry(spark):
    """A perfectly tight class scores mean=min=1.0; a class of two
    orthogonal vectors has centroid at 45 degrees -> cos = 1/sqrt(2)."""
    import math

    from syntenybrowserv2_etl_spark.operators.similarity import label_cohesion

    rows = (
        [(i, [0.0, 2.0], 7) for i in range(3)]           # tight class
        + [(10, [1.0, 0.0], 8), (11, [0.0, 1.0], 8)]      # orthogonal pair
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r["label"]: r for r in label_cohesion(df).collect()}
    assert got[7]["n"] == 3 and got[7]["mean_cos"] == 1.0 and got[7]["min_cos"] == 1.0
    expect = round(1 / math.sqrt(2), 6)
    assert got[8]["mean_cos"] == expect and got[8]["min_cos"] == expect


def test_entropy_rate_hand_computed(spark):
    """Entropy rate against hand-computed H over known uni/bigram
    distributions; a perfectly repetitive sequence has h_rate 0 even
    with nonzero unigram entropy... checked via 'a b a b': every
    next-token is determined, H(bigram) == H(unigram) == ln 2 -> but
    bigram set {ab, ba} is uniform too; use exact formulas."""
    import math

    from syntenybrowserv2_etl_spark.operators.drift import entropy_rate

    df = spark.createDataFrame(
        [("s", "a b a b a b"), ("t", "x y z")],
        "source string, text string",
    )
    got = {r["source"]: r for r in entropy_rate(df, "source", "text").collect()}
    # s: unigrams a=3,b=3 (H=ln2); bigrams ab=3, ba=2 (n=5)
    h_uni = math.log(2)
    h_big = math.log(5) - (3 * math.log(3) + 2 * math.log(2)) / 5
    assert got["s"]["n_tokens"] == 6 and got["s"]["n_bigrams"] == 5
    assert got["s"]["h_unigram"] == round(h_uni, 6)
    assert got["s"]["h_bigram"] == round(h_big, 6)
    assert got["s"]["h_rate"] == round(h_big - h_uni, 6)
    # t: 3 distinct unigrams (H=ln3), 2 distinct bigrams (H=ln2)
    assert got["t"]["h_unigram"] == round(math.log(3), 6)
    assert got["t"]["h_bigram"] == round(math.log(2), 6)


def test_local_table_bit_exact_float_roundtrip(spark):
    """_local_table (round 17: the iterative trainers' per-round
    materialization) must reproduce float32 arrays BIT-exactly through the
    driver round-trip — the property that lets kmeans/PQ centroids keep
    hash-matching their unrolled oracles. Adversarial values: subnormals,
    ulp-neighbors, and halves that don't round-trip through float16."""
    import struct

    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import similarity as sim

    vals = [1.0, 1.0 + 2**-23, 2**-149, 3.337779e-7, -0.1, 1e38]
    df = spark.createDataFrame(
        [(i, [float(struct.unpack("f", struct.pack("f", v))[0])]) for i, v in enumerate(vals)],
        "id long, vec array<float>",
    )
    back = sim._local_table(df)
    got = {r["id"]: r["vec"][0] for r in back.collect()}
    want = {r["id"]: r["vec"][0] for r in df.collect()}
    assert got == want
    # and the norm expression over both sources agrees bit-for-bit
    a = df.select(sim.norm_expr(F.col("vec")).alias("n")).collect()
    b = back.select(sim.norm_expr(F.col("vec")).alias("n")).collect()
    assert [r["n"] for r in a] == [r["n"] for r in b]
