"""Physical-plan shape contracts — the scale guarantees, asserted.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one that survives 100 TB: filters and column pruning reach the parquet scan,
small dimensions broadcast, range joins never degrade to
BroadcastNestedLoop/Cartesian, and hot paths stay inside whole-stage codegen.
A regression here is a performance bug even while every value still matches.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from syntenybrowserv2_etl_spark import queries as q

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = q.REGISTRY[name].spark_fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushdown_and_pruning(spark):
    p = plan_of(spark, "q01_pricing_summary")
    # shipdate predicate reaches the parquet scan
    assert re.search(r"PushedFilters:.*LessThanOrEqual\(l_shipdate", p)
    # column pruning: projected schema excludes unused columns
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and "l_partkey" not in m.group(1) and "l_suppkey" not in m.group(1)


def test_q03_star_join_broadcasts(spark):
    p = plan_of(spark, "q03_revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_range_joins_never_nested_loop(spark):
    for name in ("q12_point_in_interval", "q13_interval_overlap"):
        p = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", p), name


def test_asof_join_single_sort_no_range_probe(spark):
    p = plan_of(spark, "q34_asof_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # carry-forward runs as a window over the union — no join operator at all
    assert "Window" in p


def test_hot_paths_codegen(spark):
    # UDF-free operators must stay inside whole-stage codegen: no Python
    # evaluation operators anywhere in the relational/text plans. Codegen
    # spans show as '*(n)' stage markers in simple explain mode.
    for name in (
        "q01_pricing_summary",
        "q22_exact_dedup",
        "q26_simhash",
        "q31_text_profile",
    ):
        df = q.REGISTRY[name].spark_fn(spark, SF)
        df.collect()  # AQE finalizes the physical plan only on execution
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        p = buf.getvalue()
        assert re.search(r"\*\(\d+\)", p), name
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_ivf_assignment_is_narrow(spark):
    # centroid assignment must be a pure map over the corpus: the only
    # Exchange allowed is the single-row centroid collect_list aggregate —
    # the corpus (vectors included) never shuffles
    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned = sim.assign_centroids(emb, sim.pick_centroids(emb, 8))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain()
    assert len(re.findall("Exchange", buf.getvalue())) == 1


def test_dim_filter_pushed_through_join(spark):
    # q02: the mktsegment filter must reach the customer scan, not run
    # post-join
    p = plan_of(spark, "q02_top_revenue_orders")
    assert re.search(r"PushedFilters:.*EqualTo\(c_mktsegment,BUILDING\)", p)


def test_bucketed_join_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the join key => sort-merge join with ZERO
    Exchange operators: the co-located join layout that moves no data at
    100 TB. Also: bucket-key scan filter triggers bucket pruning."""
    from syntenybrowserv2_etl_spark.sources.io import write_bucketed

    orders = spark.range(0, 10_000).selectExpr(
        "id AS o_orderkey", "id % 997 AS o_custkey", "id * 7 % 1000 AS o_total"
    )
    items = spark.range(0, 30_000).selectExpr(
        "id % 10000 AS l_orderkey", "id AS l_itemid", "id % 50 AS l_qty"
    )
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], num_buckets=8)
    write_bucketed(items, "t_items_b", ["l_orderkey"], num_buckets=8)
    try:
        joined = (
            spark.table("t_orders_b")
            .join(
                spark.table("t_items_b"),
                spark.table("t_orders_b")["o_orderkey"]
                == spark.table("t_items_b")["l_orderkey"],
            )
            .groupBy("o_custkey")
            .count()
        )
        with spark_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            # the only exchange allowed is the post-join groupBy shuffle
            join_section = plan.split("HashAggregate")[0]
            assert "SortMergeJoin" in plan
            assert "Exchange" not in join_section, join_section
            assert joined.count() == 997
            # bucket pruning: a point filter on the bucket key scans 1 bucket.
            # autoBucketedScan drops bucket-awareness from scans with no
            # join/agg above them, hiding the pruning — pin it off here.
            with spark_conf(
                spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
            ):
                pruned = spark.table("t_orders_b").filter("o_orderkey = 42")
                buf2 = io.StringIO()
                with contextlib.redirect_stdout(buf2):
                    pruned.explain("formatted")
                assert re.search(r"SelectedBucketsCount: 1 out of 8", buf2.getvalue())
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")


@contextlib.contextmanager
def spark_conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_contamination_broadcast_semijoin(spark):
    """q58: benchmark gram hashes broadcast; the train side joins
    left-semi without a shuffle of its rows."""
    p = plan_of(spark, "q58_contamination")
    assert re.search(r"BroadcastHashJoin.*LeftSemi", p) or (
        "BroadcastHashJoin" in p and "LeftSemi" in p
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_upsample_is_narrow(spark):
    """q60's mixing operator itself is explode + arithmetic — no join, no
    exchange before the final aggregation."""
    from syntenybrowserv2_etl_spark.operators import curation as cur_ops

    d = spark.read.parquet(f"{SF}/documents.parquet")
    mixed = cur_ops.upsample_by_weight(
        d, "doc_id", "lang", {"en": 0.5, "de": 2.25}, default_weight=1.0
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mixed.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p and "Join" not in p


def test_salted_join_no_nested_loop(spark):
    p = plan_of(spark, "q63_salted_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_pack_sequences_single_exchange(spark):
    """q61's packing: ONE hash exchange on the shard key feeds the sharded
    window sort — no global (single-partition) sort anywhere."""
    from syntenybrowserv2_etl_spark.operators import curation as cur_ops
    from syntenybrowserv2_etl_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "n_tok", text_ops.token_count(F.col("text"))
    )
    packed = cur_ops.pack_sequences(d, "doc_id", "n_tok", budget=512, shards=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        packed.explain("formatted")
    p = buf.getvalue()
    # formatted explain prints the node header "(N) Exchange" with its
    # "Arguments: hashpartitioning(...)" on a separate detail line — count
    # node headers, not the single-line "Exchange hashpartitioning" form.
    assert "Exchange SinglePartition" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "Arguments: hashpartitioning" in p


def test_gopher_quality_rowlocal_zero_shuffle(spark):
    """The quality filter itself is row-local: no Exchange anywhere before
    the per-doc signal projection (scan-bandwidth at any corpus size)."""
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    d = spark.read.parquet(f"{SF}/documents.parquet")
    gq = text_ops.gopher_quality(d, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gq.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_chunk_documents_rowlocal_zero_shuffle(spark):
    """Chunking is sequence-arithmetic + explode: zero Exchange."""
    from syntenybrowserv2_etl_spark.operators import curation as cur_ops

    d = spark.read.parquet(f"{SF}/documents.parquet")
    ch = cur_ops.chunk_documents(d, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ch.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_repetition_profile_narrow_shuffle(spark):
    """Repetition stats shuffle only (id, 8-byte hash) pairs and the final
    per-id stats — never document text. The doc-side join back is on id
    only; no bigram string reaches an Exchange."""
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    d = spark.read.parquet(f"{SF}/documents.parquet")
    rp = text_ops.repetition_profile(d, "id" if "id" in d.columns else "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rp.explain("formatted")
    p = buf.getvalue()
    assert "Exchange SinglePartition" not in p
    # the exploded bigram string column must be hashed before any exchange:
    # no Exchange node carries the raw '__bg' string column
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) |\Z)", p, re.S):
        assert "__bg" not in m.group(0)


def test_jaccard_verify_semi_broadcast(spark):
    """Verification stage of the dedup pipeline: the corpus is reduced by a
    BROADCAST left-semi join on the candidate-id set before any pair join —
    the full corpus never shuffles for verification."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import dedup as dd

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = d.limit(6).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    out = dd.jaccard_verify_pairs(d, pairs, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p), p
    # the shingle arrays never appear in any Exchange: only candidate-id
    # routing shuffles, array columns ride broadcast/local edges
    for m in re.finditer(r"\(\d+\) Exchange\b.*?(?=\(\d+\) |\Z)", p, re.S):
        assert "__jv_arr" not in m.group(0), m.group(0)


def test_unigram_logprob_no_single_partition_bottleneck(spark):
    """LM scoring: the only SinglePartition exchange is the one-row corpus
    total; no document/token stream ever funnels into one partition (the
    token aggregates keep map-side partial aggregation)."""
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = text_ops.unigram_logprob(d, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    # partial aggregation present on both token-keyed aggregates
    assert len(re.findall(r"HashAggregate", p)) >= 4
    # single-partition exchanges: exactly the scalar corpus-total reduction
    assert len(re.findall(r"Exchange SinglePartition", p)) <= 1


def test_shuffle_shards_single_exchange(spark):
    """q71: exactly one (shard) hash exchange and one per-shard sort — no
    global total-order stage, no extra shuffles."""
    df = q.REGISTRY["q71_shuffle_shards"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in p.lower()  # the 100 TB anti-pattern
    assert "CartesianProduct" not in p


def test_obo_parse_is_shuffle_free(spark):
    """read_obo_terms splits each whole file into stanzas and reads keys by
    regex: the executed plan has no Exchange and no Window."""
    import os

    from syntenybrowserv2_etl_spark.sources import obo

    path = os.path.join(os.path.dirname(__file__), "fixtures", "onto.obo")
    df = obo.read_obo_terms(spark, [path])
    assert len(df.collect()) == 6
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Window" not in p


def test_gene_plan_one_scan_for_three_files(spark, tmp_path):
    """A gene family of three species' GFF3 files plans ONE file scan over
    all three and no Union: the per-file taxon comes from the row's file."""
    import os
    import shutil

    from syntenybrowserv2_etl_spark.plans import loaders

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "genes.gff3")
    loads = []
    for taxon in (10090, 10116, 9606):
        dst = str(tmp_path / f"genes_{taxon}.gff3")
        shutil.copy(fixture, dst)
        loads.append((dst, taxon))
    gene, _ = loaders.load_genes_exons(spark, loads)
    qe = gene.df._jdf.queryExecution()
    assert qe.executedPlan().toString().count("FileScan") == 1
    assert "Union" not in qe.optimizedPlan().toString()
    assert gene.df.count() == 9


def test_span_dedup_winner_uses_window_group_limit(spark):
    """q70: winner election must plan as WindowGroupLimit (rank-1 pushdown
    with a partial stage before the shuffle), shuffling only (hash, len)
    keyed rows — and never a cartesian/nested-loop stage."""
    df = q.REGISTRY["q70_span_dedup"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Exchange hashpartitioning(chunk_hash" in p


def test_bloom_sketch_builds_once(spark):
    """q72: the bit_or sketch aggregation must execute ONCE (materialized),
    the sketch must stay a sharded (word, bits) TABLE — never a single-row
    map or a crossJoin'd broadcast row — and batch payload rows must never
    shuffle (only their 16-byte hash pairs do)."""
    df = q.REGISTRY["q72_bloom_incremental"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" not in p  # sketch pre-materialized via checkpoint
    # no single-row map sketch, no crossJoin probe (the r5 scale ceiling)
    assert "map_from_entries" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # confirmation is a (broadcastable) semi join on the hash pair
    assert "LeftSemi" in p


def test_bpe_pricing_join_is_broadcast_and_pushed(spark):
    """q75: the corpus-pricing join (exploded words × segmentation vocab)
    must resolve to a broadcast hash join of the |V|-row vocab side —
    never a shuffle of the exploded corpus words, and never a cartesian
    stage. This is the plan that keeps corpus pricing one-pass at 100 TB
    (the vocab grows sub-linearly in the corpus)."""
    df = q.REGISTRY["q75_bpe_token_budget"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    # (the BPE learner's own single-row best-pair broadcast crossJoin is
    # also in this plan and is deliberate — the pin here is only that the
    # PRICING join is a broadcast hash join with no shuffle of the
    # exploded corpus words)
    assert "BroadcastHashJoin" in p
    # the corpus side must not hash-exchange on the join key: only the
    # final groupBy(source) aggregation may shuffle
    assert "Exchange hashpartitioning(__w" not in p


def test_bloom_probe_is_sharded_table_join(spark, monkeypatch):
    """The full un-checkpointed bloom plan (materialization patched to
    identity) must contain the sketch as a bit_or TABLE aggregation probed
    via an equi-join — and still no single-row map_from_entries collapse
    and no cartesian stage anywhere."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_materialize", lambda df: df)
    docs = q.t(spark, SF, "documents").limit(200)
    corpus = docs.filter("doc_id < 150")
    batch = docs.filter("doc_id >= 100").select("doc_id", "text")
    out = dd.bloom_incremental_dedup(
        corpus, batch, "doc_id", "text", expected_corpus_rows=150
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "bit_or" in p  # the sketch is a (word, bits) table aggregation
    assert "map_from_entries" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_semantic_dedup_no_allpairs_and_no_corpus_shuffle_for_assignment(spark):
    """q76: SemDeDup's whole point is bounding pair work by cluster — the
    plan must contain no cartesian/nested-loop stage (the pair join is an
    equi-join on centroid_id), and assignment must be the broadcast argmax
    (no corpus exchange feeding it)."""
    df = q.REGISTRY["q76_semantic_dedup"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the within-cluster pair search is an equi-join keyed on centroid_id
    assert "centroid_id" in p


def test_tfidf_topk_uses_window_group_limit(spark):
    """q77: the per-doc top-k must plan as WindowGroupLimit (rank<=k pruned
    before the exchange); the df-table join back onto tf must never be a
    cartesian stage; the only nested-loop join is the ONE-ROW broadcast
    corpus-N stats row (the bounded bm25/q78 pattern — round 7 made N a
    lazy broadcast instead of a driver-held .count() scalar, removing an
    extra job per call)."""
    df = q.REGISTRY["q77_tfidf_terms"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # the 1-row N stats side


def test_bm25_single_scan_no_explode_shuffle(spark):
    """q78: per-term tf is an array filter (no explode), corpus stats ride
    one broadcast row (single-row BNLJ — the documented bounded pattern),
    and the global top-k plans as TakeOrderedAndProject: per-partition
    partial top-20, one tiny merge, row_number only over the survivors."""
    df = q.REGISTRY["q78_bm25_rank"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "Generate explode" not in p  # the tf side never explodes
    # stats join is a broadcast of the single aggregated row
    assert "BroadcastExchange" in p


def test_domain_cap_uses_window_group_limit(spark):
    """q79: the rank<=cap filter must push into a WindowGroupLimit so map
    tasks pre-prune to their local top-cap per group before the exchange
    (mega-domain skew-proofing)."""
    df = q.REGISTRY["q79_domain_cap"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_dsir_scoring_join_is_broadcast(spark):
    """q82: the (256-row) log-ratio table must broadcast into the bigram
    stream — the stream's only hash exchanges are the histogram partial
    aggregation and the per-doc mean, never a shuffle to co-locate with
    the bucket dimension."""
    df = q.REGISTRY["q82_dsir_importance"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [__b" in p
    # the bucket-dimension join must not sort-merge (that would shuffle
    # every bigram occurrence on __b a second time)
    assert not re.search(r"SortMergeJoin \[__b", p)


def test_funnel_single_user_exchange(spark):
    """q83: both cumulative windows and the final per-user aggregate must
    reuse ONE hash exchange on user_id — the funnel is a single-shuffle
    plan, not one shuffle per stage."""
    df = q.REGISTRY["q83_funnel"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_scd2_windows_share_one_user_exchange(spark):
    """q86: the change-detection lag and the interval-closing lead use the
    same (user_id, ts, event_id) partitioning+sort — one exchange, one
    sort, two window passes."""
    df = q.REGISTRY["q86_scd2_history"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning(user_id") == 1


def test_pq_adc_lut_joins_broadcast(spark):
    """q88: the ADC lookup table (M·k rows) must broadcast into the code
    stream — the corpus side touches only integer codes and never
    shuffles to meet the LUT."""
    df = q.REGISTRY["q88_pq_adc_topk"].spark_fn(spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert not re.search(r"SortMergeJoin \[s#", p)


def test_quality_classifier_prunes_scan_to_two_columns(spark):
    """q87 is a pure projection: the parquet scan must read exactly
    (doc_id, text) — a classifier gate that drags the full row width
    through the corpus scan is wrong at 100 TB."""
    p = plan_of(spark, "q87_quality_classifier")
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", p)
    assert "Exchange" not in p  # zero shuffles: row-local end to end


def test_bloom_confirm_read_prunes_buckets(spark, tmp_path_factory):
    """The streaming bloom confirm must be a BUCKET-PRUNED read of the
    persisted survivor pair table — the scan touches only the buckets a
    hit __h1 can hash into, never all of them. At 10^10 ingested docs the
    difference is ~160 GB of parquet read per micro-batch vs a
    batch-proportional sliver; this pin is what keeps that property from
    regressing."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.sources import io as sio
    from syntenybrowserv2_etl_spark.streaming import events as se

    name = "t_confirm_prune_pairs"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = str(tmp_path_factory.mktemp("confirm_prune")) + "/pairs"
    pairs = spark.range(0, 4096).select(
        F.col("id").alias("__h1"), (F.col("id") * 7).alias("__h2")
    )
    sio.write_bucketed(pairs, name, ["__h1"], num_buckets=16, path=loc)
    hits = spark.createDataFrame([(5, 35), (6, 41)], ["__h1", "__h2"])
    confirmed = se.bloom_confirm_read(spark, name, hits)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        confirmed.explain("formatted")
    p = buf.getvalue()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
    assert m, p
    assert int(m.group(1)) < int(m.group(2)) and int(m.group(2)) == 16
    # and the pruned read still confirms exactly the true pairs:
    # (5, 35) exists in the table, (6, 41) does not (6*7 = 42)
    got = {(r["__h1"], r["__h2"]) for r in confirmed.collect()}
    assert got == {(5, 35)}
    spark.sql(f"DROP TABLE {name}")


def test_ivf_index_probe_prunes_partitions(spark, tmp_path_factory):
    """The persisted IVF-PQ index (write_ivf_index, partitioned by
    centroid_id) must serve probes as PARTITION-PRUNED reads: probing
    nprobe cells lists/reads only those cells' files — the layout claim
    ivf_pq_topk's docstring makes, demonstrated. Also: the indexed search
    returns IDENTICAL results to the in-memory formulation."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark import queries as q
    from syntenybrowserv2_etl_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cells = sim.kmeans_centroids(emb, k=8, iters=2)
    assigned = sim.assign_centroids(emb, cells)
    cb = sim.pq_codebooks(emb, 4, 4, 2, dim=64)
    codes = sim.pq_encode(emb, cb, 4, dim=64)
    idx = str(tmp_path_factory.mktemp("ivf_index")) + "/codes"
    sim.write_ivf_index(assigned, codes, idx)

    total_files = len(spark.read.parquet(idx).inputFiles())
    n_cells = assigned.select("centroid_id").distinct().count()
    probe_cells = [
        r["centroid_id"]
        for r in assigned.select("centroid_id").distinct().limit(2).collect()
    ]
    probed = sim.probe_ivf_index(spark, idx, probe_cells)
    probed.collect()
    # pruned SCAN: the executed leaf's numFiles metric counts the files the
    # read actually touched — only the probed cells' files, never all cells
    leaf = probed._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = int(leaf.metrics().apply("numFiles").value())
    assert 0 < n_read <= len(probe_cells) < n_cells
    assert n_read < total_files
    # and the plan carries the partition filter (static pruning, not scan+filter)
    p = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "centroid_id" in p

    # end-to-end: indexed search == in-memory search
    qv = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    mem = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in sim.ivf_pq_topk(
            assigned, codes, cells, cb, qv, 4, nprobe=3, k=5, dim=64
        ).collect()
    }
    ind = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in sim.ivf_pq_topk_indexed(
            spark, idx, cells, cb, qv, 4, nprobe=3, k=5, dim=64
        ).collect()
    }
    assert mem == ind and len(ind) == 10


def test_perplexity_buckets_sampled_has_no_corpus_window(spark, tmp_path_factory):
    """The sampled-cutoff bucketing must carry NO window function and no
    per-group corpus sort — that is its whole reason to exist (the exact
    twin's ntile needs each language sorted; at 100 TB the largest
    language is the bottleneck). The only aggregations beyond the LM
    scorer run over the hash sample."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import curation as cur

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    )
    df = cur.perplexity_buckets_sampled(d, "doc_id", "text", "lang")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Window" not in p
    # the exact twin DOES window — the contrast that proves the pin bites
    pe_buf = io.StringIO()
    with contextlib.redirect_stdout(pe_buf):
        cur.perplexity_buckets(d, "doc_id", "text", "lang").explain("formatted")
    assert "Window" in pe_buf.getvalue()


def test_session_examples_single_exchange(spark):
    """q98's sessionize + step + context windows must share ONE (user_id)
    hash exchange — deriving step from a second row_number over
    (user, session) would silently add a composite-key exchange."""
    p = plan_of(spark, "q98_session_examples")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert p.count("hashpartitioning(user_id") == 1
    # no composite (user, session) exchange sneaked in
    assert not re.search(r"hashpartitioning\(user_id#\d+L?, session", p)


def test_keep_best_representative_group_limits(spark):
    """q96's per-cluster top-1 must plan as WindowGroupLimit — map tasks
    pre-prune to one candidate per cluster before the exchange. A
    full-partition count() in the same window spec would disable the
    pruning (the bug this pin caught)."""
    p = plan_of(spark, "q96_best_of_cluster")
    assert "WindowGroupLimit" in p


def test_zorder_box_read_prunes_partitions(spark, tmp_path_factory):
    """A write_zordered table must serve box queries as PARTITION-PRUNED
    reads: the candidate-cell IN-list (zorder_box_buckets) lists/reads
    only the grid cells the box can touch — the multi-dim locality the
    curve exists for. Also: the pruned read returns exactly the rows the
    naive full-scan box filter returns."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import layout

    o = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .withColumn(
            "day",
            F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"),
        )
        # spread both axes across the 12-bit curve domain so the coarse
        # grid is actually populated (custkey 0-149 and day ~9131-11534
        # otherwise live in one corner cell)
        .withColumn("x", F.col("o_custkey") * 27)
        .withColumn("y", F.col("day") - F.lit(9131))
    )
    path = str(tmp_path_factory.mktemp("zorder")) + "/orders_z"
    layout.write_zordered(o, path, "x", "y", bits=12, zbucket_bits=4)

    full = spark.read.parquet(path)
    total_files = len(full.inputFiles())
    n_cells = full.select("__zb").distinct().count()
    assert n_cells > 4  # the grid is populated, not one corner cell

    box = dict(x_lo=0, x_hi=800, y_lo=0, y_hi=500)
    pruned = layout.read_zordered_box(
        spark, path, box["x_lo"], box["x_hi"], box["y_lo"], box["y_hi"],
        "x", "y", bits=12, zbucket_bits=4,
    )
    pruned.collect()
    leaf = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_read = int(leaf.metrics().apply("numFiles").value())
    assert 0 < n_read < total_files
    p = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "__zb" in p

    naive = o.filter(
        (F.col("x") >= box["x_lo"]) & (F.col("x") <= box["x_hi"])
        & (F.col("y") >= box["y_lo"]) & (F.col("y") <= box["y_hi"])
    )
    want = {r["o_orderkey"] for r in naive.select("o_orderkey").collect()}
    got = {r["o_orderkey"] for r in pruned.select("o_orderkey").collect()}
    assert got == want and len(want) > 0


def test_q101_profile_is_single_scan(spark):
    """profile_table computes every column's aggregates in ONE pass — the
    plan must contain exactly one parquet scan of orders, not a
    per-column rescan loop (6 columns = 6 scans would read 100 TB six
    times). One scan = one file-index Location in the formatted plan
    (the node name appears twice per scan: tree + details)."""
    p = plan_of(spark, "q101_profile_orders")
    assert p.count("Location: InMemoryFileIndex") == 1


def test_profile_table_approx_plan_no_expand(spark):
    """profile_table(approx=True)'s plan win, pinned: the exact
    multi-column count_distinct needs an Expand node (one replica of the
    scan per profiled column feeding the aggregate); the HLL++ sketch
    path must have NO Expand — the aggregate consumes the scan once —
    and must actually use approx_count_distinct. (The aggregate itself
    may still be a SortAggregate when string columns are profiled —
    string min/max buffers aren't hash-aggregable; the win is the
    |cols|× row replication, not the aggregate kind.)"""
    from syntenybrowserv2_etl_spark.operators import profiling as prof

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    exact_plan = fmt(prof.profile_table(df))
    approx_plan = fmt(prof.profile_table(df, approx=True))
    assert "Expand" in exact_plan  # the cost the sketch removes
    assert "Expand" not in approx_plan
    assert "approx_count_distinct" in approx_plan


def test_snapshot_diff_bucketed_join_shuffle_free(spark, tmp_path_factory):
    """The module's 100 TB layout claim, pinned: two snapshots bucketed by
    the key diff with ZERO Exchanges when the caller asserts PK keys
    (null_safe_keys=False → plain ==, which a bucketed-by-key layout
    satisfies directly). The default eqNullSafe path on the SAME tables
    reshuffles BOTH sides — Catalyst rewrites <=> keys into
    coalesce/isnull expressions no bucket layout matches — which is
    exactly why the escape hatch exists (r9 ADVICE)."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import delta as dlt

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    for t in ("t_diff_old", "t_diff_new"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        df.write.bucketBy(8, "k").sortBy("k").saveAsTable(t)
    try:
        o, n = spark.table("t_diff_old"), spark.table("t_diff_new")
        pk_plan = fmt(dlt.snapshot_diff(o, n, ["k"], ["v"], null_safe_keys=False))
        ns_plan = fmt(dlt.snapshot_diff(o, n, ["k"], ["v"]))
        assert "Exchange" not in pk_plan  # bucketed layout reused
        assert "Exchange" in ns_plan  # the eqNullSafe cost, demonstrated
        # identical (empty) diff either way on identical snapshots
        assert dlt.snapshot_diff(
            o, n, ["k"], ["v"], null_safe_keys=False
        ).count() == 0
    finally:
        for t in ("t_diff_old", "t_diff_new"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_q100_gapfill_has_no_cartesian(spark):
    """The dense spine is generated series-locally (sequence+explode from
    each series' own span) — never a cross join of series against a
    global calendar (which fans every series to the global span)."""
    p = plan_of(spark, "q100_gapfill_hourly")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_pagerank_bucketed_edges_one_sided_exchange(spark, tmp_path_factory):
    """The web-scale pagerank layout claim, demonstrated: with the
    weighted edge table bucketed by __src (write_pagerank_edges) and
    broadcast disabled (the beyond-broadcast graph regime), every round's
    join exchanges ONLY the ranks side — no Exchange ever hash-partitions
    on __src, because the bucket layout already satisfies the join's
    distribution requirement. Results are bit-identical to the in-memory
    pagerank."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import components as comp

    n = 2000
    edges = spark.range(n).select(
        (F.col("id") % 97).alias("src"), (F.col("id") % 89 + 50).alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    spark.sql("DROP TABLE IF EXISTS t_pr_edges_b")
    comp.write_pagerank_edges(edges, "t_pr_edges_b", num_buckets=8)
    try:
        with spark_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            ranks = comp.pagerank_table(
                spark, "t_pr_edges_b", iters=3, assume_no_dangling=True,
                broadcast_max_nodes=0,
            )
            got = {(r["node"], r["rank"]) for r in ranks.collect()}
            # the checkpointed final ranks hide the per-round plan; pin
            # the round-join shape via the exact builder the loop calls,
            # fed the same bucketed table and a ranks-shaped input
            contribs = comp._round_contribs(
                spark.table("t_pr_edges_b"),
                ranks.select("node", "rank"),
                bc=False,
            )
            contribs.collect()
            p = contribs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(__src" not in p
        assert "Exchange hashpartitioning(node" in p  # ranks side still moves
        want = {
            (r["node"], r["rank"])
            for r in comp.pagerank(
                edges, iters=3, assume_no_dangling=True
            ).collect()
        }
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_edges_b")


def test_q106_q107_single_exchange(spark):
    """ohlc and time_weighted_avg window over the SAME projected
    attributes their aggregation groups on — one shuffle serves both.
    (Windowing over the raw date_trunc/column expressions instead adds a
    second exchange: the window's partitioning does not canonicalize
    equal to the agg's aliased attributes — the bug this pins out.)"""
    for name in ("q106_ohlc_daily", "q107_time_weighted_avg"):
        p = plan_of(spark, name)
        assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, name


def test_knn_batch_probe_join_is_shuffle_not_broadcast(spark):
    """q116's contract is the DISTRIBUTION strategy: with
    broadcast_probe=False the probe→cell join carries NO broadcast hint,
    so when neither side fits the broadcast threshold (the 100 TB
    posture, simulated with autoBroadcastJoinThreshold=-1) it plans as a
    shuffle join on centroid_id. With broadcast_probe=True the explicit
    hint must survive the same threshold — that's the whole point of the
    flag pair. (At test SF with the default threshold Catalyst is free
    to broadcast the tiny corpus side instead — also correct, which is
    why the pin disables the size heuristic rather than grepping the
    default plan.)"""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators import similarity as sim

    def plan(bc: bool) -> str:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        cents = sim.pick_centroids(emb, 8)
        assigned = sim.assign_centroids(emb, cents)
        qs = emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = sim.knn_ivf(
            assigned, cents, qs, k=3, nprobe=3, broadcast_probe=bc
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    thr = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        shuffle_p, bcast_p = plan(False), plan(True)
    finally:
        spark.conf.set(thr, prev)
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin)", shuffle_p
    ), f"probe join did not plan as shuffle join:\n{shuffle_p[:2000]}"
    assert "BroadcastHashJoin" in bcast_p, (
        "broadcast_probe=True hint lost under threshold=-1"
    )


def test_label_noise_ivf_no_corpus_broadcast(spark):
    """q167 (VERDICT r13 #1): the IVF-routed label-noise audit must plan
    with NO corpus×corpus join and NO corpus-side broadcast. Under
    autoBroadcastJoinThreshold=-1 (the 100 TB posture — size-based
    broadcasts off, only HINTED ones survive):
      - the scored probe→cell join is a shuffle join keyed on centroid_id
        (broadcast_probe=False: the corpus-fraction audit sample never
        rides a BroadcastExchange);
      - every surviving BroadcastExchange is IdentityBroadcastMode — the
        two 16-row centroid-array sides of the bounded BNLJs (assign
        argmax + probe ranking); a HashedRelationBroadcastMode anywhere
        would mean a hinted broadcast of a corpus-scale frame;
      - probe-cell selection is the NARROW array ranking (array_sort over
        the broadcast centroid array) — no window exchange of
        (audit × C) replicated query vectors;
      - no CartesianProduct."""
    thr = "spark.sql.autoBroadcastJoinThreshold"
    with spark_conf(spark, thr, "-1"):
        p = plan_of(spark, "q167_label_noise_ivf")
    assert re.search(
        r"\(\d+\) (SortMergeJoin|ShuffledHashJoin)[^\n]*\n"
        r"Left keys \[\d+\]: \[centroid_id",
        p,
    ), f"probe join is not a centroid_id shuffle join:\n{p[:2000]}"
    assert "CartesianProduct" not in p
    assert not re.search(
        r"\(\d+\) BroadcastHashJoin[^\n]*\nLeft keys \[\d+\]: \[centroid_id", p
    )
    assert "HashedRelationBroadcastMode" not in p, (
        "a corpus-scale frame was hint-broadcast in the IVF audit path"
    )
    assert "array_sort" in p, "probe ranking is not the narrow array form"
    # the probe-stage window over the audit sample is gone: its marker
    # columns (__csim cosine rank input, __cr row_number) appear nowhere
    # (remaining Windows: in-cell top-k, majority vote, and the 16-row
    # centroid pick — all bounded)
    assert "__csim" not in p and "__cr" not in p, (
        "the (audit × C) window probe is back"
    )


def test_q113_probability_window_runs_on_grid_not_events(spark):
    """q113's conditional-probability window partitions by prev_type over
    the AGGREGATED |types|x|types| grid — the plan must show the bigram
    HashAggregate BEFORE the p_next Window, so the second exchange
    carries grid rows, not events."""
    p = plan_of(spark, "q113_event_transitions")
    # lag window (events, partitioned by user) then aggregate then window
    agg = p.find("HashAggregate")
    assert agg != -1
    w2 = p.rfind("Window")
    assert w2 != -1 and agg < w2, "grid aggregate must precede p_next window"


def test_q114_window_runs_on_daily_grid(spark):
    """q114's RANGE window must consume the PRE-AGGREGATED daily grid
    (|days| rows), not the orders table: the plan shows the HashAggregate
    below the Window, so the single-partition window sort is bounded by
    the calendar, not the data."""
    p = plan_of(spark, "q114_trailing_window")
    agg = p.find("HashAggregate")
    w = p.rfind("Window")
    assert agg != -1 and w != -1 and agg < w


def test_q115_no_cartesian_or_nested_loop(spark):
    """The deletion-neighborhood blocking must plan as an EQUI-join on
    the variant string — never a cartesian/nested-loop n² comparison
    (which is exactly the oracle's job, not the operator's)."""
    p = plan_of(spark, "q115_editdist1_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", p)


def test_q118_phrase_joins_stay_equi(spark):
    """q118: every adjacency join is an equi-join on (doc, aligned start) —
    never a nested-loop/cartesian — and the documents scan prunes to the
    two columns the index needs."""
    p = plan_of(spark, "q118_phrase_search")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m and "lang" not in m.group(1) and "source" not in m.group(1)


def test_q119_decontam_no_cartesian(spark):
    """q119: the LSH recall join and the verify joins are all equi-joins
    (band/key and id equality) — the whole point is never materializing
    train x bench. (No ReadSchema pin: the staged-materialization
    boundaries (_materialize) cut lineage, so the visible plan starts at
    checkpointed scans; pruning upstream of them is q23/q25's pinned
    territory.)"""
    p = plan_of(spark, "q119_neardup_decontam")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # band-bucket recall join + both verify id-joins are hash/merge equi-joins
    assert len(re.findall(r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin", p)) >= 3


# Queries whose BroadcastNestedLoopJoin is INTENTIONAL: a deliberately
# tiny broadcast side with no usable equi-key — either a 1-row scalar
# frame joined back (corpus totals: q67/q75/q77/q78/q80/q81/q82/q110),
# or the all-pairs scoring of a handful of centroids /
# query vectors that IS the algorithm (q27/q28 exact twins, q30/q116 IVF
# probe ranking, q54 k-means argmax, q90 ADC). A BNLJ anywhere else is a
# plan regression: add here ONLY with a justification like the above.
_BNLJ_INTENTIONAL = {
    "q27_knn_bruteforce",
    "q28_embedding_neardup",
    "q30_knn_ivf",
    "q54_kmeans_clusters",
    "q67_unigram_logprob",
    "q75_bpe_token_budget",
    "q77_tfidf_terms",
    "q78_bm25_rank",
    "q80_temperature_mix",
    "q81_perplexity_buckets",
    "q82_dsir_importance",
    "q90_ivf_pq",
    "q110_heavy_hitters",
    "q116_knn_batch",
    "q123_copurchase",  # 1-row n_orders scalar joined back
    "q126_hard_negatives",  # broadcast anchors x corpus, label-inequality predicate
    "q135_token_kl_drift",  # 1-row totals + 1-row kl scalar joined back
    "q137_pmi_collocations",  # 1-row (m, n) totals scalar joined back
    "q139_lang_kappa",  # 1-row marginal-product scalar joined back
    "q141_dup_histogram",  # 1-row corpus-total scalar joined back
    "q148_source_lang_mi",  # three 1-row stat scalars combined by cross join
    "q149_length_ks",  # tiny source-dim × distinct-value grid + 1-row total
    "q150_source_overlap",  # tiny srcs × srcs pair frame (both sides sketch dims)
    "q152_balanced_shards",  # 1-row size-total scalar joined back
    "q155_ipf_reweight",  # 1-row (n_all, rx) totals scalar joined back
    "q156_length_psi",  # 1-row min/max + totals scalars, tiny bin-range frame
    "q162_embedding_collapse",  # 1-row norm-stats scalar joined back
    "q163_label_noise",  # broadcast query vectors x corpus (q27's exact shape)
    "q167_label_noise_ivf",  # bounded: 16-row centroid array broadcasts only
    # (assign argmax + probe ranking); the corpus-fraction audit side is
    # NEVER broadcast — pinned by test_label_noise_ivf_no_corpus_broadcast
}


def test_registry_wide_plan_audit(spark):
    """Every registry query's physical plan, audited in one sweep (plans
    only — nothing executes): no CartesianProduct anywhere, no
    row-at-a-time Python UDF (BatchEvalPython — Arrow nodes like
    MapInPandas/FlatMapGroupsInPandas are the sanctioned Python path), and
    no BroadcastNestedLoopJoin outside the justified whitelist above. The
    per-query pins elsewhere in this file assert what good plans DO;
    this is the tripwire for what no plan may do, and it covers every
    NEW query automatically."""
    offenders = []
    for name in q.REGISTRY:
        p = plan_of(spark, name)
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        if "BatchEvalPython" in p:
            offenders.append((name, "BatchEvalPython"))
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_INTENTIONAL:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders
