"""Property-based cross-checks (hypothesis): the distributed formulations
must agree with brute-force single-machine oracles on arbitrary inputs.

Examples are kept small (each one runs real Spark jobs) but unconstrained in
shape — random DAGs, random interval sets, random event streams — which is
exactly where hand-picked fixtures miss edge cases (empty frontiers, ties,
single-node graphs, zero-width intervals).
"""

from __future__ import annotations

import os
import re
import tempfile

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from syntenybrowserv2_etl_spark.operators import asof, closure, range_join as rj
from syntenybrowserv2_etl_spark.sources import obo

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def py_closure(edges: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Brute-force reachability: (ancestor, descendant) via 1+ child→parent
    edges; edges are (child, parent)."""
    from collections import defaultdict

    children = defaultdict(set)
    for c, p in edges:
        children[p].add(c)
    out = set()
    for a in {p for _, p in edges} | {c for c, _ in edges}:
        stack, seen = list(children[a]), set()
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            stack.extend(children[d])
        out |= {(a, d) for d in seen}
    return out


# child > parent guarantees a DAG (edges always point to smaller ids)
dag_edges = st.sets(
    st.tuples(st.integers(1, 12), st.integers(0, 11)).filter(lambda e: e[0] > e[1]),
    min_size=1,
    max_size=20,
)


@given(edges=dag_edges)
@settings(**SETTINGS)
def test_closure_matches_bruteforce(spark, edges):
    df = spark.createDataFrame(list(edges), ["child", "parent"])
    got = {
        (r["ancestor"], r["descendant"])
        for r in closure.transitive_closure(df).collect()
    }
    assert got == py_closure(edges)


def py_obo(text: str) -> list[tuple]:
    """The reference's OBO line machine (src/import_ontology.py:192-268):
    a line starting with ``[`` opens stanza n+1 (the preamble is stanza 0);
    ``key: value`` lines accumulate; a repeated key keeps its greatest
    value; only non-obsolete [Term] stanzas with an id survive."""
    stanzas, n = [], 0
    for line in re.split(r"\r?\n", text):
        if line.startswith("["):
            n += 1
            stanzas.append((n, line, {}))
        elif stanzas:
            key, sep, value = line.partition(": ")
            if sep and re.fullmatch(r"[A-Za-z_]+", key):
                stanzas[-1][2].setdefault(key, []).append(value)
    out = []
    for n, header, kv in stanzas:
        one = {
            k: max(kv[k]) if k in kv else None
            for k in ("id", "name", "namespace", "def", "is_obsolete")
        }
        if header != "[Term]" or one["is_obsolete"] == "true" or one["id"] is None:
            continue
        is_a = sorted(v.split("!")[0].strip(" ") for v in kv.get("is_a", []))
        out.append((n, one["id"], one["name"], one["namespace"], one["def"], is_a))
    return sorted(out)


# Values avoid line terminators other than the \n / \r\n line endings.
obo_value = st.text(alphabet="abXY09 _:.-!", max_size=6)
obo_line = st.one_of(
    st.tuples(
        st.sampled_from(["id", "name", "namespace", "def", "is_a", "synonym"]), obo_value
    ).map(lambda kv: f"{kv[0]}: {kv[1]}"),
    st.sampled_from(
        [
            "is_obsolete: true",
            "is_obsolete: false",
            "is_a: T:1 ! parent one",
            "is_a: T:2",
            "id:nospace",
            "! comment line",
            "",
        ]
    ),
)
obo_stanza = st.tuples(
    st.sampled_from(["[Term]", "[Term]", "[Typedef]"]),
    st.lists(obo_line, max_size=6),
    st.booleans(),  # blank line after the stanza
)


@given(
    preamble=st.lists(
        st.sampled_from(["format-version: 1.2", "id: preamble_id", "ontology: t", ""]),
        max_size=3,
    ),
    stanzas=st.lists(obo_stanza, max_size=5),
    eol=st.sampled_from(["\n", "\r\n"]),
    final_eol=st.booleans(),
)
@settings(**{**SETTINGS, "max_examples": 40})
def test_obo_parse_matches_line_machine(spark, preamble, stanzas, eol, final_eol):
    lines = list(preamble)
    for header, body, blank in stanzas:
        lines += [header, *body] + ([""] if blank else [])
    text = eol.join(lines) + (eol if final_eol else "")
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.obo")
        with open(path, "w", newline="") as f:
            f.write(text)
        got = sorted(
            (r["stanza"], r["id"], r["name"], r["namespace"], r["def"], list(r["is_a"]))
            for r in obo.read_obo_terms(spark, [path]).collect()
        )
    assert got == py_obo(text)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15
    ),
)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, left, right):
    # unique right (k, ts) — the operator's documented determinism precondition
    right = list({(k, ts): (k, ts) for k, ts in right}.values())
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], ["k", "ts", "lid"]
    )
    rdf = spark.createDataFrame(
        [(k, ts, f"r{k}_{ts}") for k, ts in right], ["k", "ts", "rv"]
    ) if right else spark.createDataFrame([], "k int, ts int, rv string")
    got = {
        r["lid"]: r["rv"]
        for r in asof.asof_join(ldf, rdf, on=["k"], left_ts="ts").collect()
    }
    for i, (k, ts) in enumerate(left):
        cands = [(rts, f"r{k2}_{rts}") for k2, rts in right if k2 == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, ts)


intervals = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 30)),
    min_size=1,
    max_size=12,
)


@given(a=intervals, b=intervals, bin_width=st.sampled_from([1, 7, 64]))
@settings(**SETTINGS)
def test_binned_overlap_matches_plain(spark, a, b, bin_width):
    mk = lambda rows, tag: spark.createDataFrame(  # noqa: E731
        [(k, s, s + w, f"{tag}{i}") for i, (k, s, w) in enumerate(rows)],
        ["key", "s", "e", f"{tag}id"],
    )
    la, rb = mk(a, "a"), mk(b, "b")
    plain = rj.overlap_join(la, rb, on=["key"], left_range=("s", "e"), right_range=("s", "e"))
    binned = rj.binned_overlap_join(
        la, rb, on=["key"], left_range=("s", "e"), right_range=("s", "e"), bin_width=bin_width
    )
    key = lambda r: (r["aid"], r["bid"])  # noqa: E731
    assert sorted(map(key, plain.collect())) == sorted(map(key, binned.collect()))


@given(vals=st.lists(st.integers(0, 5), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_lww_dedup_keeps_exactly_last(spark, vals):
    from syntenybrowserv2_etl_spark.sources import io as sink

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], ["k", "arrival"]
    )
    got = {r["k"]: r["arrival"] for r in sink.upsert_dedup(df, ["k"], "arrival").collect()}
    want = {}
    for i, v in enumerate(vals):
        want[v] = i
    assert got == want


def py_components(edges: set[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min vertex per component
    comp = {}
    for v in parent:
        comp[v] = find(v)
    return comp


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_unionfind(spark, edges):
    from syntenybrowserv2_etl_spark.operators import components

    df = spark.createDataFrame(list(edges), ["id_a", "id_b"])
    got = {r["id"]: r["comp"] for r in components.connected_components(df).collect()}
    assert got == py_components(edges)


# --- minhash: inline (array-fold) formulation ≡ relational formulation -----

doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab cd"),  # tiny alphabet → heavy collisions
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@given(texts=doc_texts)
@settings(**SETTINGS)
def test_minhash_inline_matches_relational(spark, texts):
    from syntenybrowserv2_etl_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    inline = {
        tuple(r)
        for r in dedup.minhash_signatures_inline(
            df, "doc_id", "text", k=2, num_hashes=4
        ).collect()
    }
    relational = {
        tuple(r)
        for r in dedup.minhash_signatures(
            dedup.shingles(df, "doc_id", "text", k=2), "doc_id", num_hashes=4
        ).collect()
    }
    assert inline == relational


# --- winnowing: shared-substring detection guarantee on random strings -----


@given(
    a=st.text(alphabet="xyz ", min_size=30, max_size=60),
    b=st.text(alphabet="uvw ", min_size=30, max_size=60),
    shared=st.text(alphabet="mnpq", min_size=11, max_size=20),
)
@settings(**SETTINGS)
def test_winnowing_guarantee_random(spark, a, b, shared):
    from syntenybrowserv2_etl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, f"{a}{shared}{a}"), (2, f"{b}{shared}{b}")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: set(r["fingerprints"])
        for r in text_ops.rolling_fingerprints(df, "text", k=8, window=4).collect()
    }
    # shared substring of length >= k + window - 1 = 11 chars (disjoint
    # alphabets guarantee it survives normalization intact)
    assert out[1] & out[2]


def test_fan_out_split_estimate(spark, tmp_path):
    """fan_out decides from Spark's split-packing formula, not file count:
    a few tiny files estimate below target (repartition); an input whose
    size-based estimate reaches target passes through untouched."""
    from pyspark.sql import functions as F
    from syntenybrowserv2_etl_spark.functions import transforms

    # two tiny files -> estimated splits ~2 < 8 -> repartition to 8
    small = str(tmp_path / "small")
    spark.range(100).repartition(2).write.parquet(small)
    few = spark.read.parquet(small)
    assert transforms._estimated_scan_splits(few) < 8
    assert transforms.fan_out(few, target=8).rdd.getNumPartitions() == 8

    # one ~24 MB splittable file: size-based estimate >= 4 even though
    # n_files == 1, so no repartition shuffle is inserted
    big = str(tmp_path / "big")
    spark.range(3_000_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.parquet(big)
    one = spark.read.parquet(big)
    assert len(one.inputFiles()) == 1
    assert transforms._estimated_scan_splits(one) >= 4
    plan = transforms.fan_out(one, target=4)._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan

    # in-memory frames report zero splits and still repartition
    mem = spark.range(10)
    assert transforms._estimated_scan_splits(mem) == 0
    assert transforms.fan_out(mem, target=6).rdd.getNumPartitions() == 6


def test_scan_splits_estimate_memoized(spark, tmp_path):
    """Repeated fan_out over the same file set must not re-stat the files:
    the estimate is cached per (file-list digest, conf) — on object stores
    the getFileStatus RPCs are the planning cost."""
    from syntenybrowserv2_etl_spark.functions import transforms

    p = str(tmp_path / "memo")
    spark.range(50).repartition(2).write.parquet(p)
    df = spark.read.parquet(p)
    transforms._SPLITS_CACHE.clear()
    first = transforms._estimated_scan_splits(df)
    assert len(transforms._SPLITS_CACHE) == 1
    # poison the cached estimate: a second call must come from the cache
    # (young entries skip even the sentinel stat RPCs)
    key = next(iter(transforms._SPLITS_CACHE))
    est, sent, stored_at = transforms._SPLITS_CACHE[key]
    transforms._SPLITS_CACHE[key] = (777, sent, stored_at)
    assert transforms._estimated_scan_splits(spark.read.parquet(p)) == 777
    # an aged entry whose sentinel stats still match is revalidated, not
    # recomputed: the poisoned estimate survives with a refreshed stamp
    transforms._SPLITS_CACHE[key] = (777, sent, stored_at - 3600.0)
    assert transforms._estimated_scan_splits(spark.read.parquet(p)) == 777
    assert transforms._SPLITS_CACHE[key][2] > stored_at - 3600.0
    # an aged entry whose sentinels changed (in-place rewrite) recomputes
    transforms._SPLITS_CACHE[key] = (777, ((1, 1),) * len(sent), stored_at - 3600.0)
    assert transforms._estimated_scan_splits(spark.read.parquet(p)) == first
    transforms._SPLITS_CACHE.clear()
    assert transforms._estimated_scan_splits(df) == first


# --- round 5: span dedup / deterministic shuffle / bloom ------------------

words = st.sampled_from("alpha beta gamma delta epsilon zeta".split())
rand_docs = st.lists(
    st.lists(words, min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=10,
)


def py_span_dedup(texts: list[str], k: int) -> dict[int, tuple[int, int, str]]:
    """Single-machine oracle for dedup_spans: first (doc, idx) occurrence
    of each distinct span wins, docs reassemble from surviving spans."""
    seen: set[str] = set()
    out = {}
    for doc_id, text in enumerate(texts):
        toks = [t for t in " ".join(text.split()).split(" ") if t]
        spans = [
            " ".join(toks[i : i + k]) for i in range(0, len(toks), k)
        ] if toks else []
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[doc_id] = (len(spans), len(kept), " ".join(kept))
    return out


@given(texts=rand_docs, k=st.sampled_from([1, 3, 4]))
@settings(**SETTINGS)
def test_dedup_spans_matches_bruteforce(spark, texts, k):
    from syntenybrowserv2_etl_spark.operators import curation as cur

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_spans"], r["n_spans_kept"], r["clean_text"])
        for r in cur.dedup_spans(df, "doc_id", "text", span_tokens=k).collect()
    }
    assert got == py_span_dedup(texts, k)


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    n_shards=st.sampled_from([1, 3, 8]),
    seed=st.integers(0, 5),
)
@settings(**SETTINGS)
def test_deterministic_shuffle_partitions_exactly(spark, ids, n_shards, seed):
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    rows = smp.deterministic_shuffle(df, "doc_id", n_shards, seed=seed).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(ids)
    per = {}
    for r in rows:
        assert 0 <= r["shard"] < n_shards
        per.setdefault(r["shard"], []).append(r["pos"])
    for poss in per.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    corpus_texts=st.lists(
        st.lists(words, min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=15,
    ),
    batch_texts=st.lists(
        st.lists(words, min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=15,
    ),
)
@settings(**SETTINGS)
def test_bloom_incremental_matches_exact_membership(spark, corpus_texts, batch_texts):
    """is_dup must equal exact normalized-text membership for ANY corpus and
    batch; bloom_hit must never be false for a true member."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    corpus = spark.createDataFrame(list(enumerate(corpus_texts)), ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(batch_texts)], ["doc_id", "text"]
    )
    norm = lambda s: " ".join(s.split())  # noqa: E731
    member = {norm(t) for t in corpus_texts}
    out = dd.bloom_incremental_dedup(
        corpus, batch, "doc_id", "text",
        expected_corpus_rows=len(corpus_texts),
    ).collect()
    assert len(out) == len(batch_texts)
    for r in out:
        want = norm(batch_texts[r["doc_id"] - 1000]) in member
        assert r["is_dup"] == want
        if want:
            assert r["bloom_hit"]


def py_bpe(texts: list[str], n_merges: int) -> list[tuple[int, str, int]]:
    """Brute-force BPE with the operator's exact semantics: weighted pair
    counts over the word-frequency vocab, (count DESC, pair ASC) argmax,
    and Python str.replace (same leftmost non-overlapping contract as
    Spark/DuckDB replace)."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in " ".join(t.lower().split()).split(" "):
            if w:
                wf[w] += 1
    vocab = {(" " + " ".join(word) + " "): f for word, f in wf.items()}
    # NB dict keyed by sym string: two words can collapse to one sym only
    # if equal as words, so no collision; merge keeps multiplicity via sum
    merges = []
    for r in range(1, n_merges + 1):
        counts = Counter()
        for sym, f in vocab.items():
            el = sym.split()
            for i in range(len(el) - 1):
                counts[f"{el[i]} {el[i + 1]}"] += f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merges.append((r, pair, counts[pair]))
        new_vocab = {}
        for sym, f in vocab.items():
            ns = sym.replace(f" {pair} ", " " + pair.replace(" ", "") + " ")
            new_vocab[ns] = new_vocab.get(ns, 0) + f
        vocab = new_vocab
    return merges


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("ab abc ba aab bba cab abab ccc".split()),
            min_size=1, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    n=st.sampled_from([1, 3, 5]),
)
@settings(**SETTINGS)
def test_bpe_matches_bruteforce(spark, texts, n):
    from syntenybrowserv2_etl_spark.operators import text as txt

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = [
        (r["rank"], r["pair"], r["pair_count"])
        for r in sorted(
            txt.bpe_merge_table(df, "text", n_merges=n).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == py_bpe(texts, n)


def test_ivf_recall_monotone_in_nprobe(spark):
    """The IVF approximation contract, not just oracle equality: recall@10
    vs the exact brute-force twin must be monotone non-decreasing in
    nprobe (probing more cells can only add candidates — the per-cell
    ranking is exact), and must clear a floor at the q30 operating point
    (nprobe=4 of 16 cells)."""
    from syntenybrowserv2_etl_spark.operators import similarity as sim
    from conftest import SF_SMALL
    from syntenybrowserv2_etl_spark import queries as Q

    emb = Q.t(spark, SF_SMALL, "embeddings")
    cents = sim.pick_centroids(emb, 16)
    assigned = sim.assign_centroids(emb, cents).localCheckpoint(eager=True)
    qs = emb.filter(F.col("vec_id").isin([0, 7, 13, 21])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in sim.knn_bruteforce(emb, qs, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for nprobe in (1, 2, 4):
        got = {}
        for r in sim.knn_ivf(assigned, cents, qs, k=10, nprobe=nprobe).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        recalls.append(
            sum(
                len(got.get(q, set()) & exact[q]) / len(exact[q])
                for q in exact
            )
            / len(exact)
        )
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] >= 0.5, f"recall@10 floor failed at nprobe=4: {recalls}"


_sd_vecs = st.lists(
    st.lists(st.integers(-5, 5), min_size=4, max_size=4).filter(
        lambda v: any(v)
    ),
    min_size=3,
    max_size=20,
)


@given(vecs=_sd_vecs, k=st.sampled_from([2, 3]), th=st.sampled_from([0.5, 0.9]))
@settings(**SETTINGS)
def test_semantic_dedup_pair_rule_matches_bruteforce(spark, vecs, k, th):
    """Self-consistency of the SemDeDup pair rule: given the operator's own
    cluster assignment, is_dup must equal the brute-force 'exists a
    same-cluster smaller-id vector with cosine >= threshold'. (The
    clustering itself is value-checked by the q76/q54 unrolled oracles.)"""
    import math

    from syntenybrowserv2_etl_spark.operators import dedup as dd

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: bigint, embedding: array<float>",
    )
    out = {
        r["vec_id"]: (r["centroid_id"], r["is_dup"])
        for r in dd.semantic_dedup(emb, k=k, iters=2, threshold=th).collect()
    }
    assert set(out) == set(range(len(vecs)))

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    for i, (ci, dup) in out.items():
        expect = any(
            out[j][0] == ci and cos(vecs[j], vecs[i]) >= th
            for j in range(i)
        )
        assert dup == expect, f"vec {i}: is_dup={dup}, brute-force={expect}"


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c"])),
        min_size=1, max_size=40, unique_by=lambda r: r[0],
    ),
    cap=st.sampled_from([1, 2, 5]),
)
@settings(**SETTINGS)
def test_cap_per_group_keeps_hash_lowest(spark, rows, cap):
    """cap_per_group keeps exactly min(cap, |group|) rows per group, and
    the kept set is the cap hash-lowest ids of each group (brute-force
    recompute of the salted fate)."""
    from syntenybrowserv2_etl_spark.operators import sampling as smp

    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    kept = smp.cap_per_group(df, "doc_id", "grp", cap=cap, seed=7).collect()
    # recompute fates via the operator's own Column form (engine-portable
    # md5 fate, already value-pinned by the q45/q46/q79 oracles)
    fates = {
        r["doc_id"]: r["f"]
        for r in df.select("doc_id", smp._fate("doc_id", 7).alias("f")).collect()
    }
    by_grp: dict[str, list[int]] = {}
    for i, g in rows:
        by_grp.setdefault(g, []).append(i)
    expect = {
        (g, i)
        for g, ids in by_grp.items()
        for i in sorted(ids, key=lambda x: (fates[x], x))[:cap]
    }
    got = {(r["grp"], r["doc_id"]) for r in kept}
    assert got == expect
    for r in kept:
        assert 1 <= r["rk"] <= cap


def test_setsim_prefix_join_matches_bruteforce(spark):
    """Prefix filtering is lossless: the PPJoin-style operator must return
    EXACTLY the pairs a brute-force all-pairs shingle-Jaccard finds —
    same pairs, same intersection counts, same rounded scores."""
    from itertools import combinations

    from syntenybrowserv2_etl_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base),                                   # exact dup
        (3, base + " with a small tail change"),     # near dup
        (4, "completely different words live in this one document here"),
        (5, "the quick brown fox sleeps all day long under a warm sun"),
        (6, ""),                                     # empty
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["jaccard"])
        for r in dd.setsim_join_prefix(df, "doc_id", "text", 0.5, k=3).collect()
    }

    def shingle_set(text):
        toks = text.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))} or (
            {" ".join(toks)} if toks else set()
        )

    want = {}
    sets = {i: shingle_set(t) for i, t in docs}
    for a, b in combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        union = len(sa | sb)
        jac = round(inter / union, 6)
        if jac >= 0.5:
            want[(a, b)] = (inter, jac)
    assert got == want and (1, 2) in got and (4, 5) not in got


def test_setsim_prefix_len_exact_ceiling(spark):
    """The PPJoin prefix length must use the EXACT ceiling ⌈t·n⌉: the raw
    double product can overshoot an integer by one ulp (0.07 * 100 =
    7.000000000000001 → ceil 8, not 7), shortening the prefix below what
    the no-false-negative theorem requires. Pin the Column expression
    against exact Fraction arithmetic across thresholds that include
    known overshooting products AND the exactly-representable default."""
    from fractions import Fraction
    from math import ceil

    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame([(n,) for n in range(1, 301)], "n int")
    for num, den in [(7, 100), (1, 10), (29, 100), (1, 2), (3, 4), (41, 50)]:
        t = num / den  # the float the caller would pass
        got = {
            r["n"]: r["L"]
            for r in df.select(
                "n", dd.setsim_prefix_len(t, "n").alias("L")
            ).collect()
        }
        for n in range(1, 301):
            want = n - ceil(Fraction(num, den) * n) + 1
            assert got[n] == want, (num, den, n, got[n], want)
    # the motivating ulp case, explicitly: raw ceil(0.07 * 100) == 8
    import math

    assert math.ceil(0.07 * 100) == 8  # the trap the fix removes


# --- round 8: triangles, morton, snapshot diff, twavg ----------------------


def py_triangles(edges: set[tuple[int, int]]) -> dict[int, int]:
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict[int, int] = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in adj[u]:
            if v <= u:
                continue
            for w in adj[u] & adj[v]:
                if w > v:
                    for x in (u, v, w):
                        counts[x] = counts.get(x, 0) + 1
    return counts


undirected_edges = st.sets(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=25,
)


@given(edges=undirected_edges)
@settings(**SETTINGS)
def test_triangle_counts_match_bruteforce(spark, edges):
    from syntenybrowserv2_etl_spark.operators import components as comp

    df = spark.createDataFrame(list(edges), ["src", "dst"])
    got = {
        (r["node"], r["n_triangles"])
        for r in comp.triangle_counts(df).collect()
    }
    want = set(py_triangles(edges).items())
    assert got == want


@given(
    pts=st.lists(
        st.tuples(st.integers(0, (1 << 13) - 1), st.integers(0, (1 << 13) - 1)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_morton_key_bijective_and_monotone_in_quadrants(spark, pts):
    """The interleave must be invertible (bit-exact round trip) — the
    property that makes the curve a KEY rather than a hash."""
    from syntenybrowserv2_etl_spark.operators import layout

    df = spark.createDataFrame(pts, ["x", "y"]).withColumn(
        "k", layout.morton_key("x", "y", 13)
    )
    for r in df.collect():
        x = sum(((r["k"] >> (2 * i)) & 1) << i for i in range(13))
        y = sum(((r["k"] >> (2 * i + 1)) & 1) << i for i in range(13))
        assert (x, y) == (r["x"], r["y"])


@given(
    pts=st.lists(
        st.tuples(
            st.integers(0, (1 << 9) - 1),
            st.integers(0, (1 << 9) - 1),
            st.integers(0, (1 << 9) - 1),
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(**SETTINGS)
def test_morton_key_nd_bijective_at_d3(spark, pts):
    """d=3 interleave round-trips bit-exactly — the nd generalization
    stays a KEY, not a hash."""
    from syntenybrowserv2_etl_spark.operators import layout

    df = spark.createDataFrame(pts, ["x", "y", "z"]).withColumn(
        "k", layout.morton_key_nd(["x", "y", "z"], 9)
    )
    for r in df.collect():
        dec = [
            sum(((r["k"] >> (3 * i + a)) & 1) << i for i in range(9))
            for a in range(3)
        ]
        assert tuple(dec) == (r["x"], r["y"], r["z"])


@given(
    # keys include None: NULL keys must diff null-safely (match themselves)
    old=st.dictionaries(
        st.one_of(st.none(), st.integers(0, 15)), st.integers(0, 3), max_size=12
    ),
    new=st.dictionaries(
        st.one_of(st.none(), st.integers(0, 15)), st.integers(0, 3), max_size=12
    ),
)
@settings(**SETTINGS)
def test_snapshot_diff_matches_dict_diff(spark, old, new):
    from syntenybrowserv2_etl_spark.operators import delta

    mk = lambda d: spark.createDataFrame(
        [(k, v) for k, v in d.items()], "k bigint, v bigint"
    )
    got = {
        r["k"]: (r["change_type"], r["changed_cols"])
        for r in delta.snapshot_diff(mk(old), mk(new), ["k"], ["v"]).collect()
    }
    want = {}
    for k in set(old) | set(new):
        if k not in new:
            want[k] = ("removed", "")
        elif k not in old:
            want[k] = ("added", "")
        elif old[k] != new[k]:
            want[k] = ("changed", "v")
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 100)),
        min_size=2,
        max_size=12,
        unique_by=lambda r: r[0],
    )
)
# 345/32 = 10.78125 exactly: a half at the rounding digit, which Spark's
# round takes up (10.7813) and Python's round to even (10.7812)
@example(rows=[(0, 15), (5, 10), (32, 0)])
@settings(**SETTINGS)
def test_time_weighted_avg_matches_bruteforce(spark, rows):
    import datetime as dt
    from decimal import ROUND_HALF_UP, Decimal

    from syntenybrowserv2_etl_spark.operators import timeseries as tsx

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, base + dt.timedelta(seconds=s), 1, "a", float(v))
        for i, (s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    out = tsx.time_weighted_avg(df).collect()
    srt = sorted(rows)
    num = sum(
        v * (srt[i + 1][0] - s) * 1_000_000
        for i, (s, v) in enumerate(srt[:-1])
    )
    den = (srt[-1][0] - srt[0][0]) * 1_000_000
    if den == 0:
        # all rows share one timestamp: no weight mass, row dropped
        assert out == []
    else:
        assert len(out) == 1
        # F.round on a double rounds its decimal form half up
        want = Decimal(repr(num / den)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        assert out[0]["twavg"] == float(want)
        assert out[0]["span_us"] == den


@given(
    toks=st.lists(
        st.sampled_from([f"t{i}" for i in range(12)] + ["HOT"] * 4),
        min_size=1,
        max_size=120,
    ),
    k=st.sampled_from([3, 5, 8]),
)
@settings(**SETTINGS)
def test_heavy_hitters_exact_vs_bruteforce(spark, toks, k):
    """The Misra-Gries pass only proposes candidates; the recount makes
    the answer EXACT. Must equal brute force for every stream and k —
    including decrement-heavy adversarial mixes and items straddling the
    N/k threshold."""
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators import frequent

    df = spark.createDataFrame([(t,) for t in toks], ["tok"]).repartition(4)
    got = {
        (r["item"], r["n"])
        for r in frequent.heavy_hitters(df, "tok", k=k).collect()
    }
    c = Counter(toks)
    n = len(toks)
    want = {(t, m) for t, m in c.items() if m * k > n}
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    t=st.sampled_from([0.5, 0.7, 0.9]),
)
@settings(**SETTINGS)
def test_containment_join_matches_bruteforce(spark, texts, t):
    """Exactness contract: the prefix filter may only prune, never drop —
    every ordered pair with shingle containment ≥ t must appear, with
    the exact intersection size."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["inter"]
        for r in dd.containment_join_prefix(
            df, "doc_id", "text", threshold=t, k=3
        ).collect()
    }

    def shingles(s):
        w = [x for x in s.lower().split() if x]
        return {" ".join(w[i : i + 3]) for i in range(max(0, len(w) - 2))}

    want = {}
    sets = {i: shingles(s) for i, s in enumerate(texts)}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b or not sa:
                continue
            inter = len(sa & sb)
            if round(inter / len(sa), 6) >= t:
                want[(a, b)] = inter
    assert got == want


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("the quick brown fox dog cat ran sat".split()),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    t=st.sampled_from([0.5, 0.8]),
)
@settings(**SETTINGS)
def test_containment_chunked_equals_unchunked(spark, texts, t):
    """The hot-gram posting-list chunking is result-invariant: forcing
    EVERY multi-document gram through the chunk path (hot_gram_chunk=1)
    must produce the identical result set as chunking disabled
    (hot_gram_chunk > corpus df) — each (a, b) pair meets on exactly one
    (gram, chunk) sub-key, so splitting keys never loses a candidate."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    run = lambda chunk: {
        tuple(r)
        for r in dd.containment_join_prefix(
            df, "doc_id", "text", threshold=t, k=3, hot_gram_chunk=chunk
        ).collect()
    }
    assert run(1) == run(1_000_000)


def py_lev(a: str, b: str) -> int:
    """Textbook Levenshtein DP — the oracle for the blocked join."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5),
        min_size=2,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_editdist1_join_equals_bruteforce(spark, names):
    """Deletion-neighborhood blocking is EXACT for k ≤ 1: the blocked
    join must return precisely the pairs a brute-force Levenshtein scan
    finds — including ed-0 duplicates, empty strings, and the ed-2
    false candidates ("ab"/"ba") the verify step must reject."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(list(enumerate(names)), ["id", "name"])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in dd.editdist1_join(df, "id", "name").collect()
    }
    want = {
        (i, j, py_lev(a, b))
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and py_lev(a, b) <= 1
    }
    assert got == want


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),   # key
                st.integers(min_value=0, max_value=9),   # arrival
                st.booleans(),                           # tombstone?
            ),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_upsert_matches_dict_replay(spark, batches, tmp_path_factory):
    """The keyed MERGE sink against a brute-force dict replay: arbitrary
    upsert/tombstone sequences across micro-batches must land exactly the
    per-key winner a sequential last-write-wins replay produces — newer
    arrival wins; on equal arrival the later batch wins; within a batch
    equal (key, arrival) duplicates may resolve either way, so the
    strategy avoids generating them (distinct arrivals per key per
    batch); a tombstone winner hides the key."""
    import os

    from syntenybrowserv2_etl_spark.streaming import merge as merge_ops

    # drop within-batch (key, arrival) duplicates — unordered by contract
    batches = [
        list({(k, a): (k, a, d) for k, a, d in b}.values()) for b in batches
    ]
    tmp = str(tmp_path_factory.mktemp("merge_prop"))
    tbl = os.path.join(tmp, "tbl")
    state: dict[int, tuple[int, int, bool]] = {}  # key -> (arrival, batch, del)
    for i, b in enumerate(batches):
        df = spark.createDataFrame(
            [(k, f"v{k}a{a}", a, d) for k, a, d in b],
            "k bigint, v string, arrival bigint, deleted boolean",
        )
        merge_ops.merge_upsert_batch(
            df, i, table_path=tbl, key_cols=["k"], arrival_col="arrival",
            n_buckets=4, delete_col="deleted",
        )
        for k, a, d in b:
            cur = state.get(k)
            # batch row replaces stored state of equal-or-older arrival
            if cur is None or (a, i) >= (cur[0], cur[1]):
                state[k] = (a, i, d)
    want = {
        (k, f"v{k}a{a}", a) for k, (a, _, d) in state.items() if not d
    }
    if not any(batches):
        return  # no batch ever had rows: table never created
    got = {
        (r["k"], r["v"], r["arrival"])
        for r in merge_ops.merge_read(spark, tbl).collect()
    }
    assert got == want


# --- phrase search vs brute-force scan -------------------------------------

_pw = st.sampled_from(["a", "b", "c", "d"])
_doc = st.lists(_pw, min_size=0, max_size=12).map(" ".join)


def py_phrase_matches(text: str, phrase: list[str]) -> list[int]:
    """Brute-force: every 1-based start where the phrase's tokens appear
    consecutively (overlaps included)."""
    toks = text.split()
    m = len(phrase)
    return [
        i + 1
        for i in range(len(toks) - m + 1)
        if toks[i : i + m] == phrase
    ]


@given(
    docs=st.lists(_doc, min_size=1, max_size=6),
    phrase=st.lists(_pw, min_size=1, max_size=3),
)
@settings(**SETTINGS)
def test_phrase_search_matches_bruteforce(spark, docs, phrase):
    """Distributed posting intersection ≡ per-doc token scan on arbitrary
    corpora — repeats, overlaps, empty docs, phrase longer than doc, all
    shapes included. Both join-order policies must agree with it."""
    from syntenybrowserv2_etl_spark.operators import index as ix

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    idx = ix.positional_index(df, "doc_id", "text")
    want = {}
    for i, d in enumerate(docs):
        starts = py_phrase_matches(d, phrase)
        if starts:
            want[i] = (len(starts), starts[0])
    stats: dict[str, int] = {}
    for d in docs:
        for t in d.split():
            stats[t] = stats.get(t, 0) + 1
    for kw in ({}, {"term_stats": stats}):
        if kw and any(t not in stats for t in phrase):
            continue  # absent-term early exit is fixture-pinned elsewhere
        got = {
            r["doc_id"]: (r["n_matches"], r["first_pos"])
            for r in ix.phrase_search(idx, " ".join(phrase), **kw).collect()
        }
        assert got == want, (kw, got, want)


@given(
    docs=st.lists(_doc, min_size=1, max_size=5),
    phrases=st.lists(
        st.lists(_pw, min_size=1, max_size=3), min_size=1, max_size=3
    ),
)
@settings(**SETTINGS)
def test_multi_phrase_matches_bruteforce(spark, docs, phrases):
    """The batched matcher ≡ the brute-force scan for EVERY phrase of an
    arbitrary phrase table at once — including duplicate phrases under
    distinct ids and phrases sharing terms (the tag-group-count path must
    not cross-contaminate counts between phrase ids)."""
    from syntenybrowserv2_etl_spark.operators import index as ix

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    idx = ix.positional_index(df, "doc_id", "text")
    ph = spark.createDataFrame(
        [(pid, " ".join(p)) for pid, p in enumerate(phrases)],
        "phrase_id int, phrase string",
    )
    want = {}
    for pid, p in enumerate(phrases):
        for i, d in enumerate(docs):
            starts = py_phrase_matches(d, p)
            if starts:
                want[(pid, i)] = (len(starts), starts[0])
    got = {
        (r["phrase_id"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in ix.multi_phrase_search(idx, ph).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-5, max_value=5, allow_nan=False, width=16),
        min_size=1,
        max_size=25,
    ),
    k=st.sampled_from([0.0, 0.5]),
)
@settings(**SETTINGS)
def test_cusum_prefix_form_matches_recurrence(spark, vals, k):
    """The two-window closed form S_t = P_t − min(0, running-min P) must
    equal the sequential recurrence S_t = max(0, S_{t−1} + x_t − k) on
    arbitrary series — including all-negative (S pinned at 0), all-positive
    (never resets), and sign-flipping paths."""
    from syntenybrowserv2_etl_spark.operators import timeseries as tsx

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "t int, x double"
    )
    got = [
        r["s"]
        for r in tsx.cusum_drift(df, "t", "x", k=k, h=1.0)
        .orderBy("t")
        .collect()
    ]
    S, want = 0.0, []
    for v in vals:
        S = max(0.0, S + (float(v) - k))
        want.append(S)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-9, (g, w)


@given(
    baskets=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.lists(st.integers(0, 6), min_size=0, max_size=4),
        ),
        min_size=1,
        max_size=10,
    ),
    min_support=st.sampled_from([1, 2]),
)
@settings(**SETTINGS)
def test_copurchase_matches_bruteforce(spark, baskets, min_support):
    """Distributed pair mining ≡ per-basket brute force on arbitrary
    baskets — duplicate items inside one basket (must dedupe, not double-
    count), repeated baskets, empty baskets, support thresholding, and
    the per-item/basket-total side columns."""
    from itertools import combinations

    from syntenybrowserv2_etl_spark.operators import frequent as fq

    rows = [(o, i) for o, items in baskets for i in items]
    if not rows:
        rows = [(0, 0)]
    df = spark.createDataFrame(rows, "o long, i long")
    got = {
        (r["part_a"], r["part_b"]): (
            r["support"], r["support_a"], r["support_b"], r["n_orders"],
        )
        for r in fq.copurchase_pairs(df, "o", "i", min_support=min_support).collect()
    }
    sets = {}
    for o, i in rows:
        sets.setdefault(o, set()).add(i)
    sup_pair, sup_item = {}, {}
    for items in sets.values():
        for i in items:
            sup_item[i] = sup_item.get(i, 0) + 1
        for a, b in combinations(sorted(items), 2):
            sup_pair[(a, b)] = sup_pair.get((a, b), 0) + 1
    n_orders = len(sets)
    want = {
        p: (c, sup_item[p[0]], sup_item[p[1]], n_orders)
        for p, c in sup_pair.items()
        if c >= min_support
    }
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=16),
        min_size=1,
        max_size=20,
    ),
)
@settings(**SETTINGS)
def test_mad_outliers_matches_bruteforce(spark, vals):
    """Distributed MAD flags ≡ a sorted-list brute force: lower-median
    picks (never interpolation), dev = |x − med|, flag dev > 3·MAD —
    including all-equal groups (MAD 0: only exact-median rows unflagged
    ... actually every row equals the median, so nothing flags) and
    single-row groups."""
    import math as _m

    from syntenybrowserv2_etl_spark.operators import timeseries as tsx

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "grp string, x double"
    )
    got = sorted(
        (r["x"], r["med"], r["mad"], r["is_outlier"])
        for r in tsx.mad_outliers(df, "x", "grp", k=3.0).collect()
    )
    sv = sorted(float(v) for v in vals)
    med = sv[_m.ceil(len(sv) / 2.0) - 1]
    devs = sorted(abs(v - med) for v in sv)
    mad = devs[_m.ceil(len(devs) / 2.0) - 1]
    assert [g[0] for g in got] == sorted(float(v) for v in vals)
    for x, m_, d_, flag in got:
        assert m_ == med and d_ == mad
        assert flag == (abs(x - med) > 3.0 * mad)


@given(
    spans=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 15)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_coalesce_intervals_matches_bruteforce(spark, spans):
    """Distributed gaps-and-islands ≡ a sorted sweep-line brute force on
    arbitrary closed intervals (zero-width, duplicated, nested, touching
    — everything the generator produces), and interval_gaps is exactly
    the complement pairs between consecutive merged islands."""
    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    iv = [(a, a + w) for a, w in spans]
    df = spark.createDataFrame(
        [("g", a, b) for a, b in iv], "g string, a int, b int"
    )

    merged = []
    for a, b in sorted(iv):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    want = {("g", a, b) for a, b in merged}
    got = {
        tuple(r) for r in ivl.coalesce_intervals(df, ["g"], "a", "b").collect()
    }
    assert got == want
    want_gaps = {
        ("g", merged[i][1], merged[i + 1][0]) for i in range(len(merged) - 1)
    }
    got_gaps = {
        tuple(r) for r in ivl.interval_gaps(df, ["g"], "a", "b").collect()
    }
    assert got_gaps == want_gaps


@given(
    lts=st.lists(st.integers(0, 30), min_size=1, max_size=10),
    rts=st.lists(st.integers(0, 30), min_size=0, max_size=10, unique=True),
    tol=st.sampled_from([None, 0, 3]),
)
@settings(**SETTINGS)
def test_asof_forward_matches_bruteforce(spark, lts, rts, tol):
    """Forward as-of ≡ per-row min(right_ts >= left_ts) brute force,
    inclusive at equality, with tolerance nulling matches beyond
    left_ts + tol; every left row survives."""
    from syntenybrowserv2_etl_spark.operators import asof as asof_ops

    left = spark.createDataFrame(
        [(1, t_, i) for i, t_ in enumerate(lts)], "k int, ts int, lid int"
    )
    right = spark.createDataFrame(
        [(1, t_, f"v{t_}") for t_ in rts], "k int, ts int, v string"
    )
    out = asof_ops.asof_join(
        left, right, on=["k"], left_ts="ts", direction="forward",
        tolerance=None if tol is None else F.lit(tol),
    )
    got = {r["lid"]: r["v"] for r in out.collect()}
    assert len(got) == len(lts)  # left-join: all left rows survive
    for i, t_ in enumerate(lts):
        cand = [r for r in rts if r >= t_]
        want = f"v{min(cand)}" if cand else None
        if want is not None and tol is not None and min(cand) > t_ + tol:
            want = None
        assert got[i] == want, (i, t_, got[i], want)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    nparts=st.sampled_from([1, 3, 7]),
)
@settings(**SETTINGS)
def test_pareto_frontier_matches_bruteforce(spark, pts, nparts):
    """Two-phase distributed skyline ≡ the O(n²) dominance brute force on
    arbitrary point sets (duplicates kept, heavy ties, collinear runs)
    under ANY partitioning of phase 1."""
    from syntenybrowserv2_etl_spark.operators.skyline import pareto_frontier

    df = spark.createDataFrame(
        [(i, float(x), y) for i, (x, y) in enumerate(pts)],
        "id int, x double, y int",
    ).repartition(nparts)
    got = sorted(r["id"] for r in pareto_frontier(df, "x", "y").collect())

    def dominated(i):
        xi, yi = pts[i]
        return any(
            (xj <= xi and yj <= yi and (xj < xi or yj < yi))
            for j, (xj, yj) in enumerate(pts)
            if j != i
        )

    want = sorted(i for i in range(len(pts)) if not dominated(i))
    assert got == want


@given(
    spans=st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 10)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_interval_depth_matches_pointwise_bruteforce(spark, spans):
    """The sweep profile ≡ per-point membership counting: for every unit
    point in the hull, the segment containing it must report exactly
    #intervals with a <= p < b; segments tile the hull with no overlap."""
    from syntenybrowserv2_etl_spark.operators import intervals as ivl

    iv = [(a, a + w) for a, w in spans]
    df = spark.createDataFrame(
        [("g", a, b) for a, b in iv], "g string, a int, b int"
    )
    segs = sorted(
        (r["seg_start"], r["seg_end"], r["depth"])
        for r in ivl.interval_depth_profile(df, ["g"], "a", "b").collect()
    )
    lo, hi = min(a for a, _ in iv), max(b for _, b in iv)
    assert segs[0][0] == lo and segs[-1][1] == hi
    for (s1, e1, _), (s2, e2, _) in zip(segs, segs[1:]):
        assert e1 == s2  # tiling, no gaps/overlaps
    for p in range(lo, hi):
        depth = sum(1 for a, b in iv if a <= p < b)
        seg = next((d for s, e, d in segs if s <= p < e), None)
        assert seg == depth, (p, seg, depth)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 8),      # score bucket (forces ties)
            st.booleans(),          # label
        ),
        min_size=2,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_roc_auc_matches_pairwise_bruteforce(spark, rows):
    """Rank-sum AUC ≡ the O(n²) definition: over all (positive, negative)
    pairs, the fraction where the positive scores higher, ties counting
    half. Integer score buckets force heavy ties, exercising the mid-rank
    ½-term; degenerate one-class inputs are skipped (AUC undefined)."""
    from syntenybrowserv2_etl_spark.operators.evaluation import roc_auc

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        return
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    want = round(u / (len(pos) * len(neg)), 6)
    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in rows], "s double, y boolean"
    )
    got = roc_auc(df, "s", "y").collect()[0]
    assert got["auc"] == want
    assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))


@given(
    docs=st.lists(
        st.tuples(
            st.booleans(),  # side: True -> P, False -> Q
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=6
            ),
        ),
        min_size=2,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_unigram_kl_matches_bruteforce(spark, docs):
    """Smoothed KL ≡ the direct formula over python counters; KL(P‖P) = 0
    when both sides carry identical text."""
    import math
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators.drift import unigram_kl

    p_docs = [" ".join(ts) for side, ts in docs if side]
    q_docs = [" ".join(ts) for side, ts in docs if not side]
    if not p_docs or not q_docs:
        return
    cp = Counter(t for d in p_docs for t in d.split())
    cq = Counter(t for d in q_docs for t in d.split())
    vocab = sorted(set(cp) | set(cq))
    tp, tq, v = sum(cp.values()), sum(cq.values()), len(vocab)
    want = round(
        sum(
            ((cp[t] + 1) / (tp + v))
            * math.log(((cp[t] + 1) / (tp + v)) / ((cq[t] + 1) / (tq + v)))
            for t in vocab
        ),
        6,
    )
    mk = lambda ds: spark.createDataFrame([(d,) for d in ds], "text string")
    out = unigram_kl(mk(p_docs), mk(q_docs), "text", top_k=len(vocab)).collect()
    assert out[0]["kl_total"] == want
    # attribution rows are the full vocab here, ordered by contribution
    assert sorted(r["token"] for r in out) == vocab
    # identical slices: zero divergence, every contribution zero
    same = unigram_kl(mk(p_docs), mk(p_docs), "text", top_k=3).collect()
    assert same[0]["kl_total"] == 0.0
    assert all(r["contrib"] == 0.0 for r in same)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=5),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_pmi_collocations_matches_bruteforce(spark, docs):
    """PMI over adjacent bigrams ≡ the direct counter formula (min_count=1
    so every observed pair participates); ordering (pmi DESC, w1, w2)."""
    import math
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators.drift import pmi_collocations

    uni = Counter(t for d in docs for t in d)
    big = Counter((a, b) for d in docs for a, b in zip(d, d[1:]))
    m, n = sum(big.values()), sum(uni.values())
    if not m:
        return
    want = sorted(
        (
            (
                round(
                    math.log(
                        (c / m) / ((uni[w1] / n) * (uni[w2] / n))
                    ),
                    8,
                ),
                w1,
                w2,
                c,
            )
            for (w1, w2), c in big.items()
        ),
        key=lambda t: (-t[0], t[1], t[2]),
    )
    df = spark.createDataFrame([(" ".join(d),) for d in docs], "text string")
    got = [
        (r["pmi"], r["w1"], r["w2"], r["c_xy"])
        for r in pmi_collocations(df, "text", min_count=1, top_k=100).collect()
    ]
    assert got == [(p, w1, w2, c) for p, w1, w2, c in want]


@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_cohens_kappa_matches_bruteforce(spark, rows):
    """κ ≡ the direct contingency-table formula; perfect agreement gives
    κ = 1; pe = 1 degenerate inputs (both raters constant) are skipped
    (κ undefined — division by zero)."""
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators.evaluation import cohens_kappa

    n = len(rows)
    po = sum(1 for t, p in rows if t == p) / n
    ct, cp = Counter(t for t, _ in rows), Counter(p for _, p in rows)
    pe = sum(ct[c] * cp.get(c, 0) for c in ct) / (n * n)
    if pe == 1.0:
        return
    want = round((po - pe) / (1.0 - pe), 6)
    df = spark.createDataFrame(rows, "truth string, pred string")
    got = cohens_kappa(df, "truth", "pred").collect()[0]
    assert got["kappa"] == want and got["n"] == n
    # perfect agreement pins the ceiling
    same = spark.createDataFrame(
        [(a, a) for a, _ in rows] + [("zz", "zz"), ("yy", "yy")],
        "truth string, pred string",
    )
    assert cohens_kappa(same, "truth", "pred").collect()[0]["kappa"] == 1.0


def py_repeated_spans(
    texts: list[str], k: int
) -> set[tuple[int, int, int, int]]:
    """Brute-force repeated-span enumeration: mark every position whose
    k-shingle (by STRING) occurs ≥ 2 times corpus-wide (other docs or the
    same doc), coalesce marked positions whose k-windows touch (gap ≤ k)
    into maximal spans (doc_id, start, end_inclusive, covered_tokens)."""
    from collections import Counter

    toks = {
        i: [t for t in " ".join(tx.split()).lower().split(" ") if t]
        for i, tx in enumerate(texts)
    }
    counts = Counter(
        " ".join(ts[p : p + k])
        for ts in toks.values()
        for p in range(len(ts) - k + 1)
    )
    out = set()
    for i, ts in toks.items():
        marked = [
            p
            for p in range(len(ts) - k + 1)
            if counts[" ".join(ts[p : p + k])] >= 2
        ]
        run: list[int] = []
        for p in marked + [None]:
            if run and (p is None or p - run[-1] > k):
                out.add((i, run[0], run[-1] + k - 1, run[-1] - run[0] + k))
                run = []
            if p is not None:
                run.append(p)
    return out


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("a b c d".split()), min_size=0, max_size=24
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
    exact=st.booleans(),
)
@settings(**SETTINGS)
def test_repeated_spans_matches_bruteforce(spark, texts, k, exact):
    """operators/dedup.repeated_spans ≡ brute-force repeated-span
    enumeration (the Lee et al. exact-substring semantics), in both the
    string-confirmed and hash-only modes — on a 4-word vocabulary the
    64-bit hash path cannot collide, so both must be exact here."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.repeated_spans(
            df, "text", "doc_id", k=k, exact=exact
        ).collect()
    }
    assert got == py_repeated_spans(texts, k)


@given(
    rows=st.lists(
        st.tuples(st.floats(0, 1, allow_nan=False, width=32), st.booleans()),
        min_size=2,
        max_size=60,
    ),
    bins=st.sampled_from([4, 16, 64]),
)
@settings(**SETTINGS)
def test_roc_auc_binned_within_reported_error_bound(spark, rows, bins):
    """score_bins quantization: the binned AUC must sit within the
    RETURNED auc_err_bound of the exact pairwise AUC, for arbitrary
    high-cardinality float scores — the bound is sound by construction
    (only same-bin cross-label pairs can move, by at most ½ each)."""
    from syntenybrowserv2_etl_spark.operators.evaluation import roc_auc

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        return
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    exact = u / (len(pos) * len(neg))
    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in rows], "s double, y boolean"
    )
    got = roc_auc(df, "s", "y", score_bins=bins).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))
    # rounding slack: both auc and the bound are ROUND(6)
    assert abs(got["auc"] - exact) <= got["auc_err_bound"] + 2e-6
    assert 0.0 <= got["auc_err_bound"] <= 0.5


def test_roc_auc_binned_known_distribution(spark):
    """Deterministic pin on a known monotone scorer: 2000 distinct double
    scores, label = (score-hash bias) — exact vs score_bins=64 must agree
    within the reported bound, and the bound must be small (~1/64 scale,
    not 0.5); degenerate single-value scores report bound 0.5 honestly."""
    from pyspark.sql import functions as F

    from syntenybrowserv2_etl_spark.operators.evaluation import roc_auc

    d = spark.range(2000).select(
        (F.col("id") / 2000.0 + F.pmod(F.xxhash64("id"), F.lit(997)) * 1e-9)
        .alias("s"),
        (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(2000)) < F.col("id"))
        .alias("y"),
    )
    exact = roc_auc(d, "s", "y").collect()[0]
    binned = roc_auc(d, "s", "y", score_bins=64).collect()[0]
    assert abs(binned["auc"] - exact["auc"]) <= binned["auc_err_bound"] + 2e-6
    assert binned["auc_err_bound"] < 0.02
    flat = spark.range(100).select(
        F.lit(1.0).alias("s"), (F.col("id") % 2 == 0).alias("y")
    )
    row = roc_auc(flat, "s", "y", score_bins=64).collect()[0]
    assert row["auc"] == 0.5 and row["auc_err_bound"] == 0.5


def py_excise_repeated(
    texts: list[str], k: int
) -> dict[int, tuple[int, int, str]]:
    """Brute-force keep-first excision: per repeated k-shingle (string),
    the occurrence with the smallest (doc, pos) is canonical; positions
    covered by any NON-canonical occurrence are removed; docs reassemble
    from survivors. Returns doc -> (n_tokens, n_removed, clean_text)."""
    from collections import defaultdict

    toks = {
        i: " ".join(tx.split()).lower().split(" ")
        for i, tx in enumerate(texts)
    }
    occs = defaultdict(list)
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            occs[" ".join(ts[p : p + k])].append((i, p))
    out = {}
    removed = defaultdict(set)
    for sh, lst in occs.items():
        if len(lst) < 2:
            continue
        for i, p in sorted(lst)[1:]:
            removed[i].update(range(p, p + k))
    for i, ts in toks.items():
        kept = [t for j, t in enumerate(ts) if j not in removed[i]]
        out[i] = (len(ts), len(ts) - len(kept), " ".join(kept))
    return out


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("a b c".split()), min_size=0, max_size=20
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.sampled_from([2, 3]),
    exact=st.booleans(),
)
@settings(**SETTINGS)
def test_excise_repeated_matches_bruteforce(spark, texts, k, exact):
    """dedup.excise_repeated_spans ≡ brute-force keep-first excision, in
    both cluster-key modes (3-word vocabulary: the 64-bit hash cannot
    collide, so both must be exact). Every input doc must appear in the
    output, zero-removal docs verbatim modulo normalization."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in dd.excise_repeated_spans(
            df, "text", "doc_id", k=k, exact=exact
        ).collect()
    }
    assert got == py_excise_repeated(texts, k)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),   # query id
            st.integers(0, 30),  # score
            st.integers(0, 3),   # graded relevance
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.sampled_from([1, 3, 5]),
)
@settings(**SETTINGS)
def test_retrieval_metrics_matches_bruteforce(spark, rows, k):
    """ranking.retrieval_metrics ≡ the textbook definitions computed in
    Python: precision@k, recall@k, linear-gain nDCG@k with deterministic
    (score DESC, id ASC) / (rel DESC, id ASC) tie-breaks; zero-relevance
    queries report zeros."""
    import math
    from collections import defaultdict

    from syntenybrowserv2_etl_spark.operators.ranking import retrieval_metrics

    data = [(q, i, float(s), float(r)) for i, (q, s, r) in enumerate(rows)]
    by_q = defaultdict(list)
    for q_, i, s, r in data:
        by_q[q_].append((i, s, r))
    want = {}
    for q_, items in by_q.items():
        ranked = sorted(items, key=lambda x: (-x[1], x[0]))
        ideal = sorted(items, key=lambda x: (-x[2], x[0]))
        n_rel = sum(1 for _, _, r in items if r > 0)
        hits = sum(1 for _, _, r in ranked[:k] if r > 0)
        dcg = sum(
            r / math.log2(i + 2) for i, (_, _, r) in enumerate(ranked[:k])
        )
        idcg = sum(
            r / math.log2(i + 2) for i, (_, _, r) in enumerate(ideal[:k])
        )
        first = next(
            (i + 1 for i, (_, _, r) in enumerate(ranked[:k]) if r > 0), None
        )
        want[q_] = (
            n_rel,
            round(hits / k, 6),
            round(hits / n_rel, 6) if n_rel else 0.0,
            round(dcg / idcg, 6) if idcg > 0 else 0.0,
            round(1.0 / first, 6) if first else 0.0,
        )
    df = spark.createDataFrame(
        data, "q int, doc_id int, score double, rel double"
    )
    got = {
        r["q"]: (
            r["n_rel"], r["p_at_k"], r["recall_at_k"], r["ndcg_at_k"],
            r["rr_at_k"],
        )
        for r in retrieval_metrics(
            df, "q", "doc_id", "score", "rel", k=k
        ).collect()
    }
    assert got == want


@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("a b c d".split()), min_size=0, max_size=16
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    bench=st.lists(
        st.lists(
            st.sampled_from("a b c d".split()), min_size=0, max_size=10
        ).map(" ".join),
        min_size=1,
        max_size=3,
    ),
    k=st.sampled_from([2, 3]),
    exact=st.booleans(),
)
@settings(**SETTINGS)
def test_cross_repeated_spans_matches_bruteforce(
    spark, corpus, bench, k, exact
):
    """dedup.cross_repeated_spans ≡ brute force: mark corpus positions
    whose k-shingle occurs anywhere in the benchmark, coalesce touching
    windows (4-word vocab: the hash mode cannot collide, both exact)."""
    from syntenybrowserv2_etl_spark.operators import dedup as dd

    def toks(tx):
        return " ".join(tx.split()).lower().split(" ")

    bench_sh = {
        " ".join(ts[p : p + k])
        for tx in bench
        for ts in [toks(tx)]
        for p in range(len(ts) - k + 1)
    }
    want = set()
    for i, tx in enumerate(corpus):
        ts = toks(tx)
        marked = [
            p
            for p in range(len(ts) - k + 1)
            if " ".join(ts[p : p + k]) in bench_sh
        ]
        run = []
        for p in marked + [None]:
            if run and (p is None or p - run[-1] > k):
                want.add((i, run[0], run[-1] + k - 1, run[-1] - run[0] + k))
                run = []
            if p is not None:
                run.append(p)
    cdf = spark.createDataFrame(list(enumerate(corpus)), ["doc_id", "text"])
    bdf = spark.createDataFrame(
        [(1000 + i, t_) for i, t_ in enumerate(bench)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in dd.cross_repeated_spans(
            cdf, bdf, "text", "doc_id", k=k, exact=exact
        ).collect()
    }
    assert got == want


# --- round-13 corpus-audit statistics ---------------------------------------


@given(
    data=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 8)),
        min_size=2,
        max_size=40,
    ).filter(lambda d: len({g for g, _ in d}) >= 2)
)
@settings(**SETTINGS)
def test_ks_drift_property_matches_ecdf_sweep(spark, data):
    """ks_drift == brute-force ECDF sweep at every pooled value, for
    arbitrary group/value multisets (ties, singleton groups, constant
    values)."""
    from syntenybrowserv2_etl_spark.operators.drift import ks_drift

    df = spark.createDataFrame(data, "g string, v long")
    got = {
        r["g"]: (r["n_in"], r["n_rest"], r["ks"], r["ks_at"])
        for r in ks_drift(df, "g", "v").collect()
    }
    vals = sorted({v for _, v in data})
    for g in {gg for gg, _ in data}:
        ins = [v for gg, v in data if gg == g]
        outs = [v for gg, v in data if gg != g]
        best, best_at = -1.0, None
        for x in vals:
            d = abs(
                sum(1 for v in ins if v <= x) / len(ins)
                - sum(1 for v in outs if v <= x) / len(outs)
            )
            if d > best:
                best, best_at = d, x
        assert got[g] == (len(ins), len(outs), round(best, 6), best_at)


@given(
    data=st.lists(
        st.tuples(st.sampled_from("xy"), st.sampled_from("pqr")),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_categorical_association_property(spark, data):
    """MI and chi-square equal the brute-force contingency-table formulas
    for arbitrary two-column categorical data (incl. constant columns)."""
    import math
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators.association import (
        categorical_association,
    )

    df = spark.createDataFrame(data, "x string, y string")
    r = categorical_association(df, "x", "y").collect()[0]
    n = len(data)
    cells = Counter(data)
    rx = Counter(x for x, _ in data)
    cy = Counter(y for _, y in data)
    mi = sum(
        (o / n) * math.log((o / n) / ((rx[x] / n) * (cy[y] / n)))
        for (x, y), o in cells.items()
    )
    chi2 = sum(
        (o - rx[x] * cy[y] / n) ** 2 / (rx[x] * cy[y] / n)
        for (x, y), o in cells.items()
    ) + sum(
        rx[x] * cy[y] / n
        for x in rx
        for y in cy
        if (x, y) not in cells
    )
    assert r["n"] == n and r["r_cats"] == len(rx) and r["c_cats"] == len(cy)
    assert abs(r["mi"] - mi) < 2e-6
    assert abs(r["chi2"] - chi2) < 2e-4


@given(
    keys=st.lists(st.integers(0, 6), min_size=1, max_size=50)
)
@settings(**SETTINGS)
def test_key_skew_gini_property(spark, keys):
    """Gini from the count-of-counts block identity == the textbook
    sorted-rank formula over per-key counts, for arbitrary key multisets."""
    import math
    from collections import Counter

    from syntenybrowserv2_etl_spark.operators.profiling import key_skew_report

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    r = key_skew_report(df, "k").collect()[0]
    counts = sorted(Counter(keys).values())
    n, tt = len(counts), sum(counts)
    gini = (
        2 * sum((i + 1) * c for i, c in enumerate(counts)) / (n * tt)
        - (n + 1) / n
    )
    ent = -sum((c / tt) * math.log(c / tt) for c in counts)
    assert (r["n_keys"], r["n_rows"], r["max_count"]) == (
        n, tt, max(counts)
    )
    assert abs(r["gini"] - gini) < 1e-6
    assert abs(r["entropy"] - ent) < 1e-6


@given(
    sizes=st.lists(st.integers(1, 100), min_size=1, max_size=40),
    n_shards=st.sampled_from([2, 3, 8]),
)
@settings(**SETTINGS)
def test_balanced_shards_property(spark, sizes, n_shards):
    """Snake-deal shard report == brute force for arbitrary size lists
    and shard counts; every shard's total within max-item of the min."""
    from syntenybrowserv2_etl_spark.operators.layout import balanced_shards

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {
        r["shard"]: (r["n_docs"], r["total_size"])
        for r in balanced_shards(df, "n_chars", "doc_id", n_shards).collect()
    }
    order = sorted(rows, key=lambda t: (-t[1], t[0]))
    tot = [0] * n_shards
    cnt = [0] * n_shards
    for rank0, (_, sz) in enumerate(order):
        pos = rank0 % n_shards
        shard = (
            pos if (rank0 // n_shards) % 2 == 0 else n_shards - 1 - pos
        )
        tot[shard] += sz
        cnt[shard] += 1
    assert got == {
        s: (cnt[s], tot[s]) for s in range(n_shards) if cnt[s] > 0
    }

