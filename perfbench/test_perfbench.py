"""Self-tests of the benchmark's own code (no Spark session needed).

Run with: python3 -m pytest perfbench -q
"""

import json
import os
import random
import sys
import threading
import time
from collections import Counter

import pytest

import browse
import run
from stats import Outcomes, min_samples_for, tail_percentile
from tracing import Span, Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


# --- percentile rule --------------------------------------------------------


@pytest.mark.parametrize("p, n", [(0.5, 20), (0.75, 40), (0.8, 50), (0.9, 100), (0.95, 200)])
def test_min_samples_leave_ten_beyond(p, n):
    assert min_samples_for(p) == n


def test_tail_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    random.Random(0).shuffle(xs)
    assert tail_percentile(xs, 0.75) == 30.0  # 31..40 lie beyond it
    with pytest.raises(ValueError, match="9 beyond"):
        tail_percentile(xs[:39], 0.75)


# --- span self time ---------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent)


def test_self_time_subtracts_children():
    spans = [_span(0, 0, 10), _span(1, 1, 3, 0), _span(2, 4, 5, 0), _span(3, 1.5, 2, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 2 - 1)
    assert st[1] == pytest.approx(2 - 0.5)
    assert st[2] == pytest.approx(1)


def test_self_time_counts_overlapping_children_once():
    # children on concurrent threads overlap; one sticks out of the parent
    spans = [_span(0, 0, 10), _span(1, 2, 6, 0), _span(2, 4, 8, 0), _span(3, 9, 12, 0)]
    assert self_times(spans)[0] == pytest.approx(10 - 6 - 1)


def test_tracer_nests_spans_and_inherits_op():
    tr = Tracer()
    with tr.span("build", op="build") as root:
        tr.root = root
        with tr.span("child") as child:
            pass
        seen = {}

        def fam():
            with tr.span("family") as sp:
                seen["span"] = sp

        t = threading.Thread(target=fam)
        t.start()
        t.join()
        tr.root = None
    assert child.parent == root.id and child.op == "build"
    assert seen["span"].parent == root.id and seen["span"].op == "build"
    assert seen["span"].thread != root.thread
    assert root.duration >= child.duration >= 0


def test_tracer_keeps_every_span_under_thread_contention():
    tr = Tracer()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tr.span("root") as root:
            tr.root = root

            def work():
                for _ in range(200):
                    with tr.span("outer"):
                        with tr.span("inner"):
                            tr._charge(1e-6)

            threads = [threading.Thread(target=work) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(tr.spans) == 1 + 16 * 200 * 2
    assert sorted(s.id for s in tr.spans) == list(range(len(tr.spans)))
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans[1:]:
        parent = by_id[s.parent]
        assert parent.name == ("root" if s.name == "outer" else "outer")
        if s.name == "inner":
            assert parent.thread == s.thread
    assert tr.bookkeeping_s >= 16 * 200 * 1e-6


def test_wrap_records_a_span_per_call():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    tr.wrap(Mod, "f", "mod.f", on_return=lambda sp, a, k, r: sp.extra.update(r=r))
    assert Mod.f(1) == 2
    assert Mod.f.__name__ == "f"
    assert [(s.name, s.extra) for s in tr.spans] == [("mod.f", {"r": 2})]


# --- failure counting -------------------------------------------------------


def test_outcomes_count_failures():
    o = Outcomes()
    o.record(True)
    o.record(False, "bad")
    o.record(True)
    assert (o.attempted, o.failed, o.reasons) == (3, 1, ["bad"])
    assert o.error_rate == pytest.approx(1 / 3)


def test_score_counts_wrong_results_and_errors():
    good = browse.Request("gene_detail", ("MGI:1", 9606))
    wrong = browse.Request("gene_detail", ("MGI:2", 9606))
    truth = {good: [[("a",)]], wrong: [[("b",)]]}
    served = [
        (good, 0.1, [[("a",)]], None),
        (wrong, 0.1, [[("x",)]], None),  # wrong result
        (good, 0.1, None, "RuntimeError()"),  # raised
        (good, 0.1, [[("a",)]], None),
    ]
    o = Outcomes()
    calls = Counter()

    def answer(req):
        calls[req] += 1
        return truth[req]

    run.score(served, answer, o)
    assert (o.attempted, o.failed) == (4, 2)
    assert calls == {good: 1, wrong: 1}  # each distinct request answered once


def test_coverage_counts_only_the_requested_data():
    synteny = browse.Request("synteny_view", (9606, "chr2", 0, 10, 10116))
    served = [
        (synteny, 0.1, [[("block",)], []], None),  # blocks but no genes
        (synteny, 0.1, [[("block",)], [("gene",)]], None),
        (synteny, 0.1, None, "RuntimeError()"),
        (browse.Request("onto_subtree", ("GO:1",)), 0.1, [[("t",)], [("c",)], []], None),
    ]
    assert run.coverage(served) == {
        "region": 0, "synteny_view": 1, "gene_detail": 0, "onto_subtree": 0}


# --- request streams --------------------------------------------------------


CATALOG = {
    **{t: [(9606, "1", 1_000_000 * (i + 1)) for i in range(5)] for t in browse.REGION_TABLES},
    "synteny_view": [(9606, "2", 5_000_000, 10116)],
    "gene_detail": [("MGI:96061", 9606), ("MGI:96062", 9606)],
    "onto_subtree": [("GO:0000001",), ("GO:0000002",)],
}


def test_stream_is_seeded_and_balanced():
    def first(n, seed):
        rng = random.Random(seed)
        s = browse.stream(CATALOG, rng, browse.hot_requests(CATALOG, rng), 0.3)
        return [next(s) for _ in range(n)]

    a = first(40, 7)
    assert a == first(40, 7) and a != first(40, 8)
    assert Counter(r.kind for r in a) == {k: 10 for k in browse.KINDS}
    for r in a:
        if r.kind in ("region", "synteny_view"):
            start, end = r.params[-2:] if r.kind == "region" else r.params[2:4]
            assert browse.MIN_WIDTH <= end - start <= browse.MAX_WIDTH


def test_hot_share_repeats_requests():
    def regions(hot_share):
        rng = random.Random(3)
        s = browse.stream(CATALOG, rng, browse.hot_requests(CATALOG, rng), hot_share)
        return [r for r in (next(s) for _ in range(400)) if r.kind == "region"]

    hot = regions(0.5)
    assert 30 < Counter(hot).most_common(1)[0][1] < 70  # ~half of the 100 repeat one
    cold = regions(0.0)
    assert len(set(cold)) == len(cold)


# --- benchmark description --------------------------------------------------


def test_metric_notes_cover_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "metrics.json")) as f:
        notes = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert sorted(notes["metrics"]) == sorted(names)
    assert sorted(notes["workloads"]) == sorted(w["name"] for w in bench["workloads"])
    assert sorted(run.HOT_SHARE) == sorted(notes["workloads"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert notes["metrics"][m["name"]]["unit"] == m["unit"]


def test_serve_closes_window_after_enough_successes():
    class Browser:
        calls = 0

        def execute(self, req):
            Browser.calls += 1
            if Browser.calls % 5 == 0:
                raise RuntimeError("refused")
            time.sleep(0.001)
            return [[]]

    done, window, completed = run.serve(Browser(), CATALOG, 0.3, 1, 0.01, None)
    ok = sum(err is None for _, _, _, err in done)
    assert ok >= min_samples_for(run.P_TAIL) and window >= 0.01
    assert completed <= len(done) and ok < len(done)
