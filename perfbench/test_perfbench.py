"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

import os
import pickle
import sys
import types

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402


# -- generator ---------------------------------------------------------------
def _inputs(seed):
    pdf = gen.corpus(3000, seed)
    pool = gen.query_pool(seed, pdf["text"].tolist())
    stream = gen.query_stream(pool, seed, 500)
    live = gen.corpus(1000, seed, part=1)
    return pdf, pool, stream, live


def test_same_seed_same_inputs():
    a, b = _inputs(7), _inputs(7)
    assert a[0].equals(b[0])
    assert a[1] == b[1]
    assert a[2] == b[2]
    assert a[3].equals(b[3])


def test_other_seed_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert not a[0]["text"].equals(b[0]["text"])
    assert [q for q, _ in a[2]] != [q for q, _ in b[2]]
    assert not a[3]["text"].equals(b[3]["text"])


def test_live_part_differs_from_bulk_part():
    bulk, _, _, live = _inputs(7)
    assert not set(bulk["conv_id"]) & set(live["conv_id"])


def test_corpus_schema_and_microsecond_timestamps():
    pdf = gen.corpus(500, 3)
    assert list(pdf.columns) == ["conv_id", "turn_idx", "role", "text",
                                 "tool", "ts"]
    assert len(pdf) == 500
    assert pdf["ts"].dtype == np.dtype("datetime64[us]")
    assert not pdf.duplicated(["conv_id", "turn_idx"]).any()


def test_pool_covers_every_class_and_the_reference_queries():
    _, pool, stream, _ = _inputs(5)
    assert {c for _, c in pool} == set(gen.QUERY_CLASSES)
    queries = [q for q, _ in pool]
    assert len(queries) == len(set(queries))
    for q in gen.REFERENCE_QUERIES:
        assert q in queries
    # Zipf popularity: the stream repeats queries, but not only one
    assert 0.5 < gen.repeat_share(stream) < 0.99


def test_stream_prefixes_keep_the_pool_class_mix():
    _, pool, stream, _ = _inputs(5)
    share = {c: sum(1 for _, k in pool if k == c) / len(pool)
             for c in gen.QUERY_CLASSES}
    for n in (30, 100, 500):
        for c, s in share.items():
            got = sum(1 for _, k in stream[:n] if k == c)
            assert abs(got - s * n) <= 1.0, (n, c)


def test_phrases_are_cut_from_the_corpus():
    pdf, pool, _, _ = _inputs(9)
    texts = pdf["text"].tolist()
    for q, c in pool:
        if c == "phrase":
            inner = q.strip('"')
            assert any(inner in t for t in texts), q


def test_pool_is_built_the_same_way_for_every_seed():
    # the words differ from seed to seed, their vocabulary ranks do not
    def ranks(seed):
        pdf, pool, _, _ = _inputs(seed)
        rank = {str(w): r for r, w in enumerate(gen.vocabulary(seed))}
        out = []
        for q, c in pool:
            if c in ("hot", "mid", "and", "not"):
                out.append((c, [rank[w.lstrip("-")] for w in q.split()]))
            elif c == "phrase":
                words = q.strip('"').split()
                low = min(rank.get(w, gen.VOCAB_SIZE) for w in words)
                band = next(j for j, (lo, hi) in enumerate(gen.PHRASE_BANDS)
                            if lo <= low < hi)
                out.append((c, [len(words), band]))
        return out

    a, b = ranks(7), ranks(8)
    assert a == b
    assert sum(c == "phrase" for c, _ in a) == 12


def test_stream_popularity_follows_pool_order():
    _, pool, stream, _ = _inputs(5)
    ands = [q for q, c in pool if c == "and"]
    asked = [q for q, c in stream if c == "and"]
    counts = [asked.count(q) for q in ands]
    assert counts[0] == max(counts)
    assert sum(counts[:4]) > sum(counts[-4:])


def test_repeat_share():
    assert gen.repeat_share([]) == 0.0
    s = [("a", "x"), ("b", "x"), ("a", "x"), ("a", "x")]
    assert gen.repeat_share(s) == pytest.approx(0.5)


# -- percentile rule ---------------------------------------------------------
def test_tail_uses_p90_with_enough_samples():
    vals = list(range(1, 101))  # 100 samples
    t = measure.tail(vals)
    assert t == {"value": 90, "pct": 0.9, "n": 100, "beyond": 10}


def test_tail_falls_back_to_highest_percentile_with_ten_beyond():
    vals = list(range(1, 51))  # 50 samples: p90 has only 5 beyond
    t = measure.tail(vals)
    assert t["pct"] == pytest.approx(0.8)
    assert t["value"] == 40
    assert t["beyond"] == 10
    assert t["n"] == 50


def test_tail_with_too_few_samples_is_the_median():
    t = measure.tail([5.0, 1.0, 3.0])
    assert t["pct"] == 0.5
    assert t["value"] == 3.0
    assert t["n"] == 3
    # 15 samples: p33 would have 10 beyond, but that is below the median
    t = measure.tail(list(range(15)))
    assert t == {"value": 7, "pct": 0.5, "n": 15, "beyond": 7}


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        measure.tail([])


def test_nearest_rank():
    assert measure.nearest_rank([1, 2, 3, 4], 0.5) == 2
    assert measure.nearest_rank([1, 2, 3, 4], 0.51) == 3
    assert measure.nearest_rank([7], 0.0) == 7


def test_percentile_is_p90_at_any_sample_count():
    # unlike tail(), the percentile does not move with the op count
    assert measure.percentile(list(range(30, 0, -1)), 0.9) == 27
    assert measure.percentile(list(range(1, 101)), 0.9) == 90
    assert measure.tail(list(range(1, 31)))["pct"] < 0.9


def test_hd_quantile_of_simple_samples():
    assert measure.hd_quantile([3.0] * 7, 0.9) == pytest.approx(3.0)
    assert measure.hd_quantile([1.0, 2.0], 0.5) == pytest.approx(1.5)
    # symmetric weights around the middle rank
    assert measure.hd_quantile([1, 2, 3, 4, 5], 0.5) == pytest.approx(3.0)
    assert measure.hd_quantile([4.0], 0.9) == 4.0
    with pytest.raises(ValueError):
        measure.hd_quantile([], 0.5)


def test_hd_quantile_tracks_the_percentile():
    vals = list(range(1, 1001))
    assert measure.hd_quantile(vals, 0.9) == pytest.approx(900.5, abs=2)
    assert measure.hd_quantile(vals, 0.5) == pytest.approx(500.5, abs=1)
    rng = np.random.default_rng(3)
    small = list(rng.random(20))
    p50, p90 = (measure.hd_quantile(small, p) for p in (0.5, 0.9))
    assert min(small) < p50 < p90 < max(small)


def test_reference_pass_records_its_cpu_seconds():
    ref = measure.Reference()
    assert ref.samples == []  # the warm-up pass is not kept
    got = [ref.sample() for _ in range(3)]
    assert ref.samples == got
    assert all(0 < g < 5 for g in got)


def test_tree_cpu_total_covers_reaped_children():
    import subprocess

    before = measure.TreeCPU().total()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"],
                   check=True)
    assert measure.TreeCPU().total() - before >= 0.25


# -- span arithmetic ----------------------------------------------------------
def _span(sid, name, start, end, parent=None):
    sp = spans.Span(sid, name, start, parent, 0, 0)
    sp.end = end
    return sp


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 1), (2, 3)]) == 2
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_child_time():
    ss = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),   # overlaps a (pool thread)
        _span(3, "c", 7.0, 8.0, parent=0),
        _span(4, "d", 2.5, 4.0, parent=2),   # grandchild: only b loses it
        _span(5, "e", 9.5, 12.0, parent=0),  # runs past the parent's end
    ]
    st = spans.self_times(ss)
    assert st[0] == pytest.approx(10 - (4 + 1 + 0.5))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[4] == pytest.approx(1.5)
    assert st[5] == pytest.approx(2.5)
    by = spans.self_time_by_name(ss)
    assert sum(by.values()) == pytest.approx(4.5 + 2 + 1.5 + 1 + 1.5 + 2.5)


def test_unfinished_spans_are_ignored():
    ss = [_span(0, "op", 0.0, 4.0), _span(1, "a", 1.0, None, parent=0)]
    assert spans.self_times(ss) == {0: 4.0}


# -- tracer ------------------------------------------------------------------
def _fake_module():
    mod = types.ModuleType("perfbench_fake_layer")

    def inner(x):
        return x + 1

    def outer(x):
        return mod.inner(x) * 2

    mod.inner, mod.outer = inner, outer
    sys.modules[mod.__name__] = mod
    return mod


def test_tracer_records_nested_spans_and_restores_originals():
    mod = _fake_module()
    orig_inner, orig_outer = mod.inner, mod.outer
    tr = spans.Tracer()
    tr.add_patch(mod, "outer", lambda f: tr.wrapper(f, "layer.outer"))
    tr.add_patch(mod, "inner", lambda f: tr.wrapper(
        f, "layer.inner", lambda t, out, x: t.count("calls")))
    tr.op = 3
    tr.install()
    root = tr.begin("op")
    assert mod.outer(1) == 4
    tr.end(root)
    tr.uninstall()
    assert mod.inner is orig_inner and mod.outer is orig_outer
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("op", None, 3), ("layer.outer", 0, 3),
                     ("layer.inner", 1, 3)]
    assert tr.counts["calls"] == 1
    assert all(s.end >= s.start for s in tr.spans)


def test_installed_wrapper_pickles_by_reference():
    mod = _fake_module()
    tr = spans.Tracer()
    tr.add_patch(mod, "inner", lambda f: tr.wrapper(f, "layer.inner"))
    tr.install()
    try:
        # named after its slot: pickling stores the module attribute, not
        # the tracer it closes over
        assert pickle.loads(pickle.dumps(mod.inner)) is mod.inner
    finally:
        tr.uninstall()


def test_pool_thread_spans_parent_to_the_main_thread_span():
    from concurrent.futures import ThreadPoolExecutor

    tr = spans.Tracer()
    root = tr.begin("op")
    with ThreadPoolExecutor(2) as ex:
        list(ex.map(lambda _: tr.end(tr.begin("read")), range(4)))
    tr.end(root)
    reads = [s for s in tr.spans if s.name == "read"]
    assert len(reads) == 4
    assert all(s.parent == root.sid for s in reads)


def test_count_blocks_counts_each_block_once_per_op():
    tr = spans.Tracer()
    postings = object()
    tr.install()
    tr.count_blocks(postings, [0, 1, 2])
    tr.count_blocks(postings, [1, 2, 3])
    tr.uninstall()
    assert tr.counts["kernel.block_decodes"] == 6
    assert tr.counts["kernel.blocks_decoded"] == 4
