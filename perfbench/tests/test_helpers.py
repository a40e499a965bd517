"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.checks import union_find_labels  # noqa: E402
from perfbench.stats import min_samples, percentile  # noqa: E402
from perfbench.tracing import Span, Tracer, self_times  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _feed_bytes(seed: int, n_files: int) -> list[bytes]:
    import pyarrow as pa

    feed = gen.IngestFeed(seed, "ingest.feed")
    out = []
    for _ in range(n_files):
        sink = pa.BufferOutputStream()
        import pyarrow.parquet as pq

        pq.write_table(feed.next_file(), sink)
        out.append(sink.getvalue().to_pybytes())
    return out


# ------------------------------------------------------------ generation
def test_same_seed_gives_byte_identical_corpus(tmp_path):
    kw = dict(n_docs=300, n_vecs=100, n_events=2000, dup_share=0.1)
    a = _digest(gen.write_corpus(str(tmp_path / "a"), 7, "curate.corpus.0", **kw))
    b = _digest(gen.write_corpus(str(tmp_path / "b"), 7, "curate.corpus.0", **kw))
    assert a == b and len(a) == 3


def test_different_seed_gives_different_corpus(tmp_path):
    kw = dict(n_docs=300, n_vecs=100, n_events=2000)
    a = _digest(gen.write_corpus(str(tmp_path / "a"), 7, "search.corpus", **kw))
    b = _digest(gen.write_corpus(str(tmp_path / "b"), 8, "search.corpus", **kw))
    assert all(a[k] != b[k] for k in a)


def test_ingest_feed_and_requests_are_seeded():
    assert _feed_bytes(3, 4) == _feed_bytes(3, 4)
    assert _feed_bytes(3, 4) != _feed_bytes(4, 4)
    assert gen.search_requests(3, 40) == gen.search_requests(3, 40)
    assert gen.search_requests(3, 40) != gen.search_requests(4, 40)


def test_request_mix_is_exact_per_deck():
    reqs = gen.search_requests(11, 60)
    ranked = sum(r["kind"] in gen.RANKED for r in reqs)
    assert len(reqs) == 60 and ranked == 60 * gen.RANKED_PER_DECK // len(gen.DECK)


def test_ingest_feed_tracks_recrawls_and_failures():
    feed = gen.IngestFeed(5, "ingest.feed")
    urls = []
    for _ in range(6):
        urls.extend(feed.next_file().column("url").to_pylist())
    assert len(urls) > len(set(urls))           # re-crawls repeat urls
    assert feed.dead and not feed.dead & set(feed.landed)
    assert all(c.endswith(f"revision {feed.revision[u]}") for u, c in feed.landed.items())


def test_file_sizes_keep_their_mix_across_seeds():
    a = gen.file_sizes(gen.rng(1, "x"), 6)
    b = gen.file_sizes(gen.rng(2, "x"), 6)
    assert sorted(a) == sorted(b) and all(10 <= s <= 600 for s in a)


# ------------------------------------------------------------ percentiles
def test_percentile_needs_ten_samples_beyond():
    assert min_samples(90) == 100 and min_samples(80) == 50 and min_samples(50) == 20
    vals = list(range(1, 101))
    assert percentile(vals, 90) == 90        # 10 samples (91..100) beyond
    with pytest.raises(ValueError):
        percentile(vals[:99], 90)
    assert percentile(list(range(50)), 80) == 39
    with pytest.raises(ValueError):
        percentile(list(range(49)), 80)


# ------------------------------------------------------------ spans
def _span(i, start, end, parent=None, layer="plans"):
    return Span(i, f"s{i}", layer, start, end, parent, 0, "main")


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),              # root
        _span(1, 1.0, 4.0, parent=0),     # child
        _span(2, 3.0, 6.0, parent=0),     # overlaps child 1 (other thread)
        _span(3, 2.0, 3.0, parent=1),     # grandchild: not the root's business
        _span(4, 9.0, 12.0, parent=0),    # runs past the root: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_self_times_of_a_nested_chain_add_up_to_the_root():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 8.0, parent=0), _span(2, 4.0, 6.0, parent=1)]
    st = self_times(spans)
    assert [st[i] for i in range(3)] == pytest.approx([4.0, 4.0, 2.0])
    assert sum(st.values()) == pytest.approx(10.0)


def test_tracer_nests_spans_and_patches_reversibly():
    import types

    mod = types.ModuleType("crawler_spark._perfbench_probe")
    mod.f = lambda x: x + 1
    sys.modules[mod.__name__] = mod
    try:
        tr = Tracer(True)
        tr.patch(mod, "f", "probe.f", "operators")
        with tr.operation(0, "op"):
            with tr.span("outer", "plans"):
                assert mod.f(1) == 2
        tr.unpatch()
        assert mod.f(1) == 2 and len(tr.spans) == 3
        root, outer, inner = tr.spans
        assert (outer.parent, inner.parent) == (root.id, outer.id)
        assert all(s.op == 0 for s in tr.spans)
    finally:
        del sys.modules[mod.__name__]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.operation(0, "op"), tr.span("x", "plans"):
        pass
    assert tr.spans == []


def test_union_find_takes_component_minimum():
    labels = union_find_labels(range(6), [(4, 1), (1, 3), (5, 2)])
    assert labels == {0: 0, 1: 1, 2: 2, 3: 1, 4: 1, 5: 2}


def test_benchmark_json_lists_every_metric():
    from perfbench.run import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
