"""Self-tests of the benchmark's own logic (no Spark):

  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from load import open_loop  # noqa: E402
from spans import Span, covered, self_times  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402


# ------------------------------------------------------- percentile rule
@pytest.mark.parametrize("n,want", [
    (9, None), (19, None), (20, 50), (39, 50), (40, 75), (49, 75),
    (50, 80), (99, 80), (100, 90), (199, 90), (200, 95), (999, 95),
    (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 75) == 4.0
    assert percentile(xs, 90) == pytest.approx(4.6)


# -------------------------------------------------------- span self time
def test_covered_merges_overlapping_children_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "api", 0.0, 10.0),
        Span(2, "kernel", 1.0, 4.0, parent=1),
        Span(3, "hydrate", 3.0, 5.0, parent=1),   # overlaps kernel
        Span(4, "decode", 1.5, 2.0, parent=2),
        Span(5, "other", 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4)   # children cover [1, 5]
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(2)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(1)


# ------------------------------------------------ open-loop lateness
class _SlowHandler(BaseHTTPRequestHandler):
    delay = 0.2

    def do_POST(self):  # noqa: N802
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        time.sleep(self.delay)
        body = b"{}"
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture
def slow_server():
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _SlowHandler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()
    httpd.server_close()
    t.join(5)
    assert not t.is_alive()


def test_open_loop_records_lateness_and_times_from_due(slow_server):
    # one worker, 4 requests due together: each waits for the one before,
    # so request i is sent about i * 0.2 s late, and its latency counts that
    offsets = [0.0, 0.0, 0.0, 0.0]
    out = open_loop(slow_server, [{}] * 4, offsets, workers=1)
    assert [s.index for s in out] == [0, 1, 2, 3]
    assert all(s.status == 200 for s in out)
    d = _SlowHandler.delay
    for s in out:
        assert s.late == pytest.approx(s.index * d, abs=0.15)
        assert s.latency == pytest.approx(s.late + (s.done - s.sent))
        assert s.latency >= (s.index + 1) * d - 0.02


def test_open_loop_on_time_when_workers_are_free(slow_server):
    out = open_loop(slow_server, [{}] * 3, [0.0, 0.3, 0.6], workers=2)
    assert max(s.late for s in out) < 0.1


# ------------------------------------------------------- seeded inputs
def test_same_seed_same_inputs():
    a, b = gen.make_corpus(5, 50), gen.make_corpus(5, 50)
    assert a.equals(b)
    assert gen.query_stream(5, 40, 50) == gen.query_stream(5, 40, 50)
    assert gen.arrivals(5, 4.0, 30) == gen.arrivals(5, 4.0, 30)


def test_other_seed_other_inputs():
    assert gen.query_stream(5, 40, 50) != gen.query_stream(6, 40, 50)
    assert not gen.make_corpus(5, 50).equals(gen.make_corpus(6, 50))
    assert gen.arrivals(5, 4.0, 30) != gen.arrivals(6, 4.0, 30)


def test_corpus_shape():
    c = gen.make_corpus(3, 300)
    assert c["path"].is_unique
    text = "\n".join(c["content"])
    for i in range(300):
        assert text.count(gen.uniq_term(i)) == 1
    assert any(len(t) >= 40 for t in text.split())
    assert any(p in text for p in gen.LICENSE_PHRASES)
    ids = gen.doc_ids(c)
    assert sorted(ids.tolist()) == list(range(300))


def test_stream_covers_every_class():
    classes = {c for c, _ in gen.query_stream(1, 400, 1000)}
    assert classes == set(gen.CLASS_WEIGHTS)
    assert gen.CLASS_WEIGHTS["many_or"] >= 0.10


def test_closed_orders_spread_many_or_over_batches():
    classes = [c for c, _ in gen.query_stream(9, 24, 1000)]
    heavy = {i for i, c in enumerate(classes) if c == "many_or"}
    orders = gen.closed_orders(9, classes, 3, 4)
    assert len(orders) == 3 and orders[0] != orders[1]
    for order in orders:
        assert sorted(order) == list(range(24))
        per_batch = [len(heavy & set(order[k:k + 4])) for k in range(0, 24, 4)]
        assert max(per_batch) == 1 and sum(per_batch) == len(heavy)


# ------------------------------------------------------------- manifest
def test_run_prints_the_metrics_the_manifest_names():
    import json

    import run
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert [m["name"] for m in manifest["end_to_end"]] == list(run.E2E_NAMES)
    assert [m["name"] for m in manifest["per_layer"]] == run.per_layer_names()
