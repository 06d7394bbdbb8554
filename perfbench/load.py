"""HTTP load generators: an open loop on a Poisson schedule and a closed
loop of waiting clients. Each uses at most `workers` threads."""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlsplit

REQUEST_TIMEOUT_S = 60.0


@dataclass
class Sample:
    index: int          # position in the query list
    due: float          # when the schedule wanted it sent (perf_counter)
    sent: float
    done: float
    status: int         # HTTP status, 0 when the request itself failed
    body: dict | None

    @property
    def latency(self) -> float:
        """From due time, so a stalled sender's delay counts."""
        return self.done - self.due

    @property
    def late(self) -> float:
        return self.sent - self.due


def post_search(url: str, query: dict) -> tuple[int, dict | None]:
    parts = urlsplit(url)
    conn = http.client.HTTPConnection(parts.hostname, parts.port,
                                      timeout=REQUEST_TIMEOUT_S)
    try:
        body = json.dumps(query).encode()
        conn.request("POST", "/search", body,
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, (json.loads(data) if resp.status == 200 else None)
    except (OSError, http.client.HTTPException, ValueError):
        return 0, None
    finally:
        conn.close()


def _traced_post(tracer, url: str, query: dict, rid: str):
    if tracer is None:
        return post_search(url, query)
    sp = tracer.open("client.request", request=rid)
    status, body = post_search(url, query)
    tracer.close(sp, status=status)
    return status, body


def open_loop(url: str, queries: list[dict], offsets: list[float],
              workers: int = 4, tracer=None) -> list[Sample]:
    """Send queries[i] at start + offsets[i]. A worker that is still busy
    when a request falls due sends it late; the lateness is recorded and
    the latency still runs from the due time."""
    lock = threading.Lock()
    nxt = [0]
    out: list[Sample] = []
    start = time.perf_counter() + 0.05

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(offsets):
                return
            due = start + offsets[i]
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            status, body = _traced_post(tracer, url, queries[i], f"open-{i}")
            s = Sample(i, due, sent, time.perf_counter(), status, body)
            with lock:
                out.append(s)

    _run_threads(worker, workers)
    return sorted(out, key=lambda s: s.index)


def closed_loop(url: str, queries: list[dict], clients: int = 4,
                tracer=None) -> tuple[list[Sample], float]:
    """`clients` threads take the next of `queries` as soon as their last
    one answers, until all are sent. Returns the samples and the time from
    the first send to the last answer."""
    lock = threading.Lock()
    nxt = [0]
    out: list[Sample] = []
    start = time.perf_counter()

    def client():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(queries):
                return
            sent = time.perf_counter()
            status, body = _traced_post(tracer, url, queries[i], f"closed-{i}")
            s = Sample(i, sent, sent, time.perf_counter(), status, body)
            with lock:
                out.append(s)

    _run_threads(client, clients)
    return out, max(s.done for s in out) - start


def _run_threads(fn, n: int) -> None:
    ts = [threading.Thread(target=fn, daemon=True) for _ in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(REQUEST_TIMEOUT_S * 4)
        if t.is_alive():
            raise RuntimeError("load generator thread did not finish")
