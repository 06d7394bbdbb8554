"""HTTP JSON endpoint over the serving engine — the actix-web analog.

The reference serves `POST /search` and `GET /info` from a resident
tantivy searcher (cantine/src/main.rs:245-260 mounts the routes, :253 caps
the request body at 4 KiB). This is the same surface over IndexServer:

  POST /search   SearchQuery JSON → {total_found, items, next, agg}
                 400 on bad request (unknown field, bad cursor, bad range —
                 api.BadRequest), 413 over the 4 KiB body cap
  GET  /info     {n_docs, tiers, features: {min/max/count per feature}}
                 (main.rs:174-189 computes the same full-range view)
  GET  /healthz  200 once an engine is open

Concurrency: stdlib ThreadingHTTPServer — one thread per request, all
sharing the engine. That is safe by construction (kernel jobs run on a
cloned never-mutated session, pinned tables are read-only; pytest pins a
4-thread concurrent search) and FAIR scheduling interleaves the resulting
small Spark jobs (bench.py QPS measurements). A background thread polls
IndexServer.maybe_refresh(), so a generation landing mid-traffic swaps the
engine blue/green under the running endpoint — requests always read
`server.engine` at dispatch time and in-flight queries on a just-retired
engine still complete (its directories are deleted one swap LATER).

Driver-side work per request is trivial (JSON in/out, ≤255 items), so the
endpoint adds no measurable latency over engine.search() — the QPS bench
(bench.py SPARK_GRAFT_QPS=1) drives THIS endpoint, not the Python API.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from cantine_spark.api import BadRequest, SearchQuery, SearchResult

MAX_BODY_BYTES = 4096  # the reference's request cap (main.rs:253)


class _Pending:
    __slots__ = ("query", "event", "result", "error")

    def __init__(self, query: dict):
        self.query = query
        self.event = threading.Event()
        self.result: SearchResult | None = None
        self.error: Exception | None = None


@dataclass
class QueryBatcher:
    """Micro-batch concurrent /search requests into engine.search_batch.

    Every cluster-kernel query is a driver-scheduled Spark job with a
    fixed ~100-200 ms floor, so under concurrent clients the DRIVER's job
    pipeline saturates long before the executors do. Batching is the
    standard lever: requests arriving within a small window ride ONE
    hydration scan and one driver-tier admission decision
    (api.SearchEngine.search_batch) — the batch's smallest queries run on
    the driver while their summed postings fit one solo query's budget,
    and only the rest share ONE kernel job — amortizing the floor N-fold
    while leaving single-client latency almost untouched (the window only
    opens after a first request is already in hand, so a lone client pays
    ≤ window_ms extra on a query that takes tens of ms on the driver).

    Error isolation: each request is parsed individually — a BadRequest
    fails only its own request, never the batch. The engine is resolved
    from the backend once per dispatch, so a blue/green refresh swap is
    picked up at the next batch exactly as the unbatched path picks it up
    at the next request.

    Overlap: batches dispatch on a pool of `max_concurrent` threads, so up
    to that many batch jobs run concurrently under FAIR scheduling —
    batching amortizes the per-job floor WITHIN a job while FAIR still
    overlaps jobs (measured: 4 concurrent batches of 8 reach ~64 ms/query
    vs ~166 ms/query for serialized batches of 8 — bench.py QPS). When all
    slots are busy the collector keeps coalescing arrivals into the waiting
    batch, so batch depth grows exactly when the engine is saturated and
    stays ~1 under light load (= plain FAIR per-request dispatch)."""
    backend: object                  # .engine → api.SearchEngine
    max_batch: int = 16
    window_ms: float = 5.0
    max_concurrent: int = 4
    # hard cap on how long one request may wait for its batch to answer —
    # a last-resort guard so a wedged dispatch can never hang a client
    # thread forever (every dispatch path also try/finally-resolves its
    # pendings, so this should never fire in practice)
    wait_timeout_s: float = 120.0

    def __post_init__(self):
        from concurrent.futures import ThreadPoolExecutor
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)
        self._pending: list[_Pending] = []
        self._stopped = False
        self._slots = threading.Semaphore(self.max_concurrent)
        self._pool = ThreadPoolExecutor(max_workers=self.max_concurrent,
                                        thread_name_prefix="batch-dispatch")
        self._thread = threading.Thread(target=self._dispatch_loop,
                                        daemon=True)
        self._thread.start()

    def search(self, query: dict) -> SearchResult:
        p = _Pending(query)
        with self._cond:
            if self._stopped:
                raise RuntimeError("batcher stopped")
            self._pending.append(p)
            self._cond.notify()
        if not p.event.wait(timeout=self.wait_timeout_s):
            p.error = RuntimeError(
                f"batch dispatch timed out after {self.wait_timeout_s}s")
        if p.error is not None:
            raise p.error
        return p.result

    def stop(self) -> None:
        with self._cond:
            self._stopped = True
            self._cond.notify()
        self._thread.join(timeout=5)
        self._pool.shutdown(wait=True)

    # ------------------------------------------------------------- internals
    def _dispatch_loop(self) -> None:
        import time
        while True:
            with self._cond:
                while not self._pending and not self._stopped:
                    self._cond.wait()
                if self._stopped and not self._pending:
                    return
            # a first request is in hand — hold the door briefly for
            # concurrent arrivals, close early at max_batch
            deadline = time.time() + self.window_ms / 1000.0
            while time.time() < deadline:
                with self._lock:
                    if len(self._pending) >= self.max_batch:
                        break
                time.sleep(0.001)
            with self._lock:
                batch = self._pending[: self.max_batch]
                del self._pending[: self.max_batch]
            if not batch:
                continue
            # wait for a dispatch slot; while waiting, keep coalescing new
            # arrivals into this batch (adaptive depth under saturation)
            acquired = self._slots.acquire(timeout=0.002)
            while not acquired:
                with self._cond:
                    if self._stopped:
                        break
                    take = self.max_batch - len(batch)
                    if take > 0 and self._pending:
                        batch.extend(self._pending[:take])
                        del self._pending[:take]
                acquired = self._slots.acquire(timeout=0.002)
            if acquired:
                self._pool.submit(self._run_batch_slot, batch)
            else:
                self._run_batch(batch)  # stopping: answer inline

    def _run_batch_slot(self, batch: list[_Pending]) -> None:
        try:
            self._run_batch(batch)
        finally:
            self._slots.release()

    def _run_batch(self, batch: list[_Pending]) -> None:
        # INVARIANT: every _Pending in `batch` has its event set by the time
        # this returns — the finally backstop guarantees it even if a bug in
        # the body escapes, so one bad request can never wedge its
        # batch-mates' handler threads (they would otherwise block forever
        # on p.event.wait()).
        try:
            self._run_batch_inner(batch)
        finally:
            for p in batch:
                if not p.event.is_set():
                    if p.error is None and p.result is None:
                        p.error = RuntimeError(
                            "batch dispatch failed to resolve this request")
                    p.event.set()

    def _run_batch_inner(self, batch: list[_Pending]) -> None:
        try:
            engine = getattr(self.backend, "engine", self.backend)
        except Exception as e:  # noqa: BLE001 — e.g. "no generations yet"
            for p in batch:
                p.error = e
                p.event.set()
            return
        valid: list[tuple[_Pending, SearchQuery]] = []
        for p in batch:
            try:
                valid.append((p, SearchQuery.from_dict(
                    p.query, features=engine.features)))
            except BadRequest as e:
                p.error = e
                p.event.set()
            except Exception as e:  # noqa: BLE001 — any malformed shape
                # from_dict validates types, but ANY escape here must fail
                # only this request, never the batch
                p.error = BadRequest(f"malformed query: {e}")
                p.event.set()
        if not valid:
            return
        try:
            if len(valid) == 1:  # no batching overhead for a lone request
                results = [engine.search(valid[0][1])]
            else:
                # search_batch isolates per-query errors (bad cursor etc.)
                # in-slot as BadRequest instances — only engine-level
                # failures raise, and only those fail the whole batch
                results = engine.search_batch([q for _, q in valid])
        except Exception as e:  # noqa: BLE001
            for p, _ in valid:
                p.error = e
                p.event.set()
            return
        for (p, _), r in zip(valid, results):
            if isinstance(r, Exception):
                p.error = r
            else:
                p.result = r
            p.event.set()


def result_to_dict(res: SearchResult) -> dict:
    return {
        "total_found": res.total_found,
        "items": res.items,
        "next": res.next,
        "agg": ({k: [vars(s) for s in v] for k, v in res.agg.items()}
                if res.agg else None),
    }


@dataclass
class SearchHTTPServer:
    """HTTP frontend over an IndexServer (or anything with .engine/.search
    and .maybe_refresh). Use as a context manager or call start()/stop()."""
    server: object                     # serve.IndexServer
    host: str = "127.0.0.1"
    port: int = 0                      # 0 → ephemeral (tests)
    poll_seconds: float = 5.0          # refresh poll cadence; 0 → no thread
    # micro-batching (QueryBatcher): concurrent requests arriving within
    # the window share one kernel job. 0 → per-request dispatch (legacy)
    batch_window_ms: float = 5.0
    batch_max: int = 16

    def __post_init__(self):
        backend = self.server
        self._batcher = (QueryBatcher(backend, max_batch=self.batch_max,
                                      window_ms=self.batch_window_ms)
                         if self.batch_window_ms > 0 else None)
        batcher = self._batcher

        class Handler(BaseHTTPRequestHandler):
            # one engine lookup per request → a refresh swap between
            # requests is picked up immediately, never mid-request
            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (stdlib casing)
                if self.path == "/healthz":
                    try:
                        backend.engine
                    except RuntimeError:
                        return self._json(503, {"status": "no index yet"})
                    return self._json(200, {"status": "ok"})
                if self.path == "/info":
                    # cached per engine generation (SearchEngine.info) —
                    # the full docmeta aggregation runs at most once per
                    # tier set, never per request (main.rs:245 serves the
                    # startup-computed value)
                    return self._json(200, backend.engine.info())
                return self._json(404, {"error": "not found"})

            def do_POST(self):  # noqa: N802
                if self.path != "/search":
                    return self._json(404, {"error": "not found"})
                length = int(self.headers.get("Content-Length", 0))
                if length > MAX_BODY_BYTES:
                    return self._json(413, {
                        "error": f"body exceeds {MAX_BODY_BYTES} bytes"})
                raw = self.rfile.read(length)
                try:
                    query = json.loads(raw or b"{}")
                except json.JSONDecodeError as e:
                    return self._json(400, {"error": f"bad JSON: {e}"})
                try:
                    res = (batcher.search(query) if batcher is not None
                           else backend.search(query))
                except BadRequest as e:
                    return self._json(400, {"error": str(e)})
                except RuntimeError as e:  # no generations yet
                    return self._json(503, {"error": str(e)})
                return self._json(200, result_to_dict(res))

            def log_message(self, *a):  # quiet by default
                pass

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._threads: list[threading.Thread] = []
        self._stop = threading.Event()

    # ----------------------------------------------------------- lifecycle
    def start(self) -> "SearchHTTPServer":
        t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        t.start()
        self._threads.append(t)
        if self.poll_seconds > 0 and hasattr(self.server, "maybe_refresh"):
            r = threading.Thread(target=self._refresh_loop, daemon=True)
            r.start()
            self._threads.append(r)
        return self

    def _refresh_loop(self) -> None:
        while not self._stop.wait(self.poll_seconds):
            try:
                if self.server.maybe_refresh():
                    m = self.server.engine.reader.manifest
                    print(f"[serve] refreshed: {m.get('n_docs')} docs",
                          flush=True)
            except Exception as e:  # noqa: BLE001 — keep serving on a
                # failed refresh; the old engine stays live (blue/green)
                print(f"[serve] refresh failed: {e!r}", flush=True)

    def stop(self) -> None:
        self._stop.set()
        if self._batcher is not None:
            self._batcher.stop()
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "SearchHTTPServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"
