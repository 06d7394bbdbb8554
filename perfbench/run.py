"""Repository benchmark: index build and HTTP search at local[4].

  python3 perfbench/run.py --rate-qps R --limit-ms L \
      --workload {build,search} --seed N --seconds S --trace {0,1}

Run it from the repository root through the command in BENCHMARK.json,
which also sets the Spark heap and PYTHONPATH. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from wrappers this benchmark installs around the
program's public entry points. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from load import closed_loop, open_loop  # noqa: E402
from stats import median, percentile, tail_percentile  # noqa: E402

CORES = 4
N_DOCS = 2000              # corpus size of both workloads
CLIENTS = 4                # load-generator threads (= nproc)
BATCH_MAX = 16             # SearchHTTPServer's default micro-batch cap
N_EXPECTED = 24            # queries whose HTTP answers are compared in full
CLOSED_ROUNDS = 3          # closed-loop rounds over those N_EXPECTED
TAIL_P = 75                # the open loop is sized so this tail is supported
REQUIRED_ENV = ("SPARK_DRIVER_MEM", "SPARK_DRIVER_JAVA_OPTS", "PYTHONPATH")

# `cantine_submit serve` session extras (scripts/cantine_submit.py _session)
SERVING_CONF = {"spark.scheduler.mode": "FAIR",
                "spark.python.worker.reuse": "true"}

STAGES = ("tokenized", "docs", "docmeta", "postings", "term_stats",
          "uuid_map", "index_stats", "segments")
BYTES_TABLES = ("docs", "postings", "segments", "champions", "fastfields",
                "uuid_map")

# Every run prints all of these. The names are shared by the workloads;
# what each one counts as an operation is in perfbench/README.md.
E2E_NAMES = ("setup_s", "throughput_per_s", "latency_p50_ms", "goodput",
             "index_bytes_per_input_byte")


def per_layer_names() -> list[str]:
    """Every metric of a traced run, in the order BENCHMARK.json lists
    them. A layer that does no work in a workload reports 0."""
    classes = list(gen.CLASS_WEIGHTS)
    return (
        [f"setup.{x}_s" for x in ("session", "datagen", "index_build",
                                  "warm")]
        + ["build.build_index_s"]
        + [f"build.stage.{st}_s" for st in STAGES + ("segments_encode",)]
        + ["build.postings_rows", "build.segment_blocks"]
        + [f"build.bytes.{t}" for t in BYTES_TABLES + ("other",)]
        + ["api.search_ms", "api.interpret_ms", "api.search_batch_calls",
           "api.batch_size_mean", "execution.fast_search_ms",
           "execution.driver_served_frac", "execution.champion_served_frac",
           "execution.blocks_scored_frac", "execution.hydrate_ms",
           "execution.hydrate_docs_per_call", "httpserve.overhead_ms",
           "search.p50_ms", f"search.p{TAIL_P}_ms"]
        + [f"search.class.{c}.p50_ms" for c in sorted(classes)]
        + [f"load.late_p{TAIL_P}_ms", "load.open_samples",
           "input.docs", "input.bytes", "input.hot_df_mean"]
        + [f"input.class.{c}.postings" for c in sorted(classes)]
        + ["trace.overhead_frac"])


# ------------------------------------------------------------------ set-up
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def start_session(work: str, serving: bool = False):
    t0 = time.perf_counter()
    from cantine_spark.session import get_spark
    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.local.dir": os.path.join(work, "spark-local"),
             "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if serving:
        extra.update(SERVING_CONF)
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


class Inputs:
    """Corpus parquet and oracle, made on a thread while the Spark session
    starts (both are driver-side Python; the session is JVM start-up)."""

    def __init__(self, seed: int, n_docs: int, work: str):
        self.path = os.path.join(work, "corpus.parquet")
        self._t = threading.Thread(target=self._make, args=(seed, n_docs))
        self._t.start()

    def _make(self, seed: int, n_docs: int) -> None:
        from cantine_spark.build.builder import TEXT_FIELDS
        from cantine_spark.oracle import OracleIndex
        t0 = time.perf_counter()
        self.corpus = gen.make_corpus(seed, n_docs)
        self.corpus.to_parquet(self.path, index=False)
        self.datagen_s = time.perf_counter() - t0
        self.oracle = OracleIndex.build(
            self.corpus.assign(doc_id=gen.doc_ids(self.corpus)),
            list(TEXT_FIELDS))

    def postings(self, node) -> int:
        """Total posting count of a query tree's terms."""
        from cantine_spark.execution.wand import collect_terms
        terms: set = set()
        collect_terms(node, terms)
        return sum(len(self.oracle.tfs[f].get(t, {})) for f, t in terms)

    def class_postings(self, engine, stream) -> dict:
        """Mean posting count of each query class in `stream`."""
        from cantine_spark.api import SearchQuery
        by_class: dict[str, list[int]] = {c: [] for c in gen.CLASS_WEIGHTS}
        for c, q in stream:
            node, _ = engine.interpret(
                SearchQuery.from_dict(q, engine.features))
            by_class[c].append(self.postings(node))
        return {f"input.class.{c}.postings": (
            sum(xs) / len(xs) if xs else 0.0, "count")
            for c, xs in sorted(by_class.items())}

    def stats(self) -> dict:
        tfs = self.oracle.tfs["content"]
        return {
            "input.docs": (len(self.corpus), "count"),
            "input.bytes": (os.path.getsize(self.path), "bytes"),
            "input.hot_df_mean": (sum(len(tfs.get(t, {}))
                                      for t in gen.HOT_TERMS)
                                  / len(gen.HOT_TERMS), "count"),
        }

    def wait(self) -> "Inputs":
        self._t.join()
        if not hasattr(self, "oracle"):
            raise RuntimeError("input generation failed")
        return self


def set_up(args, work: str, n_docs: int):
    """Build session and inputs; returns (spark, inputs, session_s,
    wall_s)."""
    t0 = time.perf_counter()
    inputs = Inputs(args.seed, n_docs, work)
    spark, session_s = start_session(work)
    log("session started")
    inputs.wait()
    log("inputs ready")
    return spark, inputs, session_s, time.perf_counter() - t0


def stop_spark() -> None:
    """Stop the active session, if any, and wait for the gateway JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def build(spark, corpus_path: str, index_dir: str) -> float:
    from cantine_spark.build import builder
    from cantine_spark.corpus import with_doc_ids
    t0 = time.perf_counter()
    builder.build_index(spark, with_doc_ids(spark.read.parquet(corpus_path)),
                        index_dir)
    return time.perf_counter() - t0


def open_stream(args) -> list[tuple[str, dict]]:
    """The search workload's open-loop (class, query) stream; its first
    N_EXPECTED queries have the full class mix on their own."""
    n_open = round(args.rate_qps * args.seconds)
    return (gen.query_stream(args.seed, N_EXPECTED, N_DOCS)
            + gen.query_stream(args.seed, n_open - N_EXPECTED, N_DOCS,
                               part=1))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------- correctness
def oracle_mismatches(engine, oracle, seed: int, n_docs: int) -> list[str]:
    """Compare the fixed check queries against oracle.OracleIndex: same
    total, rank-identical doc ids (ties may permute) and equal f32 scores."""
    from cantine_spark.api import SearchQuery
    bad = []
    for cls, q in gen.check_queries(seed, n_docs):
        node, _ = engine.interpret(SearchQuery.from_dict(q, engine.features))
        o_total, o_hits = oracle.search(node, q.get("num_items", 10))
        res = engine.search(q)
        e_hits = [(it["doc_id"], it["score"]) for it in res.items]
        if res.total_found != o_total or not same_ranking(e_hits, o_hits):
            bad.append(f"oracle mismatch on {cls}: {q}")
    return bad


def same_ranking(got, want) -> bool:
    """Equal f32 scores rank by rank, and equal doc-id sets within each
    run of equal scores (ties break by doc id in the engine)."""
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > 1e-6 * max(1.0, abs(b[1]))
           for a, b in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i
        while j < len(want) and want[j][1] == want[i][1]:
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return False
        i = j
    return True


def canonical(res) -> dict:
    from cantine_spark.httpserve import result_to_dict
    return json.loads(json.dumps(result_to_dict(res), default=str))


# ------------------------------------------------------------ build layer
def build_layer_metrics(index_dir: str) -> dict:
    m = {}
    markers = {}
    for st in STAGES:
        p = os.path.join(index_dir, st, "_STAGE_OK.json")
        with open(p) as f:
            markers[st] = json.load(f)["metrics"]
        m[f"build.stage.{st}_s"] = (markers[st]["seconds"], "s")
    m["build.stage.segments_encode_s"] = (
        markers["segments"]["encode_seconds"], "s")
    m["build.postings_rows"] = (markers["postings"]["rows"], "count")
    m["build.segment_blocks"] = (markers["segments"]["n_blocks"], "count")
    total = dir_bytes(index_dir)
    named = 0
    for t in BYTES_TABLES:
        b = dir_bytes(os.path.join(index_dir, t))
        named += b
        m[f"build.bytes.{t}"] = (b, "bytes")
    m["build.bytes.other"] = (total - named, "bytes")
    return m


def install_tracer():
    from cantine_spark.api import SearchEngine
    from cantine_spark.build.builder import IndexBuilder
    from cantine_spark.execution.executor import SearchExecutor
    from cantine_spark.execution.wand import FastTopK
    from spans import Tracer
    tr = Tracer()

    def stats_of(res):
        rs = res if isinstance(res, list) else [res]
        return {"stats": [r.stats for r in rs
                          if getattr(r, "stats", None) is not None]}

    tr.wrap(IndexBuilder, "build", "build.build_index")
    tr.wrap(SearchEngine, "search", "api.search", on_result=stats_of)
    tr.wrap(SearchEngine, "search_batch", "api.search_batch",
            on_call=lambda a, kw: {"batch": len(a[1])}, on_result=stats_of)
    tr.wrap(SearchEngine, "interpret", "api.interpret")
    tr.wrap(FastTopK, "search", "execution.fast_search")
    tr.wrap(FastTopK, "search_many", "execution.fast_search",
            on_call=lambda a, kw: {"batch": len(a[1])})
    tr.wrap(SearchExecutor, "hydrate_ids", "execution.hydrate",
            on_call=lambda a, kw: {"docs": len(a[1])})
    return tr


# --------------------------------------------------------------- workloads
def run_build(args, work: str) -> dict:
    """Timed: build_index over the seeded corpus into fresh directories,
    repeated until --seconds have passed (at least once). Nothing serves.
    An operation is one build: its wall time is the latency, documents
    per second the throughput, and it is good when the index is correct
    and the build took at most --build-limit-s."""
    tracer = install_tracer() if args.trace else None
    spark, inputs, session_s, setup_s = set_up(args, work, N_DOCS)
    builds = []
    t_start = time.perf_counter()
    while not builds or time.perf_counter() - t_start < args.seconds:
        idx = os.path.join(work, f"index{len(builds)}")
        builds.append((build(spark, inputs.path, idx), idx))
    t_end = time.perf_counter()
    idx = builds[-1][1]
    log("built")

    from cantine_spark.api import SearchEngine
    from cantine_spark.index import IndexReader
    reader = IndexReader(spark, idx)
    engine = SearchEngine(reader)
    bad = [] if reader.num_docs == N_DOCS else ["wrong doc count"]
    bad += oracle_mismatches(engine, inputs.oracle, args.seed, N_DOCS)
    attempted = len(builds) + 1 + len(gen.check_queries(args.seed, 1))
    build_s = [b for b, _ in builds]
    m = {}
    if not args.trace:
        m["setup_s"] = (setup_s, "s")
        m["throughput_per_s"] = (N_DOCS / median(build_s), "1/s")
        m["latency_p50_ms"] = (1000 * median(build_s), "ms")
        m["goodput"] = (sum(not bad and b <= args.build_limit_s
                            for b in build_s) / len(build_s), "ratio")
        m["index_bytes_per_input_byte"] = (
            dir_bytes(idx) / os.path.getsize(inputs.path), "ratio")
    else:
        m["setup.session_s"] = (session_s, "s")
        m["setup.datagen_s"] = (inputs.datagen_s, "s")
        m["setup.index_build_s"] = (0.0, "s")
        m["setup.warm_s"] = (0.0, "s")
        m["build.build_index_s"] = (median(
            [s.duration for s in tracer.by_name("build.build_index")]), "s")
        m.update(build_layer_metrics(idx))
        m.update(inputs.stats())
        m.update(inputs.class_postings(engine, open_stream(args)))
        m.update(serving_layer_metrics(tracer, t_start, t_end, [], []))
        m["trace.overhead_frac"] = (
            tracer.bookkeeping_s / (t_end - t_start), "ratio")
        write_spans(tracer, args)
    return result(bad, attempted, m, args.trace)


def run_search(args, work: str) -> dict:
    """Set-up builds the index and opens a pinned engine behind
    SearchHTTPServer at the `cantine_submit serve` defaults. Timed: an
    open loop of round(rate x seconds) Poisson arrivals, then
    CLOSED_ROUNDS closed-loop rounds in which CLIENTS clients share the
    first N_EXPECTED queries. One client sends those N_EXPECTED queries
    in turn (a solo pass) before the open loop and before each round.
    The solo passes give the latency, the open loop the goodput
    (share answered correctly within --limit-ms, latency from each
    request's due time) and the median closed-loop round the
    throughput."""
    n_open = round(args.rate_qps * args.seconds)
    if (tail_percentile(n_open) or 0) < TAIL_P:
        raise SystemExit(
            f"{n_open} open-loop requests cannot support p{TAIL_P}")
    tracer = install_tracer() if args.trace else None
    spark, inputs, build_session_s, inputs_s = set_up(args, work, N_DOCS)
    idx = os.path.join(work, "index")
    index_build_s = build(spark, inputs.path, idx)
    log("built")
    # build and serve are two applications, as `cantine_submit build` and
    # `serve` are: the serving session reuses Python workers, which
    # session.py keeps off for builds (reused workers degrade after a heavy
    # UDF stage; one build in a serving session here took about 68 s)
    spark.stop()
    spark, serve_session_s = start_session(work, serving=True)
    session_s = build_session_s + serve_session_s
    log("serving session started")

    from cantine_spark.api import SearchEngine
    from cantine_spark.httpserve import SearchHTTPServer
    from cantine_spark.index import IndexReader
    t0 = time.perf_counter()
    engine = SearchEngine(IndexReader(spark, idx), pin_tables=True)
    stream = open_stream(args)
    classes = [c for c, _ in stream]
    queries = []
    for cls, q in stream:
        if cls == "hot_page2":  # a client paging: cursor from page 1
            q = dict(q, after=engine.search(q).next)
        queries.append(q)
    # warm-up, solo and one batch as the HTTP batcher dispatches them. The
    # solo answers to the first N_EXPECTED queries are what every HTTP
    # answer to those must equal; the closed loop replays exactly those.
    expected = [canonical(engine.search(q)) for q in queries[:N_EXPECTED]]
    engine.search_batch(queries[:BATCH_MAX])

    # Each closed-loop round takes a fresh order; the median round is the
    # capacity. A many_or stalls its micro-batch on the cluster kernel, so
    # orders fix how many batches hold one (gen.closed_orders).
    orders = gen.closed_orders(args.seed, classes[:N_EXPECTED],
                               CLOSED_ROUNDS, CLIENTS)
    warm_s = time.perf_counter() - t0
    log("warm")
    with SearchHTTPServer(engine) as http:
        solo = []

        def solo_pass():
            solo.extend(closed_loop(http.url, queries[:N_EXPECTED], 1,
                                    tracer)[0])

        t_start = time.perf_counter()
        solo_pass()
        offsets = gen.arrivals(args.seed, args.rate_qps, n_open)
        opened = open_loop(http.url, queries, offsets, CLIENTS, tracer)
        rounds = []
        for order in orders:
            solo_pass()
            rounds.append(closed_loop(http.url, [queries[i] for i in order],
                                      CLIENTS, tracer))
        t_end = time.perf_counter()
    log("window done")

    def ok(s, i: int) -> bool:
        """Answer `s` to queries[i]: equal to the solo answer where one
        was taken, otherwise a well-formed page."""
        if s.status != 200:
            return False
        if i < N_EXPECTED:
            return s.body == expected[i]
        k = queries[i].get("num_items", 10)
        return len(s.body["items"]) <= min(k, s.body["total_found"])

    for s in sorted(opened, key=lambda s: -s.latency)[:3]:
        log(f"slowest open-loop: {classes[s.index]} {s.latency * 1000:.0f} ms"
            f" (sent {s.late * 1000:.0f} ms late)")
    open_ok = [ok(s, s.index) for s in opened]
    bad = [f"open request {s.index} ({classes[s.index]}) status {s.status}"
           for s, good in zip(opened, open_ok) if not good]
    bad += [f"solo request {s.index} status {s.status}"
            for s in solo if not ok(s, s.index)]
    round_qps = []
    for order, (closed, closed_s) in zip(orders, rounds):
        closed_ok = [ok(s, order[s.index]) for s in closed]
        bad += [f"closed request {order[s.index]} status {s.status}"
                for s, good in zip(closed, closed_ok) if not good]
        round_qps.append(sum(closed_ok) / closed_s)
    bad += oracle_mismatches(engine, inputs.oracle, args.seed, N_DOCS)
    attempted = (len(solo) + len(opened)
                 + sum(len(c) for c, _ in rounds)
                 + len(gen.check_queries(args.seed, 1)))
    passes = [solo[i:i + N_EXPECTED] for i in range(0, len(solo), N_EXPECTED)]
    log("solo p50 by pass " + ", ".join(
        f"{median([s.latency for s in p]) * 1000:.1f}" for p in passes)
        + " ms; closed rounds " + ", ".join(f"{q:.2f}" for q in round_qps)
        + "/s")
    m = {}
    if not args.trace:
        limit = args.limit_ms / 1000
        m["setup_s"] = (inputs_s + index_build_s + serve_session_s + warm_s,
                        "s")
        m["throughput_per_s"] = (median(round_qps), "1/s")
        m["latency_p50_ms"] = (median([s.latency * 1000 for s in solo]),
                               "ms")
        m["goodput"] = (sum(good and s.latency <= limit for s, good
                            in zip(opened, open_ok)) / len(opened), "ratio")
        m["index_bytes_per_input_byte"] = (
            dir_bytes(idx) / os.path.getsize(inputs.path), "ratio")
    else:
        m["setup.session_s"] = (session_s, "s")
        m["setup.datagen_s"] = (inputs.datagen_s, "s")
        m["setup.index_build_s"] = (index_build_s, "s")
        m["setup.warm_s"] = (warm_s, "s")
        m["build.build_index_s"] = (index_build_s, "s")
        m.update(build_layer_metrics(idx))
        m.update(inputs.stats())
        m.update(inputs.class_postings(engine, stream))
        m.update(serving_layer_metrics(tracer, t_start, t_end, opened,
                                       classes))
        m["trace.overhead_frac"] = (
            tracer.bookkeeping_s / (t_end - t_start), "ratio")
        write_spans(tracer, args)
    return result(bad, attempted, m, args.trace)


def serving_layer_metrics(tracer, t_start: float, t_end: float, opened,
                          classes) -> dict:
    """Serving-layer metrics from the spans of the timed window
    [t_start, t_end] and the open-loop samples; 0 where nothing served."""
    from spans import self_times
    spans = [s for s in tracer.spans
             if s.start >= t_start and s.end <= t_end]
    selfs = self_times(spans)

    def named(n):
        return [s for s in spans if s.name == n]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    solo, batch = named("api.search"), named("api.search_batch")
    engine_spans = solo + batch
    answered = len(solo) + sum(s.attrs["batch"] for s in batch)
    st = [x for s in engine_spans for x in s.attrs.get("stats", [])]
    hyd = named("execution.hydrate")
    client = named("client.request")
    m = {
        "api.search_ms": (1000 * sum(selfs[s.sid] for s in engine_spans)
                          / max(answered, 1), "ms"),
        "api.interpret_ms": (1000 * mean([s.duration for s in
                                          named("api.interpret")]), "ms"),
        "api.search_batch_calls": (len(batch), "count"),
        "api.batch_size_mean": (answered / max(len(engine_spans), 1), "count"),
        "execution.fast_search_ms": (1000 * mean(
            [s.duration for s in named("execution.fast_search")]), "ms"),
        "execution.driver_served_frac": (mean(
            [bool(x["driver_served"]) for x in st]), "ratio"),
        "execution.champion_served_frac": (mean(
            [bool(x["champion_served"]) for x in st]), "ratio"),
        "execution.blocks_scored_frac": (
            sum(x["blocks_scored"] for x in st)
            / max(sum(x["blocks_total"] for x in st), 1), "ratio"),
        "execution.hydrate_ms": (1000 * mean([s.duration for s in hyd]), "ms"),
        "execution.hydrate_docs_per_call": (mean(
            [s.attrs["docs"] for s in hyd]), "count"),
        "httpserve.overhead_ms": (1000 * (
            mean([s.duration for s in client])
            - sum(s.duration for s in engine_spans) / max(len(client), 1)),
            "ms"),
    }
    lat_ms = [s.latency * 1000 for s in opened if s.status == 200]
    for p in (50, TAIL_P):
        m[f"search.p{p}_ms"] = (percentile(lat_ms, p) if lat_ms else 0.0,
                                "ms")
    by_class: dict[str, list[float]] = {c: [] for c in gen.CLASS_WEIGHTS}
    for s in opened:
        if s.status == 200:
            by_class[classes[s.index]].append(s.latency * 1000)
    for c, xs in sorted(by_class.items()):
        m[f"search.class.{c}.p50_ms"] = (median(xs) if xs else 0.0, "ms")
    m[f"load.late_p{TAIL_P}_ms"] = (percentile(
        [s.late * 1000 for s in opened], TAIL_P) if opened else 0.0, "ms")
    m["load.open_samples"] = (len(opened), "count")
    return m


# ----------------------------------------------------------------- output
def result(bad: list[str], attempted: int, metrics: dict,
           trace: int) -> dict:
    want = per_layer_names() if trace else list(E2E_NAMES)
    if set(metrics) != set(want):
        raise RuntimeError(
            f"metrics missing {sorted(set(want) - set(metrics))}, "
            f"unexpected {sorted(set(metrics) - set(want))}")
    for b in bad:
        print(f"[perfbench] {b}", file=sys.stderr)
    return {"correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def write_spans(tracer, args) -> None:
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))


WORKLOADS = {"build": run_build, "search": run_search}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--rate-qps", type=float, required=True,
                   help="open-loop arrival rate R")
    p.add_argument("--limit-ms", type=float, required=True,
                   help="search goodput latency limit L")
    p.add_argument("--build-limit-s", type=float, required=True,
                   help="build goodput limit on one build's wall time")
    args = p.parse_args(argv)
    missing = [v for v in REQUIRED_ENV if not os.environ.get(v)]
    if missing:
        p.error(f"set {', '.join(missing)} (see BENCHMARK.json)")
    # Spark's Python workers start from the JVM's environment, so relative
    # entries must be resolved against the repository root here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        os.path.abspath(x) for x in os.environ["PYTHONPATH"].split(os.pathsep))
    sys.path[:0] = os.environ["PYTHONPATH"].split(os.pathsep)
    import cantine_spark  # noqa: F401  fail before any set-up if absent

    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_DRIVER_JAVA_OPTS"] += f" -Djava.io.tmpdir={work}"
    try:
        res = WORKLOADS[args.workload](args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    log("cleaned")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
