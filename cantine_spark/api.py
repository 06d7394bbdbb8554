"""SearchQuery JSON surface + engine orchestration — the `/search` lifecycle.

Mirrors cantine's public API (cantine/src/model.rs:188-200 for the query
shape, cantine/src/main.rs:42-150 for the request lifecycle):

  {"fulltext": "...", "num_items": 10, "filter": {feat: [lo, hi]},
   "agg": {feat: [[lo, hi], ...]}, "sort": "relevance", "ascending": false,
   "after": "<34-char cursor>"}

Lifecycle (SURVEY §3.1): decode cursor (uuid → doc_id, 400-equivalent on
unknown) → parse fulltext (DisMax, tiebreaker 0.1; field boosts) → AND range
filters → ONE cached match frame → [total, visited] in one aggregation →
pagination predicate → TakeOrdered top-k → broadcast hydration → next cursor
→ range aggregations iff total ≤ agg_threshold (main.rs:137-147).
"""

from __future__ import annotations

import binascii
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cantine_spark.aggregate import RangeStats, aggregate_ranges, range_filter
from cantine_spark.cursor import (
    TAG_F64, TAG_RELEVANCE, TAG_U64, InvalidCursor, SearchCursor,
)
from cantine_spark.execution.executor import SearchExecutor
from cantine_spark.execution.wand import FastTopK, KernelResult, segment_eligible
from cantine_spark.index import IndexReader
from cantine_spark.plans.nodes import All, Boolean, QueryNode, simplify
from cantine_spark.queryparser.parser import QueryParser

MAX_ITEMS = 255          # u8 page cap (model.rs:192)
DEFAULT_ITEMS = 10       # main.rs:124
DISMAX_TIEBREAKER = 0.1  # main.rs:156
MAX_QUERY_BYTES = 4096   # request-size cap (main.rs:253 caps the body at 4 KiB)
FIELD_BOOSTS = {"path": 1.15, "content": 1.0}  # analog of name×1.15 (main.rs:229-233)

_KNOWN_KEYS = {"fulltext", "num_items", "filter", "agg", "sort",
               "ascending", "after"}


class BadRequest(ValueError):
    """The 400-response analog (unknown field, bad cursor, bad range)."""


@dataclass
class SearchQuery:
    fulltext: str | None = None
    num_items: int | None = None
    filter: dict[str, list] | None = None
    agg: dict[str, list[list]] | None = None
    sort: str | None = None
    ascending: bool = False
    after: str | None = None

    @classmethod
    def from_dict(cls, d: dict[str, Any],
                  features: dict | None = None) -> SearchQuery:
        unknown = set(d) - _KNOWN_KEYS
        if unknown:  # serde deny_unknown_fields (model.rs:189)
            raise BadRequest(f"unknown fields: {sorted(unknown)}")
        ft = d.get("fulltext")
        if isinstance(ft, str) and len(ft.encode("utf-8")) > MAX_QUERY_BYTES:
            # the 4 KiB body-cap analog (main.rs:253): an unbounded query
            # string would tokenize into an unbounded term tree
            raise BadRequest(f"fulltext exceeds {MAX_QUERY_BYTES} bytes")
        q = cls(**d)
        # shape validation first — serde rejects wrong JSON types before any
        # value check (model.rs:188-200); a str num_items or a list filter
        # must be a clean 400, never a TypeError escaping into the batcher
        if ft is not None and not isinstance(ft, str):
            raise BadRequest("fulltext must be a string")
        if q.num_items is not None and (isinstance(q.num_items, bool)
                                        or not isinstance(q.num_items, int)):
            raise BadRequest("num_items must be an integer")
        if q.sort is not None and not isinstance(q.sort, str):
            raise BadRequest("sort must be a string")
        if not isinstance(q.ascending, bool):
            raise BadRequest("ascending must be a boolean")
        if q.after is not None and not isinstance(q.after, str):
            raise BadRequest("after must be a string")
        for name, v in [("filter", q.filter), ("agg", q.agg)]:
            if v is not None and not isinstance(v, dict):
                raise BadRequest(f"{name} must be an object")
        if q.agg is not None and not all(
                isinstance(v, (list, tuple)) for v in q.agg.values()):
            raise BadRequest("agg values are lists of [lo, hi] pairs")
        if q.num_items is not None and not 1 <= q.num_items <= MAX_ITEMS:
            raise BadRequest("num_items must be in 1..=255")
        for name, rngs in [("filter", [v for v in (q.filter or {}).values()]),
                           ("agg", [r for v in (q.agg or {}).values() for r in v])]:
            for r in rngs:
                if not isinstance(r, (list, tuple)) or len(r) != 2:
                    raise BadRequest(f"{name} ranges are [lo, hi] pairs")
                if not all(isinstance(b, (int, float))
                           and not isinstance(b, bool) for b in r):
                    raise BadRequest(f"{name} range bounds must be numbers")
        if features is not None:
            q.validate_features(features)
        return q

    def validate_features(self, features: dict) -> None:
        """Feature names come from the index's schema-derived set (U5:
        cantine_derive generates the filter/agg/sort surface from the struct
        shape; we derive it from docmeta's StructType at open time)."""
        for feat in list(self.filter or {}) + list(self.agg or {}):
            if feat not in features:
                raise BadRequest(f"unknown feature {feat!r}")
        if (self.sort is not None and self.sort != "relevance"
                and self.sort not in features):
            raise BadRequest(f"unknown sort {self.sort!r}")


@dataclass
class SearchResult:
    items: list[dict]
    total_found: int
    next: str | None = None
    agg: dict[str, list[RangeStats]] | None = None
    # engine observability (segment path): blocks_total / blocks_scored /
    # visited — block-max pruning evidence per query (north rule O10)
    stats: dict | None = None


@dataclass
class SearchEngine:
    reader: IndexReader
    agg_threshold: int | None = None  # None = ∞ (main.rs:193; prod 300k)
    # pin segment/docmeta tables in cluster memory — set for long-lived
    # serving processes (see FastTopK.pin_tables)
    pin_tables: bool = False
    # driver-tier execution (wand.FastTopK.use_driver): small-posting
    # queries answered by driver-side point reads + the local kernel —
    # zero Spark jobs, bit-equal, cluster fallback. False forces every
    # query onto the cluster kernel (plan tests / bench comparison leg).
    use_driver: bool = True
    executor: SearchExecutor = dc_field(init=False)
    parser: QueryParser = dc_field(init=False)

    def __post_init__(self):
        self.executor = SearchExecutor(self.reader)
        self.parser = QueryParser(["content", "path"], boosts=FIELD_BOOSTS)
        self.features = self.reader.features  # schema-derived (U5)
        self._fast: FastTopK | None = (
            FastTopK(self.reader, executor=self.executor,
                     pin_tables=self.pin_tables, use_driver=self.use_driver)
            if self.reader.has_segments else None)
        if self.pin_tables:
            self.executor.pin_hydration()
        self._info: dict | None = None

    def info(self) -> dict:
        """Full-index /info view — n_docs, tier count, per-feature
        min/max/count. Computed ONCE per engine and cached: the tables
        behind it are immutable for this engine's tier set (a refresh
        swaps in a NEW engine, main.rs:174-189 computes the same view once
        at startup and :245 serves the cached value). Lazily-once so test
        engines that never serve /info pay nothing."""
        if self._info is None:
            from cantine_spark.aggregate import full_range_info
            self._info = {
                "n_docs": self.reader.num_docs,
                "tiers": len(self.reader.manifest.get("tiers", [])) or 1,
                "features": full_range_info(self.reader.docmeta,
                                            sorted(self.features)),
            }
        return self._info

    def close(self) -> None:
        """Release pinned tables (serving refresh swaps engines)."""
        if self._fast is not None:
            self._fast.close()
        self.executor.unpin_hydration()

    # ------------------------------------------------------------ interpret
    def interpret(self, query: SearchQuery) -> tuple[QueryNode, list]:
        """main.rs:152-172: fulltext (DisMax 0.1) + one range predicate per
        filtered feature, all Must-composed."""
        node: QueryNode | None = None
        if query.fulltext and query.fulltext.strip():
            node = self.parser.parse_dismax(query.fulltext, DISMAX_TIEBREAKER)
        preds = []
        for feat, (lo, hi) in (query.filter or {}).items():
            preds.append(range_filter(feat, lo, hi))
        if node is None:
            node = All()
        return node, preds

    def _matched(self, node: QueryNode, preds: list) -> DataFrame | None:
        """(doc_id, score) after fulltext matching AND range filters. Filters
        are a broadcast-free semi join against docmeta only when needed; a
        pure-filter query never touches postings at all."""
        m = self.executor.matches(node)
        if m is None:
            return None
        if preds:
            cond = preds[0]
            for p in preds[1:]:
                cond = cond & p
            filtered_ids = self.reader.docmeta.filter(cond).select("doc_id")
            if isinstance(node, All):
                m = filtered_ids.withColumn("score", F.lit(0.0).cast("float"))
            else:
                m = m.join(filtered_ids, "doc_id", "left_semi")
        return m

    # ----------------------------------------------------------- cursor I/O
    def _decode_after(self, query: SearchQuery) -> tuple[float | int, int] | None:
        """cursor → (ref_value, ref_doc_id); unknown uuid → BadRequest
        (main.rs:53-76)."""
        if not query.after:
            return None
        try:
            cur = SearchCursor.decode(query.after)
        except InvalidCursor as e:
            raise BadRequest(str(e)) from e
        expected = self._cursor_tag(query.sort)
        if cur.tag != expected:
            raise BadRequest("cursor does not match sort mode")
        uuid_hex = binascii.hexlify(cur.uuid).decode()
        doc_id = self.reader.id_for_uuid(uuid_hex)
        if doc_id is None:
            raise BadRequest("unknown uuid in cursor")
        return cur.value, doc_id

    def _cursor_tag(self, sort: str | None) -> int:
        if sort in (None, "relevance"):
            return TAG_RELEVANCE
        return self.features[sort].cursor_tag

    def _encode_next(self, sort: str | None, value, uuid_hex: str) -> str:
        uuid = binascii.unhexlify(uuid_hex)
        tag = self._cursor_tag(sort)
        if tag == TAG_RELEVANCE:
            return SearchCursor.relevance(float(value), uuid).encode()
        if tag == TAG_U64:
            return SearchCursor.u64_field(int(value), uuid).encode()
        return SearchCursor.f64_field(float(value), uuid).encode()

    # ------------------------------------------------------- segment search
    def _search_segments(self, node: QueryNode, k: int,
                         after: tuple | None, query: SearchQuery,
                         preds: list | None = None,
                         sort_feature: str | None = None) -> SearchResult:
        """Search on the block-max kernel: one applyInPandas job for
        candidates+filter+prune+heap (range filters ride a shard-cogrouped
        docmeta id set; field sorts rank in-kernel by the shard-local
        fast-field sidecar), one pruned isin-scan hydration for the ≤255
        winners. total/visited are exact (kernel counts from doc ids).

        Aggregations: when no agg gate is configured (agg_threshold None —
        the engine default; the reference's prod default is a 300k gate,
        main.rs:193) the range aggregation FUSES into the same kernel job —
        candidates are decoded once and the job emits both top-k rows and
        agg partials (VERDICT r3 'What's wrong' #1). With a gate set we keep
        the reference's two-pass shape (main.rs:137-147): the gate needs
        `total` before deciding whether to aggregate at all, so pass 2 runs
        only when total ≤ threshold — at 100 TB the gate exists precisely so
        a hot query does NOT pay the aggregation scan, which a fuse-anyway-
        and-discard design would re-introduce."""
        ctx = self._segment_ctx(node, k, after, query, preds, sort_feature)
        res = self._fast.search(**ctx["spec"])
        # hits are already kernel-ordered (sort key, doc_id tiebreak);
        # hydration is one pruned isin-scan of the doc store
        by_id = (self.executor.hydrate_ids([d for d, _ in res.hits])
                 if res.hits else {})
        return self._assemble_segment_result(ctx, res, by_id)

    def _segment_ctx(self, node: QueryNode, k: int, after: tuple | None,
                     query: SearchQuery, preds: list | None,
                     sort_feature: str | None) -> dict:
        """Build the kernel spec + assembly context for one segment-path
        query (shared by _search_segments and search_batch)."""
        fuse_agg = (query.agg is not None and self.agg_threshold is None
                    and self._fast.has_fastfields
                    and set(query.agg) <= self._fast._ff_cols)
        agg_q = ({k_: [tuple(r) for r in v] for k_, v in query.agg.items()}
                 if fuse_agg else None)
        # range filters evaluate IN-KERNEL against the shard-local sidecar
        # when it covers every filtered feature (the reference composes
        # RangeQuery into the per-segment query, main.rs:152-172); Column
        # preds + docmeta cogroup remain the pre-sidecar fallback
        kernel_filters = None
        if (query.filter and self._fast.has_fastfields
                and set(query.filter) <= self._fast._ff_cols):
            kernel_filters = {f_: (lo, hi)
                              for f_, (lo, hi) in query.filter.items()}
            preds = None
        spec = dict(node=node, k=k, after=after,
                    ascending=query.ascending, preds=preds,
                    sort_feature=sort_feature, agg_query=agg_q,
                    range_filters=kernel_filters)
        return {"spec": spec, "query": query, "node": node, "k": k,
                "preds": preds, "sort_feature": sort_feature,
                "fuse_agg": fuse_agg, "kernel_filters": kernel_filters}

    def _assemble_segment_result(self, ctx: dict, res,
                                 by_id: dict[int, dict]) -> SearchResult:
        """Turn one KernelResult + hydrated winner rows into a
        SearchResult (items, cursor, agg, stats). by_id may cover a whole
        batch's winners — only this query's ids are read."""
        query: SearchQuery = ctx["query"]
        k, sort_feature = ctx["k"], ctx["sort_feature"]
        fuse_agg, kernel_filters = ctx["fuse_agg"], ctx["kernel_filters"]
        node, preds = ctx["node"], ctx["preds"]
        feat = self.features[sort_feature] if sort_feature else None
        items: list[dict] = []
        if res.hits:
            for i, (d, s) in enumerate(res.hits):
                if sort_feature is None:
                    sv: float | int = s
                else:
                    sv = res.sort_vals[i]
                    sv = int(sv) if feat.kind == "u64" else float(sv)
                items.append({"doc_id": d, "uuid": by_id[d]["uuid"],
                              "repo": by_id[d]["repo"],
                              "path": by_id[d]["path"],
                              "lang": by_id[d]["lang"],
                              "score": s, "sort_val": sv})
        next_cursor = None
        if res.visited - len(items) > 0 and items:
            last = items[-1]
            next_cursor = self._encode_next(
                query.sort, last["sort_val"], last["uuid"])
        agg = None
        if query.agg and (self.agg_threshold is None
                          or res.total <= self.agg_threshold):
            if fuse_agg:
                raw = res.agg  # partials came out of the ONE kernel job
            else:
                # gated: second collector pass on the segments
                # (main.rs:137-147), run only now that total is known
                raw = self._fast.aggregate(
                    node, {k_: [tuple(r) for r in v]
                           for k_, v in query.agg.items()}, preds=preds,
                    range_filters=kernel_filters)
            agg = {}
            for feat, rngs in query.agg.items():
                kind = self.features[feat].kind
                stats = []
                for (cnt, mn, mx), (lo, hi) in zip(raw[feat], rngs):
                    if cnt == 0:
                        stats.append(RangeStats(min=hi, max=lo, count=0))
                    elif kind == "u64":
                        stats.append(RangeStats(min=int(mn), max=int(mx),
                                                count=cnt))
                    else:
                        stats.append(RangeStats(min=mn, max=mx, count=cnt))
                agg[feat] = stats
        return SearchResult(items=items, total_found=res.total,
                            next=next_cursor, agg=agg,
                            stats={"blocks_total": res.blocks_total,
                                   "blocks_scored": res.blocks_scored,
                                   "visited": res.visited,
                                   "champion_served": res.champion_served,
                                   "driver_served": res.driver_served})

    # ----------------------------------------------------------- search_node
    def search_node(self, node: QueryNode, k: int = DEFAULT_ITEMS,
                    ascending: bool = False) -> KernelResult:
        """Programmatic query-tree search — the public surface for custom
        query plans (U1/U2 hooks, MLT-generated trees, the showcase's
        term-level DisMax). Evaluates an arbitrary QueryNode on the engine's
        default path: the segment kernel when the tree is eligible, the
        relational executor otherwise. Returns (total, visited,
        [(doc_id, f32 score)])."""
        node = simplify(node)
        if self._fast is not None and segment_eligible(node):
            return self._fast.search(node, k=k, ascending=ascending)
        m = self.executor.matches(node)
        if m is None:
            return KernelResult(0, 0, [])
        total = int(m.count())
        rows = self.executor.top_k(m, k, ascending=ascending).collect()
        hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        return KernelResult(total=total, visited=total, hits=hits)

    # ---------------------------------------------------------------- search
    def search(self, query: SearchQuery | dict,
               explain: bool = False) -> SearchResult:
        """explain=True attaches an `explanation` dict to every returned
        item — the tantivy Explanation analog (tique/src/dismax.rs:308-358):
        a tree of per-leaf BM25 contributions (idf/tf/dl/tfnorm, boosts,
        DisMax combine) whose root value casts f32-equal to the item's
        score. Computed driver-side for the ≤255 winners only (bucket-
        pruned postings point reads — no extra Spark job on the serving
        path; see explain.py)."""
        if isinstance(query, dict):
            query = SearchQuery.from_dict(query, features=self.features)
        else:
            query.validate_features(self.features)
        k = query.num_items or DEFAULT_ITEMS
        node, preds = self.interpret(query)
        after = self._decode_after(query)
        res = self._search_resolved(query, k, node, preds, after)
        if explain and res.items:
            from cantine_spark.explain import explain_hits
            ex = explain_hits(self.reader, self.executor, node,
                              [it["doc_id"] for it in res.items])
            for it in res.items:
                it["explanation"] = ex[it["doc_id"]]
        return res

    def _search_resolved(self, query: SearchQuery, k: int, node: QueryNode,
                         preds: list, after: tuple | None) -> SearchResult:
        """Execute a query whose cursor/tree are already resolved — shared
        by search() and the search_batch fallback paths, so a paginated
        query never pays the cursor uuid point-read twice."""
        # DEFAULT PATH: every fulltext query over a pure term/phrase tree —
        # relevance or field-sorted, filtered, aggregating or not — runs on
        # the compressed block-max segments (the reference's searcher IS its
        # segment reader, cantine/src/index.rs:69-129; filters are Must
        # clauses of the ONE segment query, main.rs:152-172; aggregations
        # are a second collector pass, main.rs:137-147). The relational
        # postings path remains only for match-all / pure-negative trees
        # (zero-token docs never appear in segments).
        if self._fast is not None and segment_eligible(node):
            sort_feature = (None if query.sort in (None, "relevance")
                            else query.sort)
            return self._search_segments(node, k, after, query,
                                         preds=preds,
                                         sort_feature=sort_feature)

        matched = self._matched(node, preds)
        if matched is None:
            # zero matches (e.g. an unknown term): the reference still runs
            # the aggregation collector when the gate passes (0 ≤ any
            # threshold, main.rs:137-147) and returns inverted-seeded empty
            # buckets — agg must NOT silently disappear
            agg = None
            if query.agg:
                agg = {feat: [RangeStats(min=hi, max=lo, count=0)
                              for lo, hi in (tuple(r) for r in rngs)]
                       for feat, rngs in query.agg.items()}
            return SearchResult(items=[], total_found=0, agg=agg)

        sort = query.sort or "relevance"
        ascending = query.ascending
        if sort == "relevance":
            ranked = matched.withColumn("sort_val", F.col("score"))
        else:
            # field sort: join the fast-field column; missing → 0, tantivy's
            # val_if_missing fill for fast fields (SURVEY §2.5 T3)
            meta = self.reader.docmeta.select("doc_id", F.col(sort).alias("_sv"))
            ranked = matched.join(meta, "doc_id", "left").withColumn(
                "sort_val", F.coalesce(F.col("_sv"), F.lit(0))).drop("_sv")
        # persist BEFORE deriving `visible` so the top-k job reads the cached
        # match frame instead of recomputing the full match lineage
        ranked = ranked.persist()

        # pagination predicate (PaginationCondition::check, index.rs:286-295):
        # include iff ref > val (desc) / ref < val (asc); ties → ref_id < doc_id
        if after is not None:
            ref_val, ref_id = after
            v = F.col("sort_val")
            if ascending:
                cond = (v > F.lit(ref_val)) | (
                    (v == F.lit(ref_val)) & (F.col("doc_id") > F.lit(ref_id)))
            else:
                cond = (v < F.lit(ref_val)) | (
                    (v == F.lit(ref_val)) & (F.col("doc_id") > F.lit(ref_id)))
            visible = ranked.filter(cond)
        else:
            visible = ranked

        try:
            # total & visited in ONE aggregation (A4, top_collector.rs:228-237)
            if after is not None:
                ref_val, ref_id = after
                v = F.col("sort_val")
                cnt_cond = ((v > ref_val) | ((v == ref_val) & (F.col("doc_id") > ref_id))
                            ) if ascending else (
                    (v < ref_val) | ((v == ref_val) & (F.col("doc_id") > ref_id)))
                row = ranked.agg(
                    F.count("*").alias("total"),
                    F.count(F.when(cnt_cond, 1)).alias("visited")).collect()[0]
            else:
                row = ranked.agg(F.count("*").alias("total")).collect()[0]
            total = int(row["total"])
            visited = int(row["visited"]) if after is not None else total

            topk = self.executor.top_k(
                visible.select("doc_id", "score", "sort_val"), k,
                sort_col="sort_val", ascending=ascending)
            hydrated = self.executor.hydrate(topk).orderBy(
                F.col("sort_val").asc() if ascending else F.col("sort_val").desc(),
                F.col("doc_id").asc())
            rows = hydrated.collect()
            items = [{"doc_id": int(r["doc_id"]), "uuid": r["uuid"],
                      "repo": r["repo"], "path": r["path"], "lang": r["lang"],
                      "score": float(r["score"]), "sort_val": r["sort_val"]}
                     for r in rows]

            next_cursor = None
            if visited - len(items) > 0 and items:  # has_next (top_collector.rs:297-299)
                last = items[-1]
                next_cursor = self._encode_next(
                    query.sort, last["sort_val"], last["uuid"])

            agg = None
            if query.agg and (self.agg_threshold is None
                              or total <= self.agg_threshold):
                matched_meta = self.reader.docmeta.join(
                    ranked.select("doc_id"), "doc_id", "left_semi")
                agg = aggregate_ranges(
                    matched_meta, {k_: [tuple(r) for r in v]
                                   for k_, v in query.agg.items()})
            return SearchResult(items=items, total_found=total,
                                next=next_cursor, agg=agg)
        finally:
            ranked.unpersist()

    # ---------------------------------------------------------- search_batch
    def search_batch(self, queries: list[SearchQuery | dict]
                     ) -> list[SearchResult | BadRequest]:
        """Answer a micro-batch of queries with ONE shared hydration scan
        and at most two kernel Spark jobs — none when the driver tier
        takes the whole batch. FastTopK.search_many has the full
        rationale: the batch's smallest queries drive while their summed
        postings fit one solo query's driver budget (same admission rule
        as search()), and the rest share one kernel job, amortizing the
        fixed ~100-200 ms per-job floor N-fold — the serving-throughput
        lever behind httpserve.QueryBatcher.

        Per-query results are identical to search() (differential-tested).
        Shapes the batch kernel does not cover run solo transparently:
        relational-path trees (match-all / pure-negative), docmeta-cogroup
        fallbacks (pre-sidecar indexes), and gated or sidecar-uncovered
        aggregations (their second pass needs per-query totals first).

        Per-query error isolation: a query that fails to parse, validate,
        or resolve its cursor (all BadRequest shapes) fails ONLY its own
        slot — that slot holds the BadRequest instance instead of a
        SearchResult, and every other query in the batch still runs. This
        matches the HTTP batcher's documented isolation (a stale cursor
        from one client must never 400 its batch-mates). Engine-level
        failures (Spark job errors) still raise for the whole batch."""
        results: list[SearchResult | BadRequest | None] = [None] * len(queries)
        resolved: list[tuple[int, SearchQuery, int, QueryNode, list,
                             tuple | None]] = []
        for i, q in enumerate(queries):
            try:
                if isinstance(q, dict):
                    q = SearchQuery.from_dict(q, features=self.features)
                else:
                    q.validate_features(self.features)
                k = q.num_items or DEFAULT_ITEMS
                node, preds = self.interpret(q)
                after = self._decode_after(q)
            except BadRequest as e:
                results[i] = e
                continue
            resolved.append((i, q, k, node, preds, after))
        ctxs: dict[int, dict] = {}
        for i, query, k, node, preds, after in resolved:
            if self._fast is None or not segment_eligible(node):
                results[i] = self._search_resolved(query, k, node, preds,
                                                   after)
                continue
            sort_feature = (None if query.sort in (None, "relevance")
                            else query.sort)
            ctx = self._segment_ctx(node, k, after, query, preds,
                                    sort_feature)
            if ctx["spec"]["preds"] or (query.agg and not ctx["fuse_agg"]):
                # docmeta cogroup / two-pass agg: solo (absent in serving —
                # the sidecar always exists there and the gate is off)
                results[i] = self._search_segments(
                    node, k, after, query, preds=preds,
                    sort_feature=sort_feature)
                continue
            ctxs[i] = ctx
        if ctxs:
            order = list(ctxs)
            kres = self._fast.search_many([ctxs[i]["spec"] for i in order])
            all_ids = sorted({d for r in kres for d, _ in r.hits})
            by_id = (self.executor.hydrate_ids(all_ids) if all_ids else {})
            for i, res in zip(order, kres):
                results[i] = self._assemble_segment_result(
                    ctxs[i], res, by_id)
        return results
