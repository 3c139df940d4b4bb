"""The served workload, ingest_mixed: MCP ``tools/call`` over
``make_http_server``, plus direct ``VectorDB.search`` calls for the
variants the MCP schema cannot express.  One client, closed loop: each
call is sent when the previous result has arrived, as an MCP client does.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import job_counts

N_LIBRARIES = 2
DOCS_PER_LIBRARY = 80
WARMUP_MIN, WARMUP_MAX, WARMUP_STEADY = 2, 4, 0.25


def engine_config():
    """768-d embeddings like the default config, with the test config's
    short chunks, so documents of a hundred words split into several."""
    from mcpvectordb_spark.config import EngineConfig

    return EngineConfig(embedding_dim=768, chunk_size_tokens=32,
                        chunk_overlap_tokens=8, chunk_min_tokens=4)


@dataclass
class Call:
    kind: str
    latency: float
    ok: bool
    error: str | None = None
    call_id: int | None = None
    traced: bool = False
    jobs: tuple[int, int, int] | None = None  # (jobs, stages, tasks)
    resp_bytes: int = 0
    split: tuple[float, float] | None = None  # catalog: (build, exec) seconds


@dataclass
class Outcome:
    calls: list[Call] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)  # wall time of each whole cycle
    window_s: float = 0.0
    setup: dict = field(default_factory=dict)
    stamp: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)  # failed checks


class CheckFailed(Exception):
    pass


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Serving:
    """One store, one HTTP MCP server, one client."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from mcpvectordb_spark.embedder import HashEmbedder

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.config = engine_config()
        self.query_embedder = HashEmbedder(dim=self.config.embedding_dim, config=self.config)
        self.docs = gen.corpus(seed, N_LIBRARIES, DOCS_PER_LIBRARY)
        self.libraries = sorted({d.library for d in self.docs})
        self.folders = gen.write_corpus(self.docs, os.path.join(work, "corpus"))
        self.db = None
        self.server = None
        self._next_id = 0
        self.cycle_start = 0  # index in out.calls of the current cycle's first call
        self.out = Outcome()

    # -- setup ------------------------------------------------------------------

    def build_store(self, path: str):
        from mcpvectordb_spark.api import VectorDB

        db = VectorDB(self.spark, path, self.config)
        for folder, lib in zip(self.folders, self.libraries):
            res = db.ingest_folder(folder, library=lib)
            n_files = sum(1 for d in self.docs if d.library == lib)
            _check(res.get("status") == "completed" and res["indexed"] == n_files
                   and res["failed"] == 0, f"bulk ingest of {lib}: {res}")
        return db

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.db = self.build_store(os.path.join(self.work, "store"))
        self.out.setup["build_s"] = time.perf_counter() - t0
        self.start_server()
        self.scope_sizes = self._scope_sizes()

    def _scope_sizes(self) -> dict:
        from perfbench.reference import in_scope, load_store

        snap = load_store(self.db.store.path)
        sizes = {(None, None): len(snap)}
        for lib in self.libraries:
            sizes[(lib, None)] = len(in_scope(snap, lib, None))
        sizes[(None, "md")] = len(in_scope(snap, None, {"file_type": "md"}))
        return sizes

    def start_server(self) -> None:
        from mcpvectordb_spark import server

        if self.tracer is not None:
            self._group_tool_calls(server)
        self.server = server.make_http_server(self.db, port=0)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        self.rpc("initialize", {})

    def _group_tool_calls(self, server) -> None:
        """Set the call's Spark job group inside the tool call, on the
        server's handler thread (job groups are per thread)."""
        tracer, sc, inner = self.tracer, self.spark.sparkContext, server.call_tool

        def call_tool(db, name, arguments):
            if tracer.enabled:
                sc.setJobGroup(f"perfbench-{tracer.call_id}", name)
            return inner(db, name, arguments)

        server.call_tool = call_tool
        self._ungroup = lambda: setattr(server, "call_tool", inner)

    def stop(self) -> None:
        if getattr(self, "_ungroup", None):
            self._ungroup()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self._thread.join(timeout=30)
            self.server = None

    def warm_up(self, requests: list[dict]) -> float:
        """MCP searches until two successive latencies agree within
        WARMUP_STEADY (at least WARMUP_MIN, at most WARMUP_MAX calls).
        Their results are then recomputed outside Spark, which is not
        part of the returned warm-up time."""
        lat, sample = [], []
        for args in requests[:WARMUP_MAX]:
            c0 = time.perf_counter()
            res, _ = self.tool("search", args)
            lat.append(time.perf_counter() - c0)
            try:
                self.check_search(args)(res)
                sample.append((args, [r["id"] for r in res["results"]]))
            except CheckFailed as exc:
                self.out.errors.append(f"warm-up search: {exc}")
            if len(lat) >= WARMUP_MIN and abs(lat[-1] - lat[-2]) <= WARMUP_STEADY * lat[-2]:
                break
        self.verify_sample(sample)
        return sum(lat)

    # -- transport --------------------------------------------------------------

    def rpc(self, method: str, params: dict) -> tuple[dict, int]:
        self._next_id += 1
        body = json.dumps({"jsonrpc": "2.0", "id": self._next_id,
                           "method": method, "params": params})
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/mcp", body, {"Content-Type": "application/json"})
            resp = conn.getresponse()
            raw = resp.read()
        finally:
            conn.close()
        if resp.status != 200:
            raise CheckFailed(f"HTTP {resp.status} for {method}")
        return json.loads(raw), len(raw)

    def tool(self, name: str, args: dict) -> tuple[dict, int]:
        msg, size = self.rpc("tools/call", {"name": name, "arguments": args})
        if "error" in msg:
            raise CheckFailed(f"JSON-RPC error for {name}: {msg['error']}")
        return json.loads(msg["result"]["content"][0]["text"]), size

    # -- timed calls --------------------------------------------------------------

    def timed(self, kind: str, fn, check, mcp: bool = True) -> Call:
        """Run one call, time it, check its result.  A call that raises,
        returns the error envelope or fails its check is a failed call.
        Every failure of an MCP call also fails the run; an API-only
        variant that raises or returns the envelope is a failed operation
        only (at the time of writing every diversified search does)."""
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced_turn(len(self.out.calls) - self.cycle_start, len(self.out.cycles))
        call = Call(kind, 0.0, False, traced=bool(tr and tr.enabled))
        root = None
        if call.traced:
            self._next_id += 1
            call.call_id = tr.call_id = self._next_id
            root = tr.begin(f"client.{kind}")
            tr.call_root = root.sid
        t0 = time.perf_counter()
        try:
            result, call.resp_bytes = fn()
        except Exception as exc:  # a call that raises is a failed operation
            result, call.error = None, f"{type(exc).__name__}: {str(exc)[:200]}"
        call.latency = time.perf_counter() - t0
        if root is not None:
            tr.finish(root)
            tr.call_root = None
            call.jobs = job_counts(self.spark.sparkContext, f"perfbench-{call.call_id}")
        if call.error is None and isinstance(result, dict) and result.get("status") == "error":
            call.error = f"error status: {str(result.get('error'))[:200]}"
        if call.error is None:
            try:
                check(result)
                call.ok = True
            except CheckFailed as exc:
                call.error = str(exc)
                self.out.errors.append(f"{kind}: {exc}")
        elif mcp:
            self.out.errors.append(f"{kind}: {call.error}")
        self.out.calls.append(call)
        return call

    def mcp(self, kind: str, name: str, args: dict, check) -> Call:
        return self.timed(kind, lambda: self.tool(name, args), check)

    def api_search(self, kind: str, args: dict, check) -> Call:
        def run():
            grouped = self.tracer is not None and self.tracer.enabled
            sc = self.spark.sparkContext
            if grouped:
                sc.setJobGroup(f"perfbench-{self.tracer.call_id}", kind)
            try:
                res = self.db.search(**args)
            finally:
                if grouped:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            return res, len(json.dumps(res))
        return self.timed(kind, run, check, mcp=False)

    # -- checks -------------------------------------------------------------------

    def check_search(self, args: dict, ranked: bool = True):
        lib, filt = args.get("library"), args.get("filter")
        scope = self.scope_sizes.get((lib, (filt or {}).get("file_type")))

        def check(res: dict) -> None:
            _check(res.get("status") == "ok", f"status {res.get('status')}: {res.get('error')}")
            results = res["results"]
            want = min(args.get("top_k", self.config.top_k_default), scope)
            _check(len(results) == want, f"{len(results)} results, expected {want}")
            ids = [r["id"] for r in results]
            _check(len(set(ids)) == len(ids), "duplicate result ids")
            if ranked:
                scores = [r["score"] for r in results]
                _check(all(a >= b for a, b in zip(scores, scores[1:])), "scores increase")
            if lib is not None:
                _check(all(r["library"] == lib for r in results), "result outside library")
            if filt:
                _check(all(r["file_type"] == filt["file_type"] for r in results),
                       "result outside filter")
            if args.get("highlight"):
                _check(all("snippet" in r for r in results), "missing snippet")
        return check

    def verify_sample(self, sample: list[tuple[dict, list[str]]]) -> None:
        """Recompute the ids of the sampled MCP searches from the store's
        parquet files with numpy, outside Spark and outside the window."""
        from perfbench.reference import hybrid_ids, load_store

        snap = load_store(self.db.store.path)
        for args, got in sample:
            want = hybrid_ids(
                snap, args["query"], self.query_embedder.embed_query(args["query"]),
                args.get("top_k", self.config.top_k_default), args.get("library"),
                args.get("filter"), k1=self.config.bm25_k1, b=self.config.bm25_b,
                k0=self.config.rrf_k0, refine=self.config.refine_factor)
            if got != want:
                self.out.errors.append(
                    f"search {args} ids differ from the recomputation: {got[:3]}... vs {want[:3]}...")
        self.out.stamp["recomputed_searches"] = len(sample)


MIN_TRACED_CYCLES = 2


def _more(t0: float, seconds: float, tracer, done: int) -> bool:
    """Keep going until the window has passed; a traced run also needs one
    traced and one untraced cycle."""
    return (time.perf_counter() - t0 < seconds
            or (tracer is not None and done < MIN_TRACED_CYCLES))


def traced_turn(position: int, cycle_index: int) -> bool:
    """With tracing on, every other call of a cycle (by its position in the
    cycle) is traced, and a call's turn flips from one cycle to the next,
    so each call kind is measured both ways and the traced/untraced gap is
    the tracing overhead."""
    return (position + cycle_index) % 2 == 0


def _variant_kind(args: dict) -> str:
    key, val = next((k, v) for k, v in args.items() if k not in ("query", "top_k"))
    return f"variant_{key}={val}"


def _variants(s: Serving, pair: tuple[dict, dict]) -> None:
    for args in pair:
        s.api_search(_variant_kind(args), args, s.check_search(args, ranked="diversify" not in args))


def run_ingest_mixed(spark, work: str, seed: int, seconds: float, tracer=None) -> Outcome:
    """Cycles of MCP writes beside reads: index a new document, re-ingest it
    unchanged, replace it, read it back, search twice, run two API-only
    search variants (diversify, then sq8, matryoshka, highlight or blend
    by turn), list, and delete the previous cycle's document."""
    from mcpvectordb_spark.chunker import chunk_text

    def n_chunks(text: str) -> int:
        return len(chunk_text(text, s.config))

    s = Serving(spark, work, seed, tracer)
    try:
        s.setup()
        cycles = gen.ingest_cycles(seed, 10_000, s.libraries)
        searches = gen.search_requests(seed, 100_000, s.libraries)
        variants = gen.variant_requests(seed, 10_000)
        sizes = s.scope_sizes
        docs = {lib: sum(1 for d in s.docs if d.library == lib) for lib in s.libraries}

        def indexed(c: gen.IngestCycle) -> dict:
            """Account for c's replaced document now being in the store."""
            n = n_chunks(c.changed)
            sizes[(None, None)] += n
            sizes[(c.library, None)] += n
            docs[c.library] += 1
            return {"library": c.library, "chunks": n}

        def cycle(k: int, prev: dict) -> dict:
            c = cycles[k + 1]
            base = {"source": c.source, "library": c.library}
            new, changed = n_chunks(c.text), n_chunks(c.changed)
            doc = {}

            def wrote(status, n, keep=False):
                def check(res):
                    _check(res.get("status") == status, f"status {res.get('status')}, expected {status}")
                    _check(res.get("chunk_count") == n, f"chunk_count {res.get('chunk_count')}, expected {n}")
                    if keep:
                        doc["doc_id"] = res["doc_id"]
                return check

            s.mcp("ingest_indexed", "ingest_content", {**base, "content": c.text}, wrote("indexed", new))
            s.mcp("ingest_skipped", "ingest_content", {**base, "content": c.text}, wrote("skipped", 0))
            s.mcp("ingest_replaced", "ingest_content", {**base, "content": c.changed},
                  wrote("replaced", changed, keep=True))
            doc.update(indexed(c))
            want_text = "\n\n".join(chunk_text(c.changed, s.config))

            def read_back(res):
                _check(res.get("content") == want_text, "get_document text differs from the ingested chunks")
            s.mcp("get_document", "get_document", {"doc_id": doc.get("doc_id", "")}, read_back)
            scoped = {key: val for key, val in searches[2 * k + 1].items() if key != "filter"}
            for args in (searches[2 * k], {**scoped, "library": c.library}):
                s.mcp("search", "search", args, s.check_search(args))
            _variants(s, variants[k])

            def listed(res, want=min(5, docs[c.library])):
                # the replaced document is the library's most recent one
                _check(res.get("count") == want and res["documents"][0]["doc_id"] == doc.get("doc_id"),
                       f"list_documents: {str(res)[:200]}")
            s.mcp("list_documents", "list_documents", {"library": c.library, "limit": 5}, listed)

            def libraries(res, want=sizes[(None, None)]):
                got = sum(lib["chunk_count"] for lib in res["libraries"])
                _check(got == want, f"store holds {got} chunks, the operation log predicts {want}")
            s.mcp("list_libraries", "list_libraries", {}, libraries)

            def deleted(res, n=prev["chunks"]):
                _check(res.get("deleted_chunks") == n, f"deleted {res.get('deleted_chunks')} chunks, expected {n}")
            s.mcp("delete_document", "delete_document", {"doc_id": prev.get("doc_id", "")}, deleted)
            sizes[(None, None)] -= prev["chunks"]
            sizes[(prev["library"], None)] -= prev["chunks"]
            docs[prev["library"]] -= 1
            return doc

        # warm-up: index and replace one document (it stays; the first
        # timed cycle deletes it), then searches until steady
        t_warm = time.perf_counter()
        first = cycles[0]
        for text in (first.text, first.changed):
            res = s.tool("ingest_content", {"content": text, "source": first.source,
                                            "library": first.library})[0]
        prev = {"doc_id": res["doc_id"], **indexed(first)}
        warm_writes = time.perf_counter() - t_warm
        s.out.setup["warmup_s"] = warm_writes + s.warm_up(
            gen.search_requests(seed + 10_000, WARMUP_MAX, s.libraries))
        t0 = time.perf_counter()
        k = 0
        while _more(t0, seconds, tracer, k):
            c0 = time.perf_counter()
            s.cycle_start = len(s.out.calls)
            prev = cycle(k, prev)
            s.out.cycles.append(time.perf_counter() - c0)
            k += 1
        s.out.window_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.enabled = False
        final = sum(lib["chunk_count"] for lib in s.db.list_libraries()["libraries"])
        if final != sizes[(None, None)]:
            s.out.errors.append(f"final store holds {final} chunks, the operation log predicts {sizes[(None, None)]}")
        _stamp_store(s)
    finally:
        s.stop()
    return s.out


def _stamp_store(s: Serving) -> None:
    files = nbytes = 0
    for root, _, names in os.walk(s.db.store.path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    chunks = sum(lib["chunk_count"] for lib in s.db.list_libraries()["libraries"])
    s.out.stamp.update({"store_chunks": chunks, "store_bytes": nbytes, "store_files": files})
