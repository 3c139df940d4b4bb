"""Turn a workload's calls and spans into metrics.

Two levels:
- the metrics of the result line, which every workload reports (the
  end-to-end ones untraced, the per-layer ones traced);
- named figures printed by name and unit above the result line, for the
  calls and layers a workload actually exercises.
"""

from __future__ import annotations

import os

from perfbench.stats import geomean, median, tail_percentile
from perfbench.trace import Span, self_times

WRITE = ("ingest_indexed", "ingest_skipped", "ingest_replaced", "delete_document")
LOOKUP = ("get_document", "list_documents", "list_libraries")
OPERATORS = {
    "knn": ("operators.knn.knn_topk", "operators.knn.knn_topk_sq8",
            "operators.knn.knn_truncated_topk"),
    "bm25": ("operators.bm25.bm25_topk",),
    "fuse": ("operators.hybrid.rrf_topk", "operators.hybrid.weighted_fuse_topk"),
    "mmr": ("operators.mmr.mmr_rerank",),
}
COLLECT = "spark.DataFrame.collect"
PIN = "spark.DataFrame.localCheckpoint"


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM, from /proc."""
    def hwm_kb(pid: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    children: dict[str, list[str]] = {}
    names: dict[str, str] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm_end = stat.rindex(")")
        names[pid] = stat[stat.index("(") + 1:comm_end]
        children.setdefault(stat[comm_end + 2:].split()[1], []).append(pid)
    total, todo = hwm_kb(str(os.getpid())), [str(os.getpid())]
    while todo:
        for child in children.get(todo.pop(), []):
            if names.get(child) == "java":
                total += hwm_kb(child)
            todo.append(child)
    return total / 1024.0


# -- the result line -------------------------------------------------------------


def end_to_end(out, session_s: float) -> dict:
    """``cycle_s`` is the wall time of one pass over the workload's mix (a
    write/read session, or the whole band), so it weighs every call kind as
    the mix does; ``kind_geomean_s`` weighs every kind equally."""
    ok = [c for c in out.calls if c.ok]
    by_kind: dict[str, list[float]] = {}
    for c in ok:
        by_kind.setdefault(c.kind, []).append(c.latency)
    return {
        "setup_s": (session_s + out.setup["build_s"] + out.setup["warmup_s"], "s"),
        "cycle_s": (median(out.cycles), "s"),
        "kind_geomean_s": (geomean([median(v) for v in by_kind.values()]), "s"),
        "ok_frac": (len(ok) / len(out.calls), "ratio"),
    }


class CallSpans:
    """The spans of one traced call, with outermost-span sums."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.sid: s for s in spans}

    def named(self, names) -> list[Span]:
        return [s for s in self.spans if s.name in names]

    def outer_sum(self, names) -> float:
        """Total time of spans in ``names`` not nested in another of them."""
        total = 0.0
        for s in self.named(names):
            p = self.by_id.get(s.parent)
            while p is not None and p.name not in names:
                p = self.by_id.get(p.parent)
            if p is None:
                total += s.end - s.start
        return total

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def operator_sum(self) -> float:
        return self.outer_sum({s.name for s in self.spans if s.name.startswith("operators.")})


def traced_calls(out, tracer) -> list[tuple[object, CallSpans]]:
    by_call: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_call.setdefault(s.call, []).append(s)
    return [(c, CallSpans(by_call.get(c.call_id, []))) for c in out.calls if c.traced]


def tracing_overhead(out) -> float:
    """Geometric mean over call kinds of (traced median / untraced median),
    minus one."""
    ratios = []
    for kind in sorted({c.kind for c in out.calls}):
        on = [c.latency for c in out.calls if c.ok and c.kind == kind and c.traced]
        off = [c.latency for c in out.calls if c.ok and c.kind == kind and not c.traced]
        if on and off:
            ratios.append(median(on) / median(off))
    return geomean(ratios) - 1.0 if ratios else 0.0


def per_layer(out, tracer, session_s: float) -> dict:
    calls = traced_calls(out, tracer)
    n = max(len(calls), 1)

    def med(values):
        return median(values) if values else 0

    return {
        "setup.session_s": (session_s, "s"),
        "setup.build_s": (out.setup["build_s"], "s"),
        "setup.warmup_s": (out.setup["warmup_s"], "s"),
        "spark.jobs_per_call": (med([c.jobs[0] for c, _ in calls]), "count"),
        "spark.stages_per_call": (med([c.jobs[1] for c, _ in calls]), "count"),
        "spark.tasks_per_call": (med([c.jobs[2] for c, _ in calls]), "count"),
        "spark.pins_per_call": (med([s.count(PIN) for _, s in calls]), "count"),
        "spark.action_s": (sum(s.outer_sum({COLLECT, PIN}) for _, s in calls) / n, "s"),
        "operators.build_s": (sum(s.operator_sum() for _, s in calls) / n, "s"),
        "trace.overhead_frac": (tracing_overhead(out), "ratio"),
    }


# -- named figures ---------------------------------------------------------------


def _lat(out, pred) -> list[float]:
    return [c.latency for c in out.calls if c.ok and pred(c.kind)]


def named_figures(workload: str, out, rss_mb: float) -> list[tuple[str, float, str]]:
    failed = sum(1 for c in out.calls if not c.ok)
    ok = [c.latency for c in out.calls if c.ok]
    rows = [("ops_per_s", len(ok) / out.window_s, "ops/s"),
            ("call_p50_s", median(ok), "s"),
            ("failed_frac", failed / len(out.calls), "ratio"),
            ("peak_rss_mb", rss_mb, "MB")]
    if workload == "catalog_band":
        from perfbench.band import CONSTRUCTION, CONTROLS

        meds = {}
        for q in CONSTRUCTION + CONTROLS:
            lat = _lat(out, lambda k, q=q: k == q)
            if lat:
                meds[q] = median(lat)
        rows += [("catalog_total_s", sum(meds.values()), "s"),
                 ("catalog_geomean_s", geomean(list(meds.values())), "s")]
        for group, names in (("construction", CONSTRUCTION), ("control", CONTROLS)):
            vals = [meds[q] for q in names if q in meds]
            if vals:
                rows.append((f"catalog_{group}_geomean_s", geomean(vals), "s"))
        return rows
    searches = _lat(out, lambda k: k == "search")
    if searches:
        rows.append(("search_p50_s", median(searches), "s"))
    tail = tail_percentile(searches)
    if tail:
        rows.append((f"search_p{tail[0]:g}_s", tail[1], "s"))
    rows.append(("search_samples", len(searches), "count"))
    for name, pred in (("write_p50_s", lambda k: k in WRITE), ("lookup_p50_s", lambda k: k in LOOKUP),
                       ("variant_p50_s", lambda k: k.startswith("variant_"))):
        lat = _lat(out, pred)
        if lat:
            rows.append((name, median(lat), "s"))
    if out.stamp.get("store_chunks"):
        rows.append(("store_bytes_per_chunk", out.stamp["store_bytes"] / out.stamp["store_chunks"], "bytes"))
    return rows


def named_layers(workload: str, out, tracer) -> list[tuple[str, float, str]]:
    calls = traced_calls(out, tracer)

    def med(pred, fn):
        """Median of fn over the traced calls whose kind matches pred
        (fn returns None for a call it does not apply to)."""
        vals = [v for c, s in calls if pred(c.kind) and (v := fn(c, s)) is not None]
        return median(vals) if vals else 0.0

    rows = []
    if workload == "catalog_band":
        from perfbench.band import BAND

        for q in BAND:
            splits = [c.split for c in out.calls if c.ok and c.kind == q]
            if not splits:
                continue
            rows += [(f"catalog.{q}.build_s", median([b for b, _ in splits]), "s"),
                     (f"catalog.{q}.exec_s", median([e for _, e in splits]), "s"),
                     (f"catalog.{q}.jobs", med(lambda k, q=q: k == q, lambda c, s: c.jobs[0]), "count"),
                     (f"catalog.{q}.pins", med(lambda k, q=q: k == q, lambda c, s: s.count(PIN)), "count")]
        return rows

    def is_search(k):
        return k == "search" or k.startswith("variant_")

    def is_write(k):
        return k in WRITE

    sts = {}
    for c, s in calls:
        sts.update(self_times(s.spans))
    mcp = [(c, s) for c, s in calls if not c.kind.startswith("variant_")]

    def rpc(c, s):
        root = s.named({f"client.{c.kind}"})[0]
        return (root.end - root.start) - s.outer_sum({"server.call_tool"})

    rows += [
        ("server.rpc_s", median([rpc(c, s) for c, s in mcp]) if mcp else 0.0, "s"),
        ("server.response_kb", med(lambda k: k == "search", lambda c, s: c.resp_bytes / 1024), "KB"),
        ("api.search_self_s", med(is_search, lambda c, s: sum(sts[x.sid] for x in s.named({"api.VectorDB.search"}))), "s"),
        ("embedder.embed_query_s", med(is_search, lambda c, s: s.outer_sum({"embedder.HashEmbedder.embed_query"})), "s"),
        ("store.read_s", med(lambda k: True, lambda c, s: s.outer_sum({"store.ChunkStore.read"})), "s"),
    ]
    for op, names in OPERATORS.items():
        # over the searches that run this operator (only some variants do)
        rows.append((f"operators.{op}_build_s", med(
            is_search, lambda c, s, names=names: s.outer_sum(set(names)) if s.named(names) else None), "s"))
    rows += [
        ("spark.collect_s", med(is_search, lambda c, s: s.outer_sum({COLLECT})), "s"),
        ("spark.jobs_per_search", med(lambda k: k == "search", lambda c, s: c.jobs[0]), "count"),
        ("spark.stages_per_search", med(lambda k: k == "search", lambda c, s: c.jobs[1]), "count"),
        ("spark.tasks_per_search", med(lambda k: k == "search", lambda c, s: c.jobs[2]), "count"),
        ("store.append_s", med(is_write, lambda c, s: s.outer_sum({"store.ChunkStore.append"})), "s"),
        ("store.delete_rewrite_s", med(lambda k: k in ("ingest_replaced", "delete_document"),
                                       lambda c, s: s.outer_sum({"store.ChunkStore._delete_rewrite"})), "s"),
        ("ingest.batch_s", med(is_write, lambda c, s: s.outer_sum({"ingest.ingest_batch"})), "s"),
        ("ingest.gate_build_s", med(is_write, lambda c, s: s.outer_sum({"ingest.dedup_gate"})), "s"),
        ("ingest.chunk_build_s", med(is_write, lambda c, s: s.outer_sum({"chunker.chunk_documents"})), "s"),
        ("spark.jobs_per_write", med(is_write, lambda c, s: c.jobs[0]), "count"),
        ("spark.tasks_per_write", med(is_write, lambda c, s: c.jobs[2]), "count"),
        ("spark.pins_per_write", med(is_write, lambda c, s: s.count(PIN)), "count"),
        ("spark.jobs_per_lookup", med(lambda k: k in LOOKUP, lambda c, s: c.jobs[0]), "count"),
        ("store.files", out.stamp.get("store_files", 0), "count"),
        ("store.bytes", out.stamp.get("store_bytes", 0), "bytes"),
    ]
    return rows
