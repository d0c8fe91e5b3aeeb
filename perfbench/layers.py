"""Per-layer metrics of a traced run, derived from its spans.

Every metric is reported on every workload; a layer the workload does
not exercise reports 0 (the layer did no work). Times are medians over
calls, counts and bytes are means per call, unless the name says
otherwise. README.md maps each metric to the end-to-end metric it
should move.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_time

FINALIZE_PHASES = ("meta", "lexicon", "doc_map", "lex_write", "postings",
                   "writes")
WAND_SPANS = ("wand.kernel_init", "wand.run", "wand.eval")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


class _Tree:
    def __init__(self, spans: list[dict]):
        self.spans = spans
        self.kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.kids[s["parent"]].append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def below(self, span: dict, names=None) -> list[dict]:
        out, todo = [], list(self.kids.get(span["id"], ()))
        while todo:
            s = todo.pop()
            if names is None or s["name"] in names:
                out.append(s)
            todo.extend(self.kids.get(s["id"], ()))
        return out


def layer_metrics(run, rec, session_s: float) -> dict[str, tuple[float, str]]:
    t = _Tree(rec.spans)
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (session_s, "s")
    m["ql.parse_ms"] = (_med(_dur(s) * 1e3 for s in t.named("ql.parse_query")),
                        "ms")
    _search(m, t, run)
    _wand(m, t)
    _select(m, t, run)
    _build(m, t, run)
    m["trace.spans"] = (float(len(rec.spans)), "count")
    on = [r["s"] for r in run.requests if r["traced"]]
    off = [r["s"] for r in run.requests if not r["traced"]]
    m["trace.overhead_ms"] = ((_med(on) - _med(off)) * 1e3 if on and off
                              else 0.0, "ms")
    return m


def _search(m, t: _Tree, run) -> None:
    reqs = {r["id"]: r for r in run.requests
            if r["op"] == "search" and r["traced"]}
    calls = t.named("search.search")
    routes = {"cache": 0, "local": 0, "distributed": 0}
    self_ms, read, enc, blocks = [], [], 0, []
    for c in calls:
        kinit = t.below(c, ("wand.kernel_init",))
        req = reqs.get(c["request"], {})
        if kinit:
            routes["local"] += 1
            blocks.append(sum(k["attrs"]["blocks"] for k in kinit))
            enc += sum(k["attrs"]["encoded_bytes"] for k in kinit)
        elif req.get("repeat"):
            # a cached EMPTY result still launches one job at collect
            routes["cache"] += 1
        elif req.get("jobs"):
            routes["distributed"] += 1
        self_ms.append(self_time(c, t.below(c, WAND_SPANS)) * 1e3)
        read.append(c["attrs"].get("read_bytes", 0))
    m["search.call_ms"] = (_med(_dur(c) * 1e3 for c in calls), "ms")
    m["search.self_ms"] = (_med(self_ms), "ms")
    m["search.collect_ms"] = (
        _med(_dur(s) * 1e3 for s in t.named("search.collect")), "ms")
    m["search.read_bytes"] = (_mean(read), "bytes")
    local_read = sum(r for r, c in zip(read, calls)
                     if t.below(c, ("wand.kernel_init",)))
    m["search.read_amplification"] = (local_read / enc if enc else 0.0,
                                      "ratio")
    m["search.blocks_fetched"] = (_mean(blocks), "count")
    m["search.cache_hit_rate"] = (routes["cache"] / len(calls) if calls
                                  else 0.0, "ratio")
    for k, v in routes.items():
        m[f"search.route.{k}"] = (float(v), "count")
    m["search.spark_jobs"] = (_mean(r["jobs"] for r in reqs.values()),
                              "count")
    m["search.delete_ms"] = (
        _med(_dur(s) * 1e3 for s in t.named("search.delete_docs")), "ms")


def _wand(m, t: _Tree) -> None:
    per_req = defaultdict(lambda: [0.0, 0, 0])  # ms, fetched, decoded
    for s in t.spans:
        if s["name"] not in WAND_SPANS:
            continue
        r = per_req[s["request"]]
        r[0] += _dur(s) * 1e3
        r[1] += s["attrs"].get("blocks", 0)
        r[2] += s["attrs"].get("blocks_decoded", 0)
    fetched = sum(r[1] for r in per_req.values())
    decoded = sum(r[2] for r in per_req.values())
    m["wand.kernel_ms"] = (_med(r[0] for r in per_req.values()), "ms")
    m["wand.blocks_decoded"] = (_mean(r[2] for r in per_req.values()),
                                "count")
    m["wand.decode_ratio"] = (decoded / fetched if fetched else 0.0, "ratio")


def _select(m, t: _Tree, run) -> None:
    sel = t.named("select.select")
    execs = t.named("commands.execute")
    m["select.call_ms"] = (_med(_dur(s) * 1e3 for s in sel), "ms")
    m["select.match_ms"] = (_med(
        sum(_dur(c) for c in t.below(s, ("search.match_docs",))) * 1e3
        for s in sel), "ms")
    m["commands.body_ms"] = (_med(
        (_dur(e) - sum(_dur(c) for c in t.below(e, ("select.select",))))
        * 1e3 for e in execs), "ms")
    m["select.spark_jobs"] = (_mean(e["attrs"].get("spark_jobs", 0)
                                    for e in execs), "count")
    ratios = [r["n_hits"] / r["rows"] for r in run.requests
              if r["op"] == "select" and r["traced"] and r["rows"] > 0]
    m["select.rows_matched_per_returned"] = (_mean(ratios), "ratio")


def _build(m, t: _Tree, run) -> None:
    tops = t.named("build.build_index") + t.named("streaming.append_docs")
    seg_s, n_seg, fin_s = [], [], []
    for top in tops:
        segs = t.below(top, ("build.build_segment",))
        seg_s.append(sum(_dur(s) for s in segs))
        n_seg.append(len(segs))
        fin_s.append(sum(_dur(s) for s in
                         t.below(top, ("build.finalize_index",))))
    m["build.segment_s"] = (_mean(seg_s), "s")
    m["build.segments"] = (_mean(n_seg), "count")
    m["build.finalize_s"] = (_mean(fin_s), "s")
    fins = t.named("build.finalize_index")
    for ph in FINALIZE_PHASES:
        m[f"build.finalize.{ph}_s"] = (_mean(
            f["attrs"].get("phases", {}).get(f"{ph}_s", 0.0) for f in fins),
            "s")
    m["build.driver_cpu_s"] = (_mean(w["cpu_s"] for w in run.writes), "s")
    m["build.spark_jobs"] = (_mean(w["jobs"] for w in run.writes), "count")
    for k, v in run.build.get("index_bytes", {}).items():
        m[f"build.index_bytes.{k}"] = (float(v), "bytes")

    appends = t.named("streaming.append_docs")
    m["streaming.append_s"] = (_med(_dur(a) for a in appends), "s")
    m["streaming.stale_check_s"] = (_med(
        self_time(a, t.below(a, ("build.build_segment",
                                 "build.finalize_index")))
        for a in appends), "s")
    sizes = [w for w in run.writes if w["kind"] == "append"]
    retok = 0
    for a, w in zip(appends, sizes):
        for s in t.below(a, ("build.build_segment",)):
            lo, hi = s["attrs"]["lo"], s["attrs"]["hi"]
            retok += max(0, min(hi, w["corpus_docs"]) - max(lo, 0))
    appended = sum(w["docs"] for w in sizes)
    m["streaming.docs_retokenized_per_appended_doc"] = (
        retok / appended if appended else 0.0, "ratio")
