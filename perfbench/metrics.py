"""Metric definitions: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced one. ``BENCHMARK.json`` declares the same
names; the benchmark's tests check that each workload emits all of them.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from curate import STEPS as CURATE_STEPS
from gen import KINDS
from spans import self_times

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_cpu_ms": "ms",
    "load_cpu_ms_per_doc": "ms",
}

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_run_ms", "gc_ms", "task_wait_ms",
)
# per window request, per set-up step, per flush and per compaction (the
# traced search_unique run), per curation pass (the traced search_zipf run)
SPARK_SCOPES = ("request", "setup", "flush", "compaction", "pass")

PER_LAYER = {
    "serving.collect_ms": "ms",
    "serving.render_ms": "ms",
    "serving.queue_ms": "ms",
    **{f"serving.p50_ms.{k}": "ms" for k in KINDS},
    "serving.status_4xx": "count",
    "serving.status_5xx": "count",
    "api.call_ms": "ms",
    "api.plan_cache_hit_ratio": "ratio",
    "api.probe_ms": "ms",
    "api.open_ms": "ms",
    "api.heals": "count",
    "api.heal_ms": "ms",
    "plans.parse_ms": "ms",
    "plans.plan_ms": "ms",
    "plans.jobs_per_plan": "count",
    "plans.rows_examined_per_result": "ratio",
    "ingest.build_ms": "ms",
    "ingest.write_index_ms": "ms",
    "ingest.persist_ms": "ms",
    "ingest.write_amp": "ratio",
    "compaction.write_delta_ms": "ms",
    "compaction.jobs_per_flush": "count",
    "compaction.fresh_lag_ms": "ms",
    "compaction.compact_ms": "ms",
    "compaction.files_before": "count",
    "compaction.files_after": "count",
    "compaction.bytes_rewritten": "bytes",
    "manifest.adopt_ms": "ms",
    **{metric: "ms" for _, metric in CURATE_STEPS},
    "dedup.planted_pair_recall": "ratio",
    "similarity.semdedup_planted_recall": "ratio",
    "similarity.ann_recall_at_10": "ratio",
    "similarity.ann_recall_at_10_disk": "ratio",
    "curate.docs_per_s": "1/s",
    "spark.peak_rss_mb": "MB",
    **{
        f"spark.{f}_per_{scope}": ("ms" if f.endswith("_ms") else "bytes" if f.endswith("_bytes") else "count")
        for scope in SPARK_SCOPES
        for f in SPARK_FIELDS
    },
}


# root spans of the set-up (engine or catalog build, persist, facade
# open)
SETUP_SPANS = ("ingest.build", "ingest.write_index", "ingest.persist", "api.open")
FLUSH_SPANS = ("compaction.write_delta",)
COMPACT_SPANS = ("compaction.compact",)
CURATE_SPANS = tuple(name for name, _ in CURATE_STEPS)
# root spans the benchmark runs one at a time, with no request in flight
SERIAL_SPANS = SETUP_SPANS + FLUSH_SPANS + COMPACT_SPANS + CURATE_SPANS


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _metric(name: str, value: float, table: dict) -> tuple[str, dict]:
    return name, {"value": value, "unit": table[name]}


def end_to_end(res: dict) -> dict:
    lat = [s.ms for s in res["window"]]
    vals = {
        "setup_s": _med(res["setups"]),
        "query_p50_ms": _med(lat),
        "query_cpu_ms": res["window_cpu_s"] * 1e3 / len(lat),
        "load_cpu_ms_per_doc": res["load_cpu_s"] * 1e3 / res["n_docs"],
    }
    return dict(_metric(k, v, END_TO_END) for k, v in vals.items())


# -- traced run ------------------------------------------------------------------


class _StageReader:
    """Stage metrics of Spark jobs, read back from the status store."""

    def __init__(self, sc):
        self.store = sc._jsc.sc().statusStore()
        self._job_stages: dict[int, list[int]] = {}
        self._stage: dict[int, dict] = {}

    def stages(self, jobs) -> set[int]:
        out: set[int] = set()
        for j in jobs:
            if j not in self._job_stages:
                it = self.store.job(j).stageIds().iterator()
                ids = []
                while it.hasNext():
                    ids.append(int(it.next()))
                self._job_stages[j] = ids
            out.update(self._job_stages[j])
        return out

    def stage(self, sid: int) -> dict | None:
        if sid not in self._stage:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                self._stage[sid] = None
            else:
                sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
                wait = (
                    first.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and first.isDefined()
                    else 0
                )
                self._stage[sid] = dict(
                    tasks=sd.numTasks(),
                    input_bytes=sd.inputBytes(),
                    input_records=sd.inputRecords(),
                    output_bytes=sd.outputBytes(),
                    shuffle_read_bytes=sd.shuffleReadBytes(),
                    shuffle_write_bytes=sd.shuffleWriteBytes(),
                    spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    executor_run_ms=sd.executorRunTime(),
                    gc_ms=sd.jvmGcTime(),
                    task_wait_ms=wait,
                )
        return self._stage[sid]

    def totals(self, jobs) -> dict:
        tot = defaultdict(float)
        tot["jobs"] = len(set(jobs))
        for sid in self.stages(jobs):
            st = self.stage(sid)
            if st is None:
                continue
            tot["stages"] += 1
            for k, v in st.items():
                tot[k] += v
        return tot


def per_layer(run, res: dict) -> dict:
    spans = run.tracer.spans
    selfs = self_times(spans)
    by_req = defaultdict(list)
    for s in spans:
        by_req[s.req].append(s)
    reader = _StageReader(run.sc)
    win_ops = {s.op for s in res["window"]}
    win = [s for s in spans if s.req in win_ops]

    def named(name, pool=win):
        return [s for s in pool if s.name == name]

    def dur_ms(s):
        return (s.end - s.start) * 1e3

    def per_req(fn):
        return _med([fn(by_req[op]) for op in win_ops])

    v: dict[str, float] = {}
    v["serving.collect_ms"] = per_req(lambda ss: sum(dur_ms(s) for s in ss if s.name == "serving.collect"))
    v["serving.render_ms"] = per_req(lambda ss: sum(selfs[s.sid] * 1e3 for s in ss if s.name == "serving.handle"))
    v["serving.queue_ms"] = per_req(lambda ss: sum(selfs[s.sid] * 1e3 for s in ss if s.name == "client.request"))
    for k in KINDS:
        v[f"serving.p50_ms.{k}"] = _med([s.ms for s in res["window"] if s.req[0] == k])
    v["serving.status_4xx"] = sum(1 for s in res["window"] if 400 <= s.status < 500)
    v["serving.status_5xx"] = sum(1 for s in res["window"] if s.status >= 500)

    v["api.call_ms"] = per_req(lambda ss: sum(dur_ms(s) for s in ss if s.name.startswith("api.call.")))
    n_query = len(named("api.call.query"))
    n_plan = len(named("plans.plan"))
    v["api.plan_cache_hit_ratio"] = 1.0 - n_plan / n_query if n_query else 0.0
    v["api.probe_ms"] = per_req(lambda ss: sum(dur_ms(s) for s in ss if s.name == "api.probe"))
    v["api.open_ms"] = _med([dur_ms(s) for s in spans if s.name == "api.open"])

    v["plans.parse_ms"] = _med([dur_ms(s) for s in named("plans.parse")])
    plans = named("plans.plan")
    v["plans.plan_ms"] = _med([dur_ms(s) for s in plans])
    v["plans.jobs_per_plan"] = (sum(len(s.jobs) for s in plans) / len(plans)) if plans else 0.0
    rows = sum(len(s.ids or ()) for s in res["window"])
    examined = reader.totals([j for s in win for j in s.jobs])["input_records"]
    v["plans.rows_examined_per_result"] = examined / rows if rows else 0.0

    roots = [s for s in spans if s.parent is None]
    builds = [s for s in roots if s.name == "ingest.build"]
    writes = [s for s in roots if s.name == "ingest.write_index"]
    v["ingest.build_ms"] = _med([dur_ms(s) for s in builds])
    v["ingest.write_index_ms"] = _med([dur_ms(s) for s in writes])
    v["ingest.persist_ms"] = _med([dur_ms(s) for s in roots if s.name == "ingest.persist"])
    corpus_bytes = res["corpus_bytes"]
    v["ingest.write_amp"] = _med([reader.totals(s.jobs)["output_bytes"] / corpus_bytes for s in writes])

    # write path (traced search_unique): heals are the facade's reloads
    # inside a request, not the ones under open or compaction
    by_id = {s.sid: s for s in spans}

    def in_request(s):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name.startswith("api.call."):
                return True
        return False

    heals = [s for s in spans if s.name == "compaction.load_with_deltas" and in_request(s)]
    v["api.heals"] = len(heals)
    v["api.heal_ms"] = _med([dur_ms(s) for s in heals])
    flushes = [s for s in roots if s.name in FLUSH_SPANS]
    compactions = [s for s in roots if s.name in COMPACT_SPANS]
    v["compaction.write_delta_ms"] = _med([dur_ms(s) for s in flushes])
    v["compaction.jobs_per_flush"] = _med([len(s.jobs) for s in flushes])
    v["compaction.fresh_lag_ms"] = res.get("fresh_lag_ms", 0.0)
    v["compaction.compact_ms"] = _med([dur_ms(s) for s in compactions])
    stats = res.get("compaction", {})
    v["compaction.files_before"] = stats.get("files_before", 0)
    v["compaction.files_after"] = stats.get("files_after", 0)
    v["compaction.bytes_rewritten"] = _med([reader.totals(s.jobs)["output_bytes"] for s in compactions])
    v["manifest.adopt_ms"] = _med([dur_ms(s) for s in spans if s.name == "manifest.adopt"])

    # curation pass (traced search_zipf)
    for name, metric in CURATE_STEPS:
        v[metric] = _med([dur_ms(s) for s in roots if s.name == name])
    cur = res.get("curate", {})
    v["dedup.planted_pair_recall"] = cur.get("planted_pair_recall", 0.0)
    v["similarity.semdedup_planted_recall"] = cur.get("semdedup_planted_recall", 0.0)
    v["similarity.ann_recall_at_10"] = cur.get("ann_recall", 0.0)
    v["similarity.ann_recall_at_10_disk"] = cur.get("ann_recall_disk", 0.0)
    v["curate.docs_per_s"] = cur["n_docs"] / cur["wall_s"] if cur else 0.0

    v["spark.peak_rss_mb"] = res["peak_rss_mb"]
    passes = [s for s in roots if s.name in CURATE_SPANS]
    scopes = {
        "request": [by_req[op] for op in win_ops],
        "setup": [by_req[s.req] for s in roots if s.name in SETUP_SPANS],
        "flush": [by_req[s.req] for s in flushes],
        "compaction": [by_req[s.req] for s in compactions],
        "pass": [[x for s in passes for x in by_req[s.req]]] if passes else [],
    }
    for scope, groups in scopes.items():
        tots = [reader.totals([j for s in g for j in s.jobs]) for g in groups]
        for f in SPARK_FIELDS:
            v[f"spark.{f}_per_{scope}"] = sum(t[f] for t in tots) / len(tots) if tots else 0.0

    res["_span_selfs"] = selfs
    return {k: {"value": float(v[k]), "unit": u} for k, u in PER_LAYER.items()}


def self_time_summary(spans, selfs: dict, ops) -> dict:
    """Per span name, the median over requests of that layer's self time
    in the request (ms), and the largest gap between a request's summed
    self times and its client-side duration (ms; 0 when they add up)."""
    by_req = defaultdict(list)
    for s in spans:
        by_req[s.req].append(s)
    names = sorted({s.name for op in ops for s in by_req[op]})
    per_name = {
        n: _med([sum(selfs[s.sid] for s in by_req[op] if s.name == n) * 1e3 for op in ops])
        for n in names
    }
    gap = 0.0
    for op in ops:
        root = [s for s in by_req[op] if s.parent is None]
        if len(root) == 1:
            total = sum(selfs[s.sid] for s in by_req[op])
            gap = max(gap, abs(total - (root[0].end - root[0].start)) * 1e3)
    return {"self_ms_median_per_request": per_name, "max_self_sum_gap_ms": gap}


def dump_trace(out_dir, args, run, res, layer: dict) -> None:
    """Write the spans (with self times) and the traced run's metrics."""
    out_dir.mkdir(parents=True, exist_ok=True)
    selfs = res["_span_selfs"]
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "per_layer": layer,
        "end_to_end_traced": end_to_end(res),
        "requests": self_time_summary(run.tracer.spans, selfs, [s.op for s in res["window"]]),
        "spans": [
            dict(id=s.sid, name=s.name, parent=s.parent, req=s.req, start=s.start,
                 end=s.end, self_s=selfs[s.sid], jobs=s.jobs)
            for s in run.tracer.spans
        ],
    }
    path = out_dir / f"trace-{args.workload}-{args.seed}.json"
    path.write_text(json.dumps(doc))
