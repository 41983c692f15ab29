"""Per-layer metrics of a traced run.

The harness leaves two things in the run directory: run.json, with one
entry per query execution (its query and the epoch-ns times of
the call, the end of construction and the end of materialization), and
events.jsonl, the Spark listener events recorded during the traced window.
This module joins them into spans, attributes every span to a query
execution, writes spans.jsonl and one record per execution to
records.jsonl, and reduces the records to the per-layer metrics named in
spec.json.

Attribution: the harness tags the jobs of execution N with `pb-N-c` while
the query function builds its DataFrame and `pb-N-m` while the result is
collected. Jobs carry the tag in their properties and SQL executions and
stream starts in their job tags; a stream's micro-batch jobs inherit it
from the thread that started the stream. A job without a tag falls back to
its stream's owner, then to the single execution whose span contains it.

Span tree: query -> construct | materialize -> {job -> stage, Catalyst
phase, stream -> trigger}. A span's self time is its length minus the part
of it its children cover.
"""
import json
import statistics
import sys
from collections import defaultdict

MS = 1_000_000  # ns per ms


def parse_tag(tags):
    for t in tags or ():
        _, n, phase = t.split("-")
        return int(n), phase
    return None


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Trace:
    def __init__(self, run, events):
        self.execs = {e["id"]: e for e in run["execs"] if e["window"] == "traced"}
        by = defaultdict(list)
        for ev in events:
            by[ev["kind"]].append(ev)
        self.unattributed = 0
        # stream id -> (exec, phase), from the tags on the starting thread
        self.streams = {}
        for s in by["stream_start"]:
            owner = parse_tag(s["tags"]) or self.containing(s["t_ns"])
            if owner:
                self.streams[s["run"]] = dict(s, owner=owner, triggers=[], end_ns=None)
        for s in by["stream_end"]:
            if s["run"] in self.streams:
                self.streams[s["run"]]["end_ns"] = s["t_ns"]
        self.stream_by_id = {s["stream"]: s for s in self.streams.values()}
        for t in by["trigger"]:
            if t["run"] in self.streams:
                self.streams[t["run"]]["triggers"].append(t)
        sql_owner = {s["sql_exec"]: parse_tag(s["tags"]) for s in by["sql"] if s["tags"]}

        ends = {j["job"]: j["end_ms"] for j in by["job_end"]}
        self.jobs = {}
        self.stream_jobs = self.stream_jobs_tagged = 0
        for j in by["job"]:
            owner = parse_tag(j["tags"])
            if j["stream"]:
                self.stream_jobs += 1
                self.stream_jobs_tagged += owner is not None
            if owner is None and j["stream"] in self.stream_by_id:
                owner = self.stream_by_id[j["stream"]]["owner"]
            if owner is None and j["sql_exec"] is not None:
                owner = sql_owner.get(int(j["sql_exec"]))
            if owner is None:
                owner = self.containing(j["start_ms"] * MS)
            if owner is None or owner[0] not in self.execs:
                self.unattributed += 1
                continue
            self.jobs[j["job"]] = dict(j, owner=owner, end_ms=ends.get(j["job"], j["start_ms"]),
                                       stage_list=[])
        stage_job = {}
        for j in sorted(self.jobs.values(), key=lambda j: j["start_ms"]):
            for s in j["stages"]:
                stage_job[s] = j["job"]  # a reused stage runs under the latest job listing it
        for s in by["stage"]:
            if s["stage"] in stage_job:
                self.jobs[stage_job[s["stage"]]]["stage_list"].append(s)
        self.plans = []
        for p in by["plan"]:
            owner = sql_owner.get(p["sql_exec"])
            if owner is None and p["phases"]:
                owner = self.containing(min(a for _, a, _ in p["phases"]) * MS)
            if owner and owner[0] in self.execs:
                self.plans.append(dict(p, owner=owner))

    def containing(self, t_ns):
        hits = [e["id"] for e in self.execs.values() if e["t0"] <= t_ns <= e["t2"]]
        if len(hits) != 1:
            return None
        e = self.execs[hits[0]]
        return e["id"], "c" if t_ns < e["t1"] else "m"

    def records_and_spans(self, modules):
        recs = {i: defaultdict(float) for i in self.execs}
        spans = []
        children = defaultdict(list)  # parent span id -> [(start, end)]

        def span(sid, name, start, end, parent, exec_id, **extra):
            spans.append(dict(id=sid, name=name, start=start, end=end, parent=parent,
                              exec=exec_id, **extra))
            if parent:
                children[parent].append((start, end))

        for i, e in self.execs.items():
            span(f"q{i}", e["query"], e["t0"], e["t2"], None, i)
            span(f"c{i}", "construct", e["t0"], e["t1"], f"q{i}", i)
            span(f"m{i}", "materialize", e["t1"], e["t2"], f"q{i}", i)
        for j in self.jobs.values():
            i, phase = j["owner"]
            r = recs[i]
            r["jobs"] += 1
            r["construct_jobs"] += phase == "c"
            jid = f"j{j['job']}"
            span(jid, "job", j["start_ms"] * MS, j["end_ms"] * MS, f"{phase}{i}", i,
                 stream=j["stream"])
            for s in j["stage_list"]:
                span(f"s{s['stage']}.{s['attempt']}", "stage", s["start_ms"] * MS,
                     s["end_ms"] * MS, jid, i, tasks=s["tasks"])
                r["stages"] += 1
                r["tasks"] += s["tasks"]
                r["sched_delay_s"] += s["sched_delay_ms"] / 1e3
                r["executor_run_s"] += s["run_ms"] / 1e3
                r["executor_cpu_s"] += s["cpu_ns"] / 1e9
                r["executor_gc_s"] += s["gc_ms"] / 1e3
                r["shuffle_write_bytes"] += s["shuffle_write_bytes"]
                r["shuffle_read_bytes"] += s["shuffle_read_bytes"]
                r["fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
                r["spill_bytes"] += s["spill_bytes"]
                r["input_records"] += s["input_records"]
        for p in self.plans:
            i, phase = p["owner"]
            for name, a, b in p["phases"]:
                if name in ("analysis", "optimization", "planning"):
                    recs[i][f"{name}_s"] += (b - a) / 1e3
                    span(f"p{p['sql_exec']}.{name}", name, a * MS, b * MS, f"{phase}{i}", i)
        for s in self.streams.values():
            i, phase = s["owner"]
            if i not in recs:
                continue
            r = recs[i]
            trig = s["triggers"]
            start = s["t_ns"]
            end = min(s["end_ns"] or self.execs[i]["t2"], self.execs[i]["t2"])
            sid = f"st{s['run']}"
            span(sid, "stream", start, end, f"{phase}{i}", i, stream=s["name"])
            r["streams"] += 1
            for t in trig:
                span(f"{sid}.{t['batch']}", "trigger", t["start_ms"] * MS,
                     (t["start_ms"] + t["trigger_ms"]) * MS, sid, i)
                r["triggers"] += 1
                for k in ("add_batch", "query_planning", "wal_commit", "commit_offsets",
                          "latest_offset", "trigger"):
                    r[f"stream_{k}_s"] += t[f"{k}_ms"] / 1e3
                r["stream_input_rows"] += t["input_rows"]
                r["dropped_by_watermark"] += t["dropped_by_watermark"]
            trigger_s = sum(t["trigger_ms"] for t in trig) / 1e3
            r["stream_lifecycle_s"] += max(0.0, (end - start) / 1e9 - trigger_s)
            if trig:
                last = max(trig, key=lambda t: t["batch"])
                r["state_rows"] += last["state_rows"]
                r["state_mem_bytes"] += last["state_mem_bytes"]

        self_time = {}
        for sp in spans:
            busy = covered(sp["start"], sp["end"], children[sp["id"]])
            sp["self_s"] = self_time[sp["id"]] = (sp["end"] - sp["start"] - busy) / 1e9
        records = []
        for i, e in sorted(self.execs.items()):
            r = recs[i]
            wall = (e["t2"] - e["t0"]) / 1e9
            records.append(dict(
                exec=i, query=e["query"], module=modules[e["query"]],
                ok=e["error"] is None, rows=e["rows"], wall_s=wall,
                construct_s=(e["t1"] - e["t0"]) / 1e9, materialize_s=(e["t2"] - e["t1"]) / 1e9,
                query_self_s=self_time[f"q{i}"], construct_self_s=self_time[f"c{i}"],
                materialize_self_s=self_time[f"m{i}"],
                storage_mb=e["storage_mb"], storage_blocks=e["storage_blocks"], **r))
        return records, spans


def per_layer(run, workload, cpus, out, spec):
    """(metrics, checks_ok) for a traced run; writes spans.jsonl and records.jsonl."""
    events = [json.loads(line) for line in (out / "events.jsonl").read_text().splitlines() if line]
    tr = Trace(run, events)
    records, spans = tr.records_and_spans(run["modules"])
    with open(out / "spans.jsonl", "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in spans)
    with open(out / "records.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)

    win = next(w for w in run["windows"] if w["label"] == "traced")
    n = len(records)

    def mean(key):
        return sum(r.get(key, 0.0) for r in records) / n

    def rate(label):
        """Successful executions per second over the windows with this label."""
        ok = sum(1 for e in run["execs"] if e["window"] == label and e["error"] is None)
        return ok / sum((w["end"] - w["start"]) / 1e9 for w in run["windows"] if w["label"] == label)

    m = {}
    for mod in spec["modules"]:
        rs = [r for r in records if r["module"] == mod]
        m[f"{mod}.construct_s"] = statistics.fmean(r["construct_s"] for r in rs) if rs else 0.0
        m[f"{mod}.materialize_s"] = statistics.fmean(r["materialize_s"] for r in rs) if rs else 0.0
    streamed = [r for r in records if r.get("streams")]
    trigger_s = sum(r.get("stream_trigger_s", 0.0) for r in records)
    result_rows = sum(max(r["rows"], 0) for r in records)
    m.update({
        "construct.jobs": mean("construct_jobs"),
        "storage.mem_mb": max(r["storage_mb"] for r in records),
        "storage.blocks": max(r["storage_blocks"] for r in records),
        "scheduler.jobs": mean("jobs"),
        "scheduler.stages": mean("stages"),
        "scheduler.tasks": mean("tasks"),
        "scheduler.delay_s": mean("sched_delay_s"),
        "catalyst.analysis_s": mean("analysis_s"),
        "catalyst.optimization_s": mean("optimization_s"),
        "catalyst.planning_s": mean("planning_s"),
        "codegen.compilations": win["codegen_compilations"] / n,
        "codegen.compile_s": win["codegen_compile_s"] / n,
        "stream.triggers": mean("triggers"),
        "stream.add_batch_s": mean("stream_add_batch_s"),
        "stream.query_planning_s": mean("stream_query_planning_s"),
        "stream.wal_commit_s": mean("stream_wal_commit_s"),
        "stream.commit_offsets_s": mean("stream_commit_offsets_s"),
        "stream.latest_offset_s": mean("stream_latest_offset_s"),
        "stream.lifecycle_s": mean("stream_lifecycle_s"),
        "stream.input_rows_per_s": (sum(r.get("stream_input_rows", 0) for r in records) / trigger_s
                                    if trigger_s else 0.0),
        "stream.state_rows": (statistics.fmean(r["state_rows"] for r in streamed) if streamed else 0.0),
        "stream.state_mem_bytes": (statistics.fmean(r["state_mem_bytes"] for r in streamed)
                                   if streamed else 0.0),
        "stream.rows_dropped_by_watermark": mean("dropped_by_watermark"),
        "executor.run_s": mean("executor_run_s"),
        "executor.cpu_s": mean("executor_cpu_s"),
        "executor.gc_s": mean("executor_gc_s"),
        "executor.busy_frac": sum(r.get("executor_run_s", 0.0) for r in records)
        / (cpus * (win["end"] - win["start"]) / 1e9),
        "shuffle.write_bytes": mean("shuffle_write_bytes"),
        "shuffle.read_bytes": mean("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": mean("fetch_wait_s"),
        "spill.bytes": mean("spill_bytes"),
        "input.records_per_result_row": (sum(r.get("input_records", 0) for r in records) / result_rows
                                         if result_rows else 0.0),
        "driver.gc_s": win["gc_s"] / n,
        "driver.heap_peak_mb": run["live_heap_peak_mb"],
        "host.calib_1t_s": (run["calib"]["start_1t_s"] + run["calib"]["end_1t_s"]) / 2,
        "host.calib_nt_s": (run["calib"]["start_nt_s"] + run["calib"]["end_nt_s"]) / 2,
        "trace.overhead_frac": 1.0 - rate("traced") / rate("untraced"),
    })

    # Coverage: every query of the workload has work attributed to it.
    attributed = {r["query"] for r in records if r.get("jobs") or r.get("triggers")}
    uncovered = sorted(set(workload["queries"]) - attributed)
    # Closure: construct + materialize cover the query span.
    closure = min((r["construct_s"] + r["materialize_s"]) / r["wall_s"] for r in records)
    # The share of the query span that the spans below construct and
    # materialize (jobs, Catalyst phases, streams) cover; the rest is
    # driver-side time in graft and Spark between them.
    explained = statistics.median(
        1 - (r["construct_self_s"] + r["materialize_self_s"]) / r["wall_s"] for r in records)
    ok = not uncovered and closure >= 0.9
    print(f"[perfbench] trace: {n} executions, {len(tr.jobs)} jobs attributed, "
          f"{tr.unattributed} unattributed; stream jobs tagged by the starting thread: "
          f"{tr.stream_jobs_tagged}/{tr.stream_jobs}; closure min {closure:.3f}; "
          f"child spans cover a median {explained:.2f} of each query; "
          f"queries without attributed work: {uncovered or 'none'}; "
          f"records: {out / 'records.jsonl'}", flush=True, file=sys.stderr)
    return m, ok
