"""Reduce a run's records (`records.jsonl`, written by the harness) to the
end-to-end and per-layer metrics named in BENCHMARK.json."""
import bisect
import json
import math
import os
from collections import defaultdict

from stats import median

MB = 1048576.0


def load_records(path):
    by_type = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            r = json.loads(line)
            by_type[r["t"]].append(r)
    return by_type


def timed_ops(rec, traced):
    return [o for o in rec["op"] if o["pass"] >= 0 and o["traced"] == traced]


def gmean_of_medians(ops):
    """Geometric mean over the ops of each op's median latency: every op
    weighs the same, and a change to any op's latency by some share moves
    it by the same share whatever the op's cost."""
    by_name = defaultdict(list)
    for o in ops:
        by_name[o["name"]].append(o["ms"])
    return math.exp(sum(math.log(median(v)) for v in by_name.values()) / len(by_name))


def end_to_end(rec, failed, attempted):
    ops = timed_ops(rec, False)
    reads = [o for o in ops if o["kind"] == "read"]
    writes = [o for o in ops if o["kind"] != "read"]
    passes = [p["s"] for p in rec["pass"] if not p["traced"]]
    m = {
        "setup_s": (rec["setup"][0]["s"], "s"),
        "pass_s": (median(passes), "s"),
        "read_gmean_ms": (gmean_of_medians(reads), "ms"),
        "write_gmean_ms": (gmean_of_medians(writes), "ms"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (rec["rss"][0]["mb"], "MB"),
    }
    return m, {"read": len(reads), "write": len(writes), "passes": len(passes)}


def _union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def spans(rec):
    """The traced ops' span tree: op -> phase -> job -> stage, each with its
    duration and self time (duration minus the union of its children)."""
    ops = {o["id"]: o for o in timed_ops(rec, True)}
    phases = {s["id"]: s for s in rec["span"] if s["parent"] in ops}
    job_end = {j["job"]: j["end"] for j in rec["job_end"]}
    jobs = {j["job"]: dict(j, end=job_end.get(j["job"], j["start"]))
            for j in rec["job"] if j["span"] and int(j["span"]) in phases}
    stages = [s for s in rec["stage"] if s["job"] in jobs]
    tree = []
    children = defaultdict(list)
    for s in stages:
        children[("job", s["job"])].append((s["start"], s["end"]))
        tree.append({"kind": "stage", "id": s["stage"], "parent": s["job"],
                     "start": s["start"], "end": s["end"]})
    for j in jobs.values():
        children[("phase", int(j["span"]))].append((j["start"], j["end"]))
        tree.append({"kind": "job", "id": j["job"], "parent": int(j["span"]),
                     "start": j["start"], "end": j["end"]})
    for p in phases.values():
        children[("op", p["parent"])].append((p["start"], p["end"]))
        tree.append({"kind": p["kind"], "id": p["id"], "parent": p["parent"],
                     "start": p["start"], "end": p["end"]})
    for o in ops.values():
        tree.append({"kind": "op", "id": o["id"], "parent": None, "name": o["name"],
                     "start": o["start"], "end": o["end"]})
    for s in tree:
        key = ("job", s["id"]) if s["kind"] == "job" else \
            ("op", s["id"]) if s["kind"] == "op" else \
            None if s["kind"] == "stage" else ("phase", s["id"])
        s["ms"] = s["end"] - s["start"]
        s["self_ms"] = max(0, s["ms"] - _union_ms(children.get(key, [])))
    return tree


def self_times(tree, n_passes):
    """Per span kind: count, total and self time per traced pass."""
    acc = defaultdict(lambda: [0, 0.0, 0.0])
    for s in tree:
        a = acc[s["kind"]]
        a[0] += 1
        a[1] += s["ms"]
        a[2] += s["self_ms"]
    return {k: {"count": c / n_passes, "ms": t / n_passes, "self_ms": st / n_passes}
            for k, (c, t, st) in sorted(acc.items())}


def _du(paths):
    size = files = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(d, n))
                    files += 1
    return size, files


def overhead_ratio(passes):
    """Traced over untraced pass time: per day (a pass of `llm_pipeline` is
    always day 0), the ratio of the traced to the untraced median, then the
    median of those ratios over the days that ran both ways. Each day's
    first untraced pass is left out: the run starts untraced, and the JIT
    still speeds passes up then."""
    by_day = defaultdict(lambda: ([], []))
    for p in passes:
        by_day[p["day"]][p["traced"]].append(p["s"])
    ratios = [median(t) / median(u[1:]) for u, t in by_day.values() if u[1:] and t]
    return median(ratios) if ratios else float("nan")


def per_layer(rec, work, cores):
    ops = {o["id"]: o for o in timed_ops(rec, True)}
    n = max(1, sum(1 for p in rec["pass"] if p["traced"]))
    phases = {s["id"]: s for s in rec["span"] if s["parent"] in ops}
    kind_of = {i: s["kind"] for i, s in phases.items()}
    op_of_phase = {i: ops[s["parent"]] for i, s in phases.items()}

    by_kind = defaultdict(list)
    for s in sorted(phases.values(), key=lambda s: s["start"]):
        by_kind[s["kind"]].append(s)
    starts = {k: [s["start"] for s in v] for k, v in by_kind.items()}

    def phase_at(t, kind):
        """The `kind` phase span running at time `t` (phases never overlap)."""
        i = bisect.bisect_right(starts.get(kind, []), t) - 1
        if i >= 0 and by_kind[kind][i]["end"] >= t:
            return by_kind[kind][i]
        return None

    stages = [s for s in rec["stage"] if s["span"] and int(s["span"]) in phases]
    jobs = [j for j in rec["job"] if j["span"] and int(j["span"]) in phases]
    # the stream runs on its own thread: its jobs carry no phase span, so
    # they are attributed to the trigger that was running when they started
    stream_jobs = {j["job"] for j in rec["job"] if not j["span"] and phase_at(j["start"], "stream")}
    stages += [s for s in rec["stage"] if s["job"] in stream_jobs]

    def in_phase(items, kind):
        return [x for x in items if x["span"] and kind_of.get(int(x["span"])) == kind]

    def total(items, key):
        return sum(x[key] for x in items)

    construct = in_phase(stages, "construct")
    execute = in_phase(stages, "execute")
    exec_tasks = total(execute, "tasks")
    scans = [s for s in stages if s["in_bytes"] > 0]
    op_ms = sum(o["ms"] for o in ops.values())
    plans = [p for p in rec["plan"] if (phase_at(p["start"], "execute") is not None)]
    triggers = [t for t in rec["trigger"] if phase_at(t["start"], "stream") is not None]
    probe_stages = [s for s in stages
                    if s["span"] and op_of_phase[int(s["span"])]["kind"] == "read"
                    and op_of_phase[int(s["span"])]["day"] > 0]
    t0 = min((o["start"] for o in ops.values()), default=0)
    t1 = max((o["end"] for o in ops.values()), default=0)
    blocks = [b for b in rec["block"] if t0 <= b["time"] <= t1]
    gc_ms = sum(e["gc_ms"] - s["gc_ms"] for s, e in zip(rec["jvm_start"], rec["jvm_end"]))
    load_bytes, load_files = _du([os.path.join(work, "load")])
    store_bytes, store_files = _du([os.path.join(work, "ingest", s)
                                    for s in ("band", "hist", "sketch", "bloom")])

    def op_ms_of(kind):
        return sum(o["ms"] for o in ops.values() if o["kind"] == kind)

    m = {
        "queries.construct_ms": (sum(s["end"] - s["start"] for s in phases.values()
                                     if s["kind"] == "construct") / n, "ms"),
        "queries.eager_jobs": (len(in_phase(jobs, "construct")) / n, "count"),
        "queries.eager_tasks": (total(construct, "tasks") / n, "count"),
        "catalyst.plan_ms": (sum(p["ms"] for p in plans) / n, "ms"),
        "exec.ms": (sum(s["end"] - s["start"] for s in phases.values()
                        if s["kind"] == "execute") / n, "ms"),
        "exec.jobs": (len(in_phase(jobs, "execute")) / n, "count"),
        "exec.stages": (len(execute) / n, "count"),
        "exec.tasks": (exec_tasks / n, "count"),
        "exec.empty_task_frac": (total(execute, "empty") / max(1, exec_tasks), "ratio"),
        "exec.sched_wait_ms": (total(execute, "wait_ms") / n, "ms"),
        "exec.task_run_ms": (total(stages, "run_ms") / n, "ms"),
        "exec.task_cpu_ms": (total(stages, "cpu_ms") / n, "ms"),
        "exec.core_util": (total(stages, "run_ms") / max(1.0, op_ms * cores), "ratio"),
        "exec.shuffle_write_mb": (total(stages, "shw_bytes") / MB / n, "MB"),
        "exec.shuffle_read_mb": (total(stages, "shr_bytes") / MB / n, "MB"),
        "exec.spill_mb": (total(stages, "spill") / MB / n, "MB"),
        "scan.input_mb": (total(scans, "in_bytes") / MB / n, "MB"),
        "scan.input_rows": (total(scans, "in_rows") / n, "count"),
        "scan.tasks": (total(scans, "tasks") / n, "count"),
        "load.ms": (op_ms_of("load") / n, "ms"),
        "load.output_mb": (load_bytes / MB, "MB"),
        "load.files": (load_files, "count"),
        "store.append_ms": (op_ms_of("append") / n, "ms"),
        "store.compact_ms": (op_ms_of("compact") / n, "ms"),
        "store.probe_ms": (sum(o["ms"] for o in ops.values()
                               if o["kind"] == "read" and o["day"] > 0) / n, "ms"),
        "store.probe_rows": (total(probe_stages, "in_rows") / n, "count"),
        "store.disk_mb": (store_bytes / MB, "MB"),
        "store.files": (store_files, "count"),
        "streaming.trigger_ms": (total(triggers, "trigger_ms") / n, "ms"),
        "streaming.add_batch_ms": (total(triggers, "add_batch_ms") / n, "ms"),
        "streaming.commit_ms": (total(triggers, "commit_ms") / n, "ms"),
        "streaming.rows": (total(triggers, "rows") / n, "count"),
        "materialize.cached_mb_peak": (max((b["cached"] for b in blocks), default=0) / MB, "MB"),
        "materialize.blocks": (sum(1 for b in blocks if b["added"]) / n, "count"),
        "jvm.gc_ms": (gc_ms / n, "ms"),
        "jvm.heap_peak_mb": (max((e["heap_peak_mb"] for e in rec["jvm_end"]), default=0.0), "MB"),
        "trace.overhead_ratio": (overhead_ratio(rec["pass"]), "ratio"),
    }
    return m, n
