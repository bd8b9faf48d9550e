#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness (`perfbench/harness`, sbt); later runs reuse the build while its
sources are unchanged. Every run starts from an empty work directory. The last line of stdout is the result as JSON; with
`--trace 0` it holds the end-to-end metrics, with `--trace 1` the per-layer
metrics of the traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
from stats import above, percentile  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("llm_pipeline", "ingest")
FIXTURE = os.path.join(HERE, "fixture")  # the project's sf0.01 test tables
# measured days; days 1-2 are the warm-up, day 6 compacts. Four days take
# longer than --seconds even on a quiet machine, so a run times one cycle:
# a second one would start over from a reset and a younger store.
INGEST_DAYS = range(3, 7)
MAX_PASSES = 300
DEADLINE_S = 170          # the whole run, build excluded
HEAP = "2g"               # driver memory; fixed so that peak RSS compares across machines
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def run_proc(cmd, cwd, timeout, env=None, stdout=None):
    """Runs `cmd` in its own process group and waits for it; kills the
    group on timeout or when this process is stopped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def tree_hash(paths):
    """Hash of the files at `paths` (files or directory trees)."""
    h = hashlib.sha256()
    for top in paths:
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top) \
            else sorted(os.walk(top))
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the java classpath."""
    program = [os.path.join(ROOT, x) for x in ("src/main", "build.sbt", "project/build.properties")]
    if not all(os.path.exists(p) for p in program):
        raise SystemExit("no program sources next to perfbench/: nothing to benchmark")
    sources = program + [os.path.join(HARNESS, x) for x in
                         ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(BUILD, f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HARNESS, 800, env, subprocess.PIPE)
    sys.stderr.write(out)
    cp = [ln.strip() for ln in out.splitlines() if ln.startswith("/") and ":" in ln]
    if code != 0 or not cp:
        raise SystemExit(f"build failed (sbt exit {code})")
    log(f"built in {time.time() - t:.1f} s")
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith(("classpath-", "ops-")):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def java(cp, args, work, timeout, stdout=None):
    # The heap is committed and touched before main: first touches of fresh
    # memory made timings drift by 10-30% from run to run.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Dperfbench.heap={HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return run_proc(cmd + ["-cp", cp, "perfbench.Main"] + args, work, timeout, stdout=stdout)


def op_kinds(cp, workload):
    path = os.path.join(BUILD, f"ops-{workload}.txt")
    if not os.path.exists(path):
        tmp = os.path.join(BUILD, "list")
        os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
        code, out = java(cp, ["list", workload], tmp, 120, subprocess.PIPE)
        if code != 0:
            raise SystemExit(f"listing the {workload} ops failed")
        with open(path, "w") as f:
            f.write(out)
    return dict(ln.split() for ln in open(path).read().splitlines() if ln.strip())


def write_plan(workload, kinds, seed, work):
    if workload == "ingest":
        plan = inputs.ingest_orders(seed, kinds, INGEST_DAYS, MAX_PASSES // len(INGEST_DAYS))
    else:
        plan = [(0, order) for order in inputs.pass_orders(seed, kinds, MAX_PASSES)]
    with open(os.path.join(work, "plan.txt"), "w") as f:
        for i, (day, ops) in enumerate(plan):
            f.write(f"{i} {day} {' '.join(ops)}\n")


def failures(rec, fixture_dir, work):
    """Failed checks and thrown ops: {op name: cause}."""
    bad = {}
    oracles = [(o["name"], o["sql"]) for o in rec["oracle"] if o["ran"] and o["sql"]]
    for name, problem in checks.oracle_checks(fixture_dir, os.path.join(work, "check"),
                                              oracles).items():
        if problem:
            bad[name] = f"oracle: {problem}"
    unchecked = sorted(o["name"] for o in rec["oracle"] if not o["sql"])
    for c in rec["check"]:
        if not c["ok"]:
            bad[c["name"]] = f"check: {c['detail']}"
    for o in rec["op"]:
        if not o["ok"]:
            bad.setdefault(o["name"], f"threw: {o['err']}")
    return bad, unchecked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # runs run_proc's cleanup
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = build()
    t_start = time.time()
    cores = str(os.cpu_count())
    kinds = op_kinds(cp, a.workload)
    fixture_dir = FIXTURE
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "ingest":
        inputs.write_day_slices(a.seed, fixture_dir, os.path.join(work, "slices"))
    write_plan(a.workload, kinds, a.seed, work)
    log(f"seed {a.seed} workload {a.workload} seconds {a.seconds:g} trace {a.trace} "
        f"cores {cores} ops {len(kinds)}")

    remaining = DEADLINE_S - (time.time() - t_start)
    code, _ = java(cp, [a.workload, fixture_dir, work, str(a.seconds), str(a.trace), cores],
                   work, remaining)
    records = os.path.join(work, "records.jsonl")
    if code != 0 or not os.path.exists(records):
        raise SystemExit(f"harness failed (exit {code})")
    rec = metrics.load_records(records)
    for c in rec["conf"]:
        log(f"conf {c['k']}={c['v']}")

    traced = a.trace == 1
    bad, unchecked = failures(rec, fixture_dir, work)
    timed = metrics.timed_ops(rec, False) + (metrics.timed_ops(rec, True) if traced else [])
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"] or o["name"] in bad)
    for name, cause in sorted(bad.items()):
        log(f"FAILED {name}: {cause}")
    if unchecked:
        log(f"no oracle (ran, output not compared): {' '.join(unchecked)}")
    log(f"ops attempted {attempted} failed {failed}")

    if traced:
        values, n = metrics.per_layer(rec, work, int(cores))
        tree = metrics.spans(rec)
        with open(os.path.join(work, "spans.jsonl"), "w") as f:
            for s in tree:
                f.write(json.dumps(s) + "\n")
        log(f"traced passes {n}; span self time per pass (ms):")
        for kind, t in metrics.self_times(tree, n).items():
            log(f"  {kind:10s} n={t['count']:8.1f} total={t['ms']:10.1f} self={t['self_ms']:10.1f}")
        expected = spec["per_layer"]
    else:
        values, counts = metrics.end_to_end(rec, failed, attempted)
        reads = [o["ms"] for o in timed if o["kind"] == "read"]
        writes = [o["ms"] for o in timed if o["kind"] != "read"]
        log(f"samples read {counts['read']} write {counts['write']} passes {counts['passes']}")
        plain = [p for p in rec["pass"] if not p["traced"]]
        stolen = sum(p["steal"] for p in plain) / os.sysconf("SC_CLK_TCK")
        cpu = " ".join(f"{p['cpu_s']:.1f}" for p in plain)
        log(f"CPU time per pass (s): {cpu}; "
            f"stolen by the host during the passes: "
            f"{100 * stolen / (sum(p['s'] for p in plain) * int(cores)):.1f}% of the "
            f"machine's CPU time (wall times rise with it)")
        # one op's samples decide a p50 and too few lie above p90 for either
        # to be a metric; shown for reference
        for name, xs in (("op", reads), ("write", writes)):
            log(f"{name}_p50_ms = {percentile(xs, 50):.6g} ms, {name}_p90_ms = "
                f"{percentile(xs, 90):.6g} ms ({above(xs, 90)} samples above)")
        expected = spec["end_to_end"]
    for k, (v, u) in values.items():
        log(f"{k} = {v:.6g} {u}")
    names = {m["name"]: m["unit"] for m in expected}
    got = {k: u for k, (v, u) in values.items()}
    if names != got:
        raise SystemExit(f"metrics {sorted(got)} do not match BENCHMARK.json {sorted(names)}")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
