#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fia_delivery --seed 1 --seconds 15 --trace 0

Run from the root of the repository. The first call compiles the engine
and the harness (perfbench/build.py). Each run works in a directory of
its own under .bench_build/runs/ and deletes it at the end; a traced run
keeps its span file under .bench_build/traces/.

Output: a detail line with every metric of the workload by name, with
unit and sample count, plus the run's provenance; then, as the last
line, {"correct", "attempted", "failed", "metrics"} with the metrics of
BENCHMARK.json (end_to_end with --trace 0, per_layer with --trace 1).
The exit code is 1 when an operation's output is wrong.
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = pathlib.Path.cwd()
RUN_LIMIT_S = 170         # at the registered --seconds 10; longer runs get 5 s more per second
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# engine counters the tracer attributes to spans; per op they are summed
# over the op's spans
SPARK = ["spark.executions", "spark.jobs", "spark.stages", "spark.tasks",
         "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
         "spark.scheduler_delay_ms", "spark.shuffle_read_bytes",
         "spark.shuffle_write_bytes", "spark.spill_bytes",
         "spark.driver_only_ms", "catalyst.analysis_ms",
         "catalyst.optimization_ms", "catalyst.planning_ms"]
UNITS = {"_ms": "ms", ".ms": "ms", "bytes": "bytes", "ratio": "ratio", "write_amp": "ratio",
         "per_row_returned": "ratio"}


def unit_of(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def median(xs):
    return statistics.median(xs) if xs else None


def pct(xs, q):
    """Nearest-rank percentile (q in (0, 1])."""
    if not xs:
        return None
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def provenance(key, result, args):
    commit, dirty = "none", None
    if (ROOT / ".git").exists():
        def git(*a):
            return subprocess.run(["git", *a], cwd=ROOT, capture_output=True,
                                  text=True).stdout.strip()
        commit = git("rev-parse", "HEAD") or "none"
        dirty = bool(git("status", "--porcelain", "--", "src", "perfbench",
                         "build.sbt"))
    env = result["env"]
    return {"commit": commit, "dirty": dirty, "source_hash": key,
            "nproc": env["nproc"], "spark_threads": env["threads"],
            "driver_heap_mb": env["driver_heap_mb"], "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace, "params": result["facts"],
            "setup_parts_s": {"session": result["session_s"], "warmup": result["warmup_s"],
                              "stage": result["stage_s"]}}


def check_fia(run_dir, ops):
    """DuckDB oracle checks of the FIA outputs, run side by side (each
    on its own connection); a delivery whose predecessor failed is
    unproven and fails too."""
    import concurrent.futures
    import fia_oracle
    sql = (run_dir / "oracle.sql").read_text()

    def check(o):
        # a spill directory per connection: DuckDB empties its own on close
        tmp = run_dir / "duckdb-tmp" / str(o["op"])
        tmp.mkdir(parents=True)
        c = o["check"]
        try:
            oracle = fia_oracle.Oracle(sql, str(tmp))
            if c["type"] == "fia":
                return oracle.full(c["raw"], c["out"], c.get("upto"))
            return oracle.delivery(c["raw"], c["upto"], c["prev"], c["out"])
        except Exception as e:  # a failed check is a failed op
            return f"check error: {e}"

    todo = [o for o in ops if o.get("check") and o["ok"]]
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as pool:
        whys = list(pool.map(check, todo))
    proven = set()
    for o, why in zip(todo, whys):
        c = o["check"]
        if not why and c["type"] != "fia" and c["prev"] not in proven:
            why = "previous output unproven"
        if why:
            o["ok"], o["why"] = False, why
        else:
            proven.add(c["out"])


def detail_metrics(r):
    """Every end-to-end metric of the workload, with unit and sample
    count (n)."""
    ops = r["ops"]
    ok = [o for o in ops if o["ok"] and not o["warmup"] and not o["traced"]]

    def m(value, unit, n):
        return {"value": value, "unit": unit, "n": n}

    def ms(kind=None):
        return [o["ms"] for o in ok if kind is None or o["kind"] == kind]
    out = {
        "setup_s": m(r["session_s"] + r["warmup_s"] + median(r["stage_s"]), "s",
                     len(r["stage_s"])),
        "op_fail_ratio": m(sum(not o["ok"] for o in ops) / len(ops), "ratio", len(ops)),
        "peak_rss_mb": m(r["peak_rss_mb"], "MB", 1),
    }
    all_ms = ms()
    if all_ms:
        out["op_ms_p50"] = m(median(all_ms), "ms", len(all_ms))
        # every op kind weighs the same, whatever its latency
        out["op_ms_geomean"] = m(math.exp(statistics.fmean(map(math.log, all_ms))),
                                 "ms", len(all_ms))
        out["ops_per_s"] = m(len(all_ms) / (sum(all_ms) / 1000), "1/s", len(all_ms))
    w = r["workload"]
    if w == "fia_build":
        b = ms("build")
        rows = sum(o["rows_out"] for o in ok)
        out["build_s_p50"] = m(median(b) / 1000 if b else None, "s", len(b))
        out["tree_years_per_s"] = m(rows / (sum(b) / 1000) if b else None, "rows/s", len(b))
    elif w == "fia_delivery":
        d = ms("delivery")
        out["delivery_s_p50"] = m(median(d) / 1000 if d else None, "s", len(d))
    elif w == "lakehouse_mixed":
        c, b = ms("commit"), ms("bulk_commit")
        rd, a, mt = ms("read"), ms("ann_probe"), ms("maint")
        out["commit_ms_p50"] = m(median(c), "ms", len(c))
        out["commit_ms_p75"] = m(pct(c, 0.75), "ms", len(c))
        out["bulk_commit_ms_p50"] = m(median(b), "ms", len(b))
        out["read_ms_p50"] = m(median(rd), "ms", len(rd))
        out["read_ms_p75"] = m(pct(rd, 0.75), "ms", len(rd))
        out["ann_probe_ms_p50"] = m(median(a), "ms", len(a))
        out["maint_ms_p50"] = m(median(mt), "ms", len(mt))
        out["bytes_per_live_byte"] = m(r["facts"]["bytes_per_live_byte"], "ratio", 1)
    return out


SPAN_ALIASES = {
    ("fia.expand.exec", "spark.shuffle_write_bytes"): "fia.expand.shuffle_bytes",
    ("fia.expand.exec", "spark.spill_bytes"): "fia.expand.spill_bytes",
    ("ann.sync", "spark.jobs"): "ann.sync.jobs",
}
DURATION_SUFFIX = ("plan", "exec", "write", "stage_write")


def layer_metrics(r, spans):
    """Per-layer metrics from the traced ops' spans (medians over ops)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    ops = {o["op"]: o for o in r["ops"]}
    per_op = {}       # op -> {metric: value}
    identity_ok = True
    for op, ss in by_op.items():
        vals = {}
        children = {}
        for s in ss:
            children.setdefault(s["parent"], 0)
            children[s["parent"]] += s["end_ns"] - s["start_ns"]
        self_ns = 0
        for s in ss:
            dur = s["end_ns"] - s["start_ns"]
            self_ns += dur - children.get(s["id"], 0)
            name = s["name"]
            if s["parent"] == -1:
                vals["unattributed_ms"] = (dur - children.get(s["id"], 0)) / 1e6
                root_ns = dur
            elif name != "fia.load":
                key = name + ("_ms" if name.split(".")[-1] in DURATION_SUFFIX else ".ms")
                vals[key] = vals.get(key, 0) + dur / 1e6
            for k, v in s["attrs"].items():
                if k in SPARK:
                    vals[k] = vals.get(k, 0) + v
                    alias = SPAN_ALIASES.get((name, k))
                    if alias is None and name.startswith("upsert.") and k == "spark.jobs":
                        alias = name + ".jobs"
                    if alias:
                        vals[alias] = vals.get(alias, 0) + v
                else:
                    vals[k] = vals.get(k, 0) + v
        identity_ok &= self_ns == root_ns
        if "fia.incr.merge.rows_out" in vals and "fia.nsvb.rows_out" in vals:
            vals["fia.incr.recompute_ratio"] = \
                vals["fia.nsvb.rows_out"] / vals["fia.incr.merge.rows_out"]
        if "fia.incr.dirty.rows_out" in vals:
            vals["fia.incr.dirty_plots"] = vals["fia.incr.dirty.rows_out"]
        per_op[op] = vals
    out = {}
    names = sorted({k for v in per_op.values() for k in v})
    for k in names:
        # measured ops first; a layer only warm-up ops reach (the base
        # build's stage write) is taken from those
        for warm in (False, True):
            xs = [v[k] for op, v in per_op.items() if k in v and ops[op]["warmup"] == warm
                  and ops[op]["ok"]]
            if xs:
                out[k] = {"value": median(xs), "unit": unit_of(k), "n": len(xs)}
                break
    # traced vs untraced time of the same operations (kind and verb)
    sides = {True: {}, False: {}}
    for o in r["ops"]:
        if o["ok"] and not o["warmup"]:
            sides[o["traced"]].setdefault((o["kind"], o["verb"]), []).append(o["ms"])
    common = sides[True].keys() & sides[False].keys()
    if common:
        t = sum(median(sides[True][k]) for k in common)
        u = sum(median(sides[False][k]) for k in common)
        out["trace.overhead_ratio"] = {"value": t / u, "unit": "ratio",
                                       "n": sum(len(sides[s][k]) for s in sides for k in common)}
    return out, identity_ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    t0 = time.monotonic()
    try:
        classes, jars, key = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = ROOT / ".bench_build" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_file = ROOT / ".bench_build" / "traces" / f"{args.workload}-seed{args.seed}.spans.jsonl"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            # no hsperfdata file outside the checkout
            "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--threads", str(args.threads), "--root", str(ROOT),
            "--run-dir", str(run_dir), "--trace-file", str(trace_file)]
        t_jvm = time.monotonic()
        limit = max(10.0, RUN_LIMIT_S + 5 * max(0.0, args.seconds - 10) - (t_jvm - t0))
        try:
            p = subprocess.run(cmd, stdout=sys.stderr, timeout=limit)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness exceeded {limit:.0f} s")
        if p.returncode != 0:
            sys.exit(f"perfbench: harness failed with code {p.returncode}")
        r = json.loads((run_dir / "result.json").read_text())
        t_check = time.monotonic()
        if args.workload.startswith("fia"):
            check_fia(run_dir, r["ops"])
        wall = {"build": t_jvm - t0, "harness": t_check - t_jvm,
                "checks": time.monotonic() - t_check}
        ops = r["ops"]
        failed = sum(not o["ok"] for o in ops)
        for o in ops:
            if not o["ok"]:
                print(f"perfbench: op {o['op']} ({o['kind']}/{o['verb']}) failed: {o['why']}",
                      file=sys.stderr)
        detail = detail_metrics(r)
        layers, identity_ok = {}, None
        if args.trace:
            spans = [json.loads(x) for x in trace_file.read_text().splitlines()]
            layers, identity_ok = layer_metrics(r, spans)
        print(json.dumps({"provenance": provenance(key, r, args), "wall_s": wall,
                          "end_to_end": detail, "per_layer": layers,
                          "trace_file": str(trace_file.relative_to(ROOT)) if args.trace else None,
                          "trace_self_time_identity": identity_ok,
                          "ops": [{k: o[k] for k in ("op", "kind", "verb", "ms", "traced",
                                                     "warmup", "ok") if k in o}
                                  | {k: o[k] for k in o if k.startswith("fact.")}
                                  for o in ops]}))
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = layers if args.trace else detail
        metrics = {}
        for m in wanted:
            v = source.get(m["name"])
            if v is None or v["value"] is None:
                sys.exit(f"perfbench: metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
