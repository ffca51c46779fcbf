#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds graft and the harness (perfbench/build.py), writes the
seed's row-permuted copy of perfbench/data/sf0.01 as the program's only
input, and starts one JVM running graft.perfbench.Harness in a closed
loop on local[nproc]. Each key's result is checked against the stored
reference in perfbench/reference. The last line of stdout is one JSON
object: correct, attempted, failed and the metrics -- the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The full
record, with provenance, goes to .bench_build/results/; a traced run
also writes its spans and a per-layer report to .bench_build/trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

from statistics import median

import benchlib as bl
import build

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
JVM_TIMEOUT_S = 170
# C1 only. With the default tiered JIT, C2 compiles compete with the run
# for the cores and keep speeding passes up for longer than a run lasts:
# on 4 cores, relational passes fell from 7.2 s to 3.1 s over 60 s of
# timed passes. With C1 alone they show no such drift after the warm-up.
# The flags are part of every record's provenance, and compare.py refuses
# to compare records whose flags differ.
JIT_FLAGS = ["-XX:TieredStopAtLevel=1"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def commit():
    """HEAD of the checkout's own repository; "unknown" in an export."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def run_harness(cp, args, log):
    """Start the harness JVM and wait for it; a hung JVM is killed."""
    cmd = (["java"] + build.jvm_opens() +
           # A fixed heap: with build.sbt's -Xmx8g and no -Xms the heap
           # grows at its own pace, and peak RSS spread 0.29 across seeds.
           [f"-Xms{args['heap']}", f"-Xmx{args['heap']}",
            f"-Djava.io.tmpdir={OUT / 'tmp'}"] + JIT_FLAGS +
           ["-cp", cp, "graft.perfbench.Harness"] +
           [x for k, v in args["harness"].items() for x in (f"--{k}", str(v))])
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=err, stderr=err)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; log in {log}")
    if p.returncode != 0:
        fail(f"harness exited with {p.returncode}; log in {log}")


def check(raw, check_dir, reference):
    """Compare each key's result with its reference digest."""
    verdicts = {}
    for row in raw["check"]:
        key = row["key"]
        if "error" in row:
            verdicts[key] = "error: " + row["error"]
            continue
        try:
            verdicts[key] = bl.mismatch(bl.engine_digest(check_dir / key),
                                        reference["keys"][key])
        except (OSError, ValueError, KeyError) as e:
            verdicts[key] = f"error: {e!r}"
    return verdicts


def pass_totals(p):
    keys = p["keys"]
    ok = [k for k in keys if "error" not in k]
    return {
        "construct_s": sum(k.get("construct_s", 0) for k in ok),
        "plan_s": sum(k.get("plan_s", 0) for k in ok),
        "action_s": sum(k.get("action_s", 0) for k in ok),
        "exchanges": sum(k.get("exchanges", 0) for k in ok),
        "broadcasts": sum(k.get("broadcasts", 0) for k in ok),
        "partial_in": sum(k.get("partial_in", 0) for k in ok),
        "partial_out": sum(k.get("partial_out", 0) for k in ok),
    }


def end_to_end(raw):
    """End-to-end metrics, from the untraced passes; also returns the
    per-key latencies they pool."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    latencies = [k["s"] for p in untraced for k in p["keys"] if "error" not in k]
    return {
        "pass_s": (median([p["wall_s"] for p in untraced]), "s"),
        "query_p50_s": (median(latencies), "s"),
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }, latencies


def layer_metrics(raw, spans, warn_lines, cores):
    """Per-layer metrics of a traced run: medians over its traced passes
    of per-pass sums, attributed by the harness-set job labels."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    jobs = [s for s in spans if s["name"] == "job"]
    per_pass = []
    for p in traced:
        prefix = f"{raw['workload']}/{p['pass']}/"
        c = {f: 0 for f in ("tasks", "task_failures", "stages", "cpu_ns",
                            "input_bytes", "shuffle_write_bytes",
                            "shuffle_write_records", "shuffle_write_ns",
                            "shuffle_read_bytes", "spill_bytes")}
        for label, counts in raw["counters"].items():
            if label.startswith(prefix):
                for f in c:
                    c[f] += counts[f]
        pj = [j for j in jobs if j["parent"].startswith(prefix)]
        t = pass_totals(p)
        per_pass.append({
            **c, **t, "wall_s": p["wall_s"], "gc_s": p["gc_s"],
            "jobs": len(pj),
            "eager_jobs": sum(j["parent"].endswith("/construct") for j in pj),
            "schema_jobs": sum(j["site"].startswith("parquet at Tables.scala")
                               for j in pj),
        })

    def med(f):
        return median([x[f] for x in per_pass])

    keys = [k for p in traced for k in p["keys"]]
    memo = [k["memo_hit"] for p in raw["passes"] for k in p["keys"]
            if "memo_hit" in k]
    job_walls = [(j["end_ns"] - j["start_ns"]) / 1e9 for j in jobs]
    untraced_wall = median([p["wall_s"] for p in untraced])
    partial_out = sum(k.get("partial_out", 0) for k in keys)
    m = {
        "engine.session_s": (raw["session_s"], "s"),
        "engine.warm_s": (raw["warm_s"], "s"),
        # WARN lines over every pass the JVM ran: check, warm-up, timed
        # and the local[1] pass.
        "engine.warn_lines": (warn_lines / (len(raw["passes"]) + 3), "count/pass"),
        "operators.construct_s": (med("construct_s"), "s"),
        "operators.construct_share": (
            median([x["construct_s"] / x["wall_s"] for x in per_pass]), "ratio"),
        "operators.eager_jobs": (med("eager_jobs"), "count"),
        "exec.job_s_p50": (median(job_walls) if job_walls else 0.0, "s"),
        "tables.schema_jobs": (med("schema_jobs"), "count"),
        "exec.input_bytes": (med("input_bytes"), "bytes"),
        "plans.plan_s": (med("plan_s"), "s"),
        "plans.exchanges": (med("exchanges"), "count"),
        "plans.broadcasts": (med("broadcasts"), "count"),
        "action.s": (med("action_s"), "s"),
        "exec.jobs": (med("jobs"), "count"),
        "exec.stages": (med("stages"), "count"),
        "exec.tasks": (med("tasks"), "count"),
        "exec.cpu_s": (med("cpu_ns") / 1e9, "s"),
        "exec.util": (median([x["cpu_ns"] / 1e9 / (cores * x["wall_s"])
                                 for x in per_pass]), "ratio"),
        "exec.gc_s": (med("gc_s"), "s"),
        "exec.task_failures": (med("task_failures"), "count"),
        "exec.speedup_1core": (raw["one_core_pass"]["wall_s"] / untraced_wall,
                               "ratio"),
        "shuffle.bytes_written": (med("shuffle_write_bytes"), "bytes"),
        "shuffle.records_written": (med("shuffle_write_records"), "count"),
        "shuffle.bytes_read": (med("shuffle_read_bytes"), "bytes"),
        "shuffle.partial_agg_reduction": (
            sum(k.get("partial_in", 0) for k in keys) / partial_out
            if partial_out else 1.0, "ratio"),
        "shuffle.write_s": (med("shuffle_write_ns") / 1e9, "s"),
        "shuffle.spill_bytes": (med("spill_bytes"), "bytes"),
        "memo.hit_ratio": (sum(memo) / len(memo) if memo else 0.0, "ratio"),
        "storage.blocks_mb_peak": (
            max((k.get("storage_mb", 0.0) for k in keys), default=0.0), "MB"),
        "trace.overhead_s": (
            median([p["wall_s"] for p in traced]) - untraced_wall, "s"),
    }
    return m, per_pass


def trace_report(raw, spans, per_pass, layer, path):
    """Self time per span name, tracing overhead, 1-core speedup, and
    the jobs per key and phase, from the harness-set job labels."""
    w = raw["workload"]
    n = len(per_pass)
    lines = [f"workload {w}: {n} traced passes, "
             f"{len(raw['passes']) - n} untraced"]
    lines.append("self time per span, seconds per traced pass:")
    for name, ns in sorted(bl.self_times(spans).items(), key=lambda x: -x[1]):
        lines.append(f"  {name:<10} {ns / 1e9 / n:9.3f}")
    lines.append(f"tracing overhead: {layer['trace.overhead_s'][0]:.3f} s per pass "
                 "(traced minus untraced pass_s)")
    lines.append(f"1-core pass / {raw['cores']}-core pass: "
                 f"{layer['exec.speedup_1core'][0]:.3f}")
    lines.append("jobs per traced pass: " +
                 " ".join(str(x["jobs"]) for x in per_pass))
    lines.append("jobs per key and phase (one column per traced pass):")
    counts = {}
    for j in spans:
        if j["name"] == "job":
            _, p, key, phase = j["parent"].split("/")
            counts.setdefault((key, phase), {}).setdefault(p, 0)
            counts[(key, phase)][p] += 1
    passes = [str(p["pass"]) for p in raw["passes"] if p["traced"]]
    for (key, phase), c in sorted(counts.items()):
        lines.append(f"  {key:<5} {phase:<10} " +
                     " ".join(str(c.get(p, 0)) for p in passes))
    path.write_text("\n".join(lines) + "\n")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}")
    keys = spec["workloads"][a.workload]["keys"]
    data = BENCH / "data" / f"sf{spec['sf']}"
    reference = json.loads((BENCH / "reference" / f"sf{spec['sf']}.json").read_text())
    for t, sha in reference["data_sha256"].items():
        if bl.file_sha256(data / f"{t}.parquet") != sha:
            fail(f"{t}.parquet differs from the data the reference was made on")
    cp = build.build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    t = time.monotonic()
    inp = OUT / "input" / f"seed{a.seed}"
    shutil.rmtree(inp, ignore_errors=True)
    bl.generate_input(data, inp, a.seed)
    gen_s = time.monotonic() - t

    cores = len(os.sched_getaffinity(0))
    for d in ("results", "logs", "trace", "check"):
        (OUT / d).mkdir(parents=True, exist_ok=True)
    check_dir = OUT / "check" / tag
    shutil.rmtree(check_dir, ignore_errors=True)
    raw_path = OUT / "results" / f"{tag}.raw.json"
    spans_path = OUT / "trace" / f"{tag}.spans.jsonl"
    log = OUT / "logs" / f"{tag}.log"
    run_harness(cp, {"heap": spec["driver_heap"], "harness": {
        "workload": a.workload, "keys": ",".join(keys), "input": inp,
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "scratch": OUT / "run", "check-dir": check_dir,
        "out": raw_path, "spans": spans_path}}, log)
    shutil.rmtree(inp)
    raw = json.loads(raw_path.read_text())
    raw["workload"] = a.workload

    verdicts = check(raw, check_dir, reference)
    timed = [k for p in raw["passes"] + [raw["warmup_pass"]] for k in p["keys"]]
    attempted = len(timed) + len(verdicts)
    failed = sum("error" in k for k in timed) + \
        sum(v is not None for v in verdicts.values())
    for key, v in verdicts.items():
        if v is not None:
            print(f"perfbench: {a.workload}/{key} failed the check: {v}",
                  file=sys.stderr)

    e2e, latencies = end_to_end(raw)
    record = {
        "provenance": {
            "commit": commit(), "source_sha256": build.source_stamp(),
            "nproc": cores, "local_n": raw["cores"],
            "driver_heap": spec["driver_heap"],
            "jit_flags": " ".join(JIT_FLAGS), "spark": raw["spark"],
            "jdk": raw["jdk"], "sf": spec["sf"], "seed": a.seed,
            "workload": a.workload, "keys": keys,
            "keys_sha256": bl.keys_sha256(keys)},
        "trace": a.trace,
        "end_to_end": e2e,
        "passes": len(raw["passes"]),
        "key_runs": len(latencies),
        "failed_frac": failed / attempted,
        "gen_s": gen_s,
        "check_s": raw["check_s"],
        "check": {k: v or "ok" for k, v in verdicts.items()},
    }
    try:
        record["query_tail"] = dict(zip(("value_s", "percentile", "n"),
                                        bl.tail(latencies)))
    except ValueError as e:
        record["query_tail"] = str(e)
    metrics = e2e
    if a.trace:
        spans = [json.loads(x) for x in spans_path.read_text().splitlines()]
        warn_lines = sum(" WARN " in x for x in log.read_text().splitlines())
        layer, per_pass = layer_metrics(raw, spans, warn_lines, cores)
        record["per_layer"] = layer
        record["per_pass"] = per_pass
        report = trace_report(raw, spans, per_pass, layer,
                              OUT / "trace" / f"{tag}.report.txt")
        print("\n".join(report))
        metrics = layer
    (OUT / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({k: record[k] for k in
                      ("provenance", "passes", "key_runs", "query_tail",
                       "failed_frac", "gen_s", "check_s")}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
