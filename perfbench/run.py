#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness from source (first run only), runs one
workload in one JVM, checks its outputs against `perfbench/pins.tsv`, and
prints one JSON line: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`).
The full record of the run (per-item times, first-touch costs, checks,
layer counters) and, when traced, its spans are written to
`<build>/out/`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("catalog_mix", "estimator_loop")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, work, args, log):
    """Runs perfbench.Main in its own process group; kills the group on
    timeout and always waits for it to end."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s; log in {log}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def item_medians(samples):
    by = {}
    for s in samples:
        if s["ok"]:
            by.setdefault(s["item"], []).append(s["s"])
    return {k: M.median(v) for k, v in by.items()}


def end_to_end(raw):
    ok = [s["s"] for s in raw["samples"] if s["ok"]]
    if not ok:
        raise SystemExit("perfbench: no successful timed item")
    if M.percentile(ok, 0.5) is None:
        print(f"perfbench: only {len(ok)} samples; fewer than {M.MIN_BEYOND} lie beyond the median",
              file=sys.stderr)
    if raw["workload"] == "estimator_loop":
        rate = len(ok) / raw["analyze_wall_s"]
    else:
        rate = len(ok) / sum(raw["pass_wall_s"])
    return {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (M.median(raw["pass_wall_s"]), "s"),
        "latency_p50_s": (M.median(ok), "s"),
        "geomean_s": (M.geomean(item_medians(raw["samples"]).values()), "s"),
        "items_per_s": (rate, "1/s"),
        "heap_peak_mb": (max(raw["heap_after_gc_mb"]), "MB"),
    }


def per_layer(raw, spans):
    passes = len(raw["pass_wall_s"])
    wall = sum(raw["pass_wall_s"])
    layers = raw["layers"]
    phases = layers["by_phase"]
    total = {}
    for w in phases.values():
        for k, v in w.items():
            total[k] = total.get(k, 0) + v
    selfs = M.self_seconds_by_name(spans)

    def phase(name, key):
        return phases.get(name, {}).get(key, 0)

    def share(span):
        return selfs.get(span, 0.0) / wall

    med = item_medians(raw["samples"])
    est = raw["workload"] == "estimator_loop"
    analyzed = max(1, sum(1 for s in raw["samples"] if s["ok"]))
    values = {
        "queries.build_share": (share("queries.build"), "ratio"),
        "queries.build_jobs": (phase("build", "jobs") / passes, "count"),
        "catalyst.plan_s": (layers["catalyst_s"] / passes, "s"),
        "exec.action_s": (layers["sql_action_s"] / passes, "s"),
        "spark.jobs": (total.get("jobs", 0) / passes, "count"),
        "spark.stages": (total.get("stages", 0) / passes, "count"),
        "spark.tasks": (total.get("tasks", 0) / passes, "count"),
        "spark.sched_wait_s": (total.get("sched_wait_s", 0) / passes, "s"),
        "spark.executor_cpu_s": (total.get("executor_cpu_s", 0) / passes, "s"),
        "spark.shuffle_write_mb": (total.get("shuffle_write_mb", 0) / passes, "MB"),
        "spark.shuffle_read_mb": (total.get("shuffle_read_mb", 0) / passes, "MB"),
        "spark.spill_mb": (total.get("spill_mb", 0) / passes, "MB"),
        "spark.core_busy": (total.get("executor_run_s", 0) / (wall * raw["cores"]), "ratio"),
        "spark.gc_s": (raw["gc_s"] / passes, "s"),
        "sources.read_mb": (total.get("read_mb", 0) / passes, "MB"),
        "sources.read_rows": (total.get("read_rows", 0) / passes, "count"),
        "model.stats_share": (share("model.stats"), "ratio"),
        "model.stats_jobs": (phase("model.stats", "jobs") / passes, "count"),
        "gen.gen_share": (share("gen.gen"), "ratio"),
        "gen.valid_ratio": (raw["valid"] / raw["generated"] if est else 0.0, "ratio"),
        "ir.parse_share": (share("ir.parse"), "ratio"),
        "encode.encode_share": (share("encode.encode"), "ratio"),
        "encode.ok_ratio": (raw["encoded_ok"] / max(1, raw["used"]) if est else 0.0, "ratio"),
        "lab.analyze_share": (share("lab.analyze"), "ratio"),
        "lab.jobs_per_query": (phase("lab.analyze", "jobs") / analyzed if est else 0.0, "count"),
        "estimate.featurize_share": (share("estimate.featurize"), "ratio"),
        "estimate.train_share": (share("estimate.train"), "ratio"),
        "estimate.predict_share": (share("estimate.predict"), "ratio"),
        "session.conf_drift": (len(raw["conf_drift"]), "count"),
        "session.cached_rdds_end": (raw["cached_rdds_end"], "count"),
        "session.unattributed_jobs": (phases.get("unattributed", {}).get("jobs", 0), "count"),
        "host.trivial_s": (raw["trivial_s"] if est else sum(med[q] for q in raw["trivial"]), "s"),
        "host.steal_frac": (raw.get("host_steal_frac", 0.0), "ratio"),
        "trace.overhead_frac": (layers["listener_busy_s"] / wall, "ratio"),
    }
    return values


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    classes = build.ensure()
    bdir = build.build_dir()
    out_dir = bdir / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = bdir / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw_path, spans_path = work / "raw.json", out_dir / f"{tag}.spans.jsonl"
    ticks0 = cpu_ticks()
    try:
        rc = jvm(classes, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(HERE / "data"),
            "--pins", str(HERE / "pins.tsv"), "--out", str(raw_path),
            "--spans", str(spans_path)], out_dir / f"{tag}.log")
        if rc != 0 or not raw_path.is_file():
            raise SystemExit(f"perfbench: JVM exited {rc}; log in {out_dir / (tag + '.log')}")
        raw = json.loads(raw_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ticks1 = cpu_ticks()
    # share of CPU time the hypervisor took from the VM during the run: a
    # slow run with high steal was slowed by the host, not by the program
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        raw["host_steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    if a.trace:
        spans = [json.loads(l) for l in spans_path.read_text().splitlines() if l.strip()]
        values = per_layer(raw, spans)
    else:
        spans_path.unlink(missing_ok=True)
        values = end_to_end(raw)
    raw["metrics"] = {k: v for k, (v, _) in values.items()}
    raw["samples_ok"] = sum(1 for s in raw["samples"] if s["ok"])
    (out_dir / f"{tag}.json").write_text(json.dumps(raw, indent=1) + "\n")
    for e in raw["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    result = {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
