#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (its own build in `perfbench/`); later runs
reuse the build while the sources are unchanged. Each run is a fresh JVM.
It prints one `name value unit` line per metric, writes the same values to
`.bench_build/results/`, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
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
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["registry", "crawl"]
# Inputs are generated from the data seed, `--seed` mod DATA_SEEDS; the
# goldens hold every data seed, so every run's outputs are checked in full.
DATA_SEEDS = 10
PHASES = ["crawl_fat", "crawl_thin_durable"]
# A run must end within 180 s of its start, or of the end of the build when
# it had to build first.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JVM_HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            if "/target" not in d[len(ROOT):] for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log_path, **kw):
    """Runs `cmd` in its own process group, logging to `log_path`; the whole
    group is killed if it outlives `limit_s`. Returns the exit code."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the benchmark needs the program's sources")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(BUILD, "classpath.out")
    log = os.path.join(BUILD, "build.log")
    code = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         f"export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, out, cwd=HERE, env=env)
    with open(out) as f:
        lines = f.read().splitlines()
    shutil.copy(out, log)
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, data_seed, work, started):
    """One workload run in a fresh JVM; returns its raw result."""
    import datagen
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    extra, datagen_s = [], 0.0
    if args.workload == "registry":
        t0 = time.monotonic()
        data = datagen.write(data_seed, os.path.join(work, "data"))
        datagen_s = time.monotonic() - t0
        extra = ["--data", data]
    out = os.path.join(work, "result.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}", *opens, "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(data_seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out] + extra)
    log = os.path.join(BUILD, f"jvm-{args.workload}.log")
    limit = RUN_LIMIT_S - (time.monotonic() - started)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    code = run_bounded(cmd, max(limit, 10), log, cwd=ROOT, env=env)
    if code != 0 or not os.path.exists(out):
        fail(f"{args.workload} JVM exited {code} without a result; see {log}")
    with open(out) as f:
        raw = json.load(f)
    if args.trace:
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        shutil.copy(out, os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}.trace.json"))
    raw["values"]["setup_s"] += datagen_s
    raw["values"]["datagen_s"] = datagen_s
    return raw


def end_to_end(raw):
    """The end-to-end metrics of a run, plus workload-specific extras."""
    v = raw["values"]
    e2e, extra = {}, {}
    e2e["setup_s"] = (v["setup_s"], "s")
    heap = v.get("heap_live_mb") or [float("nan")]
    e2e["peak_heap_live_mb"] = (max(heap), "MiB")
    if raw["workload"] == "registry":
        qs = v.get("queries", [])
        total = sum(q["s"] for q in qs)
        e2e["items_per_s"] = (len(qs) / total if total else float("nan"), "1/s")
        extra["registry_total_s"] = (total, "s")
        extra.update(timing_summary("query_ms", [q["s"] * 1000 for q in qs]))
        for q in qs:
            extra[f"query.{q['name']}_s"] = (q["s"], "s")
    else:
        timed = [r for r in v.get("rounds", []) if r["timed"]]
        e2e["items_per_s"] = (urls_per_s(timed), "1/s")
        for phase in PHASES:
            mine = [r for r in timed if r["phase"] == phase]
            extra[f"{phase}.urls_per_s"] = (urls_per_s(mine), "URL/s")
            extra.update(timing_summary(f"{phase}.round_ms", [r["wall_s"] * 1000 for r in mine]))
        thin = sum(r["popped"] for r in v.get("rounds", []) if r["phase"] == "crawl_thin_durable")
        if "store_bytes" in v and thin:
            extra["store_bytes_per_url"] = (v["store_bytes"] / thin, "B/URL")
    return e2e, extra


def urls_per_s(rounds):
    """Σ popped / Σ wall over `rounds`."""
    wall = sum(r["wall_s"] for r in rounds)
    return sum(r["popped"] for r in rounds) / wall if wall else float("nan")


def timing_summary(name, samples):
    """Median and the highest percentile with ten samples beyond it."""
    out = {f"{name}.count": (len(samples), "count")}
    if samples:
        out[f"{name}.p50"] = (M.median(samples), "ms")
        tail = M.tail_percentile(samples)
        if tail:
            out[f"{name}.p{tail[0]}"] = (tail[1], "ms")
    return out


def per_layer(raw):
    """Per-layer metrics of a traced run; every workload reports all of them."""
    v, jobs, spans = raw["values"], raw.get("jobs", []), raw.get("spans", [])
    out = {}
    for layer, t in M.layer_totals(jobs, spans).items():
        if layer in M.LAYERS:
            out[f"{layer}.busy_s"] = (t["busy_s"], "s")
            out[f"{layer}.task_cpu_s"] = (t["task_cpu_s"], "s")
            out[f"{layer}.shuffle_bytes"] = (t["shuffle_bytes"], "B")
    qs = v.get("queries", [])
    for m in ["Relational", "Stats", "TextOps", "VectorOps", "SeenOps"]:
        out[f"queries.{m}_s"] = (sum(q["s"] for q in qs if q["module"] == m), "s")
    out["queries.SessionCache.entries"] = (v.get("session_cache_entries", 0), "count")
    timed = [r for r in v.get("rounds", []) if r["timed"]]
    round_spans = [s for s in spans if s["timed"] and raw["workload"] != "registry"]
    gap = 0.0
    for s in round_spans:
        inside = [(max(j["start_ms"], s["start_ms"]), min(j["end_ms"], s["end_ms"]))
                  for j in jobs if j["end_ms"] >= 0]
        gap += (s["end_ms"] - s["start_ms"] - M.interval_union(inside)) / 1000.0
    popped = sum(r["popped"] for r in timed)
    crawl_layers = ["crawl.CrawlRound", "crawl.Frontier", "crawl.Seen", "crawl.Crawler",
                    "store.SnapshotTable"]
    crawl_cpu = sum(out[f"{layer}.task_cpu_s"][0] for layer in crawl_layers)
    out.update({
        "crawl.round_wall_s": (sum(r["wall_s"] for r in timed), "s"),
        "crawl.run_s": (sum(r["run_s"] for r in timed), "s"),
        "crawl.pages_s": (sum(r["pages_s"] for r in timed), "s"),
        "crawl.checkpoint_s": (sum(r["checkpoint_s"] for r in timed), "s"),
        "crawl.driver_gap_s": (gap, "s"),
        "crawl.task_cpu_per_url_ms": (1000 * crawl_cpu / popped if popped else 0.0, "ms/URL"),
        "lineage.popped": (popped, "count"),
        "lineage.fetched": (sum(r["fetched"] or 0 for r in timed), "count"),
        "lineage.raw_candidates": (sum(r["raw_candidates"] or 0 for r in timed), "count"),
        "lineage.enqueued": (sum(r["enqueued"] or 0 for r in timed), "count"),
    })
    raw_c = out["lineage.raw_candidates"][0]
    out["lineage.enqueued_per_candidate"] = (
        out["lineage.enqueued"][0] / raw_c if raw_c else 0.0, "ratio")
    thin = sum(r["popped"] for r in v.get("rounds", []) if r["phase"] == "crawl_thin_durable")
    out["store.bytes_per_url"] = (
        v["store_bytes"] / thin if v.get("store_bytes") and thin else 0.0, "B/URL")
    for phase in PHASES:
        windows = [s for s in round_spans if s["name"] == f"{phase}.round"]
        busy = M.phase_busy(jobs, spans, windows)
        wall = sum(s["end_ms"] - s["start_ms"] for s in windows) / 1000.0
        out[f"{phase}.CrawlRound_share"] = (
            busy.get("crawl.CrawlRound", 0.0) / wall if wall else 0.0, "ratio")
    return out


def phase_report(raw):
    """Per crawl of a traced run, each layer's busy seconds inside that
    crawl's timed rounds (printed, not part of the result line)."""
    jobs, spans = raw.get("jobs", []), raw.get("spans", [])
    out = {}
    for phase in PHASES:
        windows = [s for s in spans if s["timed"] and s["name"] == f"{phase}.round"]
        for layer, busy in M.phase_busy(jobs, spans, windows).items():
            out[f"{phase}.{layer}.busy_s"] = (busy, "s")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's output fingerprints as the goldens of its data seed")
    args = ap.parse_args()

    classpath = build()
    started = time.monotonic()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_seed = args.seed % DATA_SEEDS
    try:
        raw = run_jvm(classpath, args, data_seed, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check, record = {"registry": (checks.check_registry, checks.record_registry),
                     "crawl": (checks.check_crawl, checks.record_crawl)}[args.workload]
    if args.record_goldens:
        record(raw, data_seed)
    found = check(raw, data_seed)
    run_checks = list(raw["checks"]) + found

    failed_ops = raw["failed"] + sum(1 for c in found if not c["ok"])
    attempted = max(raw["attempted"], 1)
    failed = min(failed_ops, attempted)
    e2e, extra = end_to_end(raw)
    report = dict(extra)
    if args.trace:
        layers = per_layer(raw)
        report.update(phase_report(raw))
        report.update({f"traced.{k}": v for k, v in e2e.items()})
        report.update(layer_overhead(args.workload, e2e))
        chosen = layers
    else:
        save_untraced(args.workload, e2e)
        chosen = e2e
    report.update(chosen)
    report["failed_frac"] = (failed / attempted, "ratio")

    for name, (value, unit) in report.items():
        print(f"{M.check_name(name)} {value!r} {unit}")
    for c in run_checks:
        if not c["ok"]:
            print(f"check failed: {c['name']} {c['detail'][:300]}", file=sys.stderr)
    # A workload that could not finish has checks that failed and metrics it
    # never measured; those print as 0 so the result line stays strict JSON.
    result = {
        "correct": all(c["ok"] for c in run_checks),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v if v == v else 0.0, "unit": u}
                    for k, (v, u) in chosen.items()},
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"result": result, "report": report, "checks": run_checks,
                   "values": raw["values"]}, f, indent=1)
    print(json.dumps(result))


def save_untraced(workload, e2e):
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, f"untraced-{workload}.json"), "w") as f:
        json.dump(e2e, f)


def layer_overhead(workload, traced):
    """Tracing overhead: traced minus untraced value of each end-to-end metric,
    against the latest untraced run of the workload in this checkout."""
    path = os.path.join(BUILD, f"untraced-{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)
    return {f"trace_overhead.{k}": (traced[k][0] - b[0], b[1])
            for k, b in base.items() if k in traced}


if __name__ == "__main__":
    main()
