#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload panel|corpus --seed N \
      --seconds S --trace 0|1 [--fail-op NAME]

Builds the library and the harness from source when they changed
(perfbench/build.sbt, sbt offline), derives the seed's inputs (cached
under .bench_build/), launches one benchmark JVM directly (Spark
local[nproc], no sbt in the timed process), checks every op's output
against its DuckDB oracle, and prints the metrics. The last stdout line
is {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. The full artifact
(settings, host markers, per-op times, workload metrics, spans) goes to
.bench_build/perfbench/last-<workload>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import check  # noqa: E402
import inputs  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("panel", "corpus")
# the JVM's wall-time limit: set-up, check pass and probes, plus twice
# the measured seconds (a 20-second run ends well inside 180 s)
JVM_FIXED_S = 120
LOADED_HOST = 2.0
# the traced run's layer probes (perfbench.Layers), each one operation
PROBES = ("operators", "functions", "solvers", "ml", "sim", "dedup", "text",
          "streaming")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt compile of library + harness, skipped when sources are unchanged."""
    if not os.path.isdir(SPARK_JARS):
        sys.exit("[perfbench] SPARK_HOME must point at the Spark installation")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("[perfbench] library sources (src/main/scala/graft) not "
                 "found: run from the repository root")
    stamp = os.path.join(WORK, "build.stamp")
    fp = sources_fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == fp:
        return
    log("building library + harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} "
                   "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile"], cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit(f"[perfbench] build failed (exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"build took {time.time() - t0:.1f}s")


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, inputs_dir, run_dir):
    out, tmp = os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED"
                       for p in ADD_OPENS] +
           # C1 only: with C2, compiling Spark's generated classes took
           # 3-10 CPU-seconds in every 2.5-second panel pass on a 4-core
           # host, competing with the tasks, and panel pass times varied
           # up to 2x between runs
           ["-XX:TieredStopAtLevel=1", "-Xmx3g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{CLASSES}:{RESOURCES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs_dir,
            "--out", out, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace)])
    if args.fail_op:
        cmd += ["--fail-op", args.fail_op]
    # Spark's scratch space stays inside the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                         stderr=sys.stderr)
    deadline = time.time() + JVM_FIXED_S + 2 * args.seconds
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            p.kill()
            os.wait4(p.pid, 0)
            sys.exit("[perfbench] benchmark JVM timed out")
        time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        sys.exit(f"[perfbench] benchmark JVM failed (exit {code})")
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    return res, out, ru.ru_maxrss / 1024.0


def tail_percentile(xs):
    """(value, percentile, n): the highest percentile with >= 10 samples
    beyond it, or None when there are too few samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return None
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def ratio(num, den):
    return num / den if den > 0 else 0.0


def workload_metrics(res, ok_runs, best):
    """The workload's own named metrics (per-flow throughput and times)."""
    ops = res["ops"]

    def per_s(flow, key="records"):
        names = [n for n in best if ops[n]["flow"] == flow]
        return ratio(sum(ops[n][key] for n in names),
                     sum(best[n] for n in names))

    m = {}
    if res["workload"] == "panel":
        m["feature_rows_per_s"] = (per_s("features"), "rows/s")
        m["postprocess_eras_per_s"] = (per_s("postprocess"), "eras/s")
        m["score_rows_per_s"] = (per_s("score"), "rows/s")
    else:
        m["curate_docs_per_s"] = (per_s("curate"), "docs/s")
        m["search_qps"] = (per_s("search", "queries"), "queries/s")
        batch = [r["s"] for r in ok_runs if ops[r["name"]]["flow"] == "batch"]
        m["batch_p50_s"] = (statistics.median(batch) if batch else 0.0, "s")
        tail = tail_percentile(batch)
        if tail:
            m["batch_tail_s"] = (tail[0], "s")
            m["batch_tail_pct"] = (tail[1], "%")
        m["batch_n"] = (len(batch), "count")
        m["ingest_rows_per_s"] = (per_s("batch"), "rows/s")
    return m


def layer_metrics(res, cores, untraced_wall_s):
    """Spark execution metrics over the traced pass, plus the layer
    probes' metrics and the tracing overhead."""
    tp = res["traced_pass"]
    ok = [r for r in tp["ops"] if r.get("error") is None]
    spans = {s["name"]: s for s in res.get("spans", [])}
    tot = {}
    gap = 0.0
    for r in ok:
        s = spans.get("op." + r["name"])
        if not s:
            continue
        for k, v in s["counts"].items():
            tot[k] = tot.get(k, 0) + v
        gap += s["gap_s"]
    wall = tp["wall_s"]
    mb = 1024.0 * 1024.0
    m = {
        "plan.exchanges": tot.get("exchanges", 0),
        "plan.broadcasts": tot.get("broadcasts", 0),
        "stage.jobs": tot.get("jobs", 0),
        "stage.tasks": tot.get("tasks", 0),
        "stage.task_s": tot.get("task_s", 0.0),
        "stage.core_busy_frac": ratio(tot.get("task_s", 0.0), wall * cores),
        "stage.shuffle_write_mb": tot.get("shuffle_write_b", 0) / mb,
        "stage.shuffle_read_mb": tot.get("shuffle_read_b", 0) / mb,
        "stage.spill_mb": tot.get("spill_b", 0) / mb,
        "stage.gc_s": tot.get("gc_s", 0.0),
        "driver.gap_s": gap,
        "trace.overhead_frac": ratio(wall, untraced_wall_s) - 1.0,
    }
    m.update(res.get("layers", {}))
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", default=None,
                    help="make the named op throw (harness self-test)")
    args = ap.parse_args()

    load_start = os.getloadavg()[0]
    nproc = os.cpu_count()
    if load_start > LOADED_HOST:
        log(f"WARNING: host is loaded at start (loadavg {load_start:.2f} "
            f"on {nproc} cpus); timings may be inflated")
    t0 = time.time()
    build()
    inputs_dir = inputs.prepare(args.seed, os.path.join(BENCH, "data"),
                                os.path.join(WORK, "inputs"))

    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t1 = time.time()
        res, out_dir, rss_mb = run_jvm(args, inputs_dir, run_dir)
        t2 = time.time()
        if args.trace:
            with open(os.path.join(out_dir, "spans.json")) as fh:
                res["spans"] = json.load(fh)
        oracle = check.oracle_check(inputs_dir, out_dir, res["ops"])
        hashes = check.output_hashes(out_dir, res["check"])
        log(f"build+inputs {t1 - t0:.1f}s, benchmark JVM {t2 - t1:.1f}s, "
            f"output check {time.time() - t2:.1f}s")

        # an op is broken when its check-pass run threw or its output
        # disagrees with the oracle; a timed run also fails when it threw
        # or its row count differs from the check pass
        broken = {}
        for name, c in res["check"].items():
            if c["error"] is not None:
                broken[name] = c["error"]
            elif oracle.get(name):
                broken[name] = "oracle mismatch: " + oracle[name]
        runs = [r for p in res["passes"] for r in p["ops"]]
        if args.trace:
            runs += res["traced_pass"]["ops"]
        ok_runs, failed = [], {}
        for r in runs:
            why = broken.get(r["name"]) or r.get("error")
            if why is None and r["rows"] != res["check"][r["name"]]["rows"]:
                why = (f"timed rows {r['rows']} != checked rows "
                       f"{res['check'][r['name']]['rows']}")
            if why is None:
                ok_runs.append(r)
            else:
                failed.setdefault(r["name"], why)
        # a layer probe that threw is a failed operation too
        probe_errors = res.get("layer_errors", {})
        failed.update(probe_errors)
        attempted = len(runs) + (len(PROBES) if args.trace else 0)
        n_failed = len(runs) - len(ok_runs) + len(probe_errors)
        # each op's best timed run, as graft.Bench takes per-query minima:
        # slowdowns from a shared host are one-sided, so the minimum over
        # passes is the steadiest estimate of the op's own cost. With any
        # op failed there is no valid pass time: a broken op must not read
        # as a fast pass.
        best = {}
        for r in ok_runs:
            best[r["name"]] = min(best.get(r["name"], r["s"]), r["s"])
        wm = {} if failed else workload_metrics(res, ok_runs, best)
        if not failed:
            wm["op_p50_s"] = (statistics.median(best.values()), "s")
        wm["peak_rss_mb"] = (rss_mb, "MB")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (None if failed else sum(best.values()), "s"),
        "records_per_s": (None if failed else ratio(
            sum(res["ops"][n]["records"] for n in best),
            sum(best.values())), "records/s"),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    got = (layer_metrics(res, res["cores"], statistics.median(
        p["wall_s"] for p in res["passes"])) if args.trace
           else {k: v for k, (v, _) in e2e.items()})
    missing = [d["name"] for d in declared if d["name"] not in got]
    if missing and not probe_errors:
        sys.exit(f"[perfbench] no value for {', '.join(missing)}")
    # a failed probe's metrics stay null rather than read as a score
    metrics = {d["name"]: {"value": got.get(d["name"]), "unit": d["unit"]}
               for d in declared}

    artifact = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "commit": git_commit(), "settings": res["settings"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "nproc": nproc,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": {k: {"value": v, "unit": u}
                             for k, (v, u) in wm.items()},
        "failed_ops": ratio(n_failed, attempted),
        "failing": failed, "oracle": oracle,
        "outputs": {k: {"rows": c["rows"], "sha256": hashes[k]}
                    for k, c in res["check"].items()},
        "passes": res["passes"], "check": res["check"],
        "per_layer": metrics if args.trace else None,
        "missing_metrics": missing,
        "spans": res.get("spans"),
    }
    with open(os.path.join(WORK, f"last-{args.workload}.json"), "w") as fh:
        json.dump(artifact, fh)

    for k, (v, u) in list(e2e.items()) + list(wm.items()):
        shown = "invalid (an op failed)" if v is None else f"{v:.6g} {u}"
        print(f"{args.workload} {k} = {shown}")
    print(f"{args.workload} failed_ops = {n_failed}/{attempted}")
    for name, why in sorted(failed.items()):
        print(f"{args.workload} FAILED {name}: {why}")
    print(json.dumps({"correct": n_failed == 0, "attempted": attempted,
                      "failed": n_failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
