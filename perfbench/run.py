#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, timed, checked.

    python3 perfbench/run.py --workload graphrag --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the engine plus the harness in
perfbench/harness (sbt, offline) when their sources changed, generates the
workload's inputs from the seed (gen.py), runs the passes in one JVM
(graft.perfbench.Main), checks the outputs against the query's DuckDB oracle
(check.py), and prints one JSON line: the end-to-end metrics with
--trace 0, the per-layer span metrics with --trace 1. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

WORKLOADS = ("graphrag", "curation")
SPANS = {
    "graphrag": ["tables.edges", "graph.lpaLeidenRefineMulti",
                 "operators.topNFrequent", "operators.topKPerGroup",
                 "queries.q150_graphrag_capstone"],
    "curation": ["text.qualityScore", "dedup.exactGroups",
                 "dedup.decontaminateNgrams", "dedup.hashSplit3",
                 "queries.q106_curation_pipeline"],
}
SPAN_FIELDS = [("wall_s", "s"), ("driver_s", "s"), ("plan_s", "s"),
               ("jobs", "count"), ("task_s", "s"), ("shuffle_write_mb", "MB"),
               ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB")]
RUN_BUDGET_S = 170  # a run (after any build) must end within 180 s
BUILD_BUDGET_S = 700  # first run: build + run within 900 s
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Run cmd in its own process group; kill the group on timeout and wait
    for it, so nothing outlives the benchmark. Returns (rc, output)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:  # timed out, or this process is being stopped
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path) as f:
        return rc, f.read()


def fingerprint():
    """Hash of every file the build reads: engine sources, the engine's
    build.sbt (it names Spark's jars) and the harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        HARNESS, BUILD_BUDGET_S, os.path.join(BUILD, "sbt.log"), env)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{out[-4000:]}")
    cp = [ln for ln in out.splitlines() if "classes" in ln and os.pathsep in ln]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return cp[-1].strip()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, untraced):
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "pipeline_s": (median([p["wall_s"] for p in untraced]), "s"),
    }


def per_layer(res, warmup, untraced, traced):
    out = {}
    spans = res["spans"]
    for name in [s for w in WORKLOADS for s in SPANS[w]]:
        for field, unit in SPAN_FIELDS:
            vals = [p.get(name, {}).get(field, 0.0) for p in spans]
            out[f"{name}.{field}"] = (median(vals), unit)
    tw, uw = median([p["wall_s"] for p in traced]), median([p["wall_s"] for p in untraced])
    out["trace_overhead_frac"] = (tw / uw - 1.0 if uw else 0.0, "fraction")
    out["unattributed_jobs"] = (res["unattributed_jobs"], "count")
    out["tasks_failed"] = (sum(p["tasks_failed"] for p in res["passes"]), "count")
    out["leaked_rdds"] = (median([p["leaked_rdds"] for p in untraced]), "count")
    out["pass_jobs"] = (median([p["jobs"] for p in untraced]), "count")
    out["pass_task_s"] = (median([p["task_s"] for p in untraced]), "s")
    out["pass_peak_exec_mem_mb"] = (median([p["peak_exec_mem_mb"] for p in untraced]), "MB")
    out["first_pass_s"] = (warmup["wall_s"], "s")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM or sbt is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    sys.path.insert(0, HERE)
    import check
    import gen

    classpath = build()
    t_start = time.time()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    try:
        t0 = time.time()
        input_rows = gen.generate(a.workload, a.seed, data_dir)
        gen_s = time.time() - t0
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # the parallel collector: pass times varied less from one JVM to the
        # next than with G1 (README.md, steadiness record)
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
               + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
                  f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                  "-cp", classpath, "graft.perfbench.Main",
                  a.workload, data_dir, out_dir, str(a.seconds), str(a.trace)])
        budget = RUN_BUDGET_S - (time.time() - t_start) - 10
        rc, log = run_bounded(cmd, run_dir, budget, os.path.join(run_dir, "jvm.log"))
        if rc != 0:
            fail(f"workload JVM failed (rc={rc}):\n{log[-4000:]}")
        with open(os.path.join(out_dir, "result.json")) as f:
            res = json.load(f)
        ok, msg = check.oracle_matches(data_dir, os.path.join(out_dir, "reference"),
                                       res["oracle_sql"])
        passes = res["passes"]
        warmup = passes[0]
        untraced = [p for p in passes if p["kind"] == "untraced"]
        traced = [p for p in passes if p["kind"] == "traced"]
        bad = [p for p in passes if p["error"] or not p["matches_reference"]]
        failed = len(passes) if not ok else len(bad)
        metrics = per_layer(res, warmup, untraced, traced) if a.trace else end_to_end(res, untraced)
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "input_rows": input_rows, "gen_s": gen_s, "oracle": msg,
                  "setup_s": res["setup_s"],
                  "passes": [{k: p[k] for k in ("kind", "wall_s", "jobs", "task_s",
                                                "peak_exec_mem_mb", "leaked_rdds", "rows",
                                                "matches_reference", "error")}
                             for p in passes]}
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        with open(os.path.join(WORK, "runs",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
        print(json.dumps(detail))
        print(json.dumps({
            "correct": ok and not bad,
            "attempted": len(passes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
