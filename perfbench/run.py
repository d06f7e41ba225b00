#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload forecast_fit --seed 1 --seconds 10 --trace 0

Builds the harness together with the program's sources (first run in a
checkout), generates the fixed input panel, runs one JVM client
(perfbench.Main) and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end figures, with --trace 1 the per-layer figures.

The full run record (stamp, per-op rows, failures) is written to
perfbench/.work/runs/<workload>-s<seed>-t<trace>.json; a traced run also
writes the span tree next to it (.spans.json). Exit code 0 only when
every op ran and every output matched its expected digest or oracle.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import datagen  # noqa: E402

# panel size per workload: (entities of the base panel, embedding vectors)
PANELS = {
    "forecast_fit": (150, 2000),
    "panel_kernels": (150, 500),
    "param_sweep": (150, 2000),
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    pats = [os.path.join(ROOT, "src", "main", "**", "*.scala"),
            os.path.join(BENCH, "src", "main", "**", "*.scala")]
    files = [f for p in pats for f in glob.glob(p, recursive=True)]
    return files + [os.path.join(BENCH, "build.sbt")]


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(stamp).read().strip()
    log("building harness and program with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def panel(workload):
    users, vectors = PANELS[workload]
    path = os.path.join(WORK, "data", f"u{users}-v{vectors}")
    if not os.path.isdir(path):
        datagen.main(path, users, vectors)
    return path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PANELS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mode", default="run", choices=["run", "pin", "dump"])
    ap.add_argument("--out", help="pin/dump target (default under .work)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: run from the repository root")

    classpath = build()
    data = panel(a.workload)
    t_start = time.time()  # the client's time limit excludes the one-off build
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK, "tmp", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "jtmp"))
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    out = os.path.abspath(a.out) if a.out else os.path.join(WORK, "runs", run_id + ".json")
    check_dir = os.path.join(work, "check") if a.workload == "param_sweep" and a.mode == "run" else None
    expected = os.path.join(BENCH, "expected", a.workload + ".json")

    nproc = os.cpu_count() or 1
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/jtmp",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out,
            "--mode", a.mode])
    if os.path.exists(expected):
        cmd += ["--expected", expected]
    if check_dir:
        cmd += ["--check-dir", check_dir]
    # the load gate waits for a quiet host before set-up, bounded so a run
    # still ends in time; the wait is stamped, not counted as set-up
    env = dict(os.environ, SPARK_GRAFT_LOAD_GATE=str(1.5 * nproc), SPARK_GRAFT_LOAD_WAIT_MAX="10")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(30.0, 175.0 - (time.time() - t_start)))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"client exited with {rc}")
    if a.mode != "run":
        return

    res = json.load(open(out))
    failed, attempted = res["failed"], res["attempted"]
    if check_dir:
        # every drawn parameter point against its FuzzBuilders oracle
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), check_dir, data],
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
        bad = [l for l in chk.stdout.splitlines() if l.startswith("FAIL")]
        for l in bad:
            log(l)
        if chk.returncode != 0 and not bad:
            log(chk.stdout[-2000:])
            bad = ["check.py failed"]
        failed += len(bad)
        res["oracle_check"] = [l for l in chk.stdout.splitlines() if l.startswith(("PASS", "FAIL"))]
        res["failed"] = failed
        with open(out, "w") as f:
            json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)

    stamp = res["stamp"]
    log(f"stamp nproc={stamp['nproc']} passes={stamp['passes']} traced={stamp['traced_passes']} "
        f"ops/pass={stamp['ops_per_pass']} op_samples={stamp['op_samples']} "
        f"op_tail=p{stamp['op_tail']['percentile']} (beyond {stamp['op_tail']['beyond']}) "
        f"setup_reps={stamp['setup_reps_s']} preflight={stamp['preflight']}")
    # exactly the metrics BENCHMARK.json lists, with its units
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    listed, values = (spec["per_layer"], res["per_layer"]) if a.trace else (spec["end_to_end"], res["end_to_end"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
