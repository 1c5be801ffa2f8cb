#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The run itself is one JVM
(perfbench.Main), then, for the query workloads, the repository's DuckDB
oracle compare (scripts/compare_oracle.py) of the results it dumped.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it is the full report:
every metric, the host block and every failed check. A traced run also
leaves its spans in perfbench/.work/traces/. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.001"
WORKLOADS = ["etl_incremental", "graph_fixpoint", "corpus_materialize"]
# the benchmark JVM's heap, after the engine's own flags (last -Xmx wins)
HEAP = "-Xmx2g -Xms2g -XX:-UsePerfData"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_TIMEOUT_S = 150


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src" / "main"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Builds when needed; returns the JVM arguments (flags, classpath)."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        die("engine sources not found: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    digest = sources_digest()
    stamp, launch = WORK / "build.stamp", WORK / "launch.args"
    if not (stamp.is_file() and launch.is_file() and stamp.read_text() == digest):
        WORK.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = Path.home() / ".sbt" / "repositories"
        if "SBT_OPTS" not in env and repos.is_file():
            # resolve from the configured repositories' local cache only
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
        if p.returncode != 0 or not launch.is_file():
            sys.stderr.write(p.stdout[-4000:])
            die("build failed")
        stamp.write_text(digest)
    return launch.read_text().split("\n")[:-1]


def oracle_check(dumps, deadline):
    """Compares the dumped query results with their DuckDB oracle through
    the repository's own scripts/compare_oracle.py, which also fails the
    queries listed in <dumps>/_verify_failed.json. Returns the number of
    queries compared and a failed check per query that did not pass."""
    with open(Path(dumps) / "oracle_sql.json") as f:
        want = len(json.load(f))
    try:
        p = subprocess.run(
            [sys.executable, str(ROOT / "scripts" / "compare_oracle.py"),
             str(DATA), dumps], cwd=ROOT, stdin=subprocess.DEVNULL,
            capture_output=True, text=True,
            timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("oracle compare timed out", 1)
    fails, passed = {}, 0
    for line in p.stdout.splitlines():
        if line.startswith("PASS "):
            passed += 1
        elif line.startswith("FAIL "):
            name, _, detail = line[len("FAIL "):].partition(": ")
            fails.setdefault(name, detail)
    checks = [{"name": f"oracle {n}", "ok": False, "detail": d}
              for n, d in sorted(fails.items())]
    if passed + len(fails) != want or (p.returncode != 0 and not fails):
        checks.append({"name": "oracle compare", "ok": False,
                       "detail": f"exit {p.returncode}, {passed} passed, "
                                 f"{len(fails)} failed of {want}: "
                                 + (p.stdout + p.stderr)[-2000:]})
    return passed + len(fails), checks


def declared(trace):
    with open(ROOT / "BENCHMARK.json") as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def main():
    # a terminated run still stops the build or JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--tiny", action="store_true",
                    help="the benchmark's own tests: smallest inputs")
    a = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").is_file():
        die("BENCHMARK.json not found: run from the root of a checkout")
    jvm = build()
    deadline = time.time() + RUN_TIMEOUT_S

    run_dir = WORK / f"run-{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java"] + jvm[:-2] + HEAP.split() + [f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + jvm[-2:] + ["perfbench.Main",
                         "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", str(DATA), "--run-dir", str(run_dir)]
           + (["--tiny"] if a.tiny else []))
    launched = time.time()
    try:
        with open(run_dir / "jvm.log", "w") as log:
            p = subprocess.run(cmd + ["--launched-at", f"{launched:.6f}"],
                               cwd=ROOT, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not (run_dir / "result.json").is_file():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
            die(f"benchmark JVM failed (exit {p.returncode})", 1)
    except subprocess.TimeoutExpired:
        die("benchmark JVM timed out", 1)
    with open(run_dir / "result.json") as f:
        res = json.load(f)

    failed_checks = [c for c in res["checks"] if not c["ok"]]
    compared = 0
    dumps = res["info"].pop("dumps", None)
    if dumps:
        compared, oracle_fails = oracle_check(dumps, deadline)
        failed_checks += oracle_fails
    attempted = res["attempted"]
    failed = res["failed_ops"] + len(failed_checks)
    metrics = dict(res["metrics"])
    metrics["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio"}

    # a workload reports 0 for the layers it never calls into (the ETL has
    # no query build/plan/execute; the query workloads no ingest or load)
    chosen, bypassed = {}, []
    for m in declared(a.trace):
        name = m["name"]
        if name in metrics:
            if metrics[name]["unit"] != m["unit"]:
                die(f"metric {name}: unit {metrics[name]['unit']} is not {m['unit']}")
            chosen[name] = metrics[name]
        elif a.trace:
            chosen[name] = {"value": 0, "unit": m["unit"]}
            bypassed.append(name)
        else:
            die(f"metric {name} was not measured")

    if a.trace and (run_dir / "trace.json").is_file():
        traces = WORK / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(run_dir / "trace.json",
                    traces / f"{a.workload}-seed{a.seed}.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = failed == 0
    print(json.dumps({
        "report": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "host": res["host"], "info": res["info"],
            "checks_run": len(res["checks"]) + compared,
            "failed_checks": failed_checks, "metrics": metrics,
            "bypassed": bypassed,
        }}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": chosen}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
