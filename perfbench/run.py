#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one workload in a
fresh JVM, checks its outputs and prints the result as one JSON line.

    python3 perfbench/run.py --workload align_long --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test

See perfbench/README.md for workloads, metrics and output files.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
TARGET = HERE / "target"
WORKLOADS = ("align_long", "catalog_shared")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp_file, cp_file = TARGET / "perfbench.stamp", TARGET / "perfbench.classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, workload, seed, seconds, trace, out, result):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--cpus", str(cpus()),
              "--root", str(ROOT), "--out", str(out), "--result", str(result)])
    env = dict(os.environ, GRAFT_REPO_DIR=str(ROOT), SPARK_GRAFT_CPUS=str(cpus()))
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    with subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr) as proc:
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{workload}: the JVM did not finish in {JVM_TIMEOUT_S} s")
    if code != 0 or not result.exists():
        raise SystemExit(f"{workload}: the JVM exited with code {code}")
    return json.loads(result.read_text())


def oracle_check(dump_dir, queries):
    """Compare the catalog dump with the repository's DuckDB oracle."""
    p = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "oracle" / "check.py"),
         str(HERE / "data" / "sf0.01"), str(dump_dir)],
        capture_output=True, text=True, timeout=170)
    status = dict(re.findall(r"^(q_\w+): (\w+)", p.stdout, re.M))
    bad = [q for q in queries if status.get(q) != "PASS"]
    problems = [f"oracle compare: {q} {status.get(q, 'MISSING')}" for q in bad]
    if p.returncode != 0:
        problems.append(f"oracle compare exited {p.returncode}: {p.stderr[-500:]}")
    return problems


def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check failure accounting with one injected throwing query")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"program sources not found under {ROOT / 'src'}")

    classpath = build()
    workload = "selftest" if a.self_test else a.workload
    out = OUT / workload
    out.mkdir(parents=True, exist_ok=True)
    result_file = out / f"result-seed{a.seed}-trace{a.trace}.json"
    result_file.unlink(missing_ok=True)
    r = run_jvm(classpath, workload, a.seed, a.seconds, a.trace == 1, out, result_file)
    shutil.rmtree(out / "tmp", ignore_errors=True)

    problems = list(r["problems"])
    if workload == "catalog_shared":
        problems += oracle_check(r["notes"]["dump_dir"], r["notes"]["queries"].split(","))
    if not a.self_test:
        want = declared(a.trace == 1)
        got = [(k, v["unit"]) for k, v in r["metrics"].items()]
        if sorted(got) != sorted(want):
            problems.append(f"metrics {sorted(got)} do not match BENCHMARK.json {sorted(want)}")
    for p in problems:
        log(f"CHECK FAILED: {p}")
    correct = not problems

    # human-readable summary, then the result line
    failed_share = r["failed"] / r["attempted"]
    print(f"{workload} seed={a.seed} trace={a.trace} correct={correct} "
          f"attempted={r['attempted']} failed={r['failed']} "
          f"failed_share={failed_share:.6g} share failed_names={r['failed_names']}")
    for k, v in r["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    for k, v in r["notes"].items():
        print(f"  note {k}: {v}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
