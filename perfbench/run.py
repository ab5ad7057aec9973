#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the program. A run builds the program from
the checkout's sources together with the benchmark (sbt, offline) whenever
those sources differ from the last build's, keyed by a hash of their content
kept under perfbench/.build; every run then starts one JVM for the workload. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; earlier lines carry per-layer detail.
The `query_inventory` results are compared with the DuckDB oracle afterwards,
under the rules of tools/oracle_check.py. The command exits non-zero when a
check fails, and without printing a result when it cannot run at all.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("sync_flat_singer", "query_inventory")
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash() -> str:
    """Hash of every file the build reads: the program's and the benchmark's
    sources and the benchmark's build definition."""
    h = hashlib.sha256()
    files = [p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*") if p.is_file()]
    files += [HERE / "build.sbt", *(p for p in (HERE / "project").iterdir() if p.is_file())]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def classpath() -> str:
    """The exported classpath, rebuilt when the sources differ from the
    ones it was built from."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT / 'src/main/scala'}")
    stamp, key = BUILD / "classpath.txt", BUILD / "sources.sha256"
    digest = source_hash()
    if stamp.exists() and key.exists() and key.read_text() == digest:
        return stamp.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")]))
    try:
        out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, capture_output=True, text=True, timeout=840,
                             stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-6000:] + out.stderr[-6000:])
        fail("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(lines[-1])
    key.write_text(digest)
    return lines[-1]


def oracle(qout: Path, tables: Path) -> int:
    """Failures of the set-up pass against DuckDB, by tools/oracle_check.py."""
    sys.path.insert(0, str(ROOT / "tools"))
    import oracle_check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = oracle_check.main(str(qout), str(tables))
    sys.stderr.write(buf.getvalue())
    fails = [l for l in buf.getvalue().splitlines() if l.endswith(" failures")]
    n = int(fails[-1].split()[0]) if fails else 1
    return max(n, 1 if rc else 0)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    cp = classpath()
    work = WORK / a.workload
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
           "-Djava.io.tmpdir=" + str(tmp), "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work), "--data", str(DATA)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload timed out")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"workload exited {proc.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    if a.workload == "query_inventory":
        n = oracle(work / "qout", DATA)
        result["attempted"] += len(json.loads((work / "qout" / "oracle_sql.json").read_text()))
        result["failed"] += n
        result["correct"] = result["correct"] and n == 0
        print(json.dumps({"oracle_failures": n}))
    print(json.dumps(result, sort_keys=True))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
