#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload mr_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) and caches the classpath under
perfbench/target; later runs start the JVM directly. stdout ends with two
JSON lines: the full run record (also appended to
perfbench/results/records.jsonl), then the summary
{"correct", "attempted", "failed", "metrics"}. Everything else goes to
stderr.

    python3 perfbench/run.py --record-digests --oracle-sf-dir DIR

re-records perfbench/digests.json from this checkout and checks each
query against its DuckDB oracle with tools/check.py over DIR, a directory
holding the full sf0.1 fixture.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
STAMP = TARGET / "bench-classpath.stamp"
WORK = HERE / "work"
RESULTS = HERE / "results"
WORKLOADS = ["mr_bulk", "mr_jobs", "tpch"]
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 660

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0")
        h.update(p.read_bytes() + b"\0")
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else ""
    except (OSError, subprocess.TimeoutExpired):
        return ""


def run_child(cmd, timeout, cwd, env=None, capture=False):
    """Run cmd in its own process group; kill the group on timeout and
    always wait for it. Returns (returncode, captured stdout)."""
    proc = subprocess.Popen(
        cmd, cwd=cwd, env=env, start_new_session=True,
        stdout=subprocess.PIPE if capture else sys.stderr, stderr=sys.stderr,
        text=capture)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout:.0f} s: {cmd[0]}")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return 124, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def classpath(digest):
    """The harness classpath, building first when the sources changed.
    Returns (classpath, whether this call built)."""
    if CLASSPATH.exists() and STAMP.exists() and \
            STAMP.read_text().strip() == digest:
        return CLASSPATH.read_text().strip(), False
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, HERE, env=env, capture=True)
    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    sys.stderr.write("\n".join(lines[:-1][-20:]) + "\n")
    if rc != 0 or not lines or "classes" not in lines[-1]:
        raise SystemExit(f"build failed (sbt exit {rc})")
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip() + "\n")
    STAMP.write_text(digest + "\n")
    return lines[-1].strip(), True


def java_cmd(cp, tmp, main, args):
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap, so that the collector sizes it the same way every run
    return (["java", *opens, "-Xms2g", "-Xmx2g",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
             "-cp", cp, main] + [str(a) for a in args])


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)


def check_checkout():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala: "
                         "run from the root of a full checkout")


def record_digests(oracle_sf_dir):
    cp, _ = classpath(source_digest())
    fresh_work()
    dump = WORK / "digest-check"
    rc, _ = run_child(java_cmd(cp, WORK / "tmp", "perfbench.Digests", [
        HERE / "fixture" / "sf0.1", HERE / "digests.json", dump]),
        600, ROOT)
    if rc != 0:
        raise SystemExit(f"digest recording failed ({rc})")
    check = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check.py"), oracle_sf_dir,
         str(dump)], capture_output=True, text=True)
    sys.stderr.write(check.stdout)
    green = {ln.split(":")[0] for ln in check.stdout.splitlines()
             if ": OK (" in ln}
    doc = json.loads((HERE / "digests.json").read_text())
    for name, entry in doc["queries"].items():
        entry["oracle"] = "duckdb" if name in green else "regression-only"
    (HERE / "digests.json").write_text(json.dumps(doc, indent=2) + "\n")
    log(f"{len(green)}/{len(doc['queries'])} digests oracle-checked")


def main():
    started = time.monotonic()
    # a terminated run still kills and waits for its child process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--oracle-sf-dir")
    a = ap.parse_args()
    check_checkout()
    if a.record_digests:
        if not a.oracle_sf_dir:
            ap.error("--record-digests needs --oracle-sf-dir")
        record_digests(a.oracle_sf_dir)
        return 0
    if not a.workload:
        ap.error("--workload is required")

    digest = source_digest()
    cp, built = classpath(digest)
    fresh_work()
    result = WORK / "result.json"
    # a run that had to build may take the first-run allowance
    left = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - \
        (time.monotonic() - started)
    rc, _ = run_child(java_cmd(cp, WORK / "tmp", "perfbench.Main", [
        "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
        "--trace", a.trace, "--root", ROOT, "--work", WORK,
        "--result", result, "--git-sha", git_sha(),
        "--source-digest", digest]), left, ROOT)
    if rc != 0 or not result.exists():
        log(f"run failed (exit {rc})")
        return rc or 1
    out = json.loads(result.read_text())
    RESULTS.mkdir(exist_ok=True)
    with open(RESULTS / "records.jsonl", "a") as f:
        f.write(json.dumps(out["record"]) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out["record"]))
    print(json.dumps(out["summary"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
