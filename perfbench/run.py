#!/usr/bin/env python3
"""Benchmark command: builds the program and its harness from source, runs
one workload, and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload doc_chat_refresh --seed 1 \
        --seconds 25 --trace 0

Run it from the root of a checkout. The build goes to `.bench_build/` in
the checkout and is reused while the sources are unchanged. With
`--trace 0` the result carries the end-to-end metrics of BENCHMARK.json,
with `--trace 1` the per-layer ones. The exit code is 0 only when every
operation succeeded and every output check passed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170          # each run must end within 180 s
BUILD_LIMIT_S = 840        # the first run of a checkout may take 900 s
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
# traced numbers minus untraced ones, reported by the traced run
OVERHEAD = ["query_p50_ms", "build_s", "pass_s"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build():
    """Compiles program + harness unless the last build saw these sources."""
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.unlink(missing_ok=True)
    log = BUILD / "build.log"
    # the build resolves only from local caches: there is no network
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BENCH, out, BUILD_LIMIT_S, env)
    if rc != 0 or not cp_file.exists():
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {rc}); see {log}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_group(cmd, cwd, out, limit_s, env=None):
    """Runs cmd in its own process group; kills what is left of the group
    when cmd ends or hits the limit, and waits, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def tail(path, n=40):
    try:
        return "".join(Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="make one operation of the workload throw (tests)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources (src/main/scala) in this checkout", 2)
    testdata = os.environ.get("GRAFT_TESTDATA", str(Path.home() / "testdata"))
    if not (Path(testdata) / "sf0.1").is_dir():
        fail(f"test data not found under {testdata} (set GRAFT_TESTDATA)", 2)
    end_to_end, per_layer = metric_specs()

    classpath = ensure_build()
    tmp = BUILD / "tmp"
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    result_file = BUILD / "logs" / f"{tag}.json"
    result_file.unlink(missing_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", str(BENCH), "--build-dir", str(BUILD),
            "--testdata", testdata, "--result", str(result_file)]
    if a.plant_failure:
        cmd += ["--plant-failure", "1"]
    log = BUILD / "logs" / f"{tag}.log"
    spawned = time.time()
    with open(log, "w") as out:
        rc = run_group(cmd, ROOT, out, RUN_LIMIT_S)
    if rc != 0 or not result_file.exists():
        sys.stderr.write(tail(log))
        fail(f"harness exited {rc} without a result; see {log}")
    res = json.loads(result_file.read_text())

    e2e = dict(res["end_to_end"])
    if "ready_epoch_ms" in res["detail"]:
        e2e["setup_s"] = {"value": int(res["detail"]["ready_epoch_ms"]) / 1000.0 - spawned, "unit": "s"}
    cache = BUILD / "results"
    cache.mkdir(exist_ok=True)
    if a.trace == 0:
        (cache / f"{a.workload}-{a.seed}.json").write_text(json.dumps(e2e))
        wanted, got = end_to_end, e2e
    else:
        got = dict(res["per_layer"])
        got["failed_share"] = {"value": res["failed"] / max(1, res["attempted"]), "unit": "share"}
        base_file = cache / f"{a.workload}-{a.seed}.json"
        if not base_file.exists():
            others = sorted(cache.glob(f"{a.workload}-*.json"), key=lambda p: p.stat().st_mtime)
            base_file = others[-1] if others else None
        base = json.loads(base_file.read_text()) if base_file else {}
        for m in OVERHEAD:
            if m in base and m in e2e:
                got[f"trace.overhead_{m}"] = {"value": e2e[m]["value"] - base[m]["value"],
                                              "unit": e2e[m]["unit"]}
        wanted = per_layer
    metrics = {}
    for spec in wanted:
        m = got.get(spec["name"])
        if m is None and a.trace == 0:
            fail(f"workload did not measure {spec['name']}")
        value = m["value"] if m is not None else 0.0
        metrics[spec["name"]] = {"value": value if value is not None else 0.0, "unit": spec["unit"]}

    ok = res["correct"] and res["failed"] == 0
    print("perfbench detail: " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failures": res["failures"], "check_failures": res["check_failures"][:20],
        "detail": res["detail"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
