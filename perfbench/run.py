#!/usr/bin/env python3
"""graft benchmark: build, run one workload, check results, print metrics.

    python3 perfbench/run.py --workload kernels --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Other
modes:

    --selftest                 fail unless every listed statement is registered
    --record a,b,c --passes P --out FILE
                               one traced window per statement, P passes, no
                               warm-up (the probe behind the frozen lists)

See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# the sf0.1 corpus of TESTDATA.md; the same setting graft.Bench reads
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
JVM_TIMEOUT_S = 165   # the whole run must end within 180 s
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, to reuse a previous build."""
    h = hashlib.sha1()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src", HERE / "project"):
        inputs += sorted(p for p in base.rglob("*")
                         if p.is_file() and "target" not in p.parts)
    inputs.append(HERE / "build.sbt")
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the benchmark JVM's
    classpath and graft's JVM options (perfbench/build.sbt's benchJvm)."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            sys.exit(f"perfbench: {need} not found; run from a graft checkout")
    stamp = source_stamp()
    jvm_file, stamp_file = BUILD / "jvm.txt", BUILD / "stamp.txt"
    if not (jvm_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        run_sbt(jvm_file)
        stamp_file.write_text(stamp)
    cp, *options = jvm_file.read_text().splitlines()
    return cp, options


def run_sbt(jvm_file):
    log("building graft and perfbench with sbt")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}",
        "-Dsbt.server.autostart=false"])
    jvm_file.unlink(missing_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"benchJvm {jvm_file}"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    (BUILD / "build.log").write_text(proc.stdout)
    if proc.returncode != 0 or not jvm_file.exists():
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {proc.returncode})")


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(jvm, run_dir, mode_args, timeout=JVM_TIMEOUT_S):
    """Start the benchmark JVM in a fresh temp root and wait for it."""
    for d in ("cwd", "cache", "warehouse", "local", "tmp", "results"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    cp, options = jvm
    # no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData"] + options
           + [f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              f"-Djava.io.tmpdir={run_dir / 'tmp'}",
              f"-Dderby.system.home={run_dir / 'tmp'}",
              "-cp", cp, "graftbench.Main"]
           + mode_args
           + ["--root", str(run_dir), "--sf", SF_DIR, "--cores", str(cores())])
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir / "cwd", env=env,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: benchmark JVM failed ({code})")


def oracle_check(results):
    """Compare each statement's result with its DuckDB oracle with
    tools/check.py. Returns (names checked, mismatch messages)."""
    oracle = json.loads((results / "oracle_sql.json").read_text())
    # a statement that threw wrote no result; the JVM counts it
    names = sorted(n for n in oracle if (results / n).is_dir())
    if not names:
        return [], []
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check.py"), str(results), SF_DIR]
        + names, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = [l[len("FAIL "):] for l in proc.stdout.splitlines()
           if l.startswith("FAIL ")]
    passed = sum(l.startswith("PASS ") for l in proc.stdout.splitlines())
    if passed + len(bad) != len(names):
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: tools/check.py checked {passed + len(bad)} of "
                 f"{len(names)} results (exit {proc.returncode})")
    return names, bad


UNITS = {"setup_s": "s", "pass_s": "s", "stmt_p50_s": "s", "stmt_p90_s": "s",
         "live_heap_mb": "MB"}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_busy", "_skew", "_frac")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()

    jvm = build()
    run_dir = BUILD / "runs" / f"{a.workload or 'record'}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    if a.selftest:
        run_jvm(jvm, run_dir, ["selftest"])
        print((run_dir / "jvm.log").read_text().strip().splitlines()[-1])
        return
    if a.record:
        run_jvm(jvm, run_dir, ["record", "--names", a.record,
                              "--passes", str(a.passes),
                              "--out", str(Path(a.out).resolve())],
                timeout=None)
        return
    if not a.workload:
        ap.error("--workload is required")

    out = run_dir / "jvm.json"
    run_jvm(jvm, run_dir, [
        "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", str(out)])
    res = json.loads(out.read_text())
    checked, bad = oracle_check(run_dir / "results")
    for b in bad:
        log(f"oracle mismatch {b}")
    for name, err in res["errors"].items():
        log(f"statement failed {name}: {err}")
    attempted = res["attempted"]
    failed = res["threw"] + len(bad)
    metrics = dict(res["metrics"])
    if a.trace:
        metrics["failed_frac"] = failed / attempted
        units = {k: layer_unit(k) for k in metrics}
    else:
        units = UNITS
    log(f"{a.workload}: {res['passes']} passes, {res['samples']} statement "
        f"samples, {len(checked)} results checked; setup {res['setup_s']} s, "
        f"passes {res['pass_runs_s']}")
    # keep only the spans and the logs of a run
    for d in ("cwd", "cache", "warehouse", "local", "tmp", "results"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
