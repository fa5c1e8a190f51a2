#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one `Graft.session(threads = nproc)`.

    python3 perfbench/run.py --workload relational|dedup|ingest \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from this checkout's sources (plain
scalac against the Spark jars, cached by source hash under
$CARGO_TARGET_DIR, default .bench_build), generates the ten tables from
--seed (perfbench/gen.py), runs the workload (perfbench/scala), checks
every output against DuckDB running graft's own oracle SQL on the same
files (perfbench/check.py), and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero if the build, the run or any output check fails.
See perfbench/README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# Microbatches each streaming twin is fed per pass.
BATCHES = 2
# Roughly what one warm pass of dedup or ingest takes on the 4-core
# reference machine (relational's takes about 3 s). A run makes
# round(--seconds / this) warm passes, at least 2: a count fixed by
# --seconds, so the same on every commit.
WARM_PASS_SECONDS = 5.0
WORKLOADS = ("relational", "dedup", "ingest")
JVM_TIMEOUT = 170
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not jars.is_dir():
        sys.exit(f"Spark jars not found under {home}; set SPARK_HOME")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        sys.exit(f"graft sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def build(jars):
    """Compiles graft and the harness once per distinct source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = Path(f"{out}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.parent / f"{tmp.name}.args"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cp = f"{jars}/*"
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("build failed:\n" + r.stdout[-4000:])
    tmp.rename(out)
    return out


def tables(seed):
    """The seed's tables, generated once and reused by later runs."""
    h = hashlib.sha256(Path(gen.__file__).read_bytes()).hexdigest()[:12]
    out = build_dir() / f"data-{h}-{seed}"
    if not out.is_dir():
        tmp = Path(f"{out}.tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(str(tmp), seed)
        tmp.rename(out)
    return out


def jvm(classes, jars, args, log):
    cmd = ["java", "-Xmx3g", *JAVA_OPENS,
           "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{jars}/*", "graft.bench.Harness",
           "--launch-ms", str(int(time.time() * 1000)), *args]
    with open(log, "a") as err:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=JVM_TIMEOUT, cwd=log.parent)
    if r.returncode != 0:
        tail = log.read_text()[-3000:]
        sys.exit(f"harness failed ({r.returncode}): {' '.join(args)}\n{tail}")
    return r.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    data = tables(a.seed)
    run = build_dir() / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    log = run / "jvm.log"
    try:
        passes = max(2, round(a.seconds / WARM_PASS_SECONDS))
        jvm(classes, jars, ["--workload", a.workload, "--data", str(data),
                            "--out", str(run / "out"), "--passes", str(passes),
                            "--batches", str(BATCHES), "--trace", str(a.trace)], log)
        res = json.loads((run / "out" / "result.json").read_text())
        problems = check.run(data, run / "out", res)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        for f in res["failures"]:
            print(f"OPERATION FAILED: {f['op']} (pass {f['pass']}): {f['error']}",
                  file=sys.stderr)
        warm = res["passes"][1:]
        e2e = {
            "setup_s": (res["setup_s"], "s"),
            "cold_s": (res["passes"][0]["wall_s"], "s"),
            "warm_s": (statistics.median(p["wall_s"] for p in warm), "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in warm), "CPU-s"),
        }
        if a.trace:
            metrics = layers.metrics(res, run / "out" / "trace.jsonl")
            print(json.dumps({"traced_e2e": {k: v for k, (v, _) in e2e.items()}}))
        else:
            metrics = e2e
        print(json.dumps({
            "correct": not problems,
            "attempted": len(res["ops"]) * len(res["passes"]),
            "failed": len(res["failures"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.exit(1 if problems else 0)
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
