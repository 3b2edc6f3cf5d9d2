#!/usr/bin/env python3
"""Build the program from source and run one benchmark workload once.

    python3 perfbench/run.py --workload flow_chain --seed 1 --seconds 8 --trace 0

Run it from the repository root. The first run in a checkout compiles the
repository's main sources together with the benchmark code (sbt, offline)
and generates the analytics tables; later runs reuse both while the sources
are unchanged. Build output, generated data, run logs and artifacts go to
the directory named by CARGO_TARGET_DIR, or `.bench_build`, under the root.

The run prints one `metric <name> <value> <unit>` line per figure and ends
with one JSON line: correct, attempted, failed and metrics (the end-to-end
metrics of BENCHMARK.json, or with --trace 1 its per-layer metrics). The
whole run, spans included, is written to --artifact (default: a file under
the build directory's runs/).
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("flow_chain", "request_mix", "analytics_midfield")
SCALE_FACTOR = "0.1"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, files in sorted(os.walk(r)):
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(build, main, args, classpath):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(build, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return tmp, [java, "-Xmx3g", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
                 "-cp", classpath, main, *args]


def run_logged(cmd, log, cwd, timeout, env=None):
    with open(log, "w") as fh:
        try:
            return subprocess.run(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                                  timeout=timeout, env=env).returncode
        except subprocess.TimeoutExpired:
            return -1


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def build(build_dir, digest):
    """Compile (sbt) and generate the analytics tables, unless done for these sources."""
    stamp = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    data = os.path.join(build_dir, f"data-sf{SCALE_FACTOR}")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file) \
            and os.path.exists(os.path.join(data, "_done")):
        return open(cp_file).read().strip(), data
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(build_dir, "build.log")
    t0 = time.time()
    rc = run_logged(["sbt", "--batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                    log, HERE, 800)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    classpath = open(cp_file).read().strip()
    shutil.rmtree(data, ignore_errors=True)
    tmp, cmd = java_cmd(build_dir, "perfbench.DataGen", [data, SCALE_FACTOR], classpath)
    gen_log = os.path.join(build_dir, "datagen.log")
    rc = run_logged(cmd, gen_log, ROOT, 600)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"data generation failed (exit {rc}); last lines of {gen_log}:\n{tail(gen_log)}")
    open(os.path.join(data, "_done"), "w").close()
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath, data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--artifact", help="where to write the full run (JSON)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a full checkout of the repository")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    digest = source_digest()
    classpath, data = build(build_dir, digest)

    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    artifact = os.path.abspath(a.artifact) if a.artifact else os.path.join(runs, name + ".json")
    log = os.path.join(runs, name + ".log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--artifact", artifact, "--data", data,
            "--digests", os.path.join(HERE, "digests.json")]
    tmp, cmd = java_cmd(build_dir, "perfbench.Main", args, classpath)
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha(), PERFBENCH_SOURCE_DIGEST=digest)
    try:
        with open(log, "w") as err:
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                  text=True, timeout=RUN_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode}); last lines of {log}:\n{tail(log)}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        fail(f"malformed result line: {lines[-1]}")
    # the result line carries exactly the metrics BENCHMARK.json lists; the
    # run reports more, which stay on the metric lines and in the artifact
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["per_layer" if a.trace == "1" else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"run reported no {', '.join(missing)}; log: {log}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
