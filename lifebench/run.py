#!/usr/bin/env python3
"""Lifecycle benchmark of the engine: seeded packet corpus -> build ->
absorb/delete -> top-k serve, with every answer checked.

    python3 lifebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (`lifebench/build.sbt`); later runs reuse the
build while the sources are unchanged. Each run starts a fresh JVM with a heap
sized from the host (half of MemTotal, clamped to 2-8 GiB), keeps every file
it writes, Spark's scratch space included, in a per-run directory under
`lifebench/.work/`, and removes that directory when it ends, whether it
succeeds or not.

It prints one line per metric (`name value unit`) and, as the last line of
standard output, one JSON object: `correct`, `attempted`, `failed` and
`metrics` -- the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`. A run that fails, is killed (for instance
by the kernel's out-of-memory killer) or overruns its time limit prints no
result and exits non-zero; it is not retried.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
MAIN = "lifebench.LifeBench"
# Wall-clock limits, in seconds, for the JVM of one run and for a build.
RUN_LIMIT = 165
BUILD_LIMIT = 700


def die(msg, code=2):
    print("lifebench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's build and main sources and
    the benchmark's own."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s != "target" and s != "project")
            files += [os.path.join(d, n) for n in sorted(names)]
    files.append(os.path.join(HERE, "build.sbt"))
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark unless the last build is of the
    same sources; returns the launch spec (classpath, JVM options)."""
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return read_launch()
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                cwd=HERE, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        die("build failed (%s), see %s" % (rc, log_path), 3)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return read_launch()


def read_launch():
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    # heap size and temp dir are the benchmark's own choice
    opts = [o for o in lines[1:] if not o.startswith("-Xmx") and not o.startswith("-Djava.io.tmpdir")]
    return lines[0], opts


def heap_gb():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_output(text):
    metrics, counts, fails, info = {}, {}, [], []
    for line in text.splitlines():
        if not line.startswith("@"):
            continue
        parts = line[1:].split("\t")
        if parts[0] == "metric" and len(parts) == 4:
            metrics[parts[1]] = (float(parts[2]), parts[3])
        elif parts[0] == "count" and len(parts) == 3:
            counts[parts[1]] = int(parts[2])
        elif parts[0] == "fail":
            fails.append("\t".join(parts[1:]))
        else:
            info.append(" ".join(parts))
    return metrics, counts, fails, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("not a checkout of the engine: %s is missing under %s" % (need, ROOT))
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        die("unknown workload %r (known: %s)" % (a.workload, ", ".join(names)))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp, opts = build()

    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    cmd = (["java", "-Xmx%dg" % heap_gb(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp] + opts +
           ["-cp", cp, MAIN, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--cores", str(cores)])
    env = dict(os.environ)
    env.pop("GRAFT_PROFILE", None)
    if a.trace:
        env["GRAFT_PROFILE"] = "1"
    log_path = os.path.join(OUT, "last_%s.log" % a.workload)
    proc = None

    def on_signal(signum, _frame):
        raise KeyboardInterrupt("signal %d" % signum)

    signal.signal(signal.SIGTERM, on_signal)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_LIMIT)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                die("run exceeded %d s and was stopped" % RUN_LIMIT, 4)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(OUT, "spans_%s_seed%d.jsonl" % (a.workload, a.seed)))
        shutil.rmtree(work, ignore_errors=True)

    log_tail = open(log_path).read()[-3000:]
    if proc.returncode in (-signal.SIGKILL, 137):
        sys.stderr.write(log_tail)
        die("JVM was killed (SIGKILL; out of memory?) -- counted as a failed run", 5)
    metrics, counts, fails, info = parse_output(stdout)
    if proc.returncode != 0:
        sys.stderr.write(stdout[-3000:] + log_tail)
        die("JVM exited with %d" % proc.returncode, 6)
    for line in info:
        print(line)
    for f in fails:
        print("FAILED " + f)
    result = {}
    for m in wanted:
        if m["name"] not in metrics:
            die("metric %s missing from the run" % m["name"], 7)
        value, unit = metrics[m["name"]]
        if unit != m["unit"] or not math.isfinite(value):
            die("metric %s = %r %s does not match BENCHMARK.json" % (m["name"], value, unit), 7)
        result[m["name"]] = {"value": value, "unit": unit}
    shown = metrics if a.trace else {m: metrics[m] for m in result}
    for name, (value, unit) in sorted(shown.items()):
        print("%s %r %s" % (name, value, unit))
    attempted = counts.get("attempted", 0)
    failed = counts.get("failed", 0)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": result}))


if __name__ == "__main__":
    main()
