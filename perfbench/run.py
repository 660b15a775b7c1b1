#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft plus the harness in perfbench/ (sbt, once per source change),
generates the workload's inputs from --seed, runs the harness JVM on
local[nproc] for --seconds of timed work, checks the outputs, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics of a traced run and
writes its span file under .bench_work/trace/. Exits non-zero when the
build fails, an output check fails, or the run does not finish in time.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_activation  # noqa: E402
import gen_corpus  # noqa: E402

# Inputs per workload. activation_full: rows per branch (AppsFlyer's 500
# events/s pacing is a floor, so it stays small); activation_incremental:
# rows per transactional branch and the share of source keys already logged
# inside / outside the 15-day retention window; registry_mix: corpus size
# as a multiple of sf0.1.
FULL_ROWS, FULL_AF_ROWS = 5000, 300
INC_ROWS, INC_LOGGED = 300000, (0.97, 0.01)
CORPUS_MULT, TINY_MULT = 0.1, 0.01
HARNESS_DEADLINE_S = 150  # inputs + harness; the checks after it take seconds
BUILD_TIMEOUT_S = 880
# Fixed, pre-touched heap: peak_rss_mb then does not depend on GC timing.
JVM_HEAP = "3g"


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build(build_dir):
    """Compile graft + harness with sbt when any source changed; return the
    runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(build_dir, "classpath.txt"), os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(build_dir, exist_ok=True)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log("building (sbt) ...")
    t0 = time.time()
    p = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                    cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S,
                    log_path=os.path.join(build_dir, "sbt.log"))
    lines = [ln.strip() for ln in open(os.path.join(build_dir, "sbt.log")) if ln.strip()]
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if p != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


def run_bounded(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group with output to `log_path`; kill the
    whole group and wait for it if it outlives `timeout`."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} exceeded {timeout:.0f}s (log: {log_path})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def prepare(workload, work, seed):
    if workload == "activation_full":
        names = [b[0] for b in gen_activation.BRANCHES]
        gen_activation.generate(work, seed, names, FULL_ROWS, af_rows=FULL_AF_ROWS)
        gen_activation.generate(os.path.join(work, "warmup"), seed + 1, names, FULL_ROWS,
                                af_rows=FULL_AF_ROWS)
    elif workload == "activation_incremental":
        names = gen_activation.INCREMENTAL
        gen_activation.generate(work, seed, names, INC_ROWS, logged=INC_LOGGED)
        gen_activation.generate(os.path.join(work, "warmup"), seed + 1, names, INC_ROWS // 10,
                                logged=INC_LOGGED)
    else:
        gen_corpus.generate(os.path.join(work, "corpus"), seed, CORPUS_MULT)
        gen_corpus.generate(os.path.join(work, "tiny"), seed + 1, TINY_MULT)


def hd_median(xs):
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-weighted
    mean of the order statistics. It uses the middle of the sample rather
    than one or two values, so a query that changes places with its
    neighbour does not move it."""
    xs = sorted(xs)
    n = len(xs)
    a = (n + 1) / 2
    steps = 1000 * n                       # every i/n falls on the grid
    dens = [(t / steps) ** (a - 1) * (1 - t / steps) ** (a - 1) for t in range(steps + 1)]
    cdf = [0.0]
    for i in range(steps):
        cdf.append(cdf[-1] + (dens[i] + dens[i + 1]) / 2)
    w = [(cdf[1000 * (i + 1)] - cdf[1000 * i]) / cdf[-1] for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs))


def java_cmd(cp, work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.PerfMain"] + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["activation_full", "activation_incremental", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops (and waits for) the harness it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to perfbench/", 2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    t_run = time.time()

    bench_work = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_work, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d))
    prepare(a.workload, work, a.seed)
    log(f"inputs for seed {a.seed} ready in {time.time() - t_run:.1f}s")

    result_path = os.path.join(work, "result.json")
    spans = os.path.join(bench_work, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl")
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    args = ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace),
            "--cpus", str(os.cpu_count()), "--out", result_path, "--spans", spans]
    code = run_bounded(java_cmd(cp, work, args), cwd=work, env=env,
                       timeout=HARNESS_DEADLINE_S - (time.time() - t_run),
                       log_path=os.path.join(work, "jvm.log"))
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-40:]))
        fail(f"harness exited {code}")
    r = json.load(open(result_path))
    log(f"harness done at {time.time() - t_start:.1f}s")

    problems = list(r["check_failures"])
    if a.workload == "registry_mix":
        problems += checks.registry_oracle(work, os.path.join(bench_work, "oracle-cache"), a.seed)
    else:
        problems += checks.hashed_emails(work)
    for p in problems:
        log("CHECK FAILED:", p)
    log(f"checks done at {time.time() - t_start:.1f}s")

    if a.trace:
        metrics = {m["name"]: {"value": float(r["layers"][m["name"]]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        log("self time per layer (s):", json.dumps(
            {k: round(v, 3) for k, v in sorted(r["self_time_s"].items())}))
        log(f"tracing overhead: {100 * r['layers']['trace.overhead']:+.1f}% of the untraced run_s "
            f"(untraced {r['run_s']}, traced {r['traced_run_s']}); spans: {spans}")
    else:
        values = {"setup_s": r["setup_s"],
                  "run_s": statistics.median(r["run_s"]),
                  "cpu_s": statistics.median(r["cpu_s"]),
                  "query_p50_s": hd_median(r["query_s"]),
                  "peak_rss_mb": r["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        log(f"{r['iterations']} timed iterations: run_s {r['run_s']} cpu_s {r['cpu_s']} "
            f"setup_s {r['setup_s']}")
    log(f"total {time.time() - t_start:.1f}s")
    correct = not problems and r["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
