#!/usr/bin/env python3
"""graft benchmark: CDC trickle and curation workloads.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 12 --trace 0

The first run builds the program together with the harness in
`perfbench/` (sbt, offline) into `.bench_build/`. Each run generates its
inputs from the seed, starts one JVM with Spark on local[<threads>],
measures for `--seconds`, checks the outputs, and prints as its last
stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with `--trace 0`,
the per-layer ones with `--trace 1`. The line before it carries the
input sizes, the input checksum, the tail percentiles and the checks.
Spans of a traced run are written to `.bench_build/results/`.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("cdc_trickle", "curation")
# curation tables at 1/10 of sf0.1 (sf0.01-sized)
CURATION_SCALE = 0.1
SETUP_REPS = 3
JVM_TIMEOUT_S = 165
# the JDK 17 module opens Spark needs outside spark-submit (as in the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_threads(workload):
    """Spark task threads (and GC threads) of a run: every core for the
    trickle merges, which use them; half for curation, whose small jobs
    are as fast on two threads and which, holding every core of a shared
    VM, loses time to the hypervisor (steal) from run to run."""
    n = len(os.sched_getaffinity(0))
    return max(1, n // 2) if workload == "curation" else n


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    files = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    files.append(os.path.join(HERE, "build.sbt"))
    return max(os.path.getmtime(f) for f in files)


def build():
    """Compile program + harness once per checkout; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        return open(cp_file).read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    written = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(written):
        os.remove(written)
    t0 = time.time()
    with open(log_path, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=840)
    if r.returncode != 0 or not os.path.exists(written):
        raise RuntimeError(f"build failed (exit {r.returncode}); see {log_path}")
    shutil.copyfile(written, cp_file)
    log(f"built in {time.time() - t0:.1f}s")
    return open(cp_file).read().strip()


def cpu_times():
    """(steal, total) jiffies of the whole machine, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return None


def tree_digest(path):
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        h.update(f.encode())
        with open(os.path.join(path, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def gen_curation(seed, work):
    """Generate the tables SETUP_REPS times (median time); returns
    (dir, seconds, rows, digest)."""
    sys.path.insert(0, HERE)
    from gen_curation import generate
    import pyarrow.parquet as pq
    times, digests, out = [], set(), None
    for rep in range(SETUP_REPS):
        out = os.path.join(work, f"tables{rep}")
        t0 = time.perf_counter()
        generate(seed, CURATION_SCALE, out)
        times.append(time.perf_counter() - t0)
        digests.add(tree_digest(out))
    if len(digests) != 1:
        raise RuntimeError("curation generator is not deterministic")
    rows = {os.path.splitext(f)[0]: pq.read_metadata(os.path.join(out, f)).num_rows
            for f in sorted(os.listdir(out))}
    return out, statistics.median(times), rows, digests.pop()


def oracle_checks(tables, outdir):
    """Compare each checked-pass result that has an oracle row with
    DuckDB through the repo's correctness gate, tools/check.py."""
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), tables, outdir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                       text=True, timeout=120)
    passed, failed = set(), {}
    for line in r.stdout.splitlines():
        if line.startswith("PASS ("):
            passed = {n.strip() for n in line.split(":", 1)[1].split(",") if n.strip()}
        elif line.startswith("  ") and ": " in line:
            name, msg = line.strip().split(": ", 1)
            failed[name] = msg
    def check(name, ok, detail):
        return {"name": name, "ok": ok, "detail": "" if ok else detail[:300]}
    checks = [check(f"{n}:oracle", n in passed and n not in failed, failed.get(n, "not reported as PASS"))
              for n in sorted(oracle)]
    checks.append(check("check.py", r.returncode == 0,
                        f"exit {r.returncode}: " + " ".join(r.stdout.split())[-300:]))
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn a stop request into an exception, so the JVM is stopped with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no program sources (src/main/scala/graft) next to perfbench/: run from a source checkout")
        return 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layer_map = json.load(open(os.path.join(HERE, "metrics.json")))

    cp = build()
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)

    extra, input_info = [], {}
    if a.workload == "curation":
        tables, gen_s, rows, digest = gen_curation(a.seed, work)
        extra = ["--data", tables, "--gen-s", repr(gen_s), "--gen-rows", str(sum(rows.values()))]
        input_info = {"tables": rows, "sha256": digest, "scale_vs_sf0_1": CURATION_SCALE}

    threads = spark_threads(a.workload)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={threads}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", repr(a.seconds), "--trace", str(a.trace), "--threads", str(threads),
              "--work", work, "--out", out]
           + extra)
    jvm_log = os.path.join(results, f"{tag}.log")
    t_jvm, cpu0 = time.perf_counter(), cpu_times()
    with open(jvm_log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"JVM timed out after {JVM_TIMEOUT_S}s; log: {jvm_log}")
            return 1
        finally:
            if p.poll() is None:  # timed out, or this process is being stopped
                p.kill()
                p.wait()
    if not os.path.exists(out):
        log(f"JVM exited {code} without a result; log: {jvm_log}")
        sys.stderr.write("".join(open(jvm_log).readlines()[-40:]))
        return 1
    res = json.load(open(out))
    wall = {"jvm_s": time.perf_counter() - t_jvm}
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests: timings taken
        # while it is high are slow for reasons outside the program
        wall["steal_frac"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    wall["loadavg"] = os.getloadavg()
    if code != 0:
        sys.stderr.write("".join(open(jvm_log).readlines()[-40:]))

    checks = res["checks"]
    if a.workload == "curation" and not res["aborted"]:
        t_oracle = time.perf_counter()
        checks += oracle_checks(tables, os.path.join(work, "curation-out"))
        wall["oracle_s"] = time.perf_counter() - t_oracle
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")

    if a.trace:
        res["metrics"]["failed_ratio"] = {"value": res["failed"] / max(1, res["attempted"])}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is not None and got["value"] is not None:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        elif a.trace and a.workload not in layer_map["per_layer"][m["name"]]["workloads"]:
            # the layer does no work on this workload
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        log(f"metrics not measured: {missing}")

    correct = (not res["aborted"] and not failed_checks and not missing and res["failed"] == 0
               and code == 0)
    info = dict(res["info"])
    info["input"] = dict(info.get("input", {}), **input_info)
    info["checks"] = {"passed": len(checks) - len(failed_checks), "failed": len(failed_checks)}
    info["errors"] = res["errors"]
    info["wall"] = wall
    info["spark_threads"] = threads
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        log(f"inputs and outputs kept in {work}")
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
