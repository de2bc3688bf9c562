#!/usr/bin/env python3
"""Benchmark of the graft table engine: one workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. The first run builds the library and the
benchmark programs with sbt (perfbench/build.sbt) and caches the classpath
in perfbench/.build; later runs start the JVM directly. A workload run
prints its named metrics and host context, then one JSON line:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
of BENCHMARK.json (`--trace 0`) or its per-layer metrics (`--trace 1`).
`--workload all` runs every workload untraced and traced and prints every
named metric with the tracing overhead. The exit code is 0 only when every
output check passed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
COMPARE_TOOL = os.path.join(ROOT, "tools", "compare_local.py")
sys.path.insert(0, HERE)

WORKLOADS = ["ingest", "mor_read", "llm_ops"]
LLM_QUERIES = ["q03_join_agg", "q05_multi_join", "d34_minhash_pairs",
               "e38_knn_lsh", "d76_bm25_topk", "d78_pagerank",
               "d101_label_propagation", "d114_tokenizer_fertility",
               "s45_stream_roundtrip"]
RUN_LIMIT_S = 170      # a workload run must finish within 180 s
CHECK_RESERVE_S = 30   # kept for the output check after the JVM exits
BUILD_LIMIT_S = 840    # the first run in a checkout also builds

# Spark on JDK 17 outside spark-submit (same list as the library's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, logfile, timeout, env=None):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def ensure_build():
    """The runtime classpath, building with sbt when the sources changed."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read().strip() == digest:
                with open(cp_path) as c:
                    return c.read().strip()
    log("building the library and the benchmark with sbt (first run only)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logfile = os.path.join(BUILD, "sbt.log")
    t0 = time.monotonic()
    rc = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                    "-Dsbt.log.noformat=true",
                    "export perfbench/Runtime/fullClasspath"],
                   HERE, logfile, BUILD_LIMIT_S, env)
    lines = [ln.strip() for ln in open(logfile, errors="replace") if ln.strip()]
    # `export` prints the classpath as the last bare (unprefixed) line
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), "")
    if rc != 0 or os.pathsep not in cp:
        log(f"build failed (exit {rc}):\n{tail(logfile)}")
        sys.exit(3)
    log(f"built in {time.monotonic() - t0:.0f} s")
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(digest)
    return cp


def run_workload(workload, seed, seconds, trace, cp, deadline, inputs=None):
    """One JVM run of one workload, to end by `deadline` (monotonic
    seconds); returns the record it produced. `inputs` replaces the seeded
    llm_ops tables with another directory of the same tables."""
    work = os.path.join(WORK, f"run-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = ""
    if workload == "llm_ops":
        import llm_inputs
        data = inputs or llm_inputs.ensure(seed, os.path.join(WORK, "data"))
    load1 = os.getloadavg()[0]
    cpus = os.cpu_count() or 1
    # no hsperfdata file: the JVM would write it outside the checkout.
    # Bytecode verification is off: every class comes from this checkout's
    # build or the Spark jars it compiled against, and verifying them adds
    # 1-2 s of start-up and class loading to each of the many runs.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", work, "--cpus", str(cpus)]
    if data:
        cmd += ["--data", data]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    logfile = os.path.join(WORK, "logs", f"{workload}-trace{trace}.log")
    t0 = time.monotonic()
    rc = run_child(cmd, ROOT, logfile,
                   max(1.0, deadline - time.monotonic() - CHECK_RESERVE_S))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        log(f"{workload}: JVM exited {rc}:\n{tail(logfile)}")
        sys.exit(4)
    with open(result_path) as f:
        res = json.load(f)
    if workload == "llm_ops":
        res["errors"] += llm_inputs.check(
            COMPARE_TOOL, data, os.path.join(work, "check"), LLM_QUERIES,
            max(5.0, deadline - time.monotonic()))
    res["correct"] = not res["errors"]
    res.update(workload=workload, seed=seed, seconds=seconds, trace=trace,
               load1m=load1, jvm_wall_s=time.monotonic() - t0, cpus=cpus,
               inputs=data)
    res["host"]["load1m"] = load1
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return res


def describe(res):
    """Human-readable lines: host context, named metrics, notes, errors."""
    h = res["host"]
    out = [f"perfbench {res['workload']} seed={res['seed']} trace={res['trace']} "
           f"correct={res['correct']} load1m={h['load1m']:.2f} "
           f"window_s={h['window_s']:.2f} process_cpu_s={h['process_cpu_s']:.2f} "
           f"client_cpu_s={h['client_cpu_s']:.2f} executor_cpu_s={h['executor_cpu_s']:.2f} "
           f"cycles={h['cycles']:.2f} "
           f"setup_runs_s={[round(s, 3) for s in res['setup_runs_s']]} "
           f"cycle_cpu_ms={[round(c) for c in res['cycle_cpu_ms']]}"]
    for k, v in res["end_to_end"].items():
        out.append(f"  {k:28s} {v:14.4f}")
    for m in res["named"]:
        out.append(f"  {m['name']:28s} {m['value']:14.4f} {m['unit']}")
    for k, v in res["notes"].items():
        out.append(f"  # {k}: {v}")
    for e in res["errors"]:
        out.append(f"  ! {e}")
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(res, trace):
    """The last line: the end-to-end or per-layer metrics BENCHMARK.json names."""
    s = spec()
    metrics = {}
    if trace:
        layers = dict(res["per_layer"])
        layers.update({f"host.{k}": v for k, v in res["host"].items()})
        for m in s["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
    else:
        for m in s["end_to_end"]:
            metrics[m["name"]] = {"value": float(res["end_to_end"][m["name"]]),
                                  "unit": m["unit"]}
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def run_all(seed, seconds, cp):
    """Every workload untraced, then traced: every named metric, and what
    tracing added to each end-to-end metric."""
    ok, attempted, failed, metrics = True, 0, 0, {}
    for w in WORKLOADS:
        plain = run_workload(w, seed, seconds, 0, cp, time.monotonic() + 600)
        traced = run_workload(w, seed, seconds, 1, cp, time.monotonic() + 600)
        print("\n".join(describe(plain)))
        print(f"  tracing overhead on {w} (traced - untraced):")
        for k, v in plain["end_to_end"].items():
            print(f"    {k:26s} {traced['end_to_end'][k] - v:+12.4f}")
        for a, b in zip(plain["named"], traced["named"]):
            print(f"    {a['name']:26s} {b['value'] - a['value']:+12.4f} {a['unit']}")
        ok = ok and plain["correct"] and traced["correct"]
        attempted += plain["attempted"]
        failed += plain["failed"]
        metrics[f"{w}.setup_s"] = {"value": plain["end_to_end"]["setup_s"], "unit": "s"}
        for m in plain["named"]:
            metrics[f"{w}.{m['name']}"] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return ok


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--inputs", help="llm_ops only: read this directory's "
                   "tables instead of the seeded ones (to compare the "
                   "seeded inputs with other copies of the same tables)")
    a = p.parse_args()
    if a.inputs:
        a.inputs = os.path.abspath(a.inputs)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "compare_local.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} is missing: run from a full checkout of the repository")
            sys.exit(2)
    cp = ensure_build()
    if a.workload == "all":
        sys.exit(0 if run_all(a.seed, a.seconds, cp) else 1)
    started = time.monotonic()
    res = run_workload(a.workload, a.seed, a.seconds, a.trace, cp,
                       started + RUN_LIMIT_S, a.inputs)
    print("\n".join(describe(res)))
    log(f"run took {time.monotonic() - started:.1f} s")
    print(result_line(res, a.trace))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
