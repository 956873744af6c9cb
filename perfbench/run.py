#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (the classpath is kept under .bench_build/). Each run then
generates its inputs from the seed under a private temporary root
(.bench_run/<pid>/), starts one harness JVM, checks the outputs the JVM left
there against computations made apart from the engine, prints one JSON line
and deletes the temporary root. Runs take a lock, so two never overlap.
With --trace 1 the per-layer metrics are printed instead of the end-to-end
ones and the spans are kept under .bench_build/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

# Each stream round is one transaction per topic; its commit marker takes
# one offset, so a round of k * per_trigger - 1 records drains in exactly k
# triggers with no trailing empty trigger.
WORKLOADS = {
    "query_mix": {},
    "stream_mix": {"audit_records": 1199, "audit_warm_records": 599, "audit_per_trigger": 200,
                   "gate_docs": 199, "gate_per_trigger": 200, "corpus": 1000},
}
TABLE_SEED = 20240101   # query_mix tables are fixed; the seed orders the passes
TABLE_SF = 0.01
JVM_BUDGET_S = 165

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, so a stale build is redone."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the last build; return the
    harness classpath and the seconds the build took."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), 0.0
    t0 = time.time()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       HERE, f, time.time() + 850, env=sbt_env())
    lines = [l for l in open(log).read().splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip(), time.time() - t0


def make_inputs(workload, seed, seconds, tmp):
    """Write the workload's inputs under tmp/input; return what the checks
    need to know about them."""
    inp = os.path.join(tmp, "input")
    os.makedirs(inp)
    cfg = WORKLOADS[workload]
    if workload == "query_mix":
        gen.tables(os.path.join(inp, "tables"), TABLE_SEED, TABLE_SF)
        return {}
    # more rounds than any run can drain: a round takes well over 2 s
    n_rounds = 2 + int(seconds / 2)
    # the warm-up round 0 is shorter: it only has to compile the code paths
    audit = gen.audit_rounds(seed, [cfg["audit_warm_records"]]
                             + [cfg["audit_records"]] * (n_rounds - 1))
    with open(os.path.join(inp, "audit.tsv"), "w") as f:
        for r, recs in enumerate(audit):
            for line, _, _ in recs:
                f.write(f"{r}\t{line}\n")
    corpus = gen.documents(np.random.default_rng([seed, 5]), cfg["corpus"])
    pq.write_table(corpus.select(["doc_id", "text"]), os.path.join(inp, "corpus.parquet"))
    texts = corpus.column("text").to_pylist()
    stream = gen.dedup_stream(seed, texts, n_rounds * cfg["gate_docs"], 1_000_000)
    with open(os.path.join(inp, "dedup.tsv"), "w") as f:
        for i, (did, text, _, _) in enumerate(stream):
            f.write(f"{i // cfg['gate_docs']}\t{did}\t{text}\n")
    return {"audit": audit, "corpus": texts, "stream": stream}


def run_group(cmd, cwd, out, deadline, env=None):
    """Run cmd in its own process group until the deadline; the whole group
    is killed and waited for if it is still running then, or if this
    process is stopped. Returns the exit code, or "timeout"."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=out,
                            stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_jvm(cp, args, tmp, deadline):
    cmd = (["java", "-Xmx3g", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}/scratch", f"-Dderby.system.home={tmp}/scratch"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(tmp, "jvm.log"), "w") as log:
        rc = run_group(cmd, tmp, log, deadline)
    if rc != 0:
        with open(os.path.join(tmp, "jvm.log")) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        fail(f"harness JVM ended with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)

    os.makedirs(BUILD, exist_ok=True)
    lock = open(os.path.join(BUILD, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    t_locked = time.time()
    cp, build_s = classpath()

    tmp = os.path.join(ROOT, ".bench_run", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("warehouse", "checkpoints", "spark-local", "scratch", "out"):
        os.makedirs(os.path.join(tmp, d))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        info = make_inputs(a.workload, a.seed, a.seconds, tmp)
        cores = len(os.sched_getaffinity(0))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", tmp, "--input", os.path.join(tmp, "input"),
                "--cores", str(cores), "--result", os.path.join(tmp, "result.json")]
        for k, v in WORKLOADS[a.workload].items():
            args += [f"--{k}", str(v)]
        if a.trace:
            args += ["--spans", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        run_jvm(cp, args, tmp, T_START + JVM_BUDGET_S + build_s)
        res = json.load(open(os.path.join(tmp, "result.json")))
        out = os.path.join(tmp, "out")
        if a.workload == "query_mix":
            failed, correct, why = check.query_mix(out, TABLE_SEED, TABLE_SF)
        else:
            cfg = WORKLOADS[a.workload]
            fa, ca, wa = check.audit(out, info["audit"], cfg["audit_per_trigger"])
            fd, cd, wd = check.dedup(out, info["corpus"], info["stream"], cfg["gate_docs"])
            failed, correct, why = fa + fd, ca and cd, wa + wd
        for w in why:
            print(f"perfbench: check: {w}", file=sys.stderr)
        # set-up: from taking the lock to the first timed op, less the build
        setup_s = res["first_op_ms"] / 1000.0 - t_locked - build_s
        if a.trace:
            metrics = res["per_layer"]
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}, **res["end_to_end"]}
        print(json.dumps({"workload": a.workload, "seed": a.seed, "setup_s": setup_s,
                          "notes": res["notes"], "end_to_end": res["end_to_end"]}),
              file=sys.stderr)
        print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass


if __name__ == "__main__":
    main()
