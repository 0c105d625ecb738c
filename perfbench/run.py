#!/usr/bin/env python3
"""Benchmark harness: builds the engine from source, generates seeded inputs,
runs one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload medallion_series --seed 1 --seconds 15 --trace 0

Workloads: medallion_series, registry (see perfbench/README.md).
With --trace 0 the result carries the end-to-end metrics; with --trace 1 the
per-layer metrics, from a run that measures half its time untraced and half
traced (spans land in the run directory's spans.json).

Classes go to sbt's target/ directories; inputs, run directories and the
build stamp to .bench_build/ at the root of the checkout. Nothing outside the
checkout is read or written except the JDK and the sbt/coursier caches the
build resolves from.
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("medallion_series", "registry")
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["COURSIER_MODE"] = "offline"
    return env


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "stamp")
    cp_file = os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {p.returncode}); log: {log}")
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if not cp:
        fail(f"build printed no classpath; log: {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, data_dir, run_dir, seconds, tables_s):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
            "--data", data_dir, "--out", run_dir, "--cores", str(cores()),
            "--tables-s", repr(tables_s)]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=seconds + 120)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload timed out; log: {log}")
    if code != 0:
        sys.stderr.write("\n".join(open(log).read().splitlines()[-40:]) + "\n")
        fail(f"workload JVM exited {code}; log: {log}")


def oracle_check(answers_dir, data_dir):
    """Compares each registry answer with its DuckDB oracle by the
    repository's own compare, tools/selfcheck.py (column names, row count,
    numeric type class, cells with floats to 1e-9). Returns {query: None if
    it passes, else the reason}."""
    p = subprocess.run([sys.executable, "-B", os.path.join(ROOT, "tools", "selfcheck.py"),
                        answers_dir, data_dir], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            verdicts[name] = None
        elif word in ("FAIL", "SKIP"):  # SKIP: no oracle confirms the answer
            verdicts[name] = f"{word} {rest}"[:300]
    if p.returncode not in (0, 1) or not verdicts:
        fail(f"selfcheck exited {p.returncode}: {p.stderr.strip()[-500:]}")
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {os.path.basename(HERE)}/ (expected build.sbt and src/)")
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True  # keep perfbench/ as committed
    import gen_tables

    cp = build()
    data_dir = os.path.join(WORK, "data", f"seed{args.seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    # the registry reads every table; a traced medallion run only the
    # lineitem table the host canary scans
    only = None if args.workload == "registry" else ("lineitem",) if args.trace else ()
    t0 = time.perf_counter()
    gen_tables.write(data_dir, args.seed, only)
    tables_s = time.perf_counter() - t0
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    run_jvm(cp, args, data_dir, run_dir, args.seconds, tables_s)

    res = json.load(open(os.path.join(run_dir, "result.json")))
    failed = res["failed"]
    bad_checks = [c for c in res["checks"] if not c["ok"]]
    if args.workload == "registry":
        verdicts = oracle_check(os.path.join(run_dir, "answers"), data_dir)
        for q, why in sorted(verdicts.items()):
            if why:
                bad_checks.append({"name": f"oracle.{q}", "ok": False, "detail": why})
        failed += sum(1 for why in verdicts.values() if why)
        print(f"oracle: {sum(1 for w in verdicts.values() if not w)}/{len(verdicts)} queries "
              f"match their DuckDB oracle")
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for c in bad_checks:
        if c["name"].startswith("oracle."):
            print(f"check FAIL {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"failed {e['key']}: {e['error']}")
    s = res["samples"]
    print(f"samples: {s['batches']} batches, {s['latency']} latency "
          f"samples ({s['latency_all']} with traced), {s['traced_batches']} traced batches; "
          f"canary {res['canary_s']:.3f} s")
    metrics = res["per_layer"] if args.trace else res["metrics"]
    correct = not bad_checks and failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
