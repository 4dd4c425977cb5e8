#!/usr/bin/env python3
"""News-stream benchmark for the clustering and summarization engine.

    python3 perfbench/run.py --workload open_feed --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one JVM that
generates the workload's articles from the seed, drains them through the
streaming pipeline, serves the UI's reads, checks the outputs and writes
raw samples; this script turns them into the metrics named in
BENCHMARK.json and prints them as the last line of standard output.
With --trace 1 the same micro-batches also go through a traced replay of
the layers and the per-layer metrics are printed instead.

Environment (optional): NEWSBENCH_CPUS, the Spark cores (default and
maximum: the processors available).
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("open_feed", "cdc_decoupled")
# The JVM must finish well inside the 180 s a run may take.
JVM_DEADLINE_S = 170
JVM_HEAP = "3g"
BUILD_DEADLINE_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def int_in(name, lo, hi):
    def parse(text):
        try:
            v = int(text)
        except ValueError:
            raise argparse.ArgumentTypeError(f"{name} must be an integer, got {text!r}")
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"{name} must be in [{lo}, {hi}], got {v}")
        return v
    return parse


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int_in("--seed", 0, 2**62))
    p.add_argument("--seconds", required=True, type=int_in("--seconds", 1, 120))
    p.add_argument("--trace", required=True, type=int_in("--trace", 0, 1))
    return p.parse_args(argv)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def env_cpus():
    raw = os.environ.get("NEWSBENCH_CPUS")
    if raw is None:
        return nproc()
    if not re.fullmatch(r"[0-9]+", raw) or not 1 <= int(raw) <= nproc():
        fail(f"NEWSBENCH_CPUS must be an integer in [1, {nproc()}], got {raw!r}")
    return int(raw)


def source_files():
    """Every file the build reads, for the build stamp."""
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        fail(f"engine sources not found under {engine}; run from a repository checkout")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def spark_home():
    """The Spark distribution whose jars the build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home is None and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if home is None or not os.path.isdir(os.path.join(home, "jars")):
        fail(f"SPARK_HOME must name a Spark distribution with a jars directory, got {home!r}")
    return home


def build():
    """Compile with sbt unless the sources match the last build; return
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "newsbench.classpath")
    stamp_file = os.path.join(target, "newsbench.stamp")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    try:
        done = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in done.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if done.returncode != 0 or not lines:
        sys.stderr.write(done.stdout[-4000:] + done.stderr[-4000:])
        fail(f"build failed (sbt exit {done.returncode})")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def run_jvm(classpath, a, cpus):
    """Run one workload in a fresh JVM; return its raw result."""
    out_dir = os.path.join(HERE, "out")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_dir, f"work-{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(out_dir, f"{name}.log")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", classpath, "newsbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus),
            "--data", os.path.join(HERE, "data"), "--work", work, "--out", result,
            "--spans", os.path.join(out_dir, f"spans-{name}.jsonl")]
    try:
        with open(log, "w") as lf:
            # Spark's scratch space stays inside the checkout
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                    stdout=lf, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=JVM_DEADLINE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"the run exceeded {JVM_DEADLINE_S} s; log: {log}")
        if code != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail(f"the JVM exited with {code}; log: {log}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"{path} not found")
    with open(path) as fh:
        return json.load(fh)


def end_to_end(r):
    drains = r["drains"]
    if not drains or not r["list_ms"] or not r["lookup_ms"]:
        fail("the run produced no samples to report")
    samples = {
        "setup_s": [r["setup_s"]],
        "articles_per_s": [d["valid"] / d["seconds"] for d in drains],
        "batch_ms_p50": [b for d in drains for b in d["batch_ms"]],
        "list_ms_p50": r["list_ms"],
        "lookup_ms_p50": r["lookup_ms"],
        "state_mb": [r["state_mb"]],
    }
    values = {k: stats.median(v) for k, v in samples.items()}
    for k, v in samples.items():
        quart = " q1={:.4f} q3={:.4f}".format(*stats.quartiles(v)[::2]) if len(v) > 1 else ""
        print(f"  {k} = {values[k]:.4f} (median of n={len(v)}{quart})")
    last_quarter = [b for d in drains
                    for b in d["batch_ms"][-max(1, math.ceil(len(d["batch_ms"]) / 4)):]]
    print(f"  batch_ms_tail = {stats.median(last_quarter):.1f} "
          f"(median of the last quarter of each drain's batches, n={len(last_quarter)})")
    for k in ("list_ms", "lookup_ms"):
        t = stats.tail(r[k])
        tail = f"p{t[0]:g} = {t[1]:.1f} ms" if t else "no percentile has 10 samples beyond it"
        print(f"  {k}: n={len(r[k])}, {tail}")
    print(f"  summary_lag_s = {stats.median([d['lag_s'] for d in drains]):.3f} "
          f"(median of n={len(drains)}; 0 when summaries are inline)")
    print(f"  UI list rows = {r['list_rows']}, lookup keys = {r['lookup_keys']}, "
          f"GC during the drains = {r['drain_gc_ms']} ms")
    return values


def per_layer(r, names):
    layers, whole = r["layers"], r["whole"]
    values = {}
    for n in names:
        if n in whole:
            values[n] = whole[n] if whole[n] is not None else 0.0
        else:
            xs = layers.get(n, [])
            values[n] = stats.median(xs) if xs else 0.0
            print(f"  {n} = {values[n]:.4f} (median of n={len(xs)})")
    for n in sorted(whole):
        print(f"  {n} = {whole[n]}")
    if r.get("traced_drain"):
        untraced = " and ".join(f"{u:.2f} s" for u in r["untraced_s"])
        print(f"  traced drain {r['traced_drain']['seconds']:.2f} s "
              f"(of it counting {whole['trace.aux_s']:.2f} s) between untraced drains of {untraced}")
    return values


def main(argv):
    a = parse_args(argv)
    cpus = env_cpus()
    bench = spec()
    classpath = build()
    t0 = time.time()
    r = run_jvm(classpath, a, cpus)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} cpus={cpus} "
          f"jvm_wall_s={time.time() - t0:.1f}")
    for when in ("start", "end"):
        s = r["sentinels"][when]
        print(f"  sentinels[{when}]: serial_s={s['serial_s']:.3f} "
              f"parallel_s={s['parallel_s']:.3f} fsync_s={s['fsync_s']:.4f}")
    for c in r["checks"]:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED ' + c['detail']}")
    attempted, failed = int(r["attempted"]), int(r["failed"])
    print(f"  error_rate = {failed / attempted if attempted else 0.0:.4f} "
          f"({failed} of {attempted} batches, reads and checks failed)")
    if a.trace:
        metrics = bench["per_layer"]
        values = per_layer(r, [m["name"] for m in metrics])
    else:
        metrics = bench["end_to_end"]
        values = end_to_end(r)
    correct = failed == 0 and all(c["ok"] for c in r["checks"])
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
