#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload world_scan --seed 1 --seconds 10 --trace 0

Builds the benchmark (perfbench/build.sbt, which compiles the program from
the checkout's sources) when its inputs changed, then runs one workload in a
JVM launched with the root build's JVM flags. The last stdout line is the
result object; the line before it (PERFBENCH_DETAIL) holds the host record
and the raw samples. Before that JVM, SETUP_ONLY_JVMS more JVMs run only the
workload's cold set-up, so setup_s is the median of several cold set-ups.
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

WORKLOADS = ("world_scan", "admin_job", "daily_append", "corpus_dedup")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
SETUP_ONLY_JVMS = 1
# the whole run after the build, so a run ends within 180 s
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """Hash of every regular file under the given paths (names and bytes)."""
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = []
            for d, dirs, fs in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x not in ("target", ".work"))
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def read_launch():
    """(classpath, JVM options) that the build's launchSpec task wrote."""
    cp, opts = "", []
    with open(LAUNCH) as f:
        for line in f.read().splitlines():
            if line.startswith("CP "):
                cp = line[3:]
            elif line.startswith("OPT "):
                opts.append(line[4:])
    return cp, opts


def heap_cap():
    """The heap cap the repo's tier-1 recipe uses: half the RAM, 2 to 8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build(src_hash):
    bench_hash = tree_hash([os.path.join(HERE, x) for x in ("build.sbt", "project", "src")])
    env = dict(os.environ)
    # the root build reads SPARK_DRIVER_MEM into -Xmx (24g when unset)
    env.setdefault("SPARK_DRIVER_MEM", heap_cap())
    stamp = f"{src_hash}-{bench_hash}-{env['SPARK_DRIVER_MEM']}"
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            fresh = f.read() == stamp
        if fresh and all(os.path.exists(p) for p in read_launch()[0].split(os.pathsep)):
            return
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, _ = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           840, cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    # a terminated run still stops the JVM it started (run_killable's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala"))):
        fail(f"no graft sources next to {HERE}: run from a full checkout")
    src_hash = tree_hash([os.path.join(ROOT, x) for x in ("build.sbt", "project", "src/main")])
    build(src_hash)
    cp, opts = read_launch()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        layers = ",".join(f"{m['name']}:{m['unit']}" for m in json.load(f)["per_layer"])
    # temp files, Spark's shuffle and block dirs included, stay in the checkout
    tmp = os.path.join(WORK, "tmp")
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    deadline = time.time() + RUN_TIMEOUT_S

    def jvm(*extra):
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + opts + ["-cp", cp, "graft.perfbench.PerfMain",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--work", WORK, "--src-hash", src_hash,
               "--launch", LAUNCH, "--layers", layers] + list(extra))
        code, out = run_killable(cmd, max(1, deadline - time.time()), cwd=ROOT, env=env,
                                 stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.stderr.write(out)
            fail(f"benchmark JVM exited {code} without a result")
        return lines

    # a set-up that built fixtures started Spark for them, so it is not a
    # cold set-up: it is repeated, now with the fixtures cached
    setups, built = [], 0.0
    for _ in range(2 * SETUP_ONLY_JVMS):
        last = jvm("--setup-only", "1")[-1]
        if not last.startswith("PERFBENCH_SETUP "):
            fail(f"set-up-only JVM printed no set-up wall: {last[:200]}")
        wall, fixture_s = last.split()[1:3]
        built += float(fixture_s)
        if float(fixture_s) == 0:
            setups.append(wall)
        if len(setups) == SETUP_ONLY_JVMS:
            break
    lines = jvm("--cold-setups", ",".join(setups), "--fixture-build-s", str(built))
    if not lines[-1].startswith('{"correct"'):
        sys.stderr.write("\n".join(lines))
        fail("benchmark JVM printed no result")
    shutil.rmtree(tmp, ignore_errors=True)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
