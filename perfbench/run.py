#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload cdx-lookup --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. A run builds the program and the
benchmark from source with sbt (see build.sbt here) whenever their sources,
build files or the driver heap setting differ from the last build's, and
otherwise starts the JVM directly from the recorded classpath. Generated
inputs, scratch space and the traced run's span dump go under
perfbench/work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
LAUNCH_KEY = LAUNCH + ".key"
# what a build depends on, relative to the root of the checkout
BUILD_INPUTS = ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main")
WORKLOADS = ("archive-ingest", "cdx-lookup", "gate-battery")
# the benchmark's own sources: a change regenerates the cached inputs
GEN_INPUTS = ("perfbench/src/main", "perfbench/gates.py")


def sbt_env(tmp):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # sbt's temporary files go under java.io.tmpdir; keep them in the
    # checkout. Its boot socket would go there too, but a unix socket path
    # may not be longer than about 100 bytes, which a deep checkout exceeds:
    # a one-shot build needs no server, so start without either.
    opts = ["-Dsbt.offline=true", "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData",
            "-Dsbt.server.forcestart=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def tree_hash(rels, h=None):
    """Hash of the files under the given paths, relative to the root."""
    h = h or hashlib.sha256()
    for rel in rels:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else []
        for d, dirs, fs in os.walk(top):
            # sbt's own output below project/ is not an input
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += sorted(os.path.join(d, f) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_key():
    """Hash of every build input, of the heap setting the program's build
    reads from the environment, and of where the checkout is: the launch
    line names the class directories by absolute path."""
    h = hashlib.sha256()
    h.update(("SPARK_DRIVER_MEM=%s\n" % os.environ.get("SPARK_DRIVER_MEM")).encode())
    h.update(("ROOT=%s\n" % ROOT).encode())
    return tree_hash(BUILD_INPUTS, h)


def build():
    """Compile the program and the benchmark and record the launch line,
    unless the recorded one was built from the same inputs."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no program sources next to perfbench/; "
                 "run from the root of a checkout")
    key = build_key()
    if os.path.exists(LAUNCH) and os.path.exists(LAUNCH_KEY):
        with open(LAUNCH_KEY) as f:
            if f.read() == key:
                return
    if os.path.exists(LAUNCH_KEY):
        os.remove(LAUNCH_KEY)
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("perfbench: sbt not found on PATH")
    tmp = os.path.join(WORK, "tmp-build")
    os.makedirs(tmp, exist_ok=True)
    rc = run_child([sbt, "--batch", "-Dsbt.log.noformat=true", "launcher"],
                   cwd=HERE, env=sbt_env(tmp), timeout=700, stdout=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(LAUNCH):
        sys.exit("perfbench: build failed (exit %s)" % rc)
    with open(LAUNCH_KEY, "w") as f:
        f.write(key)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    build()
    cp, opts = None, []
    with open(LAUNCH) as f:
        for line in f.read().splitlines():
            kind, _, val = line.partition(" ")
            if kind == "CP":
                cp = val
            elif kind == "OPT":
                opts.append(val)
    # inputs are cached per seed and generator version
    inputs_key = tree_hash(GEN_INPUTS)[:12]
    gate_out = os.path.join(WORK, "gate-out")
    shutil.rmtree(gate_out, ignore_errors=True)
    if a.workload == "gate-battery":
        import gates
        inputs = gate_inputs(gates, a.seed, inputs_key)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    # the CPUs this process may run on, as `nproc` counts them
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    out_path = os.path.join(WORK, "last-stdout.txt")
    err_path = os.path.join(WORK, "last-stderr.txt")
    cmd = (["java"] + opts + ["-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData", "-cp", cp,
                              "perfbench.Main",
                              "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", a.trace,
                              "--work", WORK,
                              "--inputs-key", inputs_key])
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_child(cmd, timeout=170, cwd=ROOT, env=env, stdout=out,
                       stderr=err)
    with open(err_path) as f:
        for line in f:
            if line.startswith(("FAILED", "perfbench")):
                sys.stderr.write(line)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        # the JVM's last words, without Spark's INFO chatter
        with open(err_path) as f:
            tail = [l for l in f if " INFO " not in l][-40:]
        sys.stderr.writelines(tail)
        sys.exit("perfbench: run failed (exit %s)" % rc)
    result = json.loads(lines[-1])
    if a.workload == "gate-battery":
        # each set-up's gate outputs against the oracle; a wrong gate is a
        # failed operation
        for rep in sorted(glob.glob(os.path.join(gate_out, "rep-*"))):
            for msg in gates.check(os.path.join(inputs, "tables"), rep,
                                   os.path.join(inputs, "oracle.pickle")):
                sys.stderr.write("FAILED: %s %s\n" % (os.path.basename(rep), msg))
                result["failed"] += 1
                result["correct"] = False
        shutil.rmtree(gate_out, ignore_errors=True)
    print(json.dumps(result))


def gate_inputs(gates, seed, key):
    """The seed's gate-battery tables, generated unless cached; the same
    layout as the JVM's cache of the other workloads' inputs."""
    inputs = os.path.join(WORK, "inputs", "gate-battery-%d-%s" % (seed, key))
    done = os.path.join(inputs, ".done")
    if not os.path.exists(done):
        shutil.rmtree(inputs, ignore_errors=True)
        tables = os.path.join(inputs, "tables")
        gates.generate(tables, seed)
        with open(os.path.join(inputs, "rows.txt"), "w") as f:
            f.write(str(5 + 25 + sum(gates.ROWS.values())))
        open(done, "w").close()
    return inputs


if __name__ == "__main__":
    main()
