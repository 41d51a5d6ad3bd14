#!/usr/bin/env python3
"""Lake benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <ingest|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness from source (sbt, offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from --seed, starts one JVM with Spark in local[nproc] mode, runs
one closed-loop client for --seconds of measured op time, checks every
op's output, and prints human-readable lines followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Everything the run writes lives under one temp root inside the checkout
(.perfbench_work/), which is deleted when the run ends.

Other modes:
    --selftest   harness self-tests (percentile rule, seed determinism,
                 bytes accounting, listener attribution)
    --pin        print the analytics result digests of the current build
"""
import argparse
import contextlib
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SIZES = {"ingest_batches": 40, "stream_slices": 28}
PINNED = os.path.join(HERE, "pinned_digests.json")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# ------------------------------------------------------------------ build
def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources at src/main/scala; "
                         "run from the repository root")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(classes_dir()):
        return
    log("building library and harness (sbt compile)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                   timeout=BUILD_TIMEOUT_S, log_path=os.path.join(HERE, "target", "build.log"))
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (exit {rc}); see perfbench/target/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def run_child(cmd, cwd, env, timeout, log_path):
    """Run a child in its own process group; kill the group on timeout
    and wait for it to end."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(tmp, main, *args):
    cp = classes_dir() + os.pathsep + "/opt/spark/jars/*"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx3g", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={cpus()}", f"-XX:CICompilerCount={max(2, min(cpus(), 4))}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]


# ------------------------------------------------------------------ one run
@contextlib.contextmanager
def work_root(name):
    """The run's one temp root under .perfbench_work/, removed on exit."""
    root = os.path.join(os.getcwd(), ".perfbench_work", name)
    os.makedirs(root)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass


def write_plan(path, entries):
    with open(path, "w") as fh:
        for k, v in entries.items():
            fh.write(f"{k}={v}\n")


def run_jvm(workload, seed, seconds, trace, extra=None):
    """Generate inputs, run the workload's JVM, return its raw result."""
    with work_root(f"{workload}-{os.getpid()}-{int(time.time() * 1000)}") as root:
        inp, work, tmp = (os.path.join(root, d) for d in ("input", "work", "tmp"))
        for d in (inp, work, tmp):
            os.makedirs(d)
        plan = gen.write_inputs(workload, seed, inp, SIZES)
        plan.update(workload=workload, seed=seed, seconds=seconds, trace=trace, cpus=cpus(),
                    input=inp, work=work, out=os.path.join(root, "result.json"))
        plan.update(extra or {})
        if "pinned" not in plan:
            plan["pinned"] = pinned_entry()
        plan_path = os.path.join(root, "plan.properties")
        write_plan(plan_path, plan)
        jvm_log = os.path.join(root, "jvm.log")
        rc = run_child(java_cmd(tmp, "perfbench.Main", plan_path), cwd=os.getcwd(),
                       env=dict(os.environ), timeout=JVM_TIMEOUT_S, log_path=jvm_log)
        if rc != 0 or not os.path.exists(plan["out"]):
            with open(jvm_log) as fh:
                lines = [ln for ln in fh if not ln.startswith("\tat ")]
            sys.stderr.write("".join(lines[-80:]))
            raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")
        with open(jvm_log) as fh:
            for line in fh:
                if "[perfbench]" in line:
                    sys.stderr.write(line)
        with open(plan["out"]) as fh:
            return json.load(fh)


def pinned_entry():
    if not os.path.exists(PINNED):
        return ""
    with open(PINNED) as fh:
        return ",".join(f"{k}={v}" for k, v in sorted(json.load(fh)["digests"].items()))


def _terminate(signum, frame):
    # turn SIGTERM into an exception so the child JVM's process group is
    # killed and the temp root removed on the way out
    raise SystemExit(f"perfbench: terminated by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    build()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(run_jvm_selftest))
    if a.pin:
        pin_path = os.path.join(os.getcwd(), ".perfbench_pins.txt")
        try:
            run_jvm("analytics", a.seed, 1, 0, {"pin_out": pin_path, "pinned": ""})
        finally:
            pins = {}
            if os.path.exists(pin_path):
                with open(pin_path) as fh:
                    pins = dict(line.strip().split("=", 1) for line in fh if "=" in line)
                os.remove(pin_path)
        print(json.dumps({"digests": dict(sorted(pins.items()))}, indent=1))
        return
    if not a.workload:
        ap.error("--workload is required")
    raw = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    result = report.summarize(a.workload, raw, a.trace, cpus())
    for line in result.pop("lines"):
        print(line)
    print(json.dumps(result))


def run_jvm_selftest():
    """Run the JVM half of the self-tests; returns its exit code."""
    with work_root(f"selftest-{os.getpid()}") as root:
        os.makedirs(os.path.join(root, "tmp"))
        log_path = os.path.join(root, "selftest.log")
        rc = run_child(java_cmd(os.path.join(root, "tmp"), "perfbench.SelfTest", root),
                       cwd=os.getcwd(), env=dict(os.environ), timeout=JVM_TIMEOUT_S,
                       log_path=log_path)
        with open(log_path) as fh:
            lines = fh.read().splitlines()
        print("\n".join(ln for ln in lines if ln.startswith("[selftest]")))
        if rc != 0:
            print("\n".join(ln for ln in lines if " INFO " not in ln and
                            not ln.startswith("[selftest]"))[-4000:])
        return rc


if __name__ == "__main__":
    main()
