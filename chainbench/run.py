#!/usr/bin/env python3
"""Ingest-to-answer benchmark: one run of one workload.

    python3 chainbench/run.py --workload backfill|dashboard \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
benchmark driver with sbt (chainbench/build.sbt); later runs reuse that
build while the sources are unchanged. The driver JVM prints one JSON
result line, which this script repeats as its own last stdout line.

Host facts (cores, load, other JVMs, free memory and page cache) are taken
before and after the run, printed to stderr and kept with the result in
<build dir>/chainbench/runs/. A run whose host facts suggest contention is
flagged NOISY there; it is never dropped.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "chainbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "chainbench")
CLASSPATH = os.path.join(BENCH, "target", "runtime.classpath")
STAMP = os.path.join(BUILD, "build.stamp")
# class-data archive of the driver JVM, written after each build
CDS = os.path.join(BUILD, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 500
ARCHIVE_TIMEOUT_S = 200


def log(msg):
    print(f"[chainbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.sep + "target" in d:
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building engine and benchmark driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
    ])
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {r.returncode})")
        sys.exit(3)
    log(f"build took {time.time() - t0:.1f} s")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    write_archive()
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_command(classpath, extra, workload, seed, seconds, trace, work, out):
    """The benchmark driver JVM's command line."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + extra
            + ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
               "-cp", classpath, "chainbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--inputs", os.path.join(BENCH, "inputs"),
               "--work", work, "--out", out])


def write_archive():
    """Write the class-data archive with one short untimed run, so that every
    measured run starts from it: it saves most of the JVM's class loading
    (about 5 s a run). The JVM takes an archive only over a classpath of
    jars; without one, runs start without it."""
    classpath = open(CLASSPATH).read().strip()
    if not all(p.endswith(".jar") and os.path.isfile(p) for p in classpath.split(os.pathsep)):
        return
    work = os.path.join(BUILD, "work-archive")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t0 = time.time()
    try:
        subprocess.run(java_command(classpath, [f"-XX:ArchiveClassesAtExit={CDS}"], "backfill", 1, 1, 0,
                                    work, os.path.join(work, "out")),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=ARCHIVE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(CDS):
        log(f"class-data archive written in {time.time() - t0:.1f} s")
    else:
        log("no class-data archive written: runs start without one")


def meminfo():
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024  # MB
    return out


def other_jvms(own):
    """Live JVMs other than our own driver."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in own:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().split(b"\0")
        except OSError:
            continue
        if cmd and os.path.basename(cmd[0].decode(errors="replace")) == "java":
            main = next((c.decode(errors="replace") for c in cmd[1:] if c and not c.startswith(b"-")
                         and b"/" not in c and b":" not in c), "?")
            found.append({"pid": int(pid), "main": main})
    return found


def cpu_jiffies():
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (f + [0] * 8)[:8]
    return user + nice + system + irq + softirq, steal


def host_facts():
    mem = meminfo()
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    busy, steal = cpu_jiffies()
    return {
        "time": time.time(),
        "nproc": os.cpu_count(),
        "loadavg": load,
        "other_jvms": other_jvms({os.getpid()}),
        "mem_available_mb": mem.get("MemAvailable"),
        "mem_free_mb": mem.get("MemFree"),
        "page_cache_mb": mem.get("Cached"),
        "cpu_busy_s": busy / os.sysconf("SC_CLK_TCK"),
        "cpu_steal_s": steal / os.sysconf("SC_CLK_TCK"),
    }


def noisy_reasons(before, after, driver_cpu_s):
    """Contention signs: CPU used by anything but the driver, CPU taken by
    the hypervisor, other JVMs, little free memory. The 1-minute load
    average is kept as a fact but not judged: it still carries the
    previous run."""
    reasons = []
    wall = max(1e-9, after["time"] - before["time"])
    foreign = (after["cpu_busy_s"] - before["cpu_busy_s"] - driver_cpu_s) / wall
    steal = (after["cpu_steal_s"] - before["cpu_steal_s"]) / wall
    if foreign > 0.25:
        reasons.append(f"other processes used {foreign:.2f} cores on average")
    if steal > 0.05 * (before["nproc"] or 1):
        reasons.append(f"hypervisor steal {steal:.2f} cores on average")
    for when, f in (("start", before), ("end", after)):
        if f["other_jvms"]:
            reasons.append(f"{len(f['other_jvms'])} other JVM(s) at {when}: "
                           + ", ".join(j["main"] for j in f["other_jvms"]))
        if (f["mem_available_mb"] or 0) < 3072:
            reasons.append(f"{f['mem_available_mb']} MB available at {when}")
    return reasons, foreign


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a stop during the build ends its child processes too
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}: run from the repository root")
        sys.exit(2)
    build()

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    out = os.path.join(BUILD, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out, exist_ok=True)
    classpath = open(CLASSPATH).read().strip()
    before = host_facts()
    log("host at start: " + json.dumps(before))

    cmd = java_command(classpath, [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else [],
                       a.workload, a.seed, a.seconds, a.trace, work, out)
    t0 = time.time()
    children0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"driver timed out after {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(4)
    wall = time.time() - t0
    after = host_facts()
    children1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    driver_cpu = (children1.ru_utime + children1.ru_stime) - (children0.ru_utime + children0.ru_stime)
    log("host at end: " + json.dumps(after))
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        log(f"driver printed no result (exit {proc.returncode})")
        sys.exit(proc.returncode or 5)
    result = json.loads(lines[-1])
    reasons, foreign = noisy_reasons(before, after, driver_cpu)
    if reasons:
        log("NOISY run: " + "; ".join(reasons))
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t0)}.json"
    with open(os.path.join(BUILD, "runs", name), "w") as fh:
        json.dump({"args": vars(a), "wall_s": wall, "exit": proc.returncode, "noisy": reasons,
                   "driver_cpu_s": driver_cpu, "foreign_cpu_cores": foreign,
                   "host_start": before, "host_end": after, "result": result}, fh, indent=1)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
