#!/usr/bin/env python3
"""graft benchmark: one command per workload (see perfbench/README.md).

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the engine
and the benchmark from source with sbt and caches the classpath; every
run then launches the benchmark JVM directly (no sbt), with the JVM
options of build.sbt. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. A receipt with the host state, the full figures and (traced) the
span tree is kept under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("analytics", "live")
JVM_TIMEOUT_S = 165  # a run must end within 180 s
HIGH_STEAL_PCT = 5.0


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ host

def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()[1:]
        return int(cpu[7]), sum(int(x) for x in cpu)
    except (OSError, IndexError, ValueError):
        return -1, -1


def host_snapshot():
    steal, total = _cpu_ticks()
    return {"load_avg": os.getloadavg()[0], "steal": steal, "ticks": total,
            "time": time.time()}


def receipt(start, end, seed, trace):
    steal = -1.0
    if start["steal"] >= 0 and end["ticks"] > start["ticks"]:
        steal = 100.0 * (end["steal"] - start["steal"]) / (end["ticks"] - start["ticks"])
    try:
        jvm = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        jvm = jvm.splitlines()[0] if jvm else "unknown"
    except OSError:
        jvm = "unknown"
    return {"cores": cores(), "steal_pct": round(steal, 2),
            "high_steal": steal > HIGH_STEAL_PCT,
            "load_avg_start": start["load_avg"], "load_avg_end": end["load_avg"],
            "jvm": jvm, "python": platform.python_version(),
            "commit": commit(), "seed": seed, "trace": trace,
            "started": start["time"], "ended": end["time"]}


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def commit():
    """The engine's commit when the checkout is a git work tree, else a
    digest of the sources the benchmark built."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    return "src-" + source_digest()[:12]


# ----------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest():
    h = hashlib.sha1()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once per source state; return
    the runtime classpath."""
    stamp = os.path.join(WORK, "build", "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={WORK}/tmp"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " " + " ".join(opts)).strip()
    print("[perfbench] building engine + benchmark with sbt", file=sys.stderr)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=850)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


# ------------------------------------------------------------------- jvm

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def launch(cp, args, log_path):
    """build.sbt's javaOptions, then the benchmark main. Returns the parsed
    PERFBENCH line."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '48g')}", "-XX:ReservedCodeCacheSize=1g",
             f"-Djava.io.tmpdir={WORK}/tmp",
             f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
             f"-Dspark.local.dir={WORK}/spark-local"]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cores()))
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cmd = ["java"] + opts + ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; log: {log_path}")
    tagged = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not tagged:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM failed (exit {p.returncode}); log: {log_path}")
    return json.loads(tagged[-1][len("PERFBENCH "):])


# ------------------------------------------------------------- workloads

def inputs(workload, seed, smoke):
    """Generate the run's inputs; returns (jvm args, seconds spent)."""
    t0 = time.perf_counter()
    data = os.path.join(WORK, "data")
    shutil.rmtree(data, ignore_errors=True)
    if workload == "analytics":
        gen.tables(os.path.join(data, "tables"), 0.001 if smoke else 0.01, seed)
    else:
        gen.drops(os.path.join(data, "drops"), 1 if smoke else 8, 10, seed)
    return (["--data", os.path.join(data, "tables" if workload == "analytics" else "drops")],
            time.perf_counter() - t0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one pass / drop")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    host0 = host_snapshot()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    args, gen_s = inputs(a.workload, a.seed, a.smoke)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    r = launch(cp, args + ["--workload", a.workload, "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--seed", str(a.seed),
                           "--work", WORK, "--smoke", "1" if a.smoke else "0"],
               os.path.join(logs, tag + ".log"))
    r["metrics"]["setup_s"] += gen_s
    if a.workload == "analytics":
        bad = oracle.check(os.path.join(WORK, "answers"), args[1])
        r["failed"] += len(bad)
        r["correct"] = r["correct"] and not bad
        for q, why in bad:
            print(f"[perfbench] {q}: {why}", file=sys.stderr)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace:
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["wall_s"]
            r["layers"]["trace.overhead_pct"] = 100.0 * (r["metrics"]["wall_s"] - base) / base
    host = receipt(host0, host_snapshot(), a.seed, a.trace)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(dict(r, host=host, workload=a.workload, smoke=a.smoke), f, indent=1)
    if r["metrics"].get("writebacks_lost"):
        print(f"[perfbench] {r['metrics']['writebacks_lost']:.0f} of "
              f"{r['metrics']['writebacks_checked']:.0f} acknowledged write-backs were "
              "gone after the next micro-batch (known engine defect, see README.md)",
              file=sys.stderr)
    if host["high_steal"]:
        print(f"[perfbench] high-steal window ({host['steal_pct']}% steal): figures suspect",
              file=sys.stderr)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r["layers"] if a.trace else r["metrics"]
    # a per-layer metric the workload has no such layer for reads 0; an
    # end-to-end metric must be measured
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None and not a.trace]
    if missing:
        fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": source.get(m["name"]) or 0.0, "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
