#!/usr/bin/env python3
"""Benchmark of the graft engine: builds it from source, generates seeded
inputs, runs one workload in a fresh JVM, checks every output and prints
the metrics.

    python3 perfbench/run.py --workload retail_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; with ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones of a traced run.  Everything the benchmark writes stays
under ``perfbench/work`` and ``perfbench/target``.
"""
import argparse
import glob
import hashlib
import json
import resource
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# One command must end within 180 s once built; the first may build.
RUN_LIMIT_S = 170
# A worker run during which other guests of the host took more than
# this share of its runnable CPU time is repeated once if time allows.
STEAL_LIMIT = 0.025

sys.path.insert(0, HERE)
import gen  # noqa: E402
import verify  # noqa: E402

RETAIL_SF = 0.005
ELT_SF = 0.005


def log(*a):
    print(*a, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    pats = ["src/main/**/*", "build.sbt", "project/build.properties",
            "perfbench/src/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = source_stamp()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Xmx3g -Dsbt.server.forcestart=false"
    if os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "Compile / copyResources", "jarDir"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"# built in {time.time() - t0:.1f} s")
    return True


# --------------------------------------------------------------- inputs

def cached(path, make):
    """Runs ``make(path)`` once per path; its return value is the traffic
    record kept beside the inputs."""
    done = os.path.join(path, "traffic.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        gen.save_json(make(path), done + ".tmp")
        os.rename(done + ".tmp", done)
    with open(done) as f:
        return json.load(f)


def increments_for(seconds):
    """Pipeline increments in one run: about 12 s each on a 4-core host."""
    return max(2, round(seconds / 10))


def inputs(workload, seed, seconds, tiny=False):
    """(input dir, warm-up dir, traffic record) for one seed."""
    base = os.path.join(WORK, "inputs", workload)
    if workload == "retail_batch":
        sf = 0.001 if tiny else RETAIL_SF
        d = os.path.join(base, f"seed-{seed}-sf{sf}")
        t = cached(d, lambda p: gen.star_schema(p, seed, sf))
        w = os.path.join(base, "warm")
        cached(w, lambda p: gen.star_schema(p, 0, 0.001))
    elif workload == "elt_incremental":
        n = increments_for(seconds)
        d = os.path.join(base, f"seed-{seed}-sf{ELT_SF}-inc{n}")
        t = cached(d, lambda p: gen.elt_inputs(p, seed, n, sf=ELT_SF))
        w = d  # the pipeline warms up on its own first increment
    return d, w, t


def expected(workload, inp, traffic, result):
    """Expected outputs for this seed, computed once and cached."""
    path = os.path.join(inp, "expected.json")
    exp = {}
    if os.path.exists(path):
        with open(path) as f:
            exp = json.load(f)
    if workload == "retail_batch":
        oracles = result["outputs"]["oracles"]
        missing = {k: v for k, v in oracles.items() if k not in exp}
        if missing:
            exp.update(verify.retail_expected(inp, missing))
    elif workload == "elt_incremental":
        if "increments" not in exp:
            fps = verify.elt_expected(inp, traffic["increments"])
            exp["increments"] = {f"inc={k + 1:03d}": v for k, v in enumerate(fps)}
    with open(path + ".tmp", "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    os.rename(path + ".tmp", path)
    return exp


# ---------------------------------------------------------------- worker

def spark_jars():
    """The jar directory the build compiled against (see build.sbt)."""
    with open(os.path.join(HERE, "target", "jar-dir.txt")) as f:
        return f.read().strip()


def heap():
    """Half the host memory, clamped to 2-8 GB (the rule the engine's test
    runs use)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_ticks():
    """(user+system, steal) clock ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[2], v[7]


def own_cpu():
    """User + system CPU seconds of this process's finished children."""
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def run_worker(workload, seed, seconds, trace, inp, warm, deadline, inject=False):
    """Runs the worker; when the host's other guests took more than
    STEAL_LIMIT of its runnable CPU time meanwhile (steal in /proc/stat),
    runs it once more if time seems to allow, and returns the result of
    the attempt with the least steal (the first, if the second runs out
    of time)."""
    best = None
    for attempt in range(2):
        t0 = time.time()
        try:
            result, steal = run_worker_once(workload, seed, seconds, trace, inp, warm,
                                            deadline, inject)
        except TimeoutError as e:
            if best is None:
                fail(str(e), 1)
            log(f"# {e}; reporting the first attempt")
            break
        if best is None or steal < best[1]:
            best = (result, steal)
        if steal <= STEAL_LIMIT or time.time() + 1.2 * (time.time() - t0) > deadline:
            break
        log(f"# {steal:.0%} of the host's CPU time was stolen by other guests; repeating")
    return best[0]


def run_worker_once(workload, seed, seconds, trace, inp, warm, deadline, inject):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    out = os.path.join(WORK, f"result-{workload}-{seed}-trace{trace}.json")
    for stale in glob.glob(out + "*"):
        os.remove(stale)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
            "--workload", workload, "--inputs", inp, "--warm", warm,
            "--work", os.path.join(WORK, "run"), "--out", out,
            "--seconds", str(seconds), "--seed", str(seed), "--trace", str(trace),
            "--cores", str(os.cpu_count() or 1), "--bench", HERE,
            "--inject", "1" if inject else "0"]
    logf = os.path.join(WORK, "logs", f"{workload}-{seed}-trace{trace}.log")
    busy0, steal0 = cpu_ticks()
    own0 = own_cpu()
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise TimeoutError(f"worker timed out (log: {logf})")
    busy1, steal1 = cpu_ticks()
    busy, steal = (busy1 - busy0) / 100, (steal1 - steal0) / 100
    own = own_cpu() - own0
    log(f"# host cpu during the worker: busy {busy:.1f} s (the worker {own:.1f} s), "
        f"stolen by other guests {steal:.1f} s")
    if rc != 0 or not os.path.exists(out):
        with open(logf) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"worker exited with {rc} (log: {logf})", 1)
    with open(out) as f:
        return json.load(f), (steal / (busy + steal) if busy + steal else 0.0)


# --------------------------------------------------------------- metrics

def tail(latencies):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples).  Below 21 samples no percentile above
    the median has 10 samples beyond it; the tail is then the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n >= 21:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return (xs[-1] if xs else 0.0), 100.0, n


def judge(workload, phase, exp):
    """Per op: (ok, reason). Errors and wrong outputs both fail."""
    verdicts = []
    for op in phase["ops"]:
        if op["error"]:
            verdicts.append((False, op["error"]))
        elif workload == "retail_batch":
            want = exp.get(op["check"])
            verdicts.append((op["digest"] == want,
                             f"digest {op['digest']} != expected {want}"))
        else:
            want = exp["increments"][op["check"]]
            verdicts.append((op["digest"] == want,
                             f"fingerprint {op['digest']} != expected {want}"))
    return verdicts


def input_rows(workload, op, phase, traffic):
    if workload == "retail_batch":
        scans = phase["outputs"]["scans"].get(op["check"], [])
        return sum(traffic["table_rows"].get(t, 0) for t in scans)
    return traffic["per_increment_rows"][op["check"]]


def end_to_end(workload, result, verdicts, traffic):
    ops = result["ops"]
    ok = [op for op, (good, _) in zip(ops, verdicts) if good]
    lat = [op["end"] - op["start"] for op in ok]
    wall = sum(op["end"] - op["start"] for op in ops)
    rows = sum(input_rows(workload, op, result, traffic) for op in ok)
    t, pct, n = tail(lat)
    return {
        "setup_s": result["setup_s"],
        "wall_s": wall,
        "throughput_rows_per_s": rows / wall if wall > 0 else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_tail_s": t,
    }, {"op_tail_percentile": pct, "op_samples": n}


def declared(kind):
    """(name, unit) of every metric BENCHMARK.json declares of a kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def plan_check(workload, seed, phase):
    """Executed-plan digests per query, compared with any other seed's."""
    plans = phase["outputs"].get("plans") or {}
    if not plans:
        return 0, []
    path = os.path.join(WORK, f"plans-{workload}.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    known[str(seed)] = plans
    with open(path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    differ = sorted({q for s, ps in known.items() if s != str(seed)
                     for q, d in ps.items() if q in plans and plans[q] != d})
    return len(differ), differ


# ----------------------------------------------------------------- main

def untraced_wall(workload, seed, seconds, inp, warm, deadline):
    """``wall_s`` of an untraced fresh-JVM run: of this seed if this
    checkout made one, else the median of the other seeds' runs it made,
    else of a run of this seed made now."""
    walls = {}
    for p in glob.glob(os.path.join(WORK, f"wall-{workload}-*-{seconds}.json")):
        with open(p) as f:
            walls[os.path.basename(p).split("-")[-2]] = json.load(f)["wall_s"]
    if str(seed) in walls:
        return walls[str(seed)], "this seed's"
    if walls:
        return statistics.median(walls.values()), f"the median of {len(walls)} other seeds'"
    result = run_worker(workload, seed, seconds, 0, inp, warm, deadline)
    return result["wall_s"], "this seed's"


def run(workload, seed, seconds, trace, tiny=False, inject=False):
    built = build()
    inp, warm, traffic = inputs(workload, seed, seconds, tiny)
    deadline = time.time() + (RUN_LIMIT_S if not built else 600)
    log(f"# workload {workload} seed {seed}: traffic " + json.dumps(
        {k: v for k, v in traffic.items() if not isinstance(v, dict)}, sort_keys=True))
    if trace:
        base_wall, base = untraced_wall(workload, seed, seconds, inp, warm, deadline)
        log(f"# trace overhead against {base} untraced wall_s {base_wall:.3f} s")
    result = run_worker(workload, seed, seconds, trace, inp, warm, deadline, inject)
    if not trace and not inject:
        gen.save_json({"wall_s": result["wall_s"]},
                      os.path.join(WORK, f"wall-{workload}-{seed}-{seconds}.json"))
    v0 = time.time()
    exp = expected(workload, inp, traffic, result)
    verdicts = judge(workload, result, exp)
    verify_s = time.time() - v0
    attempted = len(verdicts)
    failed = [(op["name"], why) for op, (good, why) in zip(result["ops"], verdicts)
              if not good]
    log(f"# failed_ratio {len(failed) / max(1, attempted):.4f} "
        f"({len(failed)} of {attempted} operations)")
    for name, why in failed:
        log(f"# FAILED {name}: {why}")
    if trace:
        layers = dict(result["layers"])
        layers["bench.verify_s"] = layers.get("bench.verify_s", 0.0) + verify_s
        layers["bench.trace_overhead_ratio"] = result["wall_s"] / base_wall
        layers["jvm.peak_rss_mb"] = result["peak_rss_mb"]
        layers["jvm.heap_after_gc_peak_mb"] = result["heap_after_gc_peak_mb"]
        mismatches, differ = plan_check(workload, seed, result)
        layers["bench.plan_digest_mismatches"] = mismatches
        for q in differ:
            log(f"# plan digest differs from another seed's: {q}")
        for k in sorted(set(layers) - {k for k, _ in declared("per_layer")}):
            log(f"# {k} = {layers[k]:.6g} (not declared)")
        metrics = {k: (layers.get(k, 0.0), u) for k, u in declared("per_layer")}
    else:
        values, extra = end_to_end(workload, result, verdicts, traffic)
        metrics = {k: (values[k], u) for k, u in declared("end_to_end")}
        pct = extra["op_tail_percentile"]
        log(f"# op_tail_s is the {'maximum' if pct == 100.0 else f'p{pct:.1f}'} "
            f"of {extra['op_samples']} operations")
    for k, (v, u) in metrics.items():
        log(f"# {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return failed


def self_test():
    """An injected throwing operation and an injected wrong result must
    each be counted as failed, by name."""
    failed = run("retail_batch", 0, 1, 0, tiny=True, inject=True)
    names = {n for n, _ in failed}
    if names != {"inject_throw", "inject_wrong"}:
        fail(f"self-test: expected exactly the two injected failures, got {sorted(names)}", 1)
    log("# self-test passed: both injected failures raised failed_ratio")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["retail_batch", "elt_incremental"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    elif a.workload:
        run(a.workload, a.seed, a.seconds, a.trace)
    else:
        ap.error("--workload or --self-test is required")


if __name__ == "__main__":
    main()
