#!/usr/bin/env python3
"""wallyspark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload wire_spread --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
JVM harness (`perfbench/build.sbt`) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed into `.bench_build/work/`. The last line of standard output is the
result: `{"correct", "attempted", "failed", "metrics"}`, with every
end-to-end metric when `--trace 0` and every per-layer metric when
`--trace 1`. The line before it is the run record (workload, seed,
commit, cores, heap, filesystems, every raw number). See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing but .bench_build/ is written

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"

# wire_spread: the fixed open-loop rate (frames/s, both legs together) is
# about half the drain rate the engine reaches on a 4-core host; the
# bursts measure that drain rate.
WIRE_RATE = 20000
WIRE_BURST = 400000
WIRE_BURSTS = 3  # per measured section; their median drain rate is reported
WIRE_TOLERANCE_NS = 100_000_000  # cross-leg skew an order may see
RAMP_S = 1.5  # start of the steady phase left out of latency
WARMUP_S, WARMUP_BURSTS = 8.0, 2
LATE_P99_MS, LATE_MAX_MS = 20.0, 250.0  # open-loop validity bounds
REPLAY_KEYS, REPLAY_EVENTS_PER_KEY, REPLAY_FILES = 10_000, 6, 12
REPLAY_DISORDER_US = 20_000_000


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ helpers

def percentiles(values, ps):
    """Nearest-rank percentiles of `values` plus the sample count `n`, and
    for each percentile how many samples lie above it."""
    s = sorted(values)
    out = {"n": len(s)}
    for p in ps:
        if not s:
            out[f"p{p:g}"], out[f"above_p{p:g}"] = float("nan"), 0
            continue
        i = min(len(s) - 1, max(0, math.ceil(p / 100 * len(s)) - 1))
        out[f"p{p:g}"], out[f"above_p{p:g}"] = s[i], len(s) - 1 - i
    return out


def result_line(correct, attempted, failed, values, metrics):
    """The final line: every metric in `metrics` (the BENCHMARK.json list
    for this mode) by name, with its unit."""
    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
    })


def fs_type(path):
    """Filesystem type of the mount holding `path`."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and (path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")) \
                        and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# -------------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the JVM classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources here: run from the root of a wallyspark checkout")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own temp files (server socket, file watcher, JNA) go to
    # .bench_build too
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "export perfbench/Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "/" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classpath, work, argv, **kw):
    """Start the harness JVM with every file it writes under `work`."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, GRAFT_DISK_LOCAL_DIR=local, SPARK_LOCAL_DIRS=local)
    # The heap is fixed and touched up front, so peak RSS reads the heap
    # plus native memory (threads, code cache, metaspace, direct buffers)
    # rather than how far the collector happened to grow the heap.
    # Only the C1 compiler runs: with C2 the engine kept getting faster for
    # a minute and more (micro-batches 900 -> 530 ms over 40 s of replay
    # trials), so a run measured how far the JIT had got, not the engine.
    # C1 code is slower but steady after the warm-up.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dderby.system.home=" + tmp]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", classpath, "perfbench.Main"] + argv)
    return subprocess.Popen(cmd, cwd=work, env=env, **kw)


# ---------------------------------------------------------------- workloads

def stage(workload, seed, work):
    import gen
    t0 = time.perf_counter()
    info = {}
    if workload == "replay_window":
        info["events"] = gen.write_replay(os.path.join(work, "replay"), seed, REPLAY_KEYS,
                                          REPLAY_EVENTS_PER_KEY, REPLAY_FILES, REPLAY_DISORDER_US)
        info["keys"] = REPLAY_KEYS
    info["generate_s"] = time.perf_counter() - t0
    return info


def drive_wire(start, seed, seconds, traced, record):
    """Play the generator's side of `wire_spread`: open the sockets, start
    the JVM through `start(extra_argv)`, answer its set-up handshakes, warm
    up, then per measured section send WIRE_BURSTS backlog bursts of
    WIRE_BURST frames each and a steady open-loop phase at WIRE_RATE.
    Returns (JVM process, untraced e2e metrics, traced e2e metrics or None,
    gen layer metrics, orders checked, failures, messages)."""
    import numpy as np
    import gen
    import wire

    legs = (wire.Leg(), wire.Leg())
    recv = wire.Receiver()
    market = wire.Market(np.random.default_rng([seed, 4]), gen.wire_population(seed))
    sent = wire.Sent()
    proc = start(["--quote-port", str(legs[0].port), "--order-port", str(legs[1].port),
                  "--result-port", str(recv.port), "--ramp-ms", str(int(RAMP_S * 1000))])

    def say(line):
        proc.stdin.write(line + "\n")
        proc.stdin.flush()

    def hear(expect):
        while True:
            line = proc.stdout.readline()
            if not line:
                raise RuntimeError(f"JVM exited while the generator waited for {expect}")
            if line.startswith(expect):
                return line.strip()

    try:
        reps = 0
        while True:
            line = hear("")
            if line.startswith("STARTED"):
                reps += 1
                if not all(l.wait_accepted(reps, 120) for l in legs):
                    raise RuntimeError("the engine's sources never connected")
                say("CONNECTED")
            elif line == "READY":
                break
        orders = 0

        def run_phase(**kw):
            nonlocal orders
            n, first_ns, late = wire.send_schedule(legs, market, sent, WIRE_RATE, **kw)
            orders += n // 2
            if not recv.wait_count(orders, 120):
                raise RuntimeError(f"only {recv.count} of {orders} orders came back")
            return n, first_ns, late

        # untimed: JIT, codegen, first state store use, large batches
        run_phase(seconds=WARMUP_S)
        for _ in range(WARMUP_BURSTS):
            run_phase(total=WIRE_BURST)
        # the bursts take about a third of the measured time, the steady
        # phase the rest
        steady_s = RAMP_S + max(1.0, 0.65 * seconds)

        def section():
            say("MARK measure_start")
            drains = []
            for _ in range(WIRE_BURSTS):
                say("MARK burst_start")
                burst_first = recv.count
                b, first_ns, _ = run_phase(total=WIRE_BURST)
                ts, _, _, _, _, arrival = recv.results()
                drains.append((int(arrival[burst_first:].max()) - first_ns) / 1e9)
                say("MARK burst_end")
            say("MARK steady_start")
            start = recv.count
            n, first_ns, late = run_phase(seconds=steady_s)
            say("MARK steady_end")
            ts, _, _, _, _, arrival = recv.results()
            # orders due in the phase's first RAMP_S ride micro-batches
            # that are still growing to their steady size; skip them
            keep = ts[start:] >= first_ns + int(RAMP_S * 1e9)
            lat = ((arrival[start:] - ts[start:])[keep] / 1e6).tolist()
            say("MARK measure_end")
            drain_s = statistics.median(drains)
            pl = percentiles(lat, [50, 99])
            lp = percentiles(late, [99])
            lp["max"] = max(late)
            if lp["p99"] > LATE_P99_MS or lp["max"] > LATE_MAX_MS:
                raise RuntimeError(
                    f"generator fell behind its schedule (p99 {lp['p99']:.1f} ms, "
                    f"max {lp['max']:.1f} ms): not a valid latency run")
            return ({"latency_p50_ms": pl["p50"], "latency_p99_ms": pl["p99"],
                     "throughput_eps": b / drain_s},
                    {"gen.sent_events": n + WIRE_BURSTS * b, "gen.late_ms_p99": lp["p99"],
                     "gen.late_ms_max": lp["max"]},
                    {"latency": pl, "lateness": lp, "burst_drain_s": drains})

        e2e, gen_layers, detail = section()
        record["latency_detail"] = detail
        traced_e2e = None
        if traced:
            say("TRACE")
            hear("TRACING")
            traced_e2e, gen_layers, detail = section()
            record["traced_latency_detail"] = detail
        say("STOP")
        n, failures, errors = wire.check(sent, recv.results(), WIRE_TOLERANCE_NS)
        failures += recv.bad
        return proc, e2e, traced_e2e, gen_layers, n, failures, errors
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        recv.close()
        for l in legs:
            l.close()


def run(args):
    bench = spec()
    classpath, digest = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "commit": git_commit(), "sources_sha256": digest,
              "nproc": cores(), "master": f"local[{cores()}]", "heap": HEAP,
              "checkpoint_fs": fs_type(work), "spark_local_dir_fs": fs_type(work)}
    record.update(stage(args.workload, args.seed, work))
    out = os.path.join(work, "result.json")
    argv = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(cores()), "--out", out]
    errlog = open(os.path.join(work, "jvm.log"), "w")
    gen_layers, wire_e2e, attempted, failed, errors = {}, None, 0, 0, []
    if args.workload == "wire_spread":
        start = lambda extra: jvm(classpath, work, argv + extra, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=errlog, text=True)
        proc, wire_e2e, wire_traced, gen_layers, attempted, failed, errors = drive_wire(
            start, args.seed, args.seconds, args.trace == 1, record)
    else:
        proc = jvm(classpath, work, argv, stdin=subprocess.DEVNULL, stdout=errlog, stderr=errlog)
    code = wait(proc, 170)
    errlog.close()
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"JVM exited with {code}", 1)
    with open(out) as f:
        res = json.load(f)
    metrics = dict(res["metrics"])
    if args.workload == "wire_spread":
        metrics.update(wire_traced if args.trace else wire_e2e)
        if args.trace:
            res["untraced"].update(wire_e2e)
    attempted += res["attempted"]
    failed += res["failed"]
    errors += res["errors"]
    layers = {m["name"]: 0.0 for m in bench["per_layer"]}
    layers.update(res["layers"])
    layers.update(gen_layers)
    if args.trace:
        layers["trace.overhead_share"] = metrics["latency_p50_ms"] / res["untraced"]["latency_p50_ms"] - 1
    record.update({"metrics": metrics, "untraced_metrics": res["untraced"], "layers": layers,
                   "setup_s_samples": res["setup_s"], "jvm": res["info"], "errors": errors,
                   "attempted": attempted, "failed": failed})
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(keep, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if os.path.isfile(out + ".trace.json"):
        shutil.copy(out + ".trace.json", os.path.join(keep, name + ".trace.json"))
    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log(f"incorrect: {e}")
    print(json.dumps(record, default=str))
    values = layers if args.trace else metrics
    print(result_line(failed == 0, max(1, attempted), failed, values,
                      bench["per_layer"] if args.trace else bench["end_to_end"]))


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def wait(proc, timeout):
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -9


def selftest():
    import unittest
    import test_run
    suite = unittest.defaultTestLoader.loadTestsFromModule(test_run)
    ok = unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful()
    classpath, _ = build()
    work = os.path.join(BUILD, "work", "selftest")
    os.makedirs(work, exist_ok=True)
    proc = jvm(classpath, work, ["--workload", "selftest"], stdin=subprocess.DEVNULL)
    ok = wait(proc, 120) == 0 and ok
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["wire_spread", "replay_window"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found: run from the root of the checkout")
    if args.selftest:
        selftest()
    if not args.workload:
        ap.error("--workload is required")
    try:
        run(args)
    except RuntimeError as e:
        fail(f"run failed: {e}", 3)


if __name__ == "__main__":
    main()
