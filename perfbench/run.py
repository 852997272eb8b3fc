#!/usr/bin/env python3
"""Benchmark runner: builds the engine and harness, generates the seeded
input, runs one workload in a fresh JVM, checks every output and prints the
metrics as one JSON object on the last line of stdout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

Run it from the repository root. See perfbench/README.md for the workloads
and metrics. Everything it builds or writes stays under perfbench/.work and
the sbt target directories under perfbench/harness.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

ENGINE_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
FIXTURE_SF, FIXTURE_SEED = 0.01, 42
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"]
CORPUS = dict(docs=30000, vocab=50000, zipf_s=1.1)
MR_OPS = ["wordcount", "mr_wordcount", "mr_run_grouped"]
TOKENIZED_OPS = ["wordcount", "mr_wordcount"]
WORKLOADS = ["relational", "mr_corpus"]
# Work per run is sized from --seconds with these nominal costs (4 cores):
# one relational query, and one cycle of the three MR ops over the corpus.
QUERY_S, MR_CYCLE_S = 1.0, 6.0
E2E_UNITS = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "op_p65_s": "s",
             "peak_rss_mb": "MB"}
DEADLINE_S = 150          # inputs and JVM; the output check comes after
OP_TIMEOUT_S = 60
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs ``cmd`` in its own process group and returns its exit code. The
    whole group is killed and reaped on timeout or when this run is
    interrupted, so no child outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def on_signal(signum, _frame):
    # turns SIGTERM into SystemExit so run_group's cleanup runs
    fail(f"stopped by signal {signum}", 128 + signum)


def nproc():
    return len(os.sched_getaffinity(0))


# ---- host guard ---------------------------------------------------------------

def cpu_ticks(pid):
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def host_record():
    """nproc, loadavg and every other java/sbt process with its CPU use over
    half a second. Such a process makes the run's timings invalid."""
    others = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
            exe = os.path.basename(argv[0].decode(errors="replace"))
            cmd = b" ".join(argv).decode(errors="replace")
            if exe == "java" or exe == "sbt" or "sbt-launch" in cmd:
                others[pid] = (cmd[:160], cpu_ticks(pid))
        except (OSError, IndexError):
            continue
    time.sleep(0.5)
    hz = os.sysconf("SC_CLK_TCK")
    procs = []
    for pid, (cmd, t0) in others.items():
        try:
            pct = (cpu_ticks(pid) - t0) / hz / 0.5 * 100
        except OSError:
            continue
        procs.append({"pid": int(pid), "cpu_pct": round(pct, 1), "cmd": cmd})
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "loadavg": load, "other_jvms": procs,
            "valid": not procs}


def lock_work_dir():
    """One run per checkout at a time: runs share the work dir and inputs."""
    os.makedirs(WORK, exist_ok=True)
    fd = os.open(os.path.join(WORK, "lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another benchmark run holds perfbench/.work/lock; refusing to run", 3)
    return fd


# ---- build ----------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    log("building engine and harness with sbt")
    out_path = os.path.join(WORK, "build.out")
    with open(out_path, "w") as bout, \
            open(os.path.join(WORK, "build.log"), "w") as blog:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 800,
                       cwd=HARNESS, env=sbt_env(), stdout=bout, stderr=blog)
    stdout = open(out_path).read()
    lines = [ln for ln in stdout.splitlines()
             if not ln.startswith("[") and "spark-core" in ln]
    if rc != 0 or not lines:
        sys.stderr.write(stdout[-4000:])
        fail("sbt build failed (log: perfbench/.work/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


# ---- inputs -----------------------------------------------------------------------

def fixture_dir():
    # the directory's base name becomes part of temp view names in some
    # queries, so it follows the engine's `sf<scale>` convention
    d = os.path.join(WORK, f"fixture-g{FIXTURE_SEED}", f"sf{FIXTURE_SF}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_fixture(d, FIXTURE_SF, FIXTURE_SEED)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def corpus_dir(seed):
    """The corpus for ``seed``; other seeds' corpora are removed so the work
    dir stays small."""
    files = max(8, 2 * nproc())
    name = f"s{seed}_d{CORPUS['docs']}_f{files}"
    root = os.path.join(WORK, "corpus")
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old != name:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    d = os.path.join(root, name, "sf")
    if not os.path.exists(os.path.join(d, "stats.json")):
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        stats = gen.write_corpus(d, seed, files=files, **CORPUS)
        with open(os.path.join(d, "stats.json"), "w") as f:
            json.dump(stats, f)
    return d, json.load(open(os.path.join(d, "stats.json")))


# ---- JVM ----------------------------------------------------------------------------

def run_jvm(cp, run_dir, args, budget_s):
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # a fixed heap size keeps GC sizing from varying between runs
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        t_launch = time.time()
        rc = run_group(cmd, budget_s, stdout=jlog, stderr=subprocess.STDOUT)
    if rc is None:
        fail(f"JVM exceeded {budget_s:.0f} s (log: {run_dir}/jvm.log)")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    return t_launch, result, oracle, out


# ---- main ---------------------------------------------------------------------------

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv):
    a = parse_args(argv)
    signal.signal(signal.SIGTERM, on_signal)
    t_start = time.time()
    if not os.path.exists(ENGINE_MARKER):
        fail("engine sources not found: run from a full checkout of the repository")
    lock = lock_work_dir()
    host = host_record()
    if not host["valid"]:
        log(f"other JVMs are running; timings of this run are invalid: {host['other_jvms']}")
    cp = build()
    t_start = time.time()     # the build has its own time allowance
    cores = nproc()
    detail = {"workload": a.workload, "seed": a.seed, "host": host}
    if a.workload == "relational":
        data = fixture_dir()
        # the relational queries in seeded order, at most once each
        jvm_args = dict(data=data, ops="relational", passes=1,
                        count=max(1, round(a.seconds / QUERY_S)),
                        **{"synthetic-warm": 1})
        tables = {t: os.path.join(data, f"{t}.parquet") for t in FIXTURE_TABLES}
        cache = os.path.join(WORK, f"fixture-g{FIXTURE_SEED}", f"expected-sf{FIXTURE_SF}")
        detail["fixture"] = {"sf": FIXTURE_SF, "seed": FIXTURE_SEED}
        stats = None
    else:
        data, stats = corpus_dir(a.seed)
        cycles = max(2, round(a.seconds / MR_CYCLE_S))
        jvm_args = dict(data=data, ops=",".join(MR_OPS), passes=cycles,
                        warm=",".join(MR_OPS))
        tables = {"documents": os.path.join(data, "documents.parquet", "*.parquet")}
        cache = os.path.join(os.path.dirname(data), "expected")
        detail["corpus"] = stats
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_args.update(cores=cores, seed=a.seed, trace=a.trace,
                    **{"op-timeout": OP_TIMEOUT_S})
    budget = DEADLINE_S - (time.time() - t_start)
    t_launch, result, oracle, out = run_jvm(cp, run_dir, jvm_args, budget)

    # ---- untimed output check -------------------------------------------------
    ops = result["ops"]
    failed_ops = {o["name"]: o["error"] for o in ops if o["error"]}
    con = check.connect(tables)
    for name in sorted({o["name"] for o in ops} - set(failed_ops)):
        if name not in oracle:
            failed_ops[name] = "no oracle query"
            continue
        why = check.check(con, name, oracle[name], os.path.join(out, name), cache)
        if why:
            failed_ops[name] = f"mismatch: {why}"
    n_failed = sum(1 for o in ops if o["error"] or o["name"] in failed_ops)
    detail["failed_ops"] = failed_ops

    ok = [o for o in ops if not o["error"]]
    samples = op_samples(ops, len(result["order"]) if stats else 1)
    if not samples:
        fail(f"no op succeeded: {failed_ops}")
    detail["ops_timed"] = len(ops)
    detail["total_s"] = sum(seconds(o) for o in ok)
    detail["samples"] = len(samples)
    # p65: the highest percentile with ten of the 29 relational samples
    # beyond it
    p50, p65 = spans.percentile(samples, 0.5), spans.percentile(samples, 0.65)
    if stats:
        mb = stats["text_bytes"] / spans.MB
        for name in MR_OPS:
            s = [seconds(o) for o in ok if o["name"] == name]
            if s:
                detail[f"mb_per_s.{name}"] = mb / statistics.median(s)
    ref_path = os.path.join(WORK, f"untraced-{a.workload}.json")
    if a.trace == 0:
        values = {
            "setup_s": result["timed_start"] / 1e3 - t_launch,
            "total_s": detail["total_s"],
            "op_p50_s": p50,
            "op_p65_s": p65,
            "peak_rss_mb": result["peak_rss_kb"] * 1024 / spans.MB,
        }
        metrics = {k: (v, E2E_UNITS[k]) for k, v in values.items()}
        with open(ref_path, "w") as f:
            json.dump({"op_p50_s": p50}, f)
    else:
        tokens = {n: stats["tokens"] for n in TOKENIZED_OPS} if stats else \
            dict.fromkeys(TOKENIZED_OPS, 0)
        layer, span_list = spans.layer_metrics(ops, result["trace"], cores, tokens)
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(span_list, f)
        # tracing overhead: traced over untraced median op time, against the
        # last untraced run of this workload in this checkout (0: none yet)
        ref = json.load(open(ref_path)) if os.path.exists(ref_path) else None
        layer["trace.overhead_ratio"] = \
            p50 / ref["op_p50_s"] if ref else 0.0
        metrics = {k: (v, unit_of(k)) for k, v in layer.items()}
    print(json.dumps({"detail": detail}))
    os.close(lock)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": len(ops),
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def seconds(op):
    return (op["end"] - op["start"]) / 1e3


def op_samples(ops, cycle):
    """The samples behind op_p50_s/op_p65_s: the seconds of each complete
    cycle of ``cycle`` consecutive ops without an error. On relational a
    cycle is one query; on mr_corpus it is one run of each MR op."""
    out = []
    for i in range(0, len(ops) - cycle + 1, cycle):
        part = ops[i:i + cycle]
        if not any(o["error"] for o in part):
            out.append(sum(seconds(o) for o in part))
    return out


def per_layer_names():
    """Every per-layer metric a traced run prints."""
    no_trace = {"jobs": [], "stages": [], "tasks": {"stage": []}, "phases": []}
    m, _ = spans.layer_metrics([], no_trace, 1, dict.fromkeys(TOKENIZED_OPS, 0))
    return list(m) + ["trace.overhead_ratio"]


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("_ratio") or \
            name.endswith("per_stage") or name.endswith("_skew") or \
            ".shuffle_records_per_token." in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
