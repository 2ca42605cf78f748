#!/usr/bin/env python3
"""One-command benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --make-digests

Run from the repository root. The first run compiles the program
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships in the Spark jars, into .bench_build/ (or $CARGO_TARGET_DIR);
later runs reuse the classes while the sources are unchanged. Each run
launches one JVM, checks every result, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones; a traced run
also writes its spans to .bench_build/trace/<workload>.json.

--make-digests recomputes perfbench/expected/digests.json: DuckDB runs each
batch operation's oracle SQL over perfbench/data/sf0.1.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("batch", "rehive-serve")
# the fixed seed-42 tables of the batch workload, one directory per scale
DATA = os.path.join(HERE, "data")
DIGESTS = os.path.join(HERE, "expected", "digests.json")
# a benchmark JVM that runs longer than this is killed; builds are not counted
JVM_LIMIT_S = 160
# after this long the JVM starts no further warm pass beyond the first two,
# so a run on a slowed machine still ends well inside JVM_LIMIT_S
JVM_WIND_DOWN_S = 95
HEAP = "3g"
YOUNG = "512m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        fail("no Scala compiler among the Spark jars in " + d)
    return d


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def compile_all(out):
    """Compile program and harness once per source state; return the classpath."""
    prog_src = sources("src/main/scala")
    if not prog_src:
        fail("no program sources under src/main/scala (run from the repository root)")
    harness_src = sources(os.path.join(HERE, "src"))
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in prog_src + harness_src:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    cls = os.path.join(out, "classes")
    prog, harness = os.path.join(cls, "program"), os.path.join(cls, "harness")
    cp = [harness, prog, os.path.join(jars, "*")]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(cls, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        shutil.rmtree(cls, ignore_errors=True)
        os.makedirs(prog)
        os.makedirs(harness)
        for dest, srcs, extra in ((prog, prog_src, []), (harness, harness_src, [prog])):
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                   "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                   "-usejavacp", "-nowarn", "-d", dest]
            if extra:
                cmd += ["-cp", ":".join(extra)]
            r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
            if r.returncode != 0:
                sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
                fail("compilation failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return cp


def run_jvm(cp, work, args, deadline):
    """Run perfbench.Main; stderr goes to a log that is shown on failure."""
    for sub in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # C1 only: C2 compilation of Spark's generated code does not settle
    # within a run, so warm passes kept getting cheaper (README.md). C1
    # alone gets a 48 MB code cache, which rehive-serve fills in its third
    # pass; the JIT then stops and restarts as the cache is swept, so give
    # it the tiered default instead
    # a fixed young generation: G1 otherwise sizes it from its pause times,
    # so the peak resident memory followed the machine's speed
    cmd = ["java", "-Xmx" + HEAP, "-Xmn" + YOUNG, "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + os.path.join(work, "derby"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    # glibc's default of one malloc arena per core and thread grows native
    # memory by chance; Hadoop launches its JVMs with 4 as well
    env = dict(os.environ, MALLOC_ARENA_MAX="4")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True, env=env)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            # a thread dump into the log first, to show where it hung
            try:
                os.kill(p.pid, signal.SIGQUIT)
                time.sleep(2)
            except ProcessLookupError:
                pass
            rc = "timeout"
        finally:
            # also when this script is stopped: the JVM has its own session
            if p.poll() is None:
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                p.wait()
    if rc != 0:
        sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
        fail("benchmark JVM failed (%s)" % rc)


def cpu_ticks():
    """Machine-wide CPU ticks from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def file_sha(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def tables_in(data):
    return sorted(f[:-len(".parquet")] for f in os.listdir(data) if f.endswith(".parquet"))


def inputs_sha(data):
    h = hashlib.sha256()
    for t in tables_in(data):
        h.update(("%s %s\n" % (t, file_sha(os.path.join(data, t + ".parquet")))).encode())
    return h.hexdigest()


def duckdb_con(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables_in(data):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(data, t + ".parquet")))
    return con


def make_digests(cp, out):
    """Run every batch operation's oracle SQL in DuckDB; cache the digests."""
    import canon
    work = os.path.join(out, "oracle-%d" % os.getpid())
    os.makedirs(work)
    try:
        res = os.path.join(work, "oracle.json")
        run_jvm(cp, work, ["--mode", "oracle", "--out", res], time.time() + 120)
        sqls = json.load(open(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    queries = {}
    for name, o in sorted(sqls.items()):
        data = os.path.join(DATA, o["data"])
        t = time.time()
        n, sha = canon.duckdb_digest(duckdb_con(data), o["sql"])
        queries[name] = {"sql_sha256": hashlib.sha256(o["sql"].encode()).hexdigest(),
                         "inputs_sha256": inputs_sha(data), "rows": n, "sha256": sha}
        print("%-26s %8d rows  %6.1f s" % (name, n, time.time() - t), file=sys.stderr)
    with open(DIGESTS, "w") as f:
        json.dump(queries, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote " + DIGESTS, file=sys.stderr)


def expected_batch(rec):
    """Expected digest per operation: the cached DuckDB digest when its
    oracle SQL and input files are the ones this run used, else a fresh
    DuckDB run (outside every timed pass)."""
    import canon
    cache = json.load(open(DIGESTS)) if os.path.exists(DIGESTS) else {}
    out = {}
    for name, o in rec["oracle"].items():
        data = os.path.join(DATA, o["data"])
        c = cache.get(name)
        if c and c["sql_sha256"] == o["sql_sha256"] and c["inputs_sha256"] == inputs_sha(data):
            out[name] = c
        else:
            print("perfbench: no cached digest for %s; running DuckDB" % name, file=sys.stderr)
            n, sha = canon.duckdb_digest(duckdb_con(data), o["sql"])
            out[name] = {"rows": n, "sha256": sha}
    return out


def rehive_inputs(out, domain_seed, script_seed):
    """(domain dir, script dir) of the seeded rehive-serve inputs, generated
    on first use: the domain once per domain seed, the script per seed."""
    import rehive_gen
    gen = file_sha(os.path.join(HERE, "rehive_gen.py"))[:12]
    dom = os.path.join(out, "rehive", "%s-d%d" % (gen, domain_seed))
    script = os.path.join(dom, "s%d" % script_seed)
    if not os.path.exists(os.path.join(script, "expected.json")):
        with open(os.path.join(out, "build.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            rehive_gen.generate(dom, script, domain_seed, script_seed)
    return dom, script


def check(rec, expected):
    """Compare every recorded result with its expected digest."""
    errors = []
    for op in rec["ops"]:
        key = str(op["req"]) if op["req"] >= 0 else op["name"]
        e = expected.get(key)
        if op["error"]:
            continue
        if e is None:
            errors.append("%s: nothing to check against" % key)
        elif (op["rows"], op["sha"]) != (e["rows"], e["sha256"]):
            errors.append("%s (pass %d): %d rows %s, expected %d rows %s" % (
                op["name"], op["pass"], op["rows"], op["sha"][:12], e["rows"], e["sha256"][:12]))
        errors += ["%s (pass %d): %s" % (op["name"], op["pass"], v) for v in op["violations"]]
    return errors


def pct(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))]


TAIL_PCT = 85
ROUTES = ("user_with_package", "referrals_of", "gift_codes_of", "commission_feed",
          "notification_feed", "list_packages", "balance", "redeem", "request_withdrawals")
QUERIES = ("q64_tpch_q3", "q31_passive_commissions", "q60_cosine_topk", "q43_stream_tumbling")


def warm_from(rec):
    """Index of the first counted warm pass. The passes before it are the
    first pass of each session and the first warm pass, which still carries
    JIT compilation."""
    return rec["cold_passes"] + 1


def end_to_end(rec):
    wf = warm_from(rec)
    warm = [p for p in rec["passes"] if p["index"] >= wf and not p["traced"]]
    first = [p for p in rec["passes"] if p["index"] < rec["cold_passes"]]
    return {
        "setup_s": statistics.median(s["total_s"] for s in rec["setups"]),
        "first_pass_s": statistics.median(p["wall_s"] for p in first),
        "pass_s": statistics.median(p["wall_s"] for p in warm),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# operations whose work is a graft.functions kernel
KERNEL_OPS = {"q60_cosine_topk"}


def per_layer(rec):
    """Per-layer metrics of a traced run, each defined in README.md.

    Execution and planning counters are per traced warm pass; a layer the
    workload does not call reads 0."""
    passes = {p["index"]: p for p in rec["passes"]}
    wf = warm_from(rec)
    traced = sorted(i for i, p in passes.items() if i >= wf and p["traced"])
    bare = sorted(i for i, p in passes.items() if i >= wf and not p["traced"])
    n = max(1, len(traced))
    ops = [o for o in rec["ops"] if not o["error"]]
    tw = [o for o in ops if o["pass"] in traced]
    lat = lambda o: o["build_s"] + o["action_s"]
    setups = rec["setups"]
    m = {
        "harness.session_s": med(s["session_s"] for s in setups),
        "harness.cold_setup_s": setups[0]["total_s"],
        "harness.jit_s": rec["jit_s"],
        "harness.gc_s": rec["gc_s"],
        "tables.resolve_s": med(s["tables_s"] for s in setups),
        "op.build_s": sum(o["build_s"] for o in tw) / n,
        "exec.action_s": sum(o["action_s"] for o in tw) / n,
    }
    plan = [sum(o["plan_s"][k] for o in tw) / n for k in range(3)]
    m["plan.analysis_s"], m["plan.optimization_s"], m["plan.physical_s"] = plan
    op_time = sum(lat(o) for o in tw) / n
    m["plan.share"] = sum(plan) / op_time if op_time else 0.0
    ex = {}
    for o in tw:
        for k, v in o["exec"].items():
            ex[k] = max(ex.get(k, 0.0), v) if k in ("skew", "peak_exec_mem_mb") else ex.get(k, 0.0) + v
    for k in ("jobs", "tasks", "task_cpu_s", "task_gc_s", "scan_mb", "shuffle_write_mb",
              "shuffle_read_mb", "fetch_wait_s", "spill_disk_mb"):
        m["exec." + k] = ex.get(k, 0.0) / n
    m["exec.peak_exec_mem_mb"] = ex.get("peak_exec_mem_mb", 0.0)
    m["exec.skew"] = ex.get("skew", 1.0)
    wall = sum(passes[i]["wall_s"] for i in traced)
    m["exec.cpu_util"] = ex.get("task_cpu_s", 0.0) / (wall * rec["cores"]) if wall else 0.0
    m["functions.task_cpu_s"] = sum(o["exec"]["task_cpu_s"] for o in tw if o["name"] in KERNEL_OPS) / n
    # what the first pass of a fresh session paid beyond a warm one, per
    # operation; the sessions after the first, so that JIT warm-up is out
    key = (lambda o: o["req"]) if rec["workload"] == "rehive-serve" else (lambda o: o["name"])
    fresh = {}
    for o in ops:
        if 0 < o["pass"] < rec["cold_passes"]:
            fresh.setdefault(key(o), []).append(lat(o))
    cold = {k: med(v) for k, v in fresh.items()}
    warm = {}
    for o in ops:
        if o["pass"] >= wf:
            warm.setdefault(key(o), []).append(lat(o))
    m["memo.spine_s"] = sum(cold[k] - med(warm[k]) for k in cold if k in warm)
    m["memo.cached_mb"] = max(p["cached_mb"] for p in rec["passes"])
    m["commission.ancestors_s"] = med(s["ancestors_s"] for s in setups if "ancestors_s" in s)
    m["commission.closure_rows"] = setups[-1].get("closure_rows", 0.0)
    routes = {}
    for o in ops:
        if o["req"] >= 0 and o["pass"] >= wf:
            routes.setdefault(o["name"], []).append(lat(o))
    for r in ROUTES:
        m["rehive.%s_ms" % r] = 1000 * med(routes.get(r, []))
    reqs = [o for o in tw if o["req"] >= 0]
    m["rehive.jobs_per_request"] = sum(o["exec"]["jobs"] for o in reqs) / len(reqs) if reqs else 0.0
    cold_st, warm_st = {}, {}
    for o in ops:
        dest = cold_st if o["pass"] == 0 else warm_st if o["pass"] in traced else None
        if dest is not None:
            for k, v in o["stream"].items():
                dest[k] = dest.get(k, 0.0) + v
    m["stream.first_batch_ms"] = cold_st.get("first_batch_ms", 0.0)
    for k in ("batches", "trigger_ms", "add_batch_ms", "wal_commit_ms", "state_commit_ms",
              "state_rows", "state_mb"):
        m["stream." + k] = warm_st.get(k, 0.0) / n
    for q in QUERIES:
        m["query.%s_s" % q] = med(lat(o) for o in ops if o["name"] == q and o["pass"] >= wf)
    m["harness.first_pass_cpu_s"] = med(passes[i]["cpu_s"] for i in range(rec["cold_passes"]))
    m["harness.pass_cpu_s"] = med(passes[i]["cpu_s"] for i in bare + traced)
    m["harness.live_heap_mb"] = max(p["live_heap_mb"] for p in rec["passes"])
    m["harness.steal_share"] = rec["steal_share"]
    req_lat = [lat(o) for o in ops if o["req"] >= 0 and o["pass"] >= wf]
    m["rehive.op_p50_ms"] = 1000 * med(req_lat)
    m["rehive.op_tail_ms"] = 1000 * pct(req_lat, TAIL_PCT) if req_lat else 0.0
    tpass = med(passes[i]["wall_s"] for i in traced)
    bpass = med(passes[i]["wall_s"] for i in bare)
    m["trace.overhead"] = tpass / bpass - 1.0 if bpass else 0.0
    return m


def main():
    # a stopped run unwinds, so run_jvm ends the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--domain-seed", type=int, default=42, help="rehive-serve domain seed")
    ap.add_argument("--script-seed", type=int, help="rehive-serve request-script seed (default: --seed)")
    ap.add_argument("--make-digests", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        fail("run from the repository root: src/main/scala not found")
    out = build_dir()
    cp = compile_all(out)
    if a.make_digests:
        make_digests(cp, out)
        return
    if not a.workload:
        fail("--workload is required")
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    work = os.path.join(out, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--mode", "run", "--workload", a.workload, "--seconds", str(a.seconds),
                "--wind-down", str(JVM_WIND_DOWN_S),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "rec.json")]
        if a.workload == "rehive-serve":
            ss = a.seed if a.script_seed is None else a.script_seed
            dom, script = rehive_inputs(out, a.domain_seed, ss)
            args += ["--domain", dom, "--script", os.path.join(script, "script.tsv")]
        else:
            args += ["--data", DATA]
        stat0 = cpu_ticks()
        run_jvm(cp, work, args, time.time() + JVM_LIMIT_S)
        stat1 = cpu_ticks()
        rec_path = os.path.join(out, "last-%s.json" % a.workload)
        shutil.copyfile(os.path.join(work, "rec.json"), rec_path)
        rec = json.load(open(rec_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.workload == "rehive-serve":
        expected = json.load(open(os.path.join(script, "expected.json")))
    else:
        expected = expected_batch(rec)
    busy = [y - x for x, y in zip(stat0, stat1)]
    rec["steal_share"] = busy[7] / sum(busy) if sum(busy) else 0.0
    errors = check(rec, expected)
    failed = [o for o in rec["ops"] if o["error"]]
    for o in failed[:5]:
        print("perfbench: %s failed: %s" % (o["name"], o["error"]), file=sys.stderr)
    for e in errors[:10]:
        print("perfbench: WRONG " + e, file=sys.stderr)
    if a.trace:
        spec, m = bench["per_layer"], per_layer(rec)
        tdir = os.path.join(out, "trace")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, a.workload + ".json"), "w") as f:
            json.dump({"metrics": m, "self_s": rec["self_s"], "spans": rec["spans"],
                       "span_fields": ["id", "layer", "name", "parent", "req", "start_s", "end_s"]},
                      f)
    else:
        spec, m = bench["end_to_end"], end_to_end(rec)
    metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in spec}
    print(json.dumps({"correct": not errors, "attempted": len(rec["ops"]),
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
