#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against a fresh engine JVM.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles graft's sources and
the client in perfbench/harness with the Scala compiler that ships with
Spark, and generates the input tables; both land in .bench_build/ and are
reused while their fingerprints match.

Each run gives the engine a fresh private java.io.tmpdir and working
directory, so artifact stores and spark-warehouse/ never leak between runs
or into the repository. The client sends its next request only after the
previous one returned. Results are checked outside the timed window: the
first result of each registry request against its DuckDB oracle, and every
glog fetch, end-offset listing, compaction and the final store against a
model of what was appended.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones. Each run keeps its raw per-request records, and a
traced run its spans, under .bench_build/results/. perfbench/NOTES.md
describes every metric.
"""
import argparse
import glob
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
import gen_data  # noqa: E402

WORKLOADS = ("registry_mix", "produce_fetch")
# JVM set-ups per run (setup-only JVMs plus the measuring one). Each costs
# ~12 s on a 4-core host, and the runs of the whole benchmark must fit its
# time budget.
SETUP_SAMPLES = 2
HEAP = "3g"
JVM_TIMEOUT_S = 150
# Percentile of the append and fetch tails: a run makes only a few appends.
OP_TAIL_PCT = 0.75
LAYERS = ("entry", "catalyst", "exec", "post", "sources", "harness")
MODULES = ("log", "coordinator", "txn", "registry", "llm", "analytics", "sources")


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BenchError("SPARK_HOME is not set; it names the Spark "
                         "distribution whose jars and Scala compiler to use")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, jars):
    """Compile graft and the client unless the sources are unchanged."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not srcs:
        raise BenchError("no graft sources under src/main/scala; "
                         "run from the repository root")
    fp = digest(srcs + harness)
    out = os.path.join(root, ".bench_build", "classes")
    stamp = os.path.join(out, "SOURCES")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return out, fp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "SOURCES"), "w") as f:
        f.write(fp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, fp


def data(root, scale):
    """Generate the input tables unless a copy with this fingerprint exists."""
    fp = hashlib.sha256(
        f"{gen_data.GENERATOR_VERSION}/{gen_data.DATA_SEED}/{scale}".encode()
        + open(gen_data.__file__, "rb").read()).hexdigest()[:16]
    out = os.path.join(root, ".bench_build", "data", fp)
    meta = os.path.join(out, "SIZES.json")
    if not os.path.exists(meta):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        sizes = gen_data.write(tmp, scale)
        with open(os.path.join(tmp, "SIZES.json"), "w") as f:
            json.dump(sizes, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out, fp, json.load(open(meta))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def launch(root, classes, jars, rundir, args):
    """Start a client JVM in a private working directory and tmpdir and
    return (process, seconds from launch until its session was ready)."""
    tmp, cwd = os.path.join(rundir, "tmp"), os.path.join(rundir, "cwd")
    os.makedirs(tmp)
    os.makedirs(cwd)
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                          os.path.join(jars, "*")])
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd.append(f"--add-opens={p}=ALL-UNNAMED")
    cmd += ["-cp", cp, "perfbench.Main"] + args
    # Engine tuning variables would change what is measured.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    err = open(os.path.join(rundir, "stderr.log"), "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=err, text=True)
    err.close()
    try:
        for line in p.stdout:
            if line.strip() == "ready":
                return p, time.perf_counter() - t0
    except BaseException:
        stop(p)
        raise
    stop(p)
    raise BenchError("client JVM exited before its session was ready:\n" +
                     tail(os.path.join(rundir, "stderr.log")))


def stop(p, timeout=None):
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("client JVM timed out")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def tail(path, n=3000):
    try:
        return open(path).read()[-n:]
    except OSError:
        return ""


def oracle_check(root, datadir, outdir):
    """Compare each first result with its DuckDB oracle, the way
    tools/check_oracle.py does: (checked, failures)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import duckdb
        from check_oracle import TABLES, canon
    except ImportError as e:
        raise BenchError(f"oracle check needs duckdb and tools/check_oracle.py: {e}")
    sql = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{datadir}/{t}.parquet')")
    checked, bad = 0, []
    for name in sorted(os.listdir(os.path.join(outdir, "results"))):
        if name not in sql:
            continue
        checked += 1
        got = con.sql(f"SELECT * FROM read_parquet("
                      f"'{outdir}/results/{name}/*.parquet')")
        exp = con.sql(sql[name])
        g_cols, e_cols = [d[0] for d in got.description], [d[0] for d in exp.description]
        # As in check_oracle.py: a HUGEINT oracle column fails even when the
        # values are equal.
        huge = any("HUGEINT" in str(t).upper() for t in exp.types)
        if huge or sorted(g_cols) != sorted(e_cols) or \
                canon(got.fetchall(), g_cols) != canon(exp.fetchall(), e_cols):
            bad.append(name)
    return checked, bad


def pct(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p * len(xs)) - 1)] if xs else 0.0


def tail(xs):
    """The highest sample with ten samples beyond it."""
    xs = sorted(xs)
    return xs[max(0, len(xs) - 11)] if xs else 0.0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def warm_phase_s(warm):
    """Wall time of the warm phase, from the first request's start to the
    last one's end, less the checks that ran between requests."""
    end = warm[-1]["start_ms"] + warm[-1]["wall_ms"]
    checks = sum(r["check_ms"] for r in warm[:-1])
    return (end - warm[0]["start_ms"] - checks) / 1000.0


def end_to_end(res, setups):
    reqs = res["requests"]
    warm_reqs = [r for r in reqs if r["phase"] == "warm"]
    warm = [r["wall_ms"] for r in warm_reqs if r["ok"]]
    cold = [r["wall_ms"] for r in reqs if r["phase"] == "cold"]
    if not warm:
        raise BenchError("no warm request completed")
    return {
        "setup_s": (med(setups), "s"),
        "cold_s": (sum(cold) / 1000.0, "s"),
        "warm_p50_ms": (med(warm), "ms"),
        "warm_tail_ms": (tail(warm), "ms"),
        "throughput_rps": (len(warm) / warm_phase_s(warm_reqs), "req/s"),
    }


def per_layer(workload, res):
    reqs = res["requests"]
    warm = [r for r in reqs if r["phase"] == "warm" and r["ok"]]
    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    cold = [r for r in reqs if r["phase"] == "cold"]
    cores = res["cores"]
    m = {}

    def field(rs, group, key):
        return [r[group][key] for r in rs if group in r]

    # Means per traced warm request: listener and phase times are whole
    # milliseconds, and a mean does not snap to them as a median does.
    m["entry.build_ms"] = (mean(field(traced, "entry", "build_ms")), "ms")
    m["entry.build_jobs"] = (mean(field(traced, "entry", "build_jobs")), "count")
    m["entry.build_result_bytes"] = (
        mean(field(traced, "entry", "build_result_bytes")), "bytes")
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = (mean(field(traced, "catalyst", k)), "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = (mean(field(traced, "exec", k)), "count")
    for k in ("job_wall_ms", "task_ms", "task_cpu_ms", "task_wait_ms", "post_ms"):
        m[f"exec.{k}"] = (mean(field(traced, "exec", k)), "ms")
    wall = sum(field(traced, "exec", "job_wall_ms"))
    m["exec.busy_ratio"] = (
        sum(field(traced, "exec", "task_ms")) / (wall * cores) if wall else 0.0,
        "ratio")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "result_bytes"):
        m[f"exec.{k}"] = (mean(field(traced, "exec", k)), "bytes")
    m["exec.failed_tasks"] = (sum(field(traced, "exec", "failed_tasks")), "count")

    built_warm = sum(r.get("frames_built", 0) for r in warm)
    built_cold = sum(r.get("frames_built", 0) for r in cold)
    m["tables.frames_built"] = (mean([r.get("frames_built", 0) for r in warm]), "count")
    m["tables.frames_evicted"] = (mean([r.get("frames_evicted", 0) for r in warm]), "count")
    m["tables.resident_bytes"] = (res["jvm"]["resident_bytes"], "bytes")
    m["tables.rebuild_ratio"] = (built_warm / built_cold if built_cold else 0.0, "ratio")

    def op(name):
        return [r for r in warm if r["module"] == "sources" and r["name"] == name]

    appends, fetches = op("append"), op("fetch")
    info = res["workload_info"]
    pf = workload == "produce_fetch"
    read = sum(r.get("batches_read", 0) for r in warm)
    skipped = sum(r.get("batches_skipped", 0) for r in warm)
    m.update({
        "sources.append_p50_ms": (med([r["wall_ms"] for r in appends]), "ms"),
        "sources.append_tail_ms": (pct([r["wall_ms"] for r in appends],
                                       OP_TAIL_PCT), "ms"),
        "sources.fetch_p50_ms": (med([r["wall_ms"] for r in fetches]), "ms"),
        "sources.fetch_tail_ms": (pct([r["wall_ms"] for r in fetches],
                                      OP_TAIL_PCT), "ms"),
        "sources.append_rec_per_s": (
            sum(r["records"] for r in appends) /
            (sum(r["wall_ms"] for r in appends) / 1000.0) if appends else 0.0,
            "rec/s"),
        "sources.store_bytes_per_user_byte": (
            info["store_bytes"] / info["user_bytes"] if pf and info["user_bytes"] else 0.0,
            "ratio"),
        "sources.list_ends_ms": (med([r["wall_ms"] for r in op("list_ends")]), "ms"),
        "sources.write_segments_ms": (med([r["steps"]["write"] for r in appends]), "ms"),
        "sources.segments_written": (sum(r["segments_written"] for r in appends), "count"),
        "sources.bytes_written": (sum(r["bytes_written"] for r in appends), "bytes"),
        "sources.batches_read": (read, "count"),
        "sources.batches_skipped": (skipped, "count"),
        "sources.payload_bytes_decoded": (
            sum(r.get("payload_bytes_decoded", 0) for r in warm), "bytes"),
        "sources.skip_ratio": (skipped / (read + skipped) if read + skipped else 0.0,
                               "ratio"),
        "sources.compact_ms": (med([r["wall_ms"] for r in op("compact")]), "ms"),
        "sources.compact_bytes_rewritten": (
            sum(r.get("compact_bytes_rewritten", 0) for r in op("compact")), "bytes"),
    })
    for mod in MODULES:
        m[f"module.{mod}.warm_p50_ms"] = (
            med([r["wall_ms"] for r in warm if r["module"] == mod]), "ms")
    m["jvm.gc_ms"] = (res["jvm"]["gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = (res["jvm"]["heap_peak_mb"], "MB")
    m["jvm.peak_rss_mb"] = (res["jvm"]["peak_rss_mb"], "MB")

    # Layer self times per traced warm request. The timed window's layers
    # (everything but the harness's verify step) must add up to the wall
    # the client saw.
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = (mean([r["self_ms"].get(layer, 0.0) for r in traced]), "ms")
    errs = [abs(sum(v for k, v in r["self_ms"].items() if k != "harness")
                - r["wall_ms"]) / r["wall_ms"] for r in traced if r["wall_ms"] > 0]
    m["trace.layer_sum_error"] = (max(errs) if errs else 0.0, "ratio")
    m["trace.overhead_warm_p50_ms"] = (
        med([r["wall_ms"] for r in traced]) - med([r["wall_ms"] for r in untraced]), "ms")

    def rps(rs):
        s = sum(r["wall_ms"] for r in rs)
        return len(rs) / (s / 1000.0) if s else 0.0

    m["trace.overhead_throughput_rps"] = (rps(traced) - rps(untraced), "req/s")
    return m


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run(root, workload, seed, seconds, trace, scale=1.0, setup_samples=SETUP_SAMPLES):
    jars = spark_jars()
    classes, src_fp = build(root, jars)
    datadir, data_fp, sizes = data(root, scale)
    n = cores()
    base = os.path.join(root, ".bench_build", "runs")
    rundir = os.path.join(base, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        setups = []
        for i in range(setup_samples - 1):
            p, s = launch(root, classes, jars, os.path.join(rundir, f"setup{i}"),
                          ["setup", str(n)])
            p.kill()  # only its set-up time is wanted
            p.wait()
            setups.append(s)
        outdir = os.path.join(rundir, "out")
        p, s = launch(root, classes, jars, os.path.join(rundir, "main"),
                      ["run", str(n), workload, str(seed), str(seconds),
                       str(trace), datadir, outdir])
        setups.append(s)
        stop(p, JVM_TIMEOUT_S)
        if p.returncode != 0:
            raise BenchError("client JVM failed:\n" +
                             tail(os.path.join(rundir, "main", "stderr.log")))
        res = json.load(open(os.path.join(outdir, "result.json")))
        reqs = res["requests"]
        failed = sum(1 for r in reqs if not r["ok"])
        attempted = len(reqs)
        errors = [f"{r['name']}: {r['error']}" for r in reqs if not r["ok"]][:5]
        if workload == "registry_mix":
            checked, bad = oracle_check(root, datadir, outdir)
            attempted += checked
            failed += len(bad)
            errors += [f"{b}: differs from its DuckDB oracle" for b in bad]
        else:
            attempted += 1
            if not res["workload_info"]["store_check_ok"]:
                failed += 1
                errors.append("store does not hold every appended record once")
        keep = os.path.join(root, ".bench_build", "results")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(os.path.join(outdir, "result.json"),
                    os.path.join(keep, f"{workload}-seed{seed}-trace{trace}.json"))
        if trace:
            shutil.copy(os.path.join(outdir, "trace.json"),
                        os.path.join(keep, f"{workload}-seed{seed}-spans.json"))
            metrics = per_layer(workload, res)
        else:
            metrics = end_to_end(res, setups)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    conditions = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cores": n, "host_cores": os.cpu_count(), "heap_mb": res["jvm"]["xmx_mb"],
        "jdk": res["jvm"]["jdk"], "spark": res["jvm"]["spark"],
        "commit": git_commit(root), "sources": src_fp, "data": data_fp,
        "data_sizes": sizes, "setup_samples_s": setups,
        "warm_requests": sum(1 for r in reqs if r["phase"] == "warm"),
        "workload_info": res["workload_info"], "errors": errors}
    return conditions, {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def smoke(root):
    """Every workload briefly on sf0.001-sized tables, untraced and traced:
    every metric named in BENCHMARK.json prints with its unit, every check
    passes, and traced layers add up to the request wall."""
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    ok = True
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cond, out = run(root, w["name"], 1, 2, trace, scale=0.1, setup_samples=1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            problems = []
            if got != want:
                problems.append(f"metrics/units differ: {sorted(set(got.items()) ^ set(want.items()))}")
            if not out["correct"]:
                problems.append(f"failed checks: {cond['errors']}")
            if trace and out["metrics"]["trace.layer_sum_error"]["value"] > 0.05:
                problems.append("traced layers do not add up to the request wall")
            ok &= not problems
            print(json.dumps({"workload": w["name"], "trace": trace,
                              "ok": not problems, "problems": problems,
                              "attempted": out["attempted"]}))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    try:
        if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
            raise BenchError("run from the repository root (src/main/scala not found)")
        if a.smoke:
            return 0 if smoke(root) else 1
        if not a.workload:
            ap.error("--workload is required")
        cond, out = run(root, a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"conditions": cond}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
