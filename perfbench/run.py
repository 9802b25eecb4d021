#!/usr/bin/env python3
"""The repository's benchmark: one command per workload.

    python3 perfbench/run.py --workload om-serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark's
Scala runner from source (sbt, offline; cached under .bench_build/ by a
hash of the sources), writes the warehouse and the seeded traffic, runs one JVM with one
`GraftSession.local(4)` and one client in a closed loop, checks every
output, and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics from a traced window run between two untraced ones (the difference
is the tracing overhead). Workloads, metrics and the
layer-to-end-to-end map are described in perfbench/README.md.

Exit status: 0 when every output checked correct, 1 when an output check
failed, 2 when the benchmark could not run (no sources, build failure,
engine crash or timeout).
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("om-serve", "recon-batch", "cdc-ingest")
SF = 0.01            # TPC-H scale of the warehouse: 60k keys in 40 buckets
CPUS = 4             # GraftSession.local(CPUS)
# the tail percentile per workload, and the latency samples per run at
# --seconds 5 behind the choice (README.md): om-serve 40 ops leave 10
# beyond p75; recon-batch 1 pass and cdc-ingest 16 ops leave fewer than 10
# beyond any percentile
TAIL_PCT = {"om-serve": 75, "recon-batch": 75, "cdc-ingest": 90}
JVM_TIMEOUT_S = 165
# om-serve warm-up ops, every RPC type among them: after only 5, the first
# 10 timed ops still ran 10-30% slower than the last 10
OM_WARMUP = 15
# Spark on JDK 17 outside spark-submit needs these (as the program's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# the runner's spans: each op's root, then one per call into a layer
SPANS = ("op", "api.construct", "operators.construct", "plans.plan",
         "spark.execute", "streaming.apply", "streaming.view_read")
OP_TYPES = ([k for k, _ in gen.OM_MIX] + list(gen.RECON_QUERIES)
            + ["apply"] + list(gen.CDC_READS))


def wait(p, deadline):
    """Wait for process group `p` until `deadline`; kill all of it on
    timeout or on any error here, and reap it either way."""
    try:
        return p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_hash(root):
    """Hash of everything the build compiles, so a cached build is reused
    only for identical sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile and package the program and the runner; returns the runtime
    classpath (jars only, as a class-data archive requires) and the
    sources' hash."""
    key = sources_hash(root)
    cp_file = os.path.join(work, f"classpath-{key}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), key
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = wait(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True), time.time() + 840)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (see {log}):\n" + "\n".join(lines[-20:]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, key


def java_cmd(cp, opts):
    return (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData"] + opts
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def class_archive(cp, key, work, data):
    """A class-data archive of the classes the workloads load, written once
    per build by a training JVM that runs every workload's set-up. Each
    timed JVM maps it instead of loading and verifying those classes one
    by one, which takes seconds off every start and every first touch."""
    archive = os.path.join(work, f"classes-{key}.jsa")
    if os.path.exists(archive):
        return archive
    train = os.path.join(work, "runs", f"train-{os.getpid()}")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    try:
        for w in WORKLOADS:
            write_inputs(work, train, w, 0, 1)
        tmp = archive + f".tmp{os.getpid()}"
        rc = run_engine(cp, [f"-XX:ArchiveClassesAtExit={tmp}"], train,
                        ["train", train, data, "0", "0", str(CPUS)],
                        time.time() + 400)
        if rc != 0 or not os.path.exists(tmp):
            with open(os.path.join(train, "jvm.log")) as f:
                tail = f.read().splitlines()[-40:]
            fail(f"class-data archive training failed ({rc}):\n" + "\n".join(tail))
        os.rename(tmp, archive)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    return archive


def run_engine(cp, opts, run_dir, args, deadline):
    """One engine JVM in `run_dir`, its output in jvm.log; returns its exit
    status ("timeout" if it was killed at `deadline`)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (java_cmd(cp, opts)
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        return wait(subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                     stderr=subprocess.STDOUT,
                                     start_new_session=True), deadline)


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB — the tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def write_inputs(work, run_dir, workload, seed, seconds):
    """The fixed warehouse (written once per checkout) and the run's
    seeded traffic."""
    data = os.path.join(work, f"data-sf{SF}-{_file_hash(gen.__file__)}")
    if not os.path.exists(data):
        tmp = data + f".tmp{os.getpid()}"
        gen.write_sources(tmp, SF)
        os.rename(tmp, data)
    ns = gen.Namespace(SF)
    budget = max(int(seconds), 1)
    if workload == "om-serve":
        gen.write_om_ops(os.path.join(run_dir, "om_warmup.tsv"),
                         _warmup(gen.om_ops(ns, seed + 1_000_003, 1)))
        gen.write_om_ops(os.path.join(run_dir, "om_ops.tsv"),
                         gen.om_ops(ns, seed, budget))
    elif workload == "recon-batch":
        gen.write_recon_passes(os.path.join(run_dir, "recon_passes.tsv"),
                               gen.recon_passes(seed, 4 * budget))
    else:
        gen.write_cdc_cycles(os.path.join(run_dir, "cdc_cycles.parquet"),
                             gen.cdc_cycles(ns, seed, 8 * budget + 8))
        with open(os.path.join(run_dir, "cdc_log_head"), "w") as f:
            f.write(str(ns.log_head))
    return data


def _warmup(ops):
    """OM_WARMUP ops of a block, the first of each type among them, so the
    warm-up touches every RPC."""
    first = {}
    for op in ops:
        first.setdefault(op[0], op)
    rest = [op for op in ops if op not in first.values()]
    return list(first.values()) + rest[:OM_WARMUP - len(first)]


def _file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return (0, 0, 0)
    steal = v[7] if len(v) > 7 else 0
    return (sum(v) - v[3] - v[4] - steal, steal, sum(v))


def run_jvm(cp, archive, run_dir, data, workload, seconds, trace, deadline):
    cpu0 = cpu_times()
    rc = run_engine(cp, [f"-XX:SharedArchiveFile={archive}"], run_dir,
                    [workload, run_dir, data, str(seconds), str(trace),
                     str(CPUS)], deadline)
    # host load while the engine ran: CPU the host gave to anyone, and CPU
    # the hypervisor withheld (steal), as shares of all CPU time
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    host = {"busy_share": d[0] / d[2] if d[2] else 0.0,
            "steal_share": d[1] / d[2] if d[2] else 0.0}
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read().splitlines()[-40:]
        fail(f"engine run failed ({rc}):\n" + "\n".join(tail))
    # what the engine's temp-dir shutdown hook left behind
    left = len(os.listdir(os.path.join(run_dir, "tmp")))
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(run_dir, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    return result, ops, left, host


# ---- recon-batch oracle ---------------------------------------------------

def _canon(v):
    """Value rendering of the oracle gate (graft.Verify.canon's twin)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v):
            return str(int(v))
        return f"{v:.9g}"
    return str(v)


def oracle_hashes(work, data, oracle_sql):
    """`<rows>:<sha256>` of each query's oracle answer. The answers depend
    only on the fixed warehouse and the SQL, so they are kept per checkout."""
    key = hashlib.sha256((data + json.dumps(oracle_sql, sort_keys=True))
                         .encode()).hexdigest()[:16]
    cache = os.path.join(work, f"oracle-{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    out = {}
    for name, sql in oracle_sql.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        lines = sorted("\x01".join(_canon(r[i]) for i in idx)
                       for r in cur.fetchall())
        h = hashlib.sha256()
        for line in lines:
            h.update(line.encode())
            h.update(b"\n")
        out[name] = f"{len(lines)}:{h.hexdigest()}"
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.rename(cache + ".tmp", cache)
    return out


# ---- metrics --------------------------------------------------------------

def pct(xs, p):
    """Linear-interpolated percentile (p in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latencies(workload, ops):
    """The latencies the end-to-end metrics count: one per op, but one per
    pass on recon-batch (the sum of its queries), so that every query
    weighs on latency and a faster slowest query shows."""
    if workload != "recon-batch":
        return [o["wall_ms"] for o in ops]
    n = len(gen.RECON_QUERIES)
    passes = {}
    for o in ops:
        passes[o["i"] // n] = passes.get(o["i"] // n, 0.0) + o["wall_ms"]
    return list(passes.values())


def end_to_end(workload, result, ops, window_s):
    walls = latencies(workload, ops)
    return {
        "setup_s": (result["setup_s"], "s"),
        "ops_per_s": (len(walls) / window_s if window_s > 0 else 0.0, "1/s"),
        "latency_p50_ms": (pct(walls, 50), "ms"),
        "latency_tail_ms": (pct(walls, TAIL_PCT[workload]), "ms"),
    }


def per_layer(workload, result, ops, tempdirs_left, failed, attempted):
    untraced = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    # the traced window against the two untraced windows around it
    w = result["windows_s"]
    m = {}
    e_un = end_to_end(workload, result, untraced, w[0] + w[2])
    e_tr = end_to_end(workload, result, traced, w[1])
    for k in ("ops_per_s", "latency_p50_ms", "latency_tail_ms"):
        m[f"trace.overhead.{k}"] = (e_tr[k][0] - e_un[k][0], e_un[k][1])

    def layer(o, name, field):
        return o.get("layers", {}).get(name, {}).get(field, 0)

    def med(name):
        xs = [layer(o, name, "ms") for o in traced if name in o.get("layers", {})]
        return statistics.median(xs) if xs else 0.0

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    n = max(len(traced), 1)
    wall = sum(o["wall_ms"] for o in traced) or 1.0
    sums = {k: sum(o.get(k, 0) for o in traced) for k in (
        "jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms",
        "shuffle_write_b", "shuffle_read_b", "spill_b", "input_b",
        "input_rows", "rows", "scans", "scans_range_pushed", "scan_files")}
    mb = 1048576.0
    api = [o for o in traced if "api.construct" in o.get("layers", {})]
    opr = [o for o in traced if "operators.construct" in o.get("layers", {})]
    m.update({
        "api.construct_ms": (med("api.construct"), "ms"),
        "api.construct_jobs": (mean(layer(o, "api.construct", "jobs") for o in api), "count"),
        "plans.plan_ms": (med("plans.plan"), "ms"),
        "plans.range_pushed_ratio": (
            sums["scans_range_pushed"] / sums["scans"] if sums["scans"] else 0.0, "ratio"),
        "operators.construct_ms": (med("operators.construct"), "ms"),
        "operators.construct_jobs": (
            mean(layer(o, "operators.construct", "jobs") for o in opr), "count"),
        "operators.construct_share": (
            sum(layer(o, "operators.construct", "ms") for o in opr)
            / (sum(o["wall_ms"] for o in opr) or 1.0) if opr else 0.0, "ratio"),
        "spark.execute_ms": (med("spark.execute"), "ms"),
        "spark.jobs_per_op": (sums["jobs"] / n, "count"),
        "spark.stages_per_op": (sums["stages"] / n, "count"),
        "spark.tasks_per_op": (sums["tasks"] / n, "count"),
        "spark.task_busy_share": (sums["task_ms"] / (wall * CPUS), "ratio"),
        "spark.task_cpu_ms_per_op": (sums["cpu_ms"] / n, "ms"),
        "spark.gc_ms_per_op": (sums["gc_ms"] / n, "ms"),
        "spark.shuffle_write_mb_per_op": (sums["shuffle_write_b"] / n / mb, "MB"),
        "spark.shuffle_read_mb_per_op": (sums["shuffle_read_b"] / n / mb, "MB"),
        "spark.spill_mb_per_op": (sums["spill_b"] / n / mb, "MB"),
        "spark.peak_exec_mem_mb": (
            max([o.get("peak_mem_b", 0) for o in traced] or [0]) / mb, "MB"),
        "core.session_start_s": (result["session_start_s"], "s"),
        "core.warehouse_build_s": (_setup(result, "warehouse_build_s"), "s"),
        "core.artifact_build_s": (_setup(result, "artifact_build_s"), "s"),
        "core.warmup_s": (_setup(result, "warmup_s"), "s"),
        "core.scan_files_per_op": (sums["scan_files"] / n, "count"),
        "core.scan_mb_per_op": (sums["input_b"] / n / mb, "MB"),
        "core.rows_scanned_per_row_returned": (
            sums["input_rows"] / max(sums["rows"], 1), "ratio"),
        "core.persisted_rdds": (result["persisted_rdds"], "count"),
        "core.tempdirs_left": (tempdirs_left, "count"),
        "cached_mb": (result["cached_mb"], "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
        "streaming.bootstrap_s": (_setup(result, "bootstrap_s"), "s"),
        "streaming.apply_ms": (med("streaming.apply"), "ms"),
        "streaming.apply_jobs": (
            mean(layer(o, "streaming.apply", "jobs") for o in traced
                 if o["kind"] == "write"), "count"),
        "streaming.partitions_touched_per_batch": (
            mean(o["partitions_touched"] for o in ops if "partitions_touched" in o),
            "count"),
        "streaming.view_read_ms": (_median_of(
            [o for o in untraced if o["type"] in gen.CDC_READS]), "ms"),
        "streaming.state_files": (result.get("state_files", 0), "count"),
        "streaming.state_mb": (result.get("state_mb", 0.0), "MB"),
        "write_p50_ms": (_median_of(untraced, kind="write"), "ms"),
        "read_p50_ms": (_median_of(untraced, kind="read")
                        if workload == "cdc-ingest" else 0.0, "ms"),
    })
    # self time per span name, per op: a span's self time is its duration
    # less its children's, so an op's self times add up to its op span
    for name in SPANS:
        m[f"self.{name}_ms_per_op"] = (
            sum(layer(o, name, "self_ms") for o in traced) / n, "ms")
    for t in OP_TYPES:
        m[f"op.{t}.p50_ms"] = (
            _median_of([o for o in untraced if o["type"] == t]), "ms")
    return m


def _median_of(ops, kind=None):
    xs = [o["wall_ms"] for o in ops if kind is None or o["kind"] == kind]
    return statistics.median(xs) if xs else 0.0


def _setup(result, key):
    return result["setup"].get(key, 0.0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: build.sbt and "
             "src/main/scala/graft are missing")
    t_start = time.time()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    # two benchmark runs never overlap: the second waits here
    lock = open(os.path.join(work, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    context = {"loadavg": os.getloadavg(), "nproc": os.cpu_count(),
               "heap_gb": heap_gb(), "cpus": CPUS, "sf": SF,
               "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace}
    print(json.dumps({"context": context}), flush=True)
    cp, key = build(root, work)
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = write_inputs(work, run_dir, a.workload, a.seed, a.seconds)
        archive = class_archive(cp, key, work, data)
        deadline = max(time.time(), t_start) + JVM_TIMEOUT_S
        result, ops, left, host = run_jvm(cp, archive, run_dir, data,
                                          a.workload, a.seconds, a.trace,
                                          deadline)
        failures = list(result["failures"])
        if a.workload == "recon-batch":
            want = oracle_hashes(work, data, result["oracle"])
            for name, got in result["hashes"]:
                if got != want[name]:
                    failures.append(f"recon-batch {name}: spark {got} != oracle {want[name]}")
        # per-op records (and spans, traced) outlive the run for inspection
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in ("ops.jsonl", "spans.json"):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), os.path.join(
                    traces, f"{a.workload}-seed{a.seed}-trace{a.trace}.{f}"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = len(ops)
    failed = min(attempted, len(failures))
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    residue = {"persisted_rdds": result["persisted_rdds"],
               "cached_mb": result["cached_mb"], "tempdirs_left": left}
    print(json.dumps({"residue": residue, "host": host,
                      "setup": result["setup"]}), flush=True)
    if a.trace:
        metrics = per_layer(a.workload, result, ops, left, failed, attempted)
    else:
        metrics = end_to_end(a.workload, result, ops, result["windows_s"][0])
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
