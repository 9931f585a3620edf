#!/usr/bin/env python3
"""Benchmark of the GEDCOM import, with graph reads in its traced run, and of
the query registry.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (first run only), makes the
workload's inputs from the seed (cached on disk by seed and size), runs one
JVM that drives the program through its public API, checks every output
against the inputs' expected answers, and prints one JSON object as the last
line of standard output. With --trace 0 it holds the end-to-end metrics;
with --trace 1 the per-layer metrics, from spans recorded around each call
into the program and from Spark listeners attached by the harness.
"""
import argparse
import csv
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_gedcom  # noqa: E402
import gen_tables  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CORES = len(os.sched_getaffinity(0))

# the sessions gedcom.Main.main and graft.Bench build inside their mains,
# restated with the same settings and the same SPARK_GRAFT_CPUS defaults
CLI_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REGISTRY_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")
CLI_CONF = {"spark.sql.shuffle.partitions": CLI_CPUS}
REGISTRY_CONF = {
    "spark.sql.shuffle.partitions": REGISTRY_CPUS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.session.timeZone": "UTC",
}

# min_warm: the warm rounds (imports, or passes over the queries) every run
# makes, however fast the host is, and the gated op_mean_s covers. Both keep
# getting faster for 8 to 10 rounds as the driver-side code is compiled; a
# mean over a fixed number of rounds spreads less between runs than any one
# round or each operation's best. The traced ged-import run counts both
# imports of a round (Main.run and its replay).
WORKLOADS = {
    "ged-import": {"mb": 4, "heap": "2g", "master": "local[*]", "conf": CLI_CONF,
                   "min_warm": 8},
    "registry": {"scale": 0.002, "heap": "1536m", "master": f"local[{REGISTRY_CPUS}]",
                 "conf": REGISTRY_CONF, "min_warm": 6},
}
SETUPS = 5  # set-ups per run; setup_s is their median
# the traced ged-import run's last replay runs in a session whose memory pool
# (this share of the heap) is smaller than the pin, so the pin goes to disk;
# execution may take back all but a fifth of the pool from stored blocks.
# About 14 MB of a 2 GB heap: the 16 MB pin of a 4 MB file puts 4-6 MB on
# disk, and the CSV sort still gets pages (a 10 MB pool starved it)
SPILL_CONF = {"spark.memory.fraction": "0.008", "spark.memory.storageFraction": "0.2"}
# the registered queries the registry workload runs, by module: broadcast,
# shuffle, bloom-filtered and salted joins, a cube, range and rank windows
REGISTRY_MODULES = {"Relational": [
    "q01_agg", "q02_join_broadcast", "q03_join_shuffle", "q10_cube",
    "q95_bloom_join", "q155_salted_join"],
    "Windows": ["q57_range_frame", "q58_rank_variants"]}
PROBE = "q01_agg"  # fixed first query: the cold cost does not depend on the seed

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"), "src",
            os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "src")]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source tree; returns the
    runtime classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"no program to build: {need} is missing here")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got = json.load(f)
        if got["stamp"] == stamp:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if "scala-2.13" in ln and ln.count(os.pathsep) > 10]
    if p.returncode != 0 or not cps:
        raise BenchError(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1].strip()}, f)
    return cps[-1].strip()


# ----------------------------------------------------------------- inputs

def input_path(module, name):
    """Where a generated input is cached: by its name (seed and size) and by
    the generator's source, so a changed generator makes new inputs."""
    with open(module.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    os.makedirs(os.path.join(BUILD, "inputs"), exist_ok=True)
    return os.path.join(BUILD, "inputs", f"{name}-g{version}")


def ged_input(mb, seed):
    path = input_path(gen_gedcom, f"ged-{mb}mb-s{seed}") + ".ged"
    return path, gen_gedcom.generate(path, mb, seed)


def graph_questions(exp):
    """The graph questions the traced ged-import run asks of its file, the
    same for every seed: people born 1800-1840 through the typed dates,
    degrees, clusters, and the ancestor start and hop landmark the
    generator's rule picked."""
    (start,), (landmark,) = exp["ancestors"], exp["hops"]
    return [
        {"kind": "wide", "tag": "INDI", "key": "Birth Date", "y1": 1800, "y2": 1840},
        {"kind": "degrees"},
        {"kind": "clusters"},
        {"kind": "ancestors", "xref": start},
        {"kind": "hops", "xref": landmark},
    ]


def registry_queries(seed):
    rest = [q for qs in REGISTRY_MODULES.values() for q in qs if q != PROBE]
    random.Random(seed).shuffle(rest)
    return [PROBE] + rest


# ----------------------------------------------------------------- checks

def read_csv_dir(path):
    """(header, rows, content digest, part files) of one CSV output dir;
    every part file must open with the same header."""
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".csv"))
    header, rows, digest = None, 0, 0
    for name in parts:
        with open(os.path.join(path, name), newline="", encoding="utf-8") as f:
            reader = csv.reader(f, doublequote=False, escapechar="\\")
            head = next(reader, None)
            if head is None:
                continue
            if header is None:
                header = head
            elif head != header:
                raise BenchError(f"{path}/{name}: header differs between parts")
            for row in reader:
                if len(row) != len(header):
                    raise BenchError(f"{path}/{name}: row with {len(row)} fields, header has {len(header)}")
                rows += 1
                digest = (digest + hash(tuple(row))) & 0xFFFFFFFFFFFFFFFF
    return header, rows, digest, len(parts)


def check_csvs(csv_root, exp):
    """Checks one import's CSVs against the expected answers; returns the
    content digest and part-file count, or raises BenchError."""
    want_nodes = {f"nodes-{t}" for t in exp["node_rows"]}
    got_nodes = {d for d in os.listdir(csv_root) if d.startswith("nodes-")}
    if got_nodes != want_nodes:
        raise BenchError(f"node outputs {sorted(got_nodes ^ want_nodes)} unexpected or missing")
    digest, parts = [], 0
    for tag, n in sorted(exp["node_rows"].items()):
        header, rows, d, p = read_csv_dir(os.path.join(csv_root, f"nodes-{tag}"))
        if header != exp["node_header"][tag]:
            raise BenchError(f"nodes-{tag}: header {header} != {exp['node_header'][tag]}")
        if rows != n:
            raise BenchError(f"nodes-{tag}: {rows} rows, expected {n}")
        digest.append(d)
        parts += p
    rel = os.path.join(csv_root, "relationships")
    got_rel = {d[len("rawTag="):] for d in os.listdir(rel) if d.startswith("rawTag=")}
    if got_rel != set(exp["edge_rows"]):
        raise BenchError(f"relationship outputs {sorted(got_rel ^ set(exp['edge_rows']))} unexpected or missing")
    for tag, n in sorted(exp["edge_rows"].items()):
        header, rows, d, p = read_csv_dir(os.path.join(rel, f"rawTag={tag}"))
        if header != [":START_ID", ":END_ID", ":TYPE"] or rows != n:
            raise BenchError(f"relationships {tag}: header {header}, {rows} rows, expected {n}")
        digest.append(d)
        parts += p
    return tuple(digest), parts


def check_import(op, exp, digests):
    """Failure reason of one import, or None. `digests` collects each pass's
    content digest; every pass must produce the same content."""
    a = op["answer"]
    if a.get("exit_code") != 0:
        return f"exit code {a.get('exit_code')}"
    digest, parts = check_csvs(a["csv_dir"], exp)
    op["csv_part_files"] = parts
    if digests and digest != digests[0]:
        return "CSV content differs from the first pass"
    digests.append(digest)
    if op["kind"] in ("replay", "spill"):
        if a["nodes"] != sum(exp["node_rows"].values()) or a["edges"] != exp["edges"]:
            return f"diagnostics {a['nodes']} nodes / {a['edges']} edges"
        if a["unused_tags"] != exp["unused_tags"] or a["missing_temples"] != exp["missing_temples"]:
            return "unused-tag or missing-temple diagnostics differ"
        if a["residual_bytes"] != 0:
            return f"{a['residual_bytes']} pinned bytes left after release"
    return None


def check_question(op, exp, q):
    a, k = op["answer"], op["kind"]
    if k == "wide":
        years = exp["date_years"][f"{q['tag']}|{q['key']}"]
        want = {"rows": sum(n for y, n in years.items() if q["y1"] <= int(y) <= q["y2"])}
    elif k == "degrees":
        want = {"vertices": exp["vertices"], "degree_sum": exp["degree_sum"]}
    elif k == "clusters":
        want = {"components": exp["components"]}
    elif k == "ancestors":
        want = exp["ancestors"][q["xref"]]
    else:
        want = exp["hops"][q["xref"]]
    return None if a == want else f"answer {a}, expected {want}"


def oracle_verdicts(names, tables, results_dir):
    """Runs the DuckDB oracle over the first-pass results of `names`;
    returns {query: failure reason} for the queries it does not pass."""
    tool = os.path.join(ROOT, "tools", "selfcheck.py")
    if not os.path.exists(tool):
        raise BenchError("tools/selfcheck.py is missing")
    p = subprocess.run([sys.executable, tool, tables, results_dir] + names,
                       capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name = rest.split(" ")[0].rstrip(":")
            verdict[name] = None if word == "PASS" else rest[len(name) + 1:].strip()[:200]
    return {n: ("no oracle verdict" if n not in verdict else verdict[n])
            for n in names if verdict.get(n, "x") is not None}


def check_registry(ops, tables, results_dir):
    """Failures of the registry's operations, at most one per operation. A
    first execution is judged by the oracle; every later execution of the
    query must return the same rows (count and order-free digest), and
    shares the first's verdict when it does."""
    firsts = {}
    for o in ops:
        if o["ok"] and o["phase"] in ("first", "cold"):
            firsts[o["answer"]["query"]] = o["answer"]
    wrong = oracle_verdicts(sorted(firsts), tables, results_dir)
    failures = []
    for i, o in enumerate(ops):
        a = o["answer"]
        if not o["ok"]:
            why = o["error"]
        elif o["phase"] == "warm" and a["query"] not in firsts:
            why = "its first execution failed"
        elif o["phase"] == "warm" and (a["rows"], a["digest"]) != (
                firsts[a["query"]]["rows"], firsts[a["query"]]["digest"]):
            why = "rows differ from the oracle-checked first execution"
        else:
            why = wrong.get(a["query"])
        if why:
            failures.append({"op": i, "kind": o["kind"], "phase": o["phase"],
                             "query": a.get("query"), "why": why})
    return failures


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(res, exp_bytes, part_files, bound):
    """Per-layer metrics from the spans: per call (median over the run's
    calls) for the GEDCOM and graph layers, summed over the query pass for
    the registry layers. A layer the workload never enters reads 0."""
    spans = res["spans"]
    extra = res["extra"]

    def of(name):
        return [s for s in spans if s["name"] == name and s["attrs"].get("probe") != "1"]

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def per_call(name, key=None, scale=1.0):
        xs = of(name)
        return median([(dur(s) if key is None else s["work"].get(key, 0.0)) * scale for s in xs])

    m = {
        "setup.cold_s": res["setup_cold_s"],
        "tokenize.ns_per_line": extra.get("tokenize_ns_per_line", 0.0),
        "assemble.ns_per_record": extra.get("assemble_ns_per_record", 0.0),
        "scan.s": per_call("scan"),
        "parse.s": per_call("parse"),
        "parse.cpu_s": per_call("parse", "cpu_ns", 1e-9),
        "parse.gc_s": per_call("parse", "gc_ms", 1e-3),
        "parse.jobs": per_call("parse", "jobs"),
        "parse.tasks": per_call("parse", "tasks"),
        "csv.s": per_call("csv"),
        "csv.cpu_s": per_call("csv", "cpu_ns", 1e-9),
        "csv.jobs": per_call("csv", "jobs"),
        "csv.stages": per_call("csv", "stages"),
        "csv.output_bytes": per_call("csv", "output_bytes"),
        "csv.part_files": float(part_files),
        "importargs.s": per_call("importargs"),
        "diag.s": per_call("diag"),
        "diag.jobs": per_call("diag", "jobs"),
        "release.s": per_call("release"),
        "import.self_s": median([s["self_s"] for s in of("import")]),
    }
    pin = [o["answer"] for o in res["ops"] if "pin_mem_bytes" in o["answer"]
           and o["kind"] != "spill"]
    mem = pin[0]["pin_mem_bytes"] if pin else extra.get("pin_mem_bytes", 0)
    disk = pin[0]["pin_disk_bytes"] if pin else extra.get("pin_disk_bytes", 0)
    m["pin.mem_bytes"], m["pin.disk_bytes"] = float(mem), float(disk)
    m["pin.ratio"] = (mem + disk) / exp_bytes if exp_bytes else 0.0
    # the replay whose storage pool is smaller than the pin
    spill = [o["answer"] for o in res["ops"] if o["kind"] == "spill" and o["ok"]]
    m["spill.pin.mem_bytes"] = float(spill[0]["pin_mem_bytes"]) if spill else 0.0
    m["spill.pin.disk_bytes"] = float(spill[0]["pin_disk_bytes"]) if spill else 0.0
    for layer in ("import", "parse", "csv"):
        m[f"spill.{layer}.s"] = per_call(f"spill.{layer}")
    residual = [o["answer"]["residual_bytes"] for o in res["ops"]
                if o["kind"] in ("replay", "spill") and o["ok"]]
    m["release.residual_bytes"] = float(max(residual)) if residual else 0.0
    for op in ("wide", "degrees", "clusters", "ancestors", "hops"):
        m[f"{op}.s"] = per_call(op)
        m[f"{op}.stages"] = per_call(op, "stages")
        m[f"{op}.cpu_s"] = per_call(op, "cpu_ns", 1e-9)

    # registry: the one pass over the query list, probe repeats excluded
    def total(name, key=None, scale=1.0):
        return sum((dur(s) if key is None else s["work"].get(key, 0.0)) * scale
                   for s in of(name))
    m["frame.s"] = total("frame")
    m["frame.jobs"] = total("frame", "jobs")
    m["plan.s"] = total("exec", "plan_ms", 1e-3)
    m["codegen.ms"] = total("query", "codegen_ms")
    m["codegen.classes"] = total("query", "codegen_classes")
    for k in ("exchanges", "bhj", "smj"):
        m[f"plan.{k}"] = total("exec", k)
    m["exec.s"] = total("exec")
    m["exec.cpu_s"] = total("exec", "cpu_ns", 1e-9)
    m["exec.gc_s"] = total("exec", "gc_ms", 1e-3)
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "input_bytes"):
        m[f"exec.{k}"] = total("exec", k)
    m["lease.residual_blocks"] = float(sum(
        v for k, v in extra.items() if k.startswith("residual_blocks.")))
    for mod in REGISTRY_MODULES:
        qs = [s for s in of("query") if s["attrs"].get("module") == f"operators.{mod}"]
        m[f"module.{mod}.s"] = sum(dur(s) for s in qs)
        m[f"module.{mod}.stages"] = sum(s["work"].get("stages", 0.0) for s in qs)

    plain, traced = extra.get("untraced_op_s", 0.0), extra.get("traced_op_s", 0.0)
    m["trace.overhead_s"] = traced - plain
    m["trace.overhead_share"] = (traced - plain) / plain if plain else 0.0
    m["trace.drift"] = 1.0 if plain and (traced - plain) / plain > bound else 0.0
    return m


def cpu_ticks():
    """(all, steal) CPU ticks since boot from /proc/stat, or None where it
    cannot be read; on a virtual machine, steal is time the host gave the
    machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


def host_context():
    sha = None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        sha = p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": CORES, "cpu_count": os.cpu_count(), "git_sha": sha,
            "source_sha256": source_stamp()[:16]}


# -------------------------------------------------------------------- run

def run(args):
    spec = WORKLOADS[args.workload]
    classpath = build()
    ctx = host_context()
    ctx["loadavg_start"] = os.getloadavg()
    ticks0 = cpu_ticks()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    rundir = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))

    plan = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "out": rundir, "setups": SETUPS,
            "master": spec["master"], "min_warm": spec["min_warm"],
            "spill_conf": SPILL_CONF, "app": "perfbench",
            "conf": dict(spec["conf"], **{
                "spark.local.dir": os.path.join(rundir, "tmp"),
                "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse")})}
    exp, questions, tables, input_bytes = None, [], None, 0
    if args.workload.startswith("ged-"):
        path, exp = ged_input(spec["mb"], args.seed)
        plan["ged"], input_bytes = path, exp["bytes"]
        questions = plan["questions"] = graph_questions(exp)
    else:
        tables = gen_tables.generate(input_path(gen_tables, f"tables-{spec['scale']}-s{args.seed}"),
                                     spec["scale"], args.seed)
        plan["tables"] = tables
        plan["queries"] = registry_queries(args.seed)
        input_bytes = sum(os.path.getsize(os.path.join(tables, f))
                          for f in os.listdir(tables) if f.endswith(".parquet"))
    with open(os.path.join(rundir, "plan.json"), "w") as f:
        json.dump(plan, f)

    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{spec['heap']}", f"-Xms{spec['heap']}", f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "perfbench.Harness", os.path.join(rundir, "plan.json")])
    t_harness = time.monotonic()
    with open(os.path.join(rundir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=rundir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=160)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"harness did not finish in 160 s; see {rundir}/harness.log")
    result_file = os.path.join(rundir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        raise BenchError(f"harness exited {code}; see {rundir}/harness.log")
    with open(result_file) as f:
        res = json.load(f)
    ctx["loadavg_end"] = os.getloadavg()
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        ctx["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])
    ctx["harness_s"] = time.monotonic() - t_harness
    ctx.update(spark_version=res["spark_version"], heap_max_bytes=res["heap_max_bytes"],
               spark_cores=res["cores"])

    # --- checks: every operation is judged; failures are named
    ops = [o for o in res["ops"] if o["kind"] != "probe"]
    failures, digests, part_files = [], [], 0
    asked = {q["kind"]: q for q in questions}
    if args.workload == "registry":
        failures = check_registry(ops, tables, os.path.join(rundir, "results"))
    for i, o in enumerate(ops):
        if args.workload == "registry":
            break
        why = None if o["ok"] else o["error"]
        if why is None and "csv_dir" in o["answer"]:
            try:
                why = check_import(o, exp, digests)
            except (BenchError, OSError) as e:
                why = str(e)
            if o["kind"] == "replay":
                part_files = o.get("csv_part_files", 0)
            shutil.rmtree(o["answer"]["csv_dir"], ignore_errors=True)
        elif why is None and o["kind"] in asked:
            why = check_question(o, exp, asked[o["kind"]])
        if why:
            failures.append({"op": i, "kind": o["kind"], "why": why})
    failed = len(failures)

    # --- end-to-end metrics (the untraced operations only)
    warm_ops = [o for o in ops if o["phase"] == "warm" and not o["traced"]]
    warm = [o["wall_s"] for o in warm_ops]
    setup = median(res["setup_s"])
    # the gated figure covers the same operations in every run: the mean
    # wall of the operations of the first min_warm warm rounds (imports or
    # passes over the queries); rounds the time window adds on a fast host
    # are reported, not gated
    per_round = {"ged-import": 1, "registry": len(plan.get("queries", ()))}[args.workload]
    op_mean = statistics.mean(o["wall_s"] for o in warm_ops[:plan["min_warm"] * per_round])
    # reported beside the gated metrics, not gated: the first (cold) call,
    # throughput in the reference's unit, the pin, per-query walls
    named = {"setup_s": (setup, "s"), "first_op_s": (ops[0]["wall_s"], "s"),
             "op_mean_s": (op_mean, "s"), "op_p50_s": (median(warm), "s"),
             "error_rate": (failed / len(ops), "ratio"), "input_mb": (input_bytes / 1e6, "MB")}
    if args.workload == "ged-import":
        named.update(import_first_s=(ops[0]["wall_s"], "s"),
                     import_mb_per_s=(input_bytes / 1e6 / median(warm), "MB/s"),
                     pin_ratio=((res["extra"]["pin_mem_bytes"] + res["extra"]["pin_disk_bytes"])
                                / input_bytes, "bytes/byte"))
    else:  # over each query's first execution in the process
        firsts = [o["wall_s"] for o in ops if o["phase"] in ("first", "cold")]
        named.update(query_p50_s=(median(firsts), "s"), suite_s=(sum(firsts), "s"),
                     query_p90_s=(statistics.quantiles(firsts, n=10)[-1], "s"),
                     warm_suite_s=(sum(warm[:per_round]), "s"))
    report = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}

    bound = 0.15
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench_json):
        with open(bench_json) as f:
            bound = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}.get("op_mean_s", bound)
    if args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in
                   layer_metrics(res, input_bytes, part_files, bound).items()}
        trace = {"run_id": f"{tag}", "host": ctx, "spans": res["spans"], "ops": res["ops"],
                 "extra": res["extra"], "failures": failures}
        with open(os.path.join(rundir, "trace.json"), "w") as f:
            json.dump(trace, f)
    else:
        metrics = {k: report[k] for k in ("setup_s", "op_mean_s")}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": ctx, "report": report, "failures": failures}))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}


UNITS = {}
for _k in ("scan.s", "parse.s", "parse.cpu_s", "parse.gc_s", "csv.s", "csv.cpu_s",
           "importargs.s", "diag.s", "release.s", "import.self_s", "frame.s", "plan.s",
           "exec.s", "exec.cpu_s", "exec.gc_s", "trace.overhead_s", "setup.cold_s",
           "spill.import.s", "spill.parse.s", "spill.csv.s"):
    UNITS[_k] = "s"
for _op in ("wide", "degrees", "clusters", "ancestors", "hops"):
    UNITS[f"{_op}.s"] = UNITS[f"{_op}.cpu_s"] = "s"
    UNITS[f"{_op}.stages"] = "count"
for _k in ("parse.jobs", "parse.tasks", "csv.jobs", "csv.stages", "csv.part_files",
           "diag.jobs", "frame.jobs", "codegen.classes", "plan.exchanges", "plan.bhj",
           "plan.smj", "exec.jobs", "exec.stages", "exec.tasks", "lease.residual_blocks",
           "trace.drift"):
    UNITS[_k] = "count"
for _k in ("pin.mem_bytes", "pin.disk_bytes", "spill.pin.mem_bytes", "spill.pin.disk_bytes",
           "csv.output_bytes", "release.residual_bytes",
           "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
           "exec.input_bytes"):
    UNITS[_k] = "bytes"
for _mod in REGISTRY_MODULES:
    UNITS[f"module.{_mod}.s"] = "s"
    UNITS[f"module.{_mod}.stages"] = "count"
UNITS.update({"tokenize.ns_per_line": "ns", "assemble.ns_per_record": "ns",
              "pin.ratio": "bytes/byte", "codegen.ms": "ms",
              "trace.overhead_share": "ratio"})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
