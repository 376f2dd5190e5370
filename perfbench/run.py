#!/usr/bin/env python3
"""Benchmark of the Spark re-expression of sc-crawler's batch ETL.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads:

  etl_catalog      six queries drawn from CoreQueries, MiscQueries,
                   LifecycleQueries, ReshapeQueries and ScoreQueries, built
                   and fully executed in a fixed order (the reference's own
                   dataflows);
  curation_corpus  five training-data operators over a multi-copy corpus
                   with constant near-duplicate density;
  index_lifecycle  probes of stored BM25 / RepIndex / IVF artifacts mixed
                   with append-then-delete maintenance folds, each fold
                   followed by a search of the folded state.

The first run in a checkout compiles the program from source together with
the harness (sbt, offline) into .bench_build/; later runs start the JVM
directly. Every input is generated from --seed. Each op's result is
fingerprinted outside the timed region and compared with the run's warm-up
result and with the references recorded in perfbench/refs/ for that
workload and seed; a mismatch or an exception counts as a failed op.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(alternate passes traced: per-op Spark job groups, Catalyst phases, plan
health, spans). The last stdout line is one JSON object.

Extra modes (not used by timed runs):
  --record-refs   store this run's warm-up fingerprints as the references
                  for (workload, seed)
  --oracle-check  also write each oracle-backed op's result and compare it
                  with the DuckDB oracle SQL (SparkEntry.oracleSql)
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("etl_catalog", "curation_corpus", "index_lifecycle")
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout also compiles
# Input sizes. etl_catalog: all ten tables at scale factor ETL_SF.
# curation_corpus: CUR_COPIES vowel-mapped copies of a CUR_DOCS-document /
# CUR_VECS-vector base corpus. index_lifecycle: LC_DOCS documents and
# LC_VECS vectors. The small companion tables come at SMALL_SF.
ETL_SF = 0.01
CUR_DOCS, CUR_VECS, CUR_COPIES = 500, 300, 2
LC_DOCS, LC_VECS = 400, 400
SMALL_SF = 0.001

# End-to-end metrics are read from untraced passes. A run holds one or two
# passes, so the op latency percentiles (from a dozen samples) are per-layer
# figures of the traced run, where their sample count is printed with them.
#
# On a virtual machine whose hypervisor lends its CPUs to other guests, wall
# time stretches by the CPU time taken away ("steal" in /proc/stat), and on
# a shared four-core host that alone moved a pass by up to 70% from run to
# run. setup_s and pass_s therefore count wall time less the stolen CPU
# time spread over the cores; the raw figures and the steal are printed
# alongside, and on a host without steal the two are the same.
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("live_heap_mb", "MB")]
PACKS = ["CoreQueries", "MiscQueries", "LifecycleQueries", "ReshapeQueries", "ScoreQueries",
         "TextQueries", "SimilarityQueries", "MultimodalQueries"]
FAMILIES = [("bm25", "text.Bm25"), ("rep", "dedup.RepIndex"), ("ivf", "similarity.Cosine.ivf")]
FOLDS = 2


def call_names(family, prefix):
    """Per-call timing names of one index family."""
    if family in ("bm25", "rep"):
        return {k: f"{prefix}.{k}_s" for k in ("append", "delete", "search_stored", "fold_search")}
    short = prefix.rsplit(".", 1)
    return {k: f"{short[0]}.{short[1]}_{k}_s" for k in ("append", "delete", "search_stored")}


def per_layer_spec():
    spec = [("ops.p50_s", "s"), ("ops.tail_s", "s"), ("ops.tail_pct", "%"),
            ("ops.samples", "count"), ("ops.pass_cpu_s", "s"), ("env.steal_s", "s"),
            ("queries.build_s", "s"), ("queries.build_jobs", "count")]
    spec += [(f"queries.{p}_s", "s") for p in PACKS]
    spec += [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
             ("catalyst.planning_s", "s"), ("catalyst.plan_nodes_max", "count"),
             ("catalyst.exchanges", "count"), ("plans.codegen_fallback", "count"),
             ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
             ("exec.floor_s", "s"), ("exec.task_s", "s"), ("exec.shuffle_read_mb", "MB"),
             ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_s", "s"),
             ("storage.blocks_left", "count"), ("storage.artifact_write_s", "s"),
             ("storage.artifact_mb", "MB"),
             ("trace.overhead_s", "s"), ("trace.traced_pass_s", "s"),
             ("trace.untraced_pass_s", "s"), ("trace.self_build_s", "s"),
             ("trace.self_exec_s", "s")]
    for family, prefix in FAMILIES:
        spec += [(n, "s") for n in call_names(family, prefix).values()]
        spec += [(f"{prefix}.plan_nodes", "count")]
        for i in range(1, FOLDS + 1):
            spec += [(f"{prefix}.fold{i}_s", "s"), (f"{prefix}.fold{i}_nodes", "count")]
    spec += [("lifecycle.probe_p50_s", "s"), ("lifecycle.probe_tail_s", "s"),
             ("lifecycle.maint_p50_s", "s"), ("lifecycle.maint_max_s", "s"),
             ("check.failed_frac", "ratio"), ("env.cores", "count"), ("env.heap_mb", "MB"),
             ("env.local_dir_free_mb", "MB"), ("cal.pre_s", "s"), ("cal.post_s", "s")]
    return spec


# ---------------------------------------------------------------- statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(p, n):
    """1-based nearest rank of percentile p among n samples (rounded first,
    so 99.9% of 10000 is rank 9990, not 9991)."""
    return min(n, max(1, math.ceil(round(p * n / 100.0, 9))))


def percentile(xs, p):
    """Nearest-rank percentile p (0 < p <= 100)."""
    return sorted(xs)[rank(p, len(xs)) - 1]


def tail(xs):
    """(p, value) for the highest ladder percentile with at least ten samples
    strictly beyond its nearest rank; the median below twenty samples."""
    n = len(xs)
    p = next((p for p in TAIL_LADDER if n - rank(p, n) >= 10), 50.0)
    return p, percentile(xs, p)


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


# ------------------------------------------------------------------ checking

def load_refs(workload):
    path = os.path.join(HERE, "refs", f"{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def check_ops(result, recorded):
    """Marks every op record with `failed`: it threw, its fingerprint differs
    from the warm-up (or the reference op it must reproduce), or the warm-up
    fingerprint differs from the recorded reference for this seed. Returns
    the names whose warm-up result disagrees with the recorded reference."""
    wrong = {name for name, fp in result["warm"].items()
             if recorded is not None and name in recorded and recorded[name] != fp}
    for rec in result["ops"]:
        rec["failed"] = (not rec["ok"]) or (not rec["checked"]) or rec["name"] in wrong
    return wrong


# ------------------------------------------------------------------- metrics

def unstolen(wall, steal, cores):
    """Wall seconds less the CPU seconds stolen from the machine, spread
    over its cores."""
    return wall - steal / cores


def end_to_end(result, setup_s):
    passes = [p for p in result["passes"] if not p["traced"]]
    cores = result["cores"]
    return {
        "setup_s": setup_s,
        "pass_s": median([unstolen(p["wall"], p["steal"], cores) for p in passes]),
        "live_heap_mb": median([p["heap_mb"] for p in passes]),
    }


def per_layer(result, env):
    m = {name: 0.0 for name, _ in per_layer_spec()}
    traced = [r for r in result["ops"] if r["traced"]]
    tpasses = [p for p in result["passes"] if p["traced"]]
    upasses = [p for p in result["passes"] if not p["traced"]]
    cores = result["cores"]

    def per_pass(fn, agg=sum):
        """Median over traced passes of agg(fn(op)) within each pass."""
        vals = []
        for p in tpasses:
            xs = [fn(r) for r in traced if r["pass"] == p["pass"]]
            vals.append(agg(xs) if xs else 0.0)
        return median(vals)

    walls = [r["wall"] for r in result["ops"] if not r["traced"]]
    m["ops.p50_s"] = median(walls)
    m["ops.tail_pct"], m["ops.tail_s"] = tail(walls) if walls else (0.0, 0.0)
    m["ops.samples"] = len(walls)
    m["ops.pass_cpu_s"] = median([p["cpu"] for p in upasses])
    m["env.steal_s"] = sum(p["steal"] for p in result["passes"])
    g = lambda k: (lambda r: r.get(k, 0) or 0)  # noqa: E731
    m["queries.build_s"] = per_pass(g("build"))
    m["queries.build_jobs"] = per_pass(g("build_jobs"))
    for pack in PACKS:
        m[f"queries.{pack}_s"] = per_pass(lambda r, pack=pack: r["wall"] if r["layer"] == pack else 0)
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = per_pass(g(ph))
    m["catalyst.plan_nodes_max"] = per_pass(g("plan_nodes"), agg=max)
    m["catalyst.exchanges"] = per_pass(g("exchanges"))
    m["plans.codegen_fallback"] = per_pass(g("fallbacks"))
    for k in ("jobs", "stages", "tasks"):
        m[f"exec.{k}"] = per_pass(g(k))
    m["exec.task_s"] = per_pass(g("task_s"))
    m["exec.gc_s"] = per_pass(g("gc_s"))
    m["exec.floor_s"] = per_pass(lambda r: r["wall"] - (r.get("task_s", 0) or 0) / cores)
    for k in ("shuffle_read", "shuffle_write", "spill"):
        m[f"exec.{k}_mb"] = per_pass(lambda r, k=k: (r.get(k, 0) or 0) / 1048576.0)
    m["storage.blocks_left"] = per_pass(g("blocks_left"))
    m["storage.artifact_write_s"] = result["artifact_write_s"]
    m["storage.artifact_mb"] = result["artifact_bytes"] / 1048576.0
    m["trace.traced_pass_s"] = median([p["wall"] for p in tpasses])
    m["trace.untraced_pass_s"] = median([p["wall"] for p in upasses])
    m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
    for k in ("build", "exec"):
        m[f"trace.self_{k}_s"] = median([p["self"].get(k, 0.0) for p in tpasses])

    for family, prefix in FAMILIES:
        fam = [r for r in traced if r["family"] == family]
        names = call_names(family, prefix)
        appends = [r["fold_s"] for r in fam if r["kind"] == "maint" and r["fold"] % 2 == 1]
        deletes = [r["fold_s"] for r in fam if r["kind"] == "maint" and r["fold"] % 2 == 0]
        m[names["append"]] = median(appends)
        m[names["delete"]] = median(deletes)
        m[names["search_stored"]] = median([r["wall"] for r in fam if r["kind"] == "probe"])
        if "fold_search" in names:
            m[names["fold_search"]] = median(
                [r["wall"] - r["fold_s"] for r in fam if r["kind"] == "maint"])
        for i in range(1, FOLDS + 1):
            fi = [r for r in fam if r["kind"] == "maint" and r["fold"] == i]
            m[f"{prefix}.fold{i}_s"] = median([r["wall"] for r in fi])
            m[f"{prefix}.fold{i}_nodes"] = median([r.get("nodes", 0) for r in fi])
        m[f"{prefix}.plan_nodes"] = m[f"{prefix}.fold{FOLDS}_nodes"]
    probes = [r["wall"] for r in traced if r["kind"] == "probe"]
    maint = [r["wall"] for r in traced if r["kind"] == "maint"]
    m["lifecycle.probe_p50_s"] = median(probes)
    m["lifecycle.probe_tail_s"] = tail(probes)[1] if probes else 0.0
    m["lifecycle.maint_p50_s"] = median(maint)
    m["lifecycle.maint_max_s"] = max(maint) if maint else 0.0
    ops = result["ops"]
    m["check.failed_frac"] = sum(r["failed"] for r in ops) / max(1, len(ops))
    m["env.cores"] = cores
    m["env.heap_mb"] = result["heap_max_mb"]
    m["env.local_dir_free_mb"] = env["local_free_mb"]
    m["cal.pre_s"] = result["cal_pre_s"]
    m["cal.post_s"] = result["cal_post_s"]
    return m


# --------------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("SPARK_HOME is unset and spark-submit is not on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def ensure_build(stamp, deadline):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "benchClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=max(30, deadline - time.time()))
    log_lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not log_lines:
        with open(log_path, "a") as log:
            log.write(proc.stdout)
        sys.exit(f"build failed (see {os.path.relpath(log_path, ROOT)})")
    cp = next(l for l in reversed(log_lines) if ".jar" in l or "classes" in l).strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# -------------------------------------------------------------------- inputs

def make_inputs(workload, seed, data):
    if os.path.exists(data):
        shutil.rmtree(data)
    if workload == "etl_catalog":
        gen.write_tables(data, ETL_SF, seed)
    elif workload == "curation_corpus":
        gen.write_tables(data, SMALL_SF, seed)
        gen.write_corpus(data, CUR_DOCS, CUR_VECS, CUR_COPIES, seed)
    else:
        gen.write_tables(data, SMALL_SF, seed)
        gen.write_corpus(data, LC_DOCS, LC_VECS, 1, seed)


# ----------------------------------------------------------------------- run

def host_env(work):
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    # the heap rule of the repository's own test line: MemTotal / 2, in [2, 8] GiB
    heap_g = min(8, max(2, mem_kb // 2097152)) if mem_kb else 2
    try:
        commit = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return {"cores": cores, "heap": f"{heap_g}g", "mem_total_mb": mem_kb // 1024,
            "local_dir": os.path.relpath(local, ROOT),
            "local_free_mb": shutil.disk_usage(local).free / 1048576.0,
            "commit": commit or "none"}


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def run_jvm(cp, args, env, work, data, out, deadline, oracle_out=None):
    cmd = ["java", f"-Xmx{env['heap']}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", data,
            "--work", work, "--out", out, "--cores", str(env["cores"]),
            # time left for the JVM, less what stopping it and the checks take
            "--budget", f"{deadline - time.time() - 15:.0f}"]
    if oracle_out:
        cmd += ["--oracle-out", oracle_out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail_lines = f.read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail_lines) + "\n")
        sys.exit(f"benchmark JVM failed ({rc})")
    with open(out) as f:
        return json.load(f)


def oracle_check(data, oracle_dir):
    """tools/check.py's comparison: schema by sorted column names, values by
    sorted canonical rows, Spark results and oracle SQL both read by DuckDB."""
    import duckdb

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        import decimal
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
        return repr(v)

    def canon(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in rows)

    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    verdict = {}
    for name in sorted(sql):
        try:
            res = con.execute(f"SELECT * FROM read_parquet('{oracle_dir}/{name}/*.parquet')")
            s = canon([c[0] for c in res.description], res.fetchall())
            res = con.execute(sql[name])
            o = canon([c[0] for c in res.description], res.fetchall())
            verdict[name] = "PASS" if s == o else (
                "FAIL schema" if s[0] != o[0] else f"FAIL values ({len(s[1])} vs {len(o[1])} rows)")
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            verdict[name] = f"FAIL {type(e).__name__}: {str(e)[:120]}"
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-refs", action="store_true")
    ap.add_argument("--oracle-check", action="store_true")
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no program sources next to perfbench/ (expected src/main/scala at the "
                 "repository root): nothing to benchmark")
    stamp = source_stamp()
    cp = ensure_build(stamp, t_start + BUILD_DEADLINE_S)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    data = os.path.join(work, "data")
    oracle_dir = os.path.join(work, "oracle") if args.oracle_check else None
    try:
        env = host_env(work)
        t0 = time.time()
        make_inputs(args.workload, args.seed, data)
        gen_s = time.time() - t0
        result = run_jvm(cp, args, env, work, data, os.path.join(work, "result.json"),
                         deadline, oracle_dir)
        verdict = oracle_check(data, oracle_dir) if oracle_dir else None
        keep = os.path.join(BUILD, "results")
        os.makedirs(keep, exist_ok=True)
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        shutil.copy(os.path.join(work, "result.json"), os.path.join(keep, f"{tag}.json"))
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(keep, f"{tag}.log"))
        if args.trace:
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(keep, f"{tag}.spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    refs = load_refs(args.workload)
    recorded = refs.get("seeds", {}).get(str(args.seed))
    wrong = check_ops(result, recorded)
    if args.record_refs:
        refs.setdefault("seeds", {})[str(args.seed)] = result["warm"]
        if verdict is not None:
            refs.setdefault("oracle", {})[str(args.seed)] = verdict
        os.makedirs(os.path.join(HERE, "refs"), exist_ok=True)
        with open(os.path.join(HERE, "refs", f"{args.workload}.json"), "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
            f.write("\n")

    setup_s = gen_s + unstolen(result["setup_s"], result["setup_steal_s"], result["cores"])
    ops = result["ops"]
    failed = [r for r in ops if r["failed"]]
    print(f"info workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} commit={env['commit']} sources={stamp}")
    print(f"info nproc={env['cores']} master=local[{result['cores']}] heap={env['heap']} "
          f"(MemTotal {env['mem_total_mb']} MB) spark.local.dir={env['local_dir']} "
          f"free={env['local_free_mb']:.0f} MB jvm={result['jvm']!r} spark={result['spark']}")
    print(f"info calibration pre={result['cal_pre_s']:.4f}s post={result['cal_post_s']:.4f}s "
          f"passes={len(result['passes'])} ops={len(ops)} measured={result['measured_s']:.2f}s "
          f"steal={sum(p['steal'] for p in result['passes']):.2f}s "
          f"raw pass walls={[round(p['wall'], 3) for p in result['passes']]} "
          f"raw setup={gen_s + result['setup_s']:.2f}s setup steal={result['setup_steal_s']:.2f}s "
          f"setup: boot={result['boot_s']:.2f}s gen={gen_s:.2f}s "
          f"session={result['session_s']:.2f}s "
          f"artifacts={result['artifact_write_s']:.2f}s warmup={result['warmup_s']:.2f}s")
    if recorded is None:
        print(f"info no recorded references for seed {args.seed}: results checked against "
              "this run's warm-up pass and the built-in identities only")
    for name in sorted(wrong):
        print(f"check FAIL {name}: warm-up result differs from the recorded reference")
    for r in failed[:20]:
        print(f"check FAIL {r['name']} pass {r['pass']}: "
              f"{r['error'] or 'result fingerprint ' + str(r['fp']) + ' != ' + str(r['expect'])}")
    if verdict is not None:
        bad = {k: v for k, v in verdict.items() if v != "PASS"}
        print(f"oracle {len(verdict) - len(bad)}/{len(verdict)} PASS")
        for k, v in sorted(bad.items()):
            print(f"oracle {v} {k}")

    if args.trace:
        spec = per_layer_spec()
        values = per_layer(result, env)
    else:
        spec = END_TO_END
        values = end_to_end(result, setup_s)
    metrics = {}
    for name, unit in spec:
        metrics[name] = {"value": values[name], "unit": unit}
        print(f"metric {name} = {values[name]:.6g} {unit}")
    correct = not failed and (verdict is None or all(v == "PASS" for v in verdict.values()))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
