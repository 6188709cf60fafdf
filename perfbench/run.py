#!/usr/bin/env python3
"""graft's benchmark: one command that builds graft and the harness,
runs one closed-loop workload, checks every output and prints the
metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the repository root. `--trace 0` measures with tracing off and
reports the end-to-end metrics; `--trace 1` runs an untraced, a traced
and another untraced phase on the same seed and reports the per-layer
metrics (see perfbench/README.md). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero without a
result when the build, the run or the harness fails.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(ROOT / "tools"))
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
RUNS = BENCH / ".runs"
DATA = BENCH / "data" / "sf0.01"
WORKLOADS = ("relational", "llm_pipeline", "table_rw")
# seconds a workload's set-up, and one of its passes, may take on a slow
# host; the hang guard on the JVM is built from them
SETUP_ALLOWANCE_S = {"relational": 60, "llm_pipeline": 90, "table_rw": 50}
PASS_ALLOWANCE_S = {"relational": 25, "llm_pipeline": 60, "table_rw": 35}
ROW_BYTES = 16  # table_rw rows are (k BIGINT, v BIGINT)

RELATIONAL = [
    "q_pricing_summary", "q_multiway_revenue", "q_topk_revenue", "q_right_join_compound",
    "q_join_range", "q_window_running", "q_topk_per_group", "q_json_extract",
    "q_join_bloom", "q_agg_cms", "q_ev_hourly", "q_ev_sessions", "q_ev_attribution",
    "q_sample_stratified", "cw_sql1", "cw_sql2", "cw_nosql1", "cw_nosql2"]
VERBS = ["append", "update", "delete", "delete_dv", "upsert", "optimize_selective", "vacuum"]
# name -> unit of every per-layer metric a traced run reports, in order;
# BENCHMARK.json's per_layer list is this list
PER_LAYER = dict(
    [("queries.build_s", "s"), ("queries.build_jobs", "count"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
     ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
     ("sched.tasks_per_stage", "ratio"), ("sched.driver_only_s", "s"), ("sched.core_util", "ratio"),
     ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.input_mb", "MB"), ("exec.output_mb", "MB"),
     ("sources.files_read", "count"), ("sources.files_total", "count"),
     ("sources.rows_read_per_row_out", "ratio")]
    + [(f"layout.{v}_s", "s") for v in VERBS]
    + [("layout.files_rewritten", "count"), ("layout.files_untouched", "count"),
       ("layout.bytes_written_mb", "MB"), ("layout.live_files_end", "count"),
       ("layout.dv_files_end", "count"), ("layout.generations_end", "count"),
       ("layout.uncovered_files_end", "count"),
       ("table.write_p50_s", "s"), ("table.write_p90_s", "s"),
       ("table.write_amp", "ratio"), ("table.space_amp", "ratio"),
       ("checkpoints.pinned_mb_end", "MB"), ("driver.gc_s", "s"),
       ("self.driver_s", "s"), ("self.plans_s", "s"), ("self.sched_s", "s"), ("self.exec_s", "s"),
       ("trace.unattributed_jobs", "count"), ("trace.overhead_s", "s"),
       ("trace.overhead_frac", "ratio"), ("trace.count_divergence", "count"),
       ("host.steal_ticks", "count")]
    + [(f"{q}.{m}", u) for q in RELATIONAL for m, u in (("wall_s", "s"), ("jobs", "count"))])
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt, offline, unless the
    classes already match the sources."""
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-Xmx2g", env.get("SBT_OPTS", "")]).strip()
    log("building graft and the harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "Compile/copyResources"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    STAMP.write_text(digest)
    log(f"built in {time.time() - t0:.1f} s")


# ------------------------------------------------------------------ run

def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def spark_jars():
    """The Spark jars the repository's build compiles against (its
    `unmanagedBase`), so the harness runs on the same ones."""
    build_sbt = ROOT / "build.sbt"
    m = build_sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("the repository's build.sbt names no Spark jar directory that exists")
    return Path(m.group(1))


def hang_guard_s(workload, seconds, trace):
    """Seconds the JVM may run before it counts as hung: set-up, the
    measured seconds, one pass for each pass a phase may run past them
    (a traced run has three phases; an untraced table_rw run times at
    least two cycles), and about a pass of closing work."""
    passes = 3 if trace else (2 if workload == "table_rw" else 1)
    return SETUP_ALLOWANCE_S[workload] + seconds + (passes + 1) * PASS_ALLOWANCE_S[workload]


def run_jvm(workload, seed, seconds, trace, out):
    cores = os.cpu_count() or 1
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx2g", *opens, f"-Djava.io.tmpdir={out / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-cp", f"{CLASSES}:{spark_jars()}/*",
           "perfbench.Main", workload, str(seed), str(seconds), str(trace),
           str(out), str(DATA), str(cores)]
    with open(out / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=hang_guard_s(workload, seconds, trace))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write((out / "jvm.log").read_text()[-4000:])
        fail(f"harness exited with {rc}", 4)
    return json.loads((out / "run.json").read_text()), cores


# -------------------------------------------------------- correctness

def check_queries(out, names):
    """Each query's set-up result, and every timed call whose rows
    differed from it, against the query's DuckDB oracle, by the rules
    of tools/check_oracle.py. Returns (query name -> problem, op id ->
    problem)."""
    import duckdb
    from check_oracle import TABLES, compare
    res = out / "results"
    errors = json.loads((res / "_errors.json").read_text())
    oracles = json.loads((res / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")

    def check(name, got_dir):
        try:
            got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
            return compare(name, got, con.sql(oracles[name]).df())
        except Exception as e:  # noqa: BLE001 - any failure is a check failure
            return f"check failed: {e}"

    bad = {}
    for n in names:
        if n in errors:
            bad[n] = f"threw: {errors[n]}"
        elif n not in oracles:
            bad[n] = "no oracle"
        elif err := check(n, res / n):
            bad[n] = err
    calls = res / "calls"
    bad_calls = {}
    for d in sorted(calls.iterdir()) if calls.is_dir() else []:
        name = d.name.split("-", 3)[3]
        if name in oracles and (err := check(name, d)):
            bad_calls[d.name] = err
    return bad, bad_calls


def check_table(out, run):
    """Replays every table_rw operation on an independent DuckDB model,
    checks each read's answer and the final table, and returns
    (bad op ids, final-table problem, logical bytes each write changed)."""
    import duckdb
    tab = run["table"]
    salt = int(tab["value_salt"])
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT range AS k, "
                f"(range * 2654435761 + {salt}) % 1000003 AS v "
                f"FROM range({int(tab['initial_rows'])})")
    bad, changed, broken = [], {}, None

    def one(sql):
        return con.execute(sql).fetchone()

    for o in run["ops"]:
        st, name = o["stats"], o["name"]
        if not o["ok"]:
            if o["kind"] != "read":
                broken = f"{o['id']} threw, so the table state is unknown"
            continue
        lo, hi = int(st.get("lo", 0)), int(st.get("hi", 0))
        if name == "read_range":
            want = one(f"SELECT count(*), coalesce(sum(v), 0) FROM t WHERE k BETWEEN {lo} AND {hi}")
            if (want[0], want[1]) != (st["n"], st["s"]):
                bad.append(o["id"])
        elif name == "read_full":
            want = one("SELECT count(*), coalesce(sum(v), 0) FROM t")
            if (want[0], want[1]) != (st["n"], st["s"]):
                bad.append(o["id"])
        elif name == "read_count":
            if one("SELECT count(*) FROM t")[0] != st["n"]:
                bad.append(o["id"])
        elif name == "append":
            changed[o["id"]] = one(f"INSERT INTO t SELECT range, (range * 2654435761 + {salt}) % 1000003 "
                           f"FROM range({lo}, {hi + 1})")[0]
        elif name == "update":
            changed[o["id"]] = one(f"UPDATE t SET v = v + {int(st['delta'])} WHERE k BETWEEN {lo} AND {hi}")[0]
        elif name in ("delete", "delete_dv"):
            changed[o["id"]] = one(f"DELETE FROM t WHERE k BETWEEN {lo} AND {hi}")[0]
        elif name == "upsert":
            keys = (f"SELECT {lo} + range * {int(st['stride'])} AS k, "
                    f"({lo} + range * {int(st['stride'])}) * 40503 + {int(st['salt'])} AS x "
                    f"FROM range({int(st['rows'])})")
            con.execute(f"DELETE FROM t WHERE k IN (SELECT k FROM ({keys}))")
            changed[o["id"]] = one(f"INSERT INTO t SELECT k, x % 1000003 FROM ({keys})")[0]
    final = out / "table_rw" / "final"
    con.execute(f"CREATE VIEW f AS SELECT k, v FROM '{final}/*.parquet'")
    extra = one("SELECT count(*) FROM (SELECT k, v FROM f EXCEPT ALL SELECT k, v FROM t)")[0]
    missing = one("SELECT count(*) FROM (SELECT k, v FROM t EXCEPT ALL SELECT k, v FROM f)")[0]
    problem = broken
    if extra or missing:
        problem = f"final table: {extra} rows not in the model, {missing} model rows missing"
    if tab["live_rows_end"] != one("SELECT count(*) FROM t")[0]:
        problem = problem or "final live row count differs from the model"
    return bad, problem, {k: n * ROW_BYTES for k, n in changed.items()}


# -------------------------------------------------------------- metrics

def pct(values, q):
    """Linear-interpolated percentile of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    i = int(math.floor(pos))
    j = min(i + 1, len(v) - 1)
    return v[i] + (v[j] - v[i]) * (pos - i)


def dur(o):
    return (o["end_ms"] - o["start_ms"]) / 1e3


def end_to_end(run, ops, wall_s, failed):
    lat = [dur(o) for o in ops]
    reads = [dur(o) for o in ops if o["kind"] in ("read", "query")]
    writes = [dur(o) for o in ops if o["kind"] in ("write", "maint")]
    m = {
        "setup_s": (run["setup_s"], "s"),
        "throughput_ops_s": (len(ops) / wall_s, "1/s"),
        "latency_p50_s": (pct(lat, 0.5), "s"),
        "latency_p90_s": (pct(lat, 0.9), "s"),
        "read_p50_s": (pct(reads, 0.5), "s"),
        "read_p90_s": (pct(reads, 0.9), "s"),
        "ok_frac": (1.0 - failed / len(ops), "ratio"),
    }
    table = {}
    if writes:
        table["write_p50_s"] = (pct(writes, 0.5), "s")
        table["write_p90_s"] = (pct(writes, 0.9), "s")
    return m, table, {"latency": len(lat), "read": len(reads), "write": len(writes)}


def table_amps(run, ops, changed_by_op):
    written = sum(o["stats"].get("bytes_written", 0.0) for o in ops if o["kind"] in ("write", "maint"))
    changed_bytes = sum(changed_by_op.get(o["id"], 0) for o in ops)
    tab = run["table"]
    return {
        "write_amp": (written / changed_bytes if changed_bytes else 0.0, "ratio"),
        "space_amp": (tab["bytes_on_disk_end"] / (tab["live_rows_end"] * ROW_BYTES), "ratio"),
    }


def per_layer(run, workload, seed, steal, table_e2e):
    layers = dict(run["layers"])
    ops = [o for o in run["ops"] if o["phase"] == "traced"]
    ph = run["phases"]
    cycles = max(ph["traced"]["passes"], 1)
    reads = [o for o in ops if o["kind"] == "read"]
    rows_out = sum(o["stats"].get("n", 0.0) for o in reads)
    layers["sources.files_read"] = sum(o["stats"].get("files_read", 0.0) for o in reads) / max(len(reads), 1)
    layers["sources.files_total"] = sum(o["stats"].get("files_total", 0.0) for o in reads) / max(len(reads), 1)
    layers["sources.rows_read_per_row_out"] = (
        sum(o["stats"].get("rows_read", 0.0) for o in reads) / rows_out if rows_out else 0.0)
    for verb in VERBS:
        calls = [dur(o) for o in ops if o["name"] == verb]
        layers[f"layout.{verb}_s"] = sum(calls) / len(calls) if calls else 0.0
    layers["layout.files_rewritten"] = sum(o["stats"].get("files_rewritten", 0.0) for o in ops) / cycles
    layers["layout.files_untouched"] = sum(o["stats"].get("files_untouched", 0.0) for o in ops) / cycles
    tab = run.get("table", {})
    for k in ("live_files_end", "dv_files_end", "generations_end", "uncovered_files_end"):
        layers[f"layout.{k}"] = tab.get(k, 0.0)
    for k in ("write_p50_s", "write_p90_s", "write_amp", "space_amp"):
        layers[f"table.{k}"] = table_e2e.get(k, (0.0,))[0]
    layers["host.steal_ticks"] = float(steal)
    t_wall = ph["traced"]["wall_s"] / ph["traced"]["passes"]
    u_wall = sum(ph[k]["wall_s"] / ph[k]["passes"] for k in ("untraced", "untraced_after")) / 2
    layers["trace.overhead_s"] = t_wall - u_wall
    layers["trace.overhead_frac"] = (t_wall - u_wall) / u_wall
    layers["trace.count_divergence"] = float(count_divergence(workload, seed, run, layers))
    return layers


def count_divergence(workload, seed, run, layers):
    """How many of sched.jobs, sched.tasks and exec.shuffle_write_mb
    differ from the last traced run of this workload on this seed with
    the same pass layout (0 when there is none yet)."""
    state = RUNS / "counts.json"
    seen = json.loads(state.read_text()) if state.exists() else {}
    ph = run["phases"]
    key = f"{workload}/{seed}/{ph['untraced']['passes']}/{ph['traced']['passes']}"
    now = {k: layers[k] for k in ("sched.jobs", "sched.tasks", "exec.shuffle_write_mb")}
    prev = seen.get(key)
    diverged = [k for k in now if prev is not None and abs(prev[k] - now[k]) > 1e-9]
    for k in diverged:
        log(f"count divergence on {key}: {k} {prev[k]} -> {now[k]}")
    seen[key] = now
    state.write_text(json.dumps(seen, indent=1, sort_keys=True))
    return len(diverged)


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src'}; run from a repository checkout")
    if not DATA.is_dir() or shutil.which("java") is None:
        fail("missing input data or java")
    spark_jars()

    build()
    RUNS.mkdir(exist_ok=True)
    out = RUNS / f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        s0 = steal_ticks()
        run, cores = run_jvm(a.workload, a.seed, a.seconds, a.trace, out)
        steal = steal_ticks() - s0 if s0 >= 0 else -1

        timed = [o for o in run["ops"] if o["phase"] == "untraced"]
        wall_s = run["phases"]["untraced"]["wall_s"]
        bad_ops, problems = set(), []
        changed_by_op = {}
        if a.workload == "table_rw":
            bad, problem, changed_by_op = check_table(out, run)
            bad_ops.update(bad)
            if problem:
                problems.append(problem)
        else:
            bad_q, bad_calls = check_queries(out, sorted({o["name"] for o in run["ops"]}))
            for n, why in sorted({**bad_q, **bad_calls}.items()):
                problems.append(f"{n}: {why}")
            bad_ops.update(o["id"] for o in run["ops"] if o["name"] in bad_q)
            bad_ops.update(bad_calls)
        bad_ops.update(o["id"] for o in run["ops"] if not o["ok"])
        failed = sum(1 for o in timed if o["id"] in bad_ops)
        e2e, table_e2e, counts = end_to_end(run, timed, wall_s, failed)
        if a.workload == "table_rw":
            table_e2e.update(table_amps(run, timed, changed_by_op))
        correct = not problems and not bad_ops

        for p in problems:
            log(f"WRONG: {p}")
        print(f"workload {a.workload}  seed {a.seed}  cores {cores}  passes "
              f"{run['phases']['untraced']['passes']}  timed {wall_s:.2f} s  steal {steal} ticks")
        print(f"samples: {counts['latency']} ops, {counts['read']} reads, {counts['write']} writes "
              f"(p90 is below the 100-sample floor when fewer than 100)")
        print(f"{'failed_frac':<18} {failed / len(timed):.6f} ratio")
        for k, (v, u) in {**e2e, **table_e2e}.items():
            print(f"{k:<18} {v:.6f} {u}")

        if a.trace:
            layers = per_layer(run, a.workload, a.seed, steal, table_e2e)
            metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER.items()}
            for n, u in PER_LAYER.items():
                print(f"{n:<34} {layers.get(n, 0.0):.6f} {u}")
            for n in sorted(set(layers) - set(PER_LAYER)):
                print(f"{n:<34} {layers[n]:.6f}")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        result = {"correct": correct, "attempted": len(timed), "failed": failed, "metrics": metrics}
        # the last run's records (and spans, when traced) stay for inspection
        last = RUNS / f"last-{a.workload}-trace{a.trace}"
        shutil.rmtree(last, ignore_errors=True)
        last.mkdir()
        for f in ("run.json", "spans.json"):
            if (out / f).exists():
                shutil.copy(out / f, last / f)
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
