#!/usr/bin/env python3
"""Seeded, closed-loop benchmark of the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

One run:

1. builds the engine and the harness from source (``perfbench/build.sbt``)
   unless the build under ``.bench_build`` is current;
2. generates the workload's input tables from ``--seed`` (``gen.py``);
3. starts one JVM on ``local[<cores>]`` that sets up ``SETUPS`` times
   (session, table loads, one warm-up pass) and then runs timed passes of
   the workload's op mix for ``--seconds`` (``Harness.scala``);
4. checks every op's warm-up rows against its DuckDB oracle twin the way
   ``tools/check.py`` compares them, and every timed op's row count
   against the oracle's;
5. prints a summary line, then one JSON object as the last line of stdout:
   the end-to-end metrics with ``--trace 0``, the per-layer metrics of the
   traced run with ``--trace 1`` (see ``BENCHMARK.json`` and README.md).

Everything it writes stays under ``.bench_build`` in the checkout.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = BUILD / "perfbench"
JAR = BUILD / "perfbench-target" / "perfbench.jar"
# Class-data-sharing archive of every class the harness loads: cuts the
# cold JVM + session start from ~19 s to ~12 s on a 4-vCPU host.
ARCHIVE = WORK / "classes.jsa"
SETUPS = 3
BUILD_TIMEOUT_S = 840
JVM_TIMEOUT_S = 150
TRAIN_TIMEOUT_S = 300
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(spec):
    """Package engine + harness with sbt and record their class archive,
    unless both are current for these sources."""
    stamp = tree_hash([ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
                       HERE / "project" / "build.properties", HERE / "run.py",
                       HERE / "gen.py"])
    stamp_file = WORK / "build.stamp"
    if JAR.is_file() and ARCHIVE.is_file() and stamp_file.is_file() and \
            stamp_file.read_text() == stamp:
        return
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts += (f" -Dsbt.global.base={BUILD / 'sbt-global'}"
             f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    env["SBT_OPTS"] = opts.strip()
    log = WORK / "build.log"
    with open(log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "package"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=f,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(log.read_text()[-3000:])
        die(f"build failed (exit {rc}); log in {log}", 1)
    # One untimed pass over every workload's ops records the archive.
    import gen
    ARCHIVE.unlink(missing_ok=True)
    data, out = WORK / "data" / "archive", WORK / "out" / "archive"
    ops = sorted({op for w in spec["workloads"].values() for op in w["ops"]})
    try:
        gen.generate("relabelled", 0, str(data))
        run_jvm(data, out, ops, 0, 0, False, 1, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                TRAIN_TIMEOUT_S)
    finally:
        for d in (data, out):
            shutil.rmtree(d, ignore_errors=True)
    if not ARCHIVE.is_file():
        die("class archive was not written; see " + str(WORK / "jvm.log"), 1)
    stamp_file.write_text(stamp)


def run_jvm(data, out, ops, seed, seconds, trace, setups, jvm_opts, timeout):
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    cp = os.pathsep.join([str(JAR), str(Path(spark_home) / "jars" / "*")])
    cores = len(os.sched_getaffinity(0))
    # C1 only: a run is too short for C2 to finish warming up, so with it
    # the timed passes sit on a still-falling curve that differs per JVM.
    cmd = [java, *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           *jvm_opts,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
           "-Dspark.hadoop.fs.file.impl=perfbench.CountingFs",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-cp", cp, "perfbench.Harness", str(data), str(out), ",".join(ops),
           str(seed), str(seconds), "1" if trace else "0", str(setups),
           str(cores)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    log = WORK / "jvm.log"
    try:
        with open(log, "w") as f:
            rc = run_group(cmd, timeout, cwd=WORK, env=env, stdout=f,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die(f"harness exceeded {timeout}s; log in {log}", 1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not (out / "result.json").is_file():
        sys.stderr.write(log.read_text()[-3000:])
        die(f"harness failed (exit {rc}); log in {log}", 1)
    return json.loads((out / "result.json").read_text())


def load_check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(con, check, rel_sql):
    """(columns, type classes, row count, sha256) of a relation, with the
    column sort, type classes and row canonicalisation of tools/check.py."""
    rel = con.sql(rel_sql)
    cols = sorted(rel.columns)
    types = dict(zip(rel.columns, [check.type_class(t) for t in rel.types]))
    rows = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols) +
                   f" FROM ({rel_sql})").fetchall()
    canon = check.canon(rows)
    digest = hashlib.sha256(json.dumps(canon).encode()).hexdigest()
    return {"cols": cols, "types": [types[c] for c in cols],
            "rows": len(canon), "sha": digest}


def oracle_check(data, out, oracle_sql, cache_key):
    """Per op: (ok, oracle row count, message)."""
    import duckdb
    check = load_check_module()
    con = duckdb.connect()
    for t in TABLES:
        path = data / f"{t}.parquet"
        src = f"{path}/*.parquet" if path.is_dir() else str(path)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    cache = WORK / "oracle-cache"
    cache.mkdir(parents=True, exist_ok=True)
    verdicts = {}
    for op, sql in oracle_sql.items():
        key = hashlib.sha256(json.dumps([cache_key, sql]).encode()).hexdigest()
        cached = cache / f"{key}.json"
        try:
            if cached.is_file():
                ora = json.loads(cached.read_text())
            else:
                ora = fingerprint(con, check, sql)
                cached.write_text(json.dumps(ora))
        except Exception as e:  # noqa: BLE001 - report, never crash the run
            verdicts[op] = (False, -1, f"oracle threw: {e}")
            continue
        spark_dir = out / "check" / op
        if not spark_dir.is_dir():
            verdicts[op] = (False, ora["rows"], "no warm-up rows written")
            continue
        got = fingerprint(
            con, check, f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        if got == ora:
            verdicts[op] = (True, ora["rows"], "ok")
        else:
            diff = [k for k in ora if got[k] != ora[k]]
            verdicts[op] = (False, ora["rows"],
                            f"mismatch in {diff}: spark rows {got['rows']}, "
                            f"oracle rows {ora['rows']}")
    return verdicts


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    v = sorted(xs)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(res, untraced):
    """The end-to-end metrics, and (percentile, op count) of op_tail_s."""
    lat = {}
    for p in untraced:
        for o in p["ops"]:
            lat.setdefault(o["op"], []).append(o["lat"])
    pooled = [x for v in lat.values() for x in v]
    # the highest quantile with at least 10 timed ops beyond it, never
    # below the median
    q = max(0.5, (len(pooled) - 10) / len(pooled))
    return {
        "setup_s": median(res["setup_s"]),
        "pass_s": median([sum(o["lat"] for o in p["ops"]) for p in untraced]),
        "op_p50_s": median([median(v) for v in lat.values()]),
        "op_tail_s": quantile(pooled, q),
        "peak_rss_mb": res["peak_rss_mb"],
    }, (100 * q, len(pooled))


def per_layer(res, traced, untraced, modules, cores):
    def per_pass(p):
        st = [o["trace"] for o in p["ops"]]
        s = lambda k: sum(x[k] for x in st)  # noqa: E731
        run, cpu, wall = s("task_run_s"), s("task_cpu_s"), s("wall")
        m = {
            "SparkEntry.build_s": s("build_s"),
            "SparkEntry.build_jobs": s("build_jobs"),
            "Catalyst.analyze_s": s("analyze_s"),
            "Catalyst.optimize_s": s("optimize_s"),
            "Catalyst.plan_s": s("plan_s"),
            "exec.s": s("exec_s"), "exec.jobs": s("exec_jobs"),
            "exec.stages": s("stages"), "exec.tasks": s("tasks"),
            "exec.task_run_s": run, "exec.task_cpu_s": cpu,
            "exec.task_gc_s": s("task_gc_s"),
            "exec.offcpu_share": 1 - cpu / run if run > 0 else 0.0,
            "exec.slot_util": run / (wall * cores) if wall > 0 else 0.0,
            "exec.shuffle_write_mb": s("shuffle_write_mb"),
            "exec.shuffle_read_mb": s("shuffle_read_mb"),
            "exec.spill_mb": s("spill_mb"),
            "fs.write_ops": s("fs_write_ops"), "fs.read_ops": s("fs_read_ops"),
            "fs.list_ops": s("fs_list_ops"), "fs.written_mb": s("fs_written_mb"),
            "Frames.scrub_s": p["scrub_s"],
            "storage.peak_mb": max(x["storage_peak_mb"] for x in st),
            "storage.evict_disk": s("storage_evict_disk"),
            "trace.op_self_s": s("self_s"),
        }
        for mod, ids in modules.items():
            m[f"{mod}.op_s"] = sum(o["lat"] for o in p["ops"] if o["op"] in ids)
        return m

    rows = [per_pass(p) for p in traced]
    out = {"setup.cold_s": res["setup_s"][0],
           "GraftSession.session_s": median(res["session_s"]),
           "Tables.load_s": median(res["load_s"])}
    out.update({k: median([r[k] for r in rows]) for k in rows[0]})
    walls = lambda ps: [sum(o["lat"] for o in p["ops"]) for p in ps]  # noqa: E731
    out["trace.overhead_s"] = median(walls(traced)) - median(walls(untraced))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        die(f"engine sources not found under {ROOT / 'src' / 'main'}")
    spec = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload!r}")
    wl = spec["workloads"][a.workload]
    WORK.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(HERE))
    import gen  # noqa: E402  (sibling module, needs sys.path)
    build(spec)

    data = WORK / "data" / f"{a.workload}-{a.seed}"
    out = WORK / "out" / f"{a.workload}-{a.seed}"
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        manifest = gen.generate(wl["input"], a.seed, str(data))
        gen_s = time.perf_counter() - t0

        res = run_jvm(data, out, wl["ops"], a.seed, a.seconds, a.trace,
                      SETUPS, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                      JVM_TIMEOUT_S)

        t0 = time.perf_counter()
        cache_key = [wl["input"], a.seed, tree_hash([HERE / "gen.py"])]
        verdicts = oracle_check(data, out, res["oracle_sql"], cache_key)
        check_s = time.perf_counter() - t0
        if a.trace:
            spans = WORK / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
            spans.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(out / "spans.jsonl", spans)
    finally:
        for d in (data, out):
            shutil.rmtree(d, ignore_errors=True)

    passes = res["passes"]
    timed = [o for p in passes for o in p["ops"]]
    bad_ops = {op for op, (ok, _, _) in verdicts.items() if not ok}
    bad_ops |= {f["op"] for f in res["failures"]}
    warm_ok = all(res["warm_rows"].get(op) == verdicts[op][1]
                  for op in wl["ops"] if op not in bad_ops)
    failed = sum(1 for o in timed if o["error"] is not None or o["op"] in bad_ops
                 or o["rows"] != verdicts[o["op"]][1])
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e, (tail_pct, n_ops) = end_to_end(res, untraced)

    summary = {
        "workload": a.workload, "seed": a.seed, "cores": res["cores"],
        "passes": len(passes), "timed_ops": len(timed),
        "window_s": res["window_s"], "fail_ratio": failed / len(timed),
        "op_tail": {"pct": tail_pct, "ops": n_ops},
        "check": {op: msg for op, (_, _, msg) in sorted(verdicts.items())},
        "warm_rows_match": warm_ok, "failures": res["failures"][:5],
        "bench.gen_s": gen_s, "bench.check_s": check_s,
        "setups": {k: res[k] for k in ("setup_s", "session_s", "load_s")},
        "pass_walls_s": [sum(o["lat"] for o in p["ops"]) for p in passes],
        "op_lat_s": {op: [o["lat"] for p in untraced for o in p["ops"]
                          if o["op"] == op] for op in wl["ops"]},
        "host": res["host"], "inputs": manifest,
        "end_to_end": e2e,
    }
    if a.trace:
        layers = per_layer(res, traced, untraced, spec["modules"], res["cores"])
        layers.update({"bench.gen_s": gen_s, "bench.check_s": check_s,
                       "bench.fail_ratio": failed / len(timed),
                       "op.tail_pct": tail_pct, "op.tail_ops": n_ops})
        layers.update({f"host.{k}": v for k, v in res["host"].items()})
        summary["per_layer"] = layers
        wanted, values = bench["per_layer"], layers
    else:
        wanted, values = bench["end_to_end"], e2e
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not bad_ops and warm_ok and failed == 0,
        "attempted": len(timed), "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


if __name__ == "__main__":
    main()
