#!/usr/bin/env python3
"""Layer-split benchmark for the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One invocation runs one workload from `workloads.json` in one JVM on
local[nproc], with one closed-loop client:

 1. builds the engine and the harness from source with sbt (skipped when
    the sources are unchanged since the last build in this checkout);
 2. generates the workload's inputs (`fixture.py`): the warehouse fixture
    from a fixed seed, the weather extracts from `--seed`;
 3. starts the session through `graft.GraftSession.local`, makes one
    untimed warm-up pass that also dumps every query result, then runs
    the workload in a loop for `--seconds` (`perfbench.Main`);
 4. checks outputs: query results against the registry's DuckDB oracle
    SQL with `tools/check_oracle.py`, every timed unit's row count against
    the checked count, and every ETL run's warehouse and views against
    the generated extracts;
 5. prints a table of every metric with its unit, then one JSON line.

With `--trace 0` the JSON carries the end-to-end metrics of untraced runs.
With `--trace 1` half the time runs untraced and half with a listener
that attributes every Spark job to the benchmark phase that issued it; the
JSON then carries the per-layer metrics of the traced runs and the spans
are written to `perfbench/target/trace-<workload>-<seed>.json`.
The exit code is nonzero when any output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-build.stamp")
# class-data archive of the harness JVM, made once per build: it halves
# session start and shortens the warm-up of every invocation
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
MB = 1024 * 1024
# The warehouse fixture is the same for every seed: the iterative queries'
# round counts depend on the data, so a per-seed fixture would change the
# work a run does. The seed sets the query order and the weather extracts.
FIXTURE_SEED = 42

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# --- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirs, names in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    for need in ("build.sbt", "src", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a checkout of the engine")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness with sbt")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=max(60, deadline - time.time()))
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" in l and ".jar" in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    make_archive(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def make_archive(cp):
    """Record the classes one small query workload loads into ARCHIVE.
    Without an archive the benchmark still runs, only its set-up is slower."""
    import fixture
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(TARGET, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    fixture.tpch(os.path.join(work, "fixture"), 0.001, 0)
    cmd = java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], [
        "--workload", "archive", "--seed", "0", "--seconds", "0", "--trace", "1",
        "--cpus", "2", "--out", os.path.join(work, "raw.json"),
        "--trace-out", os.path.join(work, "trace.json"),
        "--fixture", os.path.join(work, "fixture"), "--dump", os.path.join(work, "dump"),
        "--queries", "q65_dup_clusters", "--gated", "q55_ntile"])
    try:
        subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       stdin=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        log("class-data archive run timed out; continuing without it")
    shutil.rmtree(work, ignore_errors=True)


def java_cmd(cp, work, jvm_opts, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + ADD_OPENS + [
        "-Xmx3g", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "-Dspark.ui.enabled=false"] + jvm_opts + ["-cp", cp, "perfbench.Main"] + args)


# --- checks ----------------------------------------------------------------

def check_oracle(fixture_dir, dump_dir):
    """Names of the dumped queries that do not match the DuckDB oracle."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), fixture_dir, dump_dir],
        capture_output=True, text=True, timeout=120, stdin=subprocess.DEVNULL)
    bad = []
    for line in out.stdout.splitlines():
        words = line.split()
        if words and words[0] in ("FAIL", "TIMEOUT", "RESOURCE"):
            bad.append(words[1].rstrip(":"))
            log(f"oracle {os.path.basename(dump_dir)}: {line[:300]}")
    if out.returncode != 0 and not bad:
        log(out.stdout[-2000:] + out.stderr[-2000:])
        bad = ["<check_oracle>"]
    return bad


def check_etl(root, manifest, n_loads):
    """Errors found in the warehouse left by the first `n_loads` loads;
    empty when it is right.

    The fact table must hold cities x distinct-ds rows, unique on
    (city_name, date), each equal to the latest extract loaded for its ds;
    dim_city one row per city; the latest-weather view every city at the
    last ds; the weekly view every city.
    """
    import duckdb
    import fixture
    con = duckdb.connect()
    errs = []
    cities = manifest["cities"]
    exp = fixture.expected_facts(manifest, n_loads)
    fact = f"read_parquet('{root}/fact_daily_weather/*/*.parquet', hive_partitioning=true)"
    n, keys = con.sql(f"SELECT count(*), count(DISTINCT (city_name, date)) FROM {fact}").fetchone()
    if n != cities * len(exp):
        errs.append(f"fact rows {n}, want {cities * len(exp)}")
    if keys != n:
        errs.append(f"fact (city_name, date) not unique: {n} rows, {keys} keys")
    rows = con.sql(f"""SELECT city_name, CAST(date AS VARCHAR), temp_max, temp_min, temp_range,
        precipitation, wind_speed_max, weather_code FROM {fact}""").fetchall()
    wrong = 0
    for city, ds, tmax, tmin, trange, prec, wind, code in rows:
        want = exp.get(ds, {}).get(city)
        got = [tmax, tmin, prec, wind, code]
        if want is None or got != want or abs(trange - (tmax - tmin)) > 1e-9:
            wrong += 1
    if wrong:
        errs.append(f"{wrong} fact rows differ from the latest extract of their ds")
    dim = f"read_parquet('{root}/dim_city/*.parquet')"
    n, d = con.sql(f"SELECT count(*), count(DISTINCT city_name) FROM {dim}").fetchone()
    if n != cities or d != cities:
        errs.append(f"dim_city has {n} rows for {d} cities, want {cities}")
    views = json.load(open(f"{root}/views.json"))
    last = max(exp)
    latest = views["latest"]
    if len(latest) != cities or len({c for c, _ in latest}) != cities or \
            any(ds != last for _, ds in latest):
        errs.append(f"latest-weather view is not every city at {last}")
    if views["weekly_cities"] != cities:
        errs.append(f"weekly view has {views['weekly_cities']} cities, want {cities}")
    con.close()
    return errs


# --- metrics ---------------------------------------------------------------

def unit_key(u):
    return f"{u['side']}/{u['name']}"


def per_unit_medians(runs):
    walls = {}
    for r in runs:
        for u in r["units"]:
            walls.setdefault(unit_key(u), []).append(u["wall_s"])
    return {k: stats.median(v) for k, v in walls.items()}


def timing(xs):
    t = stats.tail(xs)
    return {"median": stats.median(xs), "n": len(xs),
            "tail": None if t is None else {"pct": t[0], "value": t[1]}}


def end_to_end(runs, setup_s):
    walls = [r["wall_s"] for r in runs]
    med = per_unit_medians(runs)
    units = [u for r in runs for u in r["units"]]
    # the two sides of the gates, over the queries run on both
    forced = {k.split("/", 1)[1] for k in med if k.startswith("forced/")}
    sides = {}
    for k, v in med.items():
        side, name = k.split("/", 1)
        if name in forced:
            sides.setdefault(side, []).append(v)
    phase_walls = {}
    for u in units:
        for p, s in u["phases"].items():
            phase_walls.setdefault(p, []).append(s)
    report = {
        "setup_s": setup_s,
        "run_wall_s": timing(walls),
        "unit_geomean_s": stats.geomean(list(med.values())),
        "side_default_s": sum(sides["default"]) if sides else None,
        "side_forced_s": sum(sides["forced"]) if sides else None,
        "load_s": timing(phase_walls["load"]) if "load" in phase_walls else None,
        "view_s": timing(phase_walls["view"]) if "view" in phase_walls else None,
    }
    return report


def layer_metrics(trace, run, cpus, raw_bytes):
    """Per-layer totals of one traced run, from its spans and jobs."""
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s)
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["span"], []).append(j)
    counts = trace["span_counts"]

    units = children.get(run["span"], [])
    phases = [p for u in units for p in children.get(u["id"], [])]
    by = {}
    for p in phases:
        by.setdefault(p["name"], []).append(p)

    def dur(ps):
        return sum(p["end"] - p["start"] for p in ps)

    def js(ps):
        return [j for p in ps for j in jobs.get(p["id"], [])]

    def ivals(jl):
        return [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jl if j["end_ms"] >= 0]

    def total(jl, key):
        return sum(j[key] for j in jl)

    def count(ps, key):
        return sum(counts.get(str(p["id"]), {}).get(key, 0) for p in ps)

    build, plan, exe = by.get("build", []), by.get("plan", []), by.get("exec", [])
    load, view = by.get("load", []), by.get("view", [])
    bj, ej, lj, vj = js(build), js(exe), js(load), js(view)
    exec_s = dur(exe)
    exec_cov = sum(stats.covered((p["start"], p["end"]), ivals(jobs.get(p["id"], [])))
                   for p in exe)
    m = {
        "operators.build_s": dur(build),
        "operators.build_driver_s": sum(
            stats.self_time((p["start"], p["end"]), ivals(jobs.get(p["id"], []))) for p in build),
        "operators.build_jobs": len(bj),
        "operators.build_tasks": total(bj, "tasks"),
        "operators.driver_result_kb": total(bj, "result_bytes") / 1024,
        "Ckpt.publishes": count(phases, "publishes"),
        "Ckpt.published_mb": count(phases, "published_bytes") / MB,
        "catalyst.plan_s": dur(plan),
        "exec.exec_s": exec_s,
        "exec.job_s": exec_cov,
        "exec.driver_gap_s": exec_s - exec_cov,
        "exec.jobs": len(ej),
        "exec.stages": total(ej, "stages"),
        "exec.tasks": total(ej, "tasks"),
        "exec.single_task_stages": total(ej, "single_task_stages"),
        "exec.task_s": total(ej, "task_ms") / 1e3,
        "exec.cpu_s": total(ej, "cpu_ns") / 1e9,
        "exec.gc_s": total(ej, "gc_ms") / 1e3,
        "exec.core_occupancy": total(ej, "task_ms") / 1e3 / (exec_s * cpus) if exec_s else 0.0,
        "exec.max_task_s": max([j["max_task_ms"] for j in ej], default=0) / 1e3,
        "exec.shuffle_write_mb": total(ej, "shuffle_write_bytes") / MB,
        "exec.shuffle_read_mb": total(ej, "shuffle_read_bytes") / MB,
        "exec.spill_mb": total(ej, "spill_bytes") / MB,
        "exec.input_mb": total(ej, "input_bytes") / MB,
        "exec.failed_tasks": total(ej, "failed_tasks"),
        "etl.load_s": dur(load),
        "etl.view_s": dur(view),
        "etl.jobs": len(lj),
        "etl.view_jobs": len(vj),
        "etl.tasks": total(lj, "tasks"),
        "etl.failed_jobs": sum(1 for j in lj + vj if not j["ok"]),
        "etl.input_mb": total(lj, "input_bytes") / MB,
        "etl.output_mb": total(lj, "output_bytes") / MB,
        "etl.files_written": count(load, "files_written"),
        "etl.write_amplification": total(lj, "output_bytes") / raw_bytes if raw_bytes else 0.0,
    }
    sites = {}
    for j in lj:
        if j["end_ms"] >= 0:
            sites[j["site"]] = sites.get(j["site"], 0.0) + (j["end_ms"] - j["start_ms"]) / 1e3
    for site in ETL_SITES:
        m[f"etl.site.{site}.job_s"] = sites.pop(site, 0.0)
    m["etl.site.other.job_s"] = sum(sites.values())

    # both sides of the gates: build jobs and the path each query took
    side_units = {}
    for u, r in zip(units, run["units"]):
        ps = children.get(u["id"], [])
        jl = js(ps)
        side_units.setdefault(r["side"], {})[r["name"]] = (
            u["end"] - u["start"], len(js([p for p in ps if p["name"] == "build"])),
            len(jl), total(jl, "stages"))
    f = side_units.get("forced", {})
    d = {q: v for q, v in side_units.get("default", {}).items() if q in f}
    m["side.default_s"] = sum(v[0] for v in d.values())
    m["side.forced_s"] = sum(v[0] for v in f.values())
    m["side.default_build_jobs"] = sum(v[1] for v in d.values())
    m["side.forced_build_jobs"] = sum(v[1] for v in f.values())
    m["side.path_diff_queries"] = sum(1 for q in f if (f[q][2], f[q][3]) != (d[q][2], d[q][3]))
    m["run.wall_s"] = run["wall_s"]
    return m


# Spark call sites (first frame outside Spark and the runtimes) of the
# daily load's jobs; jobs from any other site add up in etl.site.other
ETL_SITES = [
    "Pipeline.scala-15", "Pipeline.scala-22", "Pipeline.scala-28", "Pipeline.scala-78",
    "Warehouse.scala-17", "Warehouse.scala-32", "Warehouse.scala-89", "Warehouse.scala-90",
    "Warehouse.scala-94", "Warehouse.scala-172", "Warehouse.scala-202", "Warehouse.scala-206",
    "Warehouse.scala-227"]


# --- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_all = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec_all:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec_all)}")
    spec = spec_all[a.workload]
    cp = build(t_start + 840)
    t_built = time.time()

    import fixture
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(TARGET, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        if spec["kind"] == "etl":
            manifest = fixture.weather(os.path.join(work, "extracts"), spec["cities"],
                                       spec["loads"], a.seed)
            inputs = ["--etl", os.path.join(work, "extracts", "manifest.json"),
                      "--warehouse", os.path.join(work, "warehouse")]
        else:
            fx = os.path.join(work, "fixture")
            fixture.tpch(fx, spec["scale"], FIXTURE_SEED)
            inputs = ["--fixture", fx, "--dump", os.path.join(work, "dump"),
                      "--queries", ",".join(spec.get("queries", [])),
                      "--gated", ",".join(spec.get("gated", []))]
        fixture_s = time.time() - t0

        raw_path, trace_path = os.path.join(work, "raw.json"), os.path.join(work, "trace.json")
        share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
        cmd = java_cmd(cp, work, share, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus),
            "--out", raw_path, "--trace-out", trace_path] + inputs)
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=max(30, t_built + 165 - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail("the workload did not finish in time")
        if rc != 0:
            sys.stderr.write(open(jvm_log).read()[-3000:])
            fail(f"the harness exited with {rc}")
        raw = json.load(open(raw_path))

        # --- correctness ---
        problems = list(raw["warmup_errors"])
        runs = [r for r in raw["runs"] if not r["traced"]]
        traced = [r for r in raw["runs"] if r["traced"]]
        attempted = sum(len(r["units"]) for r in raw["runs"])
        failed = sum(1 for r in raw["runs"] for u in r["units"] if not u["ok"])
        for r in raw["runs"]:
            for u in r["units"]:
                if not u["ok"]:
                    problems.append(f"run {r['index']} {unit_key(u)}: {u['error']}")
        if spec["kind"] == "etl":
            # one check per run's warehouse, the warm-up's included
            checks = [("runwarmup", raw["warmup_loads"])] + [
                (f"run{r['index']}", len(manifest["loads"])) for r in raw["runs"]]
            for name, n_loads in checks:
                root = os.path.join(work, "warehouse", name)
                errs = check_etl(root, manifest, n_loads) \
                    if os.path.exists(f"{root}/views.json") else ["run left no views"]
                attempted += 1
                failed += bool(errs)
                problems += [f"{name}: {e}" for e in errs]
        else:
            dumped = {"default": spec.get("queries", []) + spec.get("gated", []),
                      "forced": spec.get("gated", [])}
            for side, qs in dumped.items():
                if qs:
                    bad = check_oracle(fx, os.path.join(work, "dump", side))
                    attempted += len(qs)
                    failed += len(bad)
                    problems += [f"oracle {side}/{q}" for q in bad]

        # --- metrics ---
        setup_s = fixture_s + raw["setup"]["session_s"] + raw["setup"]["warmup_s"]
        e2e = end_to_end(runs, setup_s)
        ratio = stats.fail_ratio(failed, attempted)
        print(f"workload {a.workload}: seed {a.seed}, local[{cpus}], "
              f"{len(runs)} untraced + {len(traced)} traced runs")
        print(f"  setup_s          {setup_s:10.4f} s   (fixture {fixture_s:.2f}, session "
              f"{raw['setup']['session_s']:.2f}, warm-up {raw['setup']['warmup_s']:.2f})")
        for k, v in e2e.items():
            if isinstance(v, dict):
                t = v["tail"]
                tail_s = f"p{t['pct']:.0f} {t['value']:.4f} s" if t else "no tail percentile"
                print(f"  {k:16s} {v['median']:10.4f} s   median of {v['n']}; {tail_s}")
            elif v is not None and k != "setup_s":
                print(f"  {k:16s} {v:10.4f} s")
        print(f"  fail_ratio       {ratio:10.4f}     {failed} failed of {attempted}")
        for pr in problems:
            print(f"  FAILED: {pr}")

        if a.trace:
            trace = json.load(open(trace_path))
            raw_bytes = sum(l["bytes"] for l in manifest["loads"]) if spec["kind"] == "etl" else 0
            per_run = [layer_metrics(trace, r, cpus, raw_bytes) for r in traced]
            metrics = {k: stats.median([m[k] for m in per_run]) for k in per_run[0]}
            metrics["setup.session_s"] = raw["setup"]["session_s"]
            metrics["setup.fixture_s"] = fixture_s
            metrics["setup.warmup_s"] = raw["setup"]["warmup_s"]
            metrics["trace.overhead_ratio"] = (
                stats.median([r["wall_s"] for r in traced]) / stats.median(
                    [r["wall_s"] for r in runs]))
            if spec.get("gated") and metrics["side.path_diff_queries"] == 0:
                problems.append("no gated query ran a different job or stage count on its "
                                "forced side: the workload compares a path with itself")
                print(f"  FAILED: {problems[-1]}")
            for k, v in metrics.items():
                print(f"  {k:34s} {v:14.4f} {unit_of(k)}")
            shutil.copy(trace_path, os.path.join(TARGET, f"trace-{a.workload}-{a.seed}.json"))
            out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        else:
            out = {"setup_s": {"value": setup_s, "unit": "s"},
                   "run_wall_s": {"value": e2e["run_wall_s"]["median"], "unit": "s"},
                   "unit_geomean_s": {"value": e2e["unit_geomean_s"], "unit": "s"}}
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": out}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_of(name):
    """Unit of a metric, from its name's suffix."""
    last = name.split(".")[-1]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_kb", "KB")):
        if last.endswith(suffix):
            return unit
    return "ratio" if last.endswith(("ratio", "occupancy", "amplification")) else "count"


if __name__ == "__main__":
    main()
