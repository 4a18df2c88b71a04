#!/usr/bin/env python3
"""graft benchmark: three workloads, end-to-end and per-layer metrics.

    python3 graftbench/run.py --workload <name|all> --seed N --seconds S \
        --trace 0|1 [--smoke]

Run from the repository root. The first run builds the program and the
harness (sbt, offline), generates the workload's input tables and
computes the DuckDB oracle digests; all three are cached under
graftbench/.work and graftbench/target and reused while their sources
are unchanged. None of that is inside a timed region.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The run exits 1 when any output is wrong and 2 when it
cannot run at all. `--workload all` runs the three workloads in turn.
`--smoke` runs on sf0.001-sized tables with short loops: a fast check
that every part works. See NOTES.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import duckdb

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4

# Per workload: the input tables (gen.py scale and data seed) and the
# work of one run. Batch runs make `passes(seconds)` steady passes after
# the cold one; the count comes from a fixed nominal pass time, not from
# the run's own speed, so parent and change always do the same work.
WORKLOADS = {
    "batch_iterative": {
        "kind": "batch", "scale": 1, "heap": "3g",
        "queries": ["q36_dedup_jaccard", "q224_cluster_split",
                    "q251_bpe_utilization"],
        "nominal_pass_s": 6.0,
    },
    "batch_scan10x": {
        "kind": "batch", "scale": 10, "heap": "4g",
        "queries": ["q01_tpch_q1", "q57_asof_join", "q169_asof_native"],
        "nominal_pass_s": 6.0,
    },
    "stream_keyed": {
        "kind": "stream", "scale": 1, "heap": "2g",
        "rate": 2000, "trigger_ms": 100, "batch_rows": 2000,
        # the cold round is three rounds long: a single cold 10k-row round
        # (about 4 s) was too short a window to average out host load
        "cold_rows": 30000, "round_rows": 10000, "nominal_round_s": 1.5,
        "warmup_s": 1.0,
    },
}
DATA_SEED = 42
# --smoke: sf0.001-sized tables and a short stream
SMOKE_SCALE = 0.01
STREAM_SMOKE = {"rate": 100, "trigger_ms": 100, "batch_rows": 100,
                "cold_rows": 600, "round_rows": 200, "warmup_s": 0.5,
                "open_s": 2, "rounds": 2}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E = [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s"),
       ("op_geomean_ms", "ms"), ("latency_p50_ms", "ms"),
       ("latency_p99_ms", "ms")]


class Unrunnable(Exception):
    """The benchmark cannot run here (exit 2, no result line)."""


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return (classpath, archive).

    The classes are packed into jars and a class-data-sharing archive is
    recorded from one training run of every workload on the smoke
    tables: each run's JVM then starts several seconds sooner. A missing
    or stale archive only costs that time (the JVM ignores it)."""
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties"),
              os.path.join(HERE, "src"),
              # the archive is recorded from this file's workloads
              os.path.abspath(__file__)]
    missing = [p for p in inputs if not os.path.exists(p)]
    if missing:
        raise Unrunnable("the program's sources are missing: "
                         + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    key = _tree_hash(inputs)
    out = os.path.join(HERE, "target", "graftbench")
    stamp = os.path.join(out, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["key"] == key and all(os.path.exists(p) for p in
                                     got["classpath"].split(os.pathsep)):
            return got["classpath"], got["archive"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building the program and the harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines()
             if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise Unrunnable("build failed")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(out, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(entry):
                    for f in fs:
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        jars.append(entry)
    classpath = os.pathsep.join(jars)
    log(f"built in {time.time() - t0:.0f} s; recording the class archive")
    archive = os.path.join(out, "classes.jsa")
    train = os.path.join(WORK, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    every = [q for w in WORKLOADS.values() for q in w.get("queries", [])]
    opts = dict(STREAM_SMOKE, data=data_dir(SMOKE_SCALE, DATA_SEED),
                cpus=CPUS, seed=1, trace=0, setups=1, passes=1,
                queries=",".join(every), out=train)
    with open(os.path.join(train, "harness.log"), "w") as lf:
        p = subprocess.run(java(classpath, None, "2g", train,
                                [f"-XX:ArchiveClassesAtExit={archive}"])
                           + ["train"] + [f"{k}={v}" for k, v in opts.items()],
                           cwd=train, stdin=subprocess.DEVNULL, stdout=lf,
                           stderr=subprocess.STDOUT, timeout=600)
    if p.returncode != 0 or not os.path.exists(archive):
        log("no class archive recorded; runs start without one")
        archive = None
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": classpath, "archive": archive}, f)
    log(f"build and archive took {time.time() - t0:.0f} s")
    return classpath, archive


def java(classpath, archive, heap, tmp, extra=()):
    """The harness's JVM command line, up to the main class."""
    # a fixed-size heap: no resizing, fewer collections to vary a run
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m"]
            + ([f"-XX:SharedArchiveFile={archive}"] if archive else [])
            + list(extra)
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
               f"-Dderby.system.home={tmp}",
               "-cp", classpath, "graftbench.Harness"])


# ---------------------------------------------------------------- inputs

def data_dir(scale, seed):
    """Generated tables for (scale, seed), made once per checkout."""
    d = os.path.join(WORK, "data", f"scale{scale}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating tables: scale {scale}, data seed {seed}")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp,
                        str(scale), str(seed)], check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def _duckdb(ddir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(ddir, t)}.parquet'")
    return con


def _sql_digest(con, sql):
    rel = con.sql(sql)
    return measure.digest([d[0] for d in rel.description], rel.fetchall())


def oracle_digest(ddir, name, sql):
    """(rows, digest) of the query's DuckDB oracle on the same tables,
    cached per (tables, oracle text)."""
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(ddir, "_oracle", f"{name}-{tag}.json")
    if not os.path.exists(path):
        rows, dig = _sql_digest(_duckdb(ddir), sql)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"rows": rows, "digest": dig}, f)
    with open(path) as f:
        got = json.load(f)
    return got["rows"], got["digest"]


# ---------------------------------------------------------------- harness

def harness(build_out, mode, heap, out, opts, timeout):
    """Run the JVM harness; return its raw.json."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (java(*build_out, heap, tmp) + [mode]
           + [f"{k}={v}" for k, v in opts.items()] + [f"out={out}"])
    with open(os.path.join(out, "harness.log"), "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=out, stdin=subprocess.DEVNULL,
                               stdout=lf, stderr=subprocess.STDOUT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise Unrunnable(f"harness timed out after {timeout} s "
                             f"(log: {lf.name})")
    raw_path = os.path.join(out, "raw.json")
    if p.returncode != 0 or not os.path.exists(raw_path):
        with open(os.path.join(out, "harness.log")) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise Unrunnable(f"harness exited {p.returncode}")
    with open(raw_path) as f:
        return json.load(f)


def span_sums(raw):
    """(pass, unit, phase) -> summed span seconds."""
    out = {}
    for p, unit, phase, s, e in raw["spans"]:
        out[(p, unit, phase)] = out.get((p, unit, phase), 0.0) + (e - s)
    return out


def counter_sums(raw, match):
    """Counters summed over every label (pass, unit, phase) that `match`
    accepts; label 'unlabelled' is never matched."""
    tot = {}
    for lbl, cs in raw["counters"].items():
        parts = lbl.split("|")
        if len(parts) == 3 and match(int(parts[0]), parts[1], parts[2]):
            for k, v in cs.items():
                tot[k] = tot.get(k, 0.0) + v
    return tot


# per-layer metrics of one kind of workload; the other kind reports them as 0
STREAM_ONLY = {
    "stream.batches": "count", "stream.rows_per_batch_p50": "count",
    "stream.batches_per_s": "1/s", "stream.tasks_per_batch": "count",
    "stream.planning_pct": "%", "stream.add_batch_pct": "%",
    "stream.wal_commit_pct": "%", "stream.commit_offsets_pct": "%",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_pct": "%", "state.updates_pct": "%",
    "source.backlog_rows_max": "count", "source.late_events": "count",
    "sink.collect_pct": "%",
}
BATCH_ONLY = {"sources.first_pass_scan_bytes": "bytes",
              "sessions.persisted_rdds_at_release": "count"}


def phase_layers(raw, cpus, passes, units=None):
    """Per-layer figures of the build / optimize / plan / exec / release
    spans and their jobs, summed over `passes` (and `units`, if given)."""
    spans = span_sums(raw)

    def wall(phase):
        return sum(v for (p, u, ph), v in spans.items()
                   if p in passes and ph == phase and (units is None or u in units))

    def ctr(phase):
        return counter_sums(raw, lambda p, u, ph: p in passes and ph == phase
                            and (units is None or u in units))

    build, ex = ctr("build"), ctr("exec")
    b_wall, x_wall = wall("build"), wall("exec")
    every = counter_sums(raw, lambda p, u, ph: p in passes
                         and (units is None or u in units))
    g = lambda c, k: c.get(k, 0.0)
    return {
        "queries.build_s": (b_wall, "s"),
        "queries.build_jobs": (g(build, "jobs"), "count"),
        "queries.build_stages": (g(build, "stages_run"), "count"),
        "queries.build_tasks": (g(build, "tasks"), "count"),
        "queries.build_busy_pct": (measure.busy_pct(cpus, b_wall, g(build, "task_s")), "%"),
        "queries.build_idle_core_s": (measure.idle_core_s(cpus, b_wall, g(build, "task_s")), "s"),
        "plans.optimize_s": (wall("optimize"), "s"),
        "plans.physical_s": (wall("plan"), "s"),
        "exec.wall_s": (x_wall, "s"),
        "exec.jobs": (g(ex, "jobs"), "count"),
        "exec.stages": (g(ex, "stages_run"), "count"),
        "exec.stages_skipped": (g(ex, "stages") - g(ex, "stages_run"), "count"),
        "exec.tasks": (g(ex, "tasks"), "count"),
        "exec.task_s": (g(ex, "task_s"), "s"),
        "exec.task_cpu_s": (g(ex, "task_cpu_s"), "s"),
        "exec.idle_core_s": (measure.idle_core_s(cpus, x_wall, g(ex, "task_s")), "s"),
        "exec.gc_pct": (100.0 * g(ex, "gc_s") / g(ex, "task_s") if g(ex, "task_s") else 0.0, "%"),
        "exec.shuffle_write_bytes": (g(ex, "shuffle_write_bytes"), "bytes"),
        "exec.shuffle_read_bytes": (g(ex, "shuffle_read_bytes"), "bytes"),
        "exec.spill_bytes": (g(ex, "spill_bytes"), "bytes"),
        "sources.scan_bytes": (g(every, "scan_bytes"), "bytes"),
        "sources.scan_rows": (g(every, "scan_rows"), "count"),
        "sessions.release_s": (wall("release"), "s"),
    }


def median_layers(samples):
    """Median of each layer figure across several samples."""
    return {k: (measure.median([s[k][0] for s in samples]), samples[0][k][1])
            for k in samples[0]}


# ---------------------------------------------------------------- batch

def batch_metrics(raw, ddir):
    cpus = raw["cpus"]
    spans = span_sums(raw)
    passes = sorted({r["pass"] for r in raw["results"]})
    warm = [p for p in passes if p > 0]
    ok = {(r["pass"], r["query"]): r["error"] is None for r in raw["results"]}
    failed = sum(not v for v in ok.values())
    attempted = len(ok)
    for r in raw["results"]:
        if r["error"] is not None:
            log(f"FAIL {r['query']} pass {r['pass']}: {r['error'][:300]}")

    # output checks on the last pass's results, off the clock
    for q in raw["queries"]:
        sql = raw["oracle_sql"].get(q)
        last = next(r for r in raw["results"]
                    if r["pass"] == passes[-1] and r["query"] == q)
        if last["error"] is not None:
            continue
        why = None
        if sql is None:
            why = "no oracle"
        else:
            rows, dig = oracle_digest(ddir, q, sql)
            res = os.path.join(raw["out"], "results", q, "*.parquet")
            srows, sdig = _sql_digest(duckdb.connect(), f"SELECT * FROM '{res}'")
            if (srows, sdig) != (rows, dig) or last["rows"] != rows:
                why = (f"oracle {rows} rows {dig[:12]}, spark {srows} rows "
                       f"{sdig[:12]} (runFully counted {last['rows']})")
        if why:
            log(f"WRONG {q}: {why}")
            failed += 1

    def qtime(p, q):
        return sum(spans.get((p, q, ph), 0.0)
                   for ph in ("build", "optimize", "plan", "exec"))

    qs = raw["queries"]
    per_pass = {p: sum(qtime(p, q) for q in qs) for p in passes}
    # each query's median steady time: the latency percentiles run over
    # queries, as a run has too few passes for a tail of its own
    per_query = [measure.median([qtime(p, q) for p in warm]) for q in qs]
    e2e = {
        "setup_s": measure.median(raw["setup_s"]),
        "first_pass_s": per_pass[0],
        "pass_s": measure.median([per_pass[p] for p in warm]),
        "op_geomean_ms": 1e3 * measure.geomean(per_query),
        "latency_p50_ms": 1e3 * measure.percentile(per_query, 50),
        "latency_p99_ms": 1e3 * measure.percentile(per_query, 99),
    }
    layers = None
    if raw["counters"]:
        layers = median_layers([phase_layers(raw, cpus, {p}) for p in warm])
        layers.update({k: (0.0, u) for k, u in STREAM_ONLY.items()})
        layers["sources.first_pass_scan_bytes"] = (
            counter_sums(raw, lambda p, u, ph: p == 0).get("scan_bytes", 0.0), "bytes")
        pers = [r["persisted"] for r in raw["results"] if r["pass"] in warm]
        layers["sessions.persisted_rdds_at_release"] = (
            sum(pers) / len(warm), "count")
        cover = []
        for p in passes:
            timed = per_pass[p]
            off = sum(spans.get((p, q, ph), 0.0) for q in qs
                      for ph in ("release", "check"))
            cover.append(100.0 * timed / (spans[(p, "", "pass")] - off))
        layers["trace.coverage_pct"] = (min(cover), "%")
    return e2e, layers, attempted, failed


# ---------------------------------------------------------------- stream

def stream_metrics(raw):
    cpus = raw["cpus"]
    closed, opn = raw["closed"]["progress"], raw["open"]["progress"]
    attempted = len(closed) + len(opn)
    failed = 0
    for c in raw["checks"]:
        bad = []
        if c["error"]:
            bad.append(f"query failed: {c['error'][:300]}")
        if c["emitted"] != c["fed"]:
            bad.append(f"{c['emitted']} emissions for {c['fed']} records")
        if not c["state_matches"]:
            bad.append("final per-key state differs from the batch recompute")
        for b in bad:
            log(f"WRONG {c['loop']} loop: {b}")
        failed += len(bad)

    def dur(p, k):
        return p["duration_ms"].get(k, 0)

    cold_batches = -(-raw["cold_rows"] // raw["batch_rows"])
    lat = raw["open"]["latency_ms"]
    if not lat:
        raise Unrunnable("the open loop recorded no latencies")
    rounds = raw["rounds_s"]
    e2e = {
        "setup_s": measure.median(raw["setup_s"]),
        "first_pass_s": rounds[0],
        "pass_s": measure.median(rounds[1:]),
        "op_geomean_ms": measure.geomean(
            max(dur(p, "triggerExecution"), 1) for p in closed[cold_batches:]),
        "latency_p50_ms": measure.percentile(lat, 50),
        "latency_p99_ms": measure.percentile(lat, 99),
    }
    layers = None
    if raw["counters"]:
        units = {"recompute-closed", "recompute-open", "closed", "open"}
        layers = phase_layers(raw, cpus, {0}, units)
        trig = sum(dur(p, "triggerExecution") for p in opn) or 1
        share = lambda ms: 100.0 * ms / trig
        stream_ctr = counter_sums(raw, lambda p, u, ph: ph == "stream")
        stream_task_s = stream_ctr.get("task_s", 0.0) or 1.0
        every = closed + opn
        last = opn[-1]
        gen = raw["generator"]
        layers.update({k: (0.0, u) for k, u in BATCH_ONLY.items()})
        layers.update({
            "stream.batches": (float(attempted), "count"),
            "stream.rows_per_batch_p50": (measure.median([p["rows"] for p in opn]), "count"),
            "stream.batches_per_s": (len(opn) / raw["open_s"], "1/s"),
            "stream.tasks_per_batch": (stream_ctr.get("tasks", 0.0) / attempted, "count"),
            "stream.planning_pct": (share(sum(dur(p, "queryPlanning") for p in opn)), "%"),
            "stream.add_batch_pct": (share(sum(dur(p, "addBatch") for p in opn)), "%"),
            "stream.wal_commit_pct": (share(sum(dur(p, "walCommit") for p in opn)), "%"),
            "stream.commit_offsets_pct": (share(sum(dur(p, "commitOffsets") for p in opn)), "%"),
            "state.rows_total": (float(last["state_rows"] or 0), "count"),
            "state.memory_bytes": (float(last["state_memory_bytes"] or 0), "bytes"),
            # state-store time is summed over partitions, inside tasks
            "state.commit_pct": (0.1 * sum(p["state_commit_ms"] or 0 for p in every)
                                 / stream_task_s, "%"),
            "state.updates_pct": (0.1 * sum(p["state_updates_ms"] or 0 for p in every)
                                  / stream_task_s, "%"),
            "source.backlog_rows_max": (float(gen["backlog_rows_max"]), "count"),
            "source.late_events": (float(gen["late_events"]), "count"),
            "sink.collect_pct": (share(sum(raw["open"]["collect_ms"])), "%"),
            "trace.coverage_pct": (100.0 * sum(dur(p, "triggerExecution") for p in closed)
                                   / 1e3 / sum(rounds), "%"),
        })
    return e2e, layers, attempted, failed


def run_layers(raw, layers):
    """Add the run-wide figures every traced run reports."""
    layers["jvm.peak_heap_mb"] = (raw["peak_heap_mb"], "MB")
    layers["trace.unlabelled_jobs"] = (
        raw["counters"].get("unlabelled", {}).get("jobs", 0.0), "count")
    # the listener's callbacks are all the work tracing adds
    last = max(e for *_, e in raw["spans"])
    layers["trace.overhead_pct"] = (100.0 * raw["listener_s"] / last, "%")
    return layers


# ---------------------------------------------------------------- main

def run_workload(name, seed, seconds, trace, smoke):
    w = WORKLOADS[name]
    build_out = build()
    ddir = data_dir(SMOKE_SCALE if smoke else w["scale"], DATA_SEED)
    out = os.path.join(WORK, "runs", f"{name}-seed{seed}-trace{trace}"
                       + ("-smoke" if smoke else ""))
    opts = {"data": ddir, "cpus": CPUS, "seed": seed, "trace": trace,
            "setups": 3}
    if w["kind"] == "batch":
        opts["queries"] = ",".join(w["queries"])
        opts["passes"] = 2 if smoke else max(2, round(seconds / w["nominal_pass_s"]))
    elif smoke:
        opts.update(STREAM_SMOKE)
    else:
        # half the run's seconds in each loop
        opts.update({k: w[k] for k in ("rate", "trigger_ms", "batch_rows",
                                       "cold_rows", "round_rows", "warmup_s")})
        opts["open_s"] = max(2.0, seconds / 2)
        opts["rounds"] = max(2, round(seconds / 2 / w["nominal_round_s"]))
    t0 = time.time()
    raw = harness(build_out, w["kind"], w["heap"], out, opts, timeout=165)
    raw["out"] = out
    log(f"{name}: harness ran {time.time() - t0:.1f} s")
    if w["kind"] == "batch":
        e2e, layers, attempted, failed = batch_metrics(raw, ddir)
    else:
        e2e, layers, attempted, failed = stream_metrics(raw)
    if trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in sorted(run_layers(raw, layers).items())}
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(metrics, f, indent=1)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    # the human-readable report, in the names the notes use
    report = dict(e2e)
    report["ops_failed_frac"] = failed / attempted
    report["peak_heap_mb"] = raw["peak_heap_mb"]
    if w["kind"] == "stream":
        report["stream_rows_per_s"] = raw["round_rows"] / e2e["pass_s"]
    for k, v in report.items():
        print(f"{name:16s} {k:24s} {v:14.4f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args(argv)
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    try:
        results = {n: run_workload(n, a.seed, a.seconds, a.trace, a.smoke)
                   for n in names}
    except Unrunnable as e:
        log(f"cannot run: {e}")
        return 2
    if len(results) == 1:
        result = results[names[0]]
    else:
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{n}.{k}": v for n, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
