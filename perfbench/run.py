#!/usr/bin/env python3
"""Benchmark of the transcript log pipeline.

    python3 perfbench/run.py --workload route_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

1. builds the program and the benchmark JVM side with sbt (skipped when the
   sources are unchanged since the last build in this checkout);
2. takes the input events from perfbench/data/events.parquet (the sf0.1
   `events` table of the repository's test data), computes the DuckDB
   oracle answers for them, then writes the seeded file layout of the
   workload's input tables, all cached by content fingerprint;
3. starts the benchmark JVM (perfbench.PerfBench), which sets up a Spark
   session, runs the workload closed-loop and checks every output;
4. checks what needs the oracle after the run and prints the result as the
   last line of standard output.

Everything it writes stays under .bench_build/ in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0          # per run, build excluded

WORKLOADS = ("route_bulk", "render_sql", "resume_tail")

# Input content: the sf0.1 events table, byte for byte. The content is
# fixed; the seed only sets its layout.
EVENTS = os.path.join(HERE, "data", "events.parquet")
EVENTS_SHA256 = "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2"
BASE_EVENTS = 100_000       # all of it
ROUTE_REPLICATION = 10      # route_bulk scans BASE_EVENTS x this many turns
RENDER_EVENTS = 2_000       # render_sql renders the first this many events
SLICE_MIN, SLICE_MAX = 900, 1100  # resume_tail slice sizes, seeded
LAYOUT_FILES = 15           # equal-sized files: the seed moves rows, not sizes
GEN_VERSION = "events-v2"
LAYOUT_VERSION = "layout-v1"
BUILD_VERSION = "jars-v1"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it. Returns (exit code,
    stdout), or (None, None) when it overran `timeout`. The whole group is
    killed on overrun or when this script is interrupted, so no JVM is left
    behind (sbt is a shell script that starts one)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def sha256_text(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def tree_fingerprint(paths):
    """SHA-256 over the relative path and bytes of every file under paths."""
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = []
            for d, dirs, names in os.walk(base):
                dirs[:] = sorted(x for x in dirs if x != "target")
                files.extend(os.path.join(d, n) for n in sorted(names))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check_checkout():
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "src", "main", "scala")]
    missing = [os.path.relpath(p, ROOT) for p in needed if not os.path.exists(p)]
    if missing:
        die("not a checkout of the program: missing " + ", ".join(missing))
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")


def build():
    """Compile program + benchmark once per source state; return classpath."""
    srcs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    fp = BUILD_VERSION + tree_fingerprint([p for p in srcs if os.path.exists(p)])
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("fingerprint") == fp:
            return fp, st["classpath"], st["oracle_sql"]
    log("building program and benchmark with sbt")
    t0 = time.time()
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData", "compile",
           "export Runtime/fullClasspathAsJars"]
    rc, out = run_child(cmd, 850, cwd=HERE, stdout=subprocess.PIPE,
                        stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write((out or "")[-4000:])
        die("sbt build failed")
    lines = [l.strip() for l in out.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        die("sbt printed no classpath")
    classpath = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    oracle_path = os.path.join(BUILD, "oracle_sql.json")
    if run_child(["java", "-XX:-UsePerfData", "-cp", classpath,
                  "perfbench.OracleSql", oracle_path], 120)[0] != 0:
        die("could not dump the oracle SQL")
    with open(oracle_path) as fh:
        oracle_sql = json.load(fh)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath,
                   "oracle_sql": oracle_sql}, fh)
    log(f"build took {time.time() - t0:.1f}s")
    return fp, classpath, oracle_sql


def duck(events_path, where=""):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(BUILD, 'duckdb-tmp')}'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{events_path}') {where}")
    return con


def rows(con, sql):
    return con.execute(sql).fetchall()


def count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def oracle_statements(con, q):
    """Every statement of the rendered stream, from the render oracles.
    Child tables (p8) get the CREATE TABLE their first document implies:
    its keys, sorted, after `_id`; all of them are strings. Child documents
    all carry the same keys, so child tables never drift."""
    out = []
    for k in ("p9_ddl_schemas", "p10_ddl_tables", "p11_ddl_alter",
              "p5_render_insert", "p16_child_inserts", "p6_render_update",
              "p7_render_delete"):
        out += [r[0] for r in rows(con, f"SELECT stmt FROM ({q[k]})")]
    for db, child in rows(con, "SELECT DISTINCT db, child_tbl FROM "
                               f"({q['p8_flatten_children']})"):
        parent = child[:-len("_tags")]
        out.append(f"CREATE TABLE IF NOT EXISTS {db}.{child} (_id VARCHAR(255)"
                   f" PRIMARY KEY, {parent}__id VARCHAR(255), value VARCHAR(255));")
    return sorted(out)


def content(n, oracle_sql):
    """The first n events plus their oracle answers, cached by fingerprint."""
    with open(EVENTS, "rb") as fh:
        if hashlib.sha256(fh.read()).hexdigest() != EVENTS_SHA256:
            die(f"{os.path.relpath(EVENTS, ROOT)} is not the sf0.1 events table")
    fp = sha256_text(json.dumps([GEN_VERSION, n, EVENTS_SHA256,
                                 sorted(oracle_sql.items())]))[:16]
    d = os.path.join(BUILD, "data", f"content-{n}-{fp}")
    answers = os.path.join(d, "oracle.json")
    if os.path.exists(answers):
        with open(answers) as fh:
            return d, fp, json.load(fh)
    t0 = time.time()
    os.makedirs(d, exist_ok=True)
    events = os.path.join(d, "events.parquet")
    con = duck(EVENTS)
    con.execute(f"COPY (SELECT * FROM events ORDER BY event_id LIMIT {n}) "
                f"TO '{events}' (FORMAT PARQUET)")
    con = duck(events)
    q = oracle_sql
    ans = {"turns": n, "valid": count(con, q["p1_parse"]),
           "route": dict(rows(con, q["p4_route_counts"]))}
    with open(os.path.join(d, "statements.sql"), "w") as fh:
        fh.write("".join(s + "\n" for s in oracle_statements(con, q)))
    with open(answers + ".tmp", "w") as fh:
        json.dump(ans, fh)
    os.replace(answers + ".tmp", answers)
    log(f"prepared {n} events + oracle in {time.time() - t0:.1f}s")
    return d, fp, ans


def event_ts(events_path):
    import pyarrow.parquet as pq
    return pq.read_table(events_path, columns=["ts"]).column("ts") \
        .to_numpy().astype("datetime64[us]")


def slices(seed, n):
    import numpy as np
    rng = np.random.default_rng([seed, 7])
    sizes = []
    while sum(sizes) < n:
        sizes.append(int(rng.integers(SLICE_MIN, SLICE_MAX + 1)))
    sizes[-1] -= sum(sizes) - n
    return sizes


def slice_bounds(ts, sizes):
    import numpy as np
    ends = np.cumsum(sizes)
    starts = ends - np.array(sizes)
    srt = np.sort(ts)
    return [(str(srt[a]), str(srt[b - 1])) for a, b in zip(starts, ends)]


def slice_valid(events, oracle_sql, bounds):
    con = duck(events)
    con.execute("CREATE TABLE slices (slice INT, lo TIMESTAMP, hi TIMESTAMP)")
    con.executemany("INSERT INTO slices VALUES (?, ?, ?)",
                    [(i, lo, hi) for i, (lo, hi) in enumerate(bounds)])
    got = dict(rows(con, oracle_sql["with_all"] +
                    "SELECT s.slice, count(*) FROM valid JOIN slices s "
                    "ON valid.ts BETWEEN s.lo AND s.hi GROUP BY 1"))
    return [got.get(i, 0) for i in range(len(bounds))]


def prefix_route_counts(events, oracle_sql, hi):
    """p4 per-sink counts over the events up to ts `hi`. A sink depends only
    on a turn's own fields, so counting over the filtered event table equals
    counting that prefix of the full table."""
    con = duck(events, f"WHERE ts <= TIMESTAMP '{hi}'")
    return dict(rows(con, oracle_sql["p4_route_counts"]))


def layout(workload, seed, events, cfp, oracle_sql, nfiles, sizes):
    """Write the workload's input tables with DuckDB from the program's own
    transcript derivation SQL. The seed sets which rows share a file and
    their order (route_bulk, render_sql) or the slice sizes (resume_tail);
    the content never changes. Returns (dir, seconds spent, 0 if reused)."""
    fp = sha256_text(json.dumps([LAYOUT_VERSION, workload, seed, cfp, nfiles,
                                 sizes, ROUTE_REPLICATION,
                                 oracle_sql["derivation"]]))
    root = os.path.join(BUILD, "data", "layout")
    d = os.path.join(root, f"{workload}-s{seed}")
    stamp = os.path.join(d, "_fingerprint")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                return d, 0.0
    t0 = time.time()
    # keep one layout per workload: seeds rarely repeat, layouts are large
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = d + ".tmp"
    os.makedirs(tmp)
    con = duck(events)
    con.execute("CREATE TABLE base AS WITH " + oracle_sql["derivation"] +
                " SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts")
    cols = "conv_id, turn_idx, role, text, tool, ts"

    def copy(select, name):
        path = os.path.join(tmp, name)
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")

    if workload == "resume_tail":
        con.execute("CREATE TABLE s AS SELECT *, "
                    "row_number() OVER (ORDER BY ts) - 1 AS rn FROM base")
        end = 0
        for i, n in enumerate(sizes):
            copy(f"SELECT {cols} FROM s WHERE rn >= {end} AND rn < {end + n} "
                 "ORDER BY ts", f"slice-{i:05d}.parquet")
            end += n
    else:
        src = "base"
        if workload == "route_bulk":
            src = (f"(SELECT conv_id || '#' || CAST(r.rep AS VARCHAR) AS conv_id,"
                   f" turn_idx, role, text, tool, ts FROM base, "
                   f"range({ROUTE_REPLICATION}) r(rep))")
        con.execute(f"CREATE TABLE k AS SELECT {cols}, "
                    f"hash(conv_id, turn_idx, {seed}) AS _k FROM {src}")
        for i in range(nfiles):
            copy(f"SELECT {cols} FROM k WHERE _k % {nfiles} = {i} ORDER BY _k",
                 f"part-{i:05d}.parquet")
    con.close()
    with open(os.path.join(tmp, "_fingerprint"), "w") as fh:
        fh.write(fp)
    os.replace(tmp, d)
    return d, time.time() - t0


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def props_line(k, v):
    return f"{k}={v}".replace("\\", "\\\\")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    check_checkout()
    build_fp, classpath, oracle_sql = build()
    # the run's time budget starts after the (one-off) build
    started = time.time()

    t_gen = time.time()
    n = RENDER_EVENTS if a.workload == "render_sql" else BASE_EVENTS
    cdir, cfp, ans = content(n, oracle_sql)
    events = os.path.join(cdir, "events.parquet")
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    heap_mb = min(2048, mem_total_mb() // 2)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "run", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": cores, "run_id": run_id,
        "work_dir": work, "result_path": os.path.join(work, "result.json"),
        "spans_path": os.path.join(BUILD, "spans", run_id + ".jsonl"),
        "turns": ans["turns"],
    }
    nfiles = LAYOUT_FILES
    sizes = bounds = None
    if a.workload == "route_bulk":
        p["replication"] = ROUTE_REPLICATION
        for k, v in ans["route"].items():
            p[f"expect.sink.{k}"] = v
    elif a.workload == "render_sql":
        p["expect.statements_path"] = os.path.join(cdir, "statements.sql")
        p["expect.rejects"] = ans["turns"] - ans["valid"]
    else:
        sizes = slices(a.seed, ans["turns"])
        bounds = slice_bounds(event_ts(events), sizes)
        p["slice_sizes"] = ",".join(map(str, sizes))
        p["slice_valid"] = ",".join(
            map(str, slice_valid(events, oracle_sql, bounds)))
    p["layout_dir"], layout_s = layout(a.workload, a.seed, events, cfp,
                                       oracle_sql, nfiles, sizes)
    params = os.path.join(work, "params.properties")
    with open(params, "w") as fh:
        fh.write("\n".join(props_line(k, v) for k, v in p.items()) + "\n")
    # flush the freshly written inputs now: the kernel would otherwise write
    # them back about 30 s later, in the middle of the measured phase
    os.sync()
    prep_s = time.time() - t_gen

    # class-data archive of the benchmark classpath, dumped by the first run
    # after a build and mapped by later ones: cuts JVM class loading
    jsa = os.path.join(BUILD, "classes.jsa")
    cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else \
        [f"-XX:ArchiveClassesAtExit={jsa}"]
    # A fixed young generation: with G1 sizing it for its pause-time goal,
    # render_sql's peak resident set spread by a quarter across seeds; the
    # old generation still grows with what the program keeps. Lower C2
    # thresholds: the optimizing compiler finishes during set-up instead of
    # speeding the measured operations up one by one.
    cmd = ["java", f"-Xmx{heap_mb}m", "-Xmn256m", "-XX:+UseG1GC",
           "-XX:-UsePerfData", "-XX:Tier4InvocationThreshold=1000",
           "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=15000",
           *cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.PerfBench", params]
    budget = DEADLINE_S - (time.time() - started)
    rc, _ = run_child(cmd, max(10.0, budget), cwd=ROOT, stdout=sys.stderr,
                      stderr=sys.stderr)
    if rc is None:
        shutil.rmtree(work, ignore_errors=True)
        die("benchmark JVM exceeded its time budget")
    if rc != 0:
        shutil.rmtree(work, ignore_errors=True)
        die(f"benchmark JVM exited with {rc}")
    with open(p["result_path"]) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res.get("errors", []))
    # oracle checks that need the whole run: resume_tail read-back per sink
    for rb in res.get("readbacks", []):
        k = rb["slices_delivered"]
        want = prefix_route_counts(events, oracle_sql, bounds[k - 1][1])
        if rb["readback"] != want:
            errors.append(f"read-back per-sink counts {rb['readback']} != "
                          f"oracle {want} after {k} increments")
            failed = attempted
    # render_sql: the ordered stream is identical across reps and seeds; the
    # reference is the stream the first run of this build wrote
    if res.get("stream_sha256"):
        ref = os.path.join(cdir, f"render_stream-{build_fp[:16]}.sha256")
        if not os.path.exists(ref):
            with open(ref, "w") as fh:
                fh.write(res["stream_sha256"])
        with open(ref) as fh:
            if fh.read().strip() != res["stream_sha256"]:
                errors.append("SQL stream SHA-256 differs from the stream an "
                              "earlier run of this build wrote")
                failed = attempted
    metrics = res["metrics"]
    if a.trace:
        # every per-layer metric BENCHMARK.json names appears on every
        # workload; a layer the workload does not exercise reads 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            for m in json.load(fh)["per_layer"]:
                metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
    detail = {k: v for k, v in res.items() if k not in ("metrics",)}
    detail.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "cores": cores, "heap_mb": heap_mb, "prep_s": prep_s, "layout_s": layout_s,
                   "errors": errors, "failed_frac": failed / max(1, attempted),
                   "total_s": time.time() - started})
    print(json.dumps({"detail": detail}))
    for e in errors:
        log(f"check failed: {e}")
    print(json.dumps({"correct": failed == 0 and not errors,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # SIGTERM becomes SystemExit, so run_child kills its process group
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    sys.exit(main())
