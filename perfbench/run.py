#!/usr/bin/env python3
"""Transfer-report benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program and
the benchmark from source with sbt (offline); later runs reuse the build while
no source file changes. The measuring is done by the JVM side
(perfbench/src/main/scala); this script builds, launches it, checks the view
and registry answers it left against DuckDB over the same parquet data, and
prints the result as the last line of standard output:

    {"correct": true, "attempted": 1000, "failed": 0, "metrics": {...}}

Every file the run reads or writes is inside the checkout: inputs are cached
under perfbench/work/inputs, scratch databases live under perfbench/work/run
and are removed at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_STAMP = os.path.join(WORK, "build.json")

WORKLOADS = ("xlsx_import", "view_queries")

END_TO_END = ["setup_s", "op_p50_ms", "ops_per_s", "heap_peak_mb"]
VIEW_KINDS = ("children_lookup", "path_prefix", "status_view", "files_preview", "folders_preview",
              "status_summary", "top_statuses", "stats", "level_counts", "job_counts", "hierarchy_lookup")
REGISTRY_FAMILIES = ("Dedup", "Drift", "Eval", "Graph", "Parity", "Privacy", "Relational", "Report",
                     "Retrieval", "Sampling", "Similarity", "Text", "Timeseries")
PER_LAYER = [
    "ingest.scan_1t_rows_per_s", "ingest.load_s", "ingest.quarantine_s", "ingest.coerce_s",
    "ingest.scans_per_import", "ops.enrich_s", "ops.upsert_s", "ops.upsert_keep_ratio",
    "ops.parents_s", "ops.parents_hit_ratio", "ops.hierarchy_s", "ops.hierarchy_levels",
    "pipeline.write_s", "views.register_s",
] + ["views.%s_ms" % k for k in VIEW_KINDS] + [
    "views.rows_read_per_row_returned", "report.collect_s",
    "merge.pipeline_s", "merge.sink_s", "merge.fresh_read_ms", "merge.dirty_bucket_frac",
    "merge.write_amp", "merge.state_files", "merge.state_bytes_per_row",
    "engine.shuffle_write_mb", "engine.spill_mb", "engine.jobs", "engine.tasks",
    "engine.cpu_busy_frac", "engine.gc_s",
    "trace.import_s", "trace.stage_sum_s", "trace.overhead_frac",
] + ["registry.%s_s" % f for f in REGISTRY_FAMILIES]

JVM_TIMEOUT_S = 165
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in sorted(os.listdir(pdir))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """The runtime classpath, compiling first when any source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise RuntimeError("no program sources next to perfbench/: run from a source checkout")
    fp = fingerprint()
    os.makedirs(WORK, exist_ok=True)
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    log("building program and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError("sbt build failed")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        raise RuntimeError("sbt printed no classpath")
    classpath = cps[-1].strip()
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    log("build took %.1f s" % (time.time() - t0))
    return classpath


# --------------------------------------------------------------------------
# view and registry answer checks against DuckDB
# --------------------------------------------------------------------------

def duckdb_rows(con, sql, params=()):
    return [tuple(None if v is None else str(v) for v in row) for row in con.execute(sql, list(params)).fetchall()]


FOLDER = "(source_file_size = 0 OR source_file_size IS NULL)"
SUMMARY = ("SELECT COALESCE(file_status, 'Unknown') AS status_name, COUNT(*), "
           "COUNT(CASE WHEN source_file_size > 0 THEN 1 END), COUNT(CASE WHEN %s THEN 1 END) "
           "FROM t GROUP BY 1" % FOLDER)
HIERARCHY = """
WITH RECURSIVE tree(target_file_id, depth, path) AS (
  SELECT target_file_id, 0, file_name FROM t WHERE TRY_CAST(parent_id AS BIGINT) IS NULL
  UNION ALL
  SELECT c.target_file_id, tree.depth + 1, tree.path || ' > ' || c.file_name
  FROM t c JOIN tree ON TRY_CAST(c.parent_id AS BIGINT) = tree.target_file_id
  WHERE tree.depth < 64)
SELECT depth, path FROM tree WHERE target_file_id = ?"""


def expected_answer(con, kind, param, got):
    """(expected rows, whether order matters) for one query answer."""
    if kind == "status_summary":
        return duckdb_rows(con, SUMMARY), False
    if kind == "top_statuses":
        return duckdb_rows(con, SUMMARY + " ORDER BY 2 DESC, 1 LIMIT 5"), True
    if kind == "stats":
        return duckdb_rows(con, "SELECT COUNT(*), COUNT(CASE WHEN source_file_size > 0 THEN 1 END), "
                                "COUNT(CASE WHEN %s THEN 1 END) FROM t" % FOLDER), False
    if kind == "level_counts":
        return duckdb_rows(con, "SELECT level, COUNT(*) FROM t GROUP BY level ORDER BY level"), True
    if kind == "job_counts":
        return duckdb_rows(con, "SELECT job_name, COUNT(*) FROM t GROUP BY job_name"), False
    if kind in ("files_preview", "folders_preview"):
        cond = "source_file_size > 0" if kind == "files_preview" else FOLDER
        cols = "file_name, source_file_size" if kind == "files_preview" else "file_name"
        total = con.execute("SELECT COUNT(*) FROM t WHERE " + cond).fetchone()[0]
        names = [r[0] for r in got]
        if len(got) != min(10, total) or not names:
            return [("<%d preview rows>" % min(10, total),)], False
        marks = ",".join("?" * len(names))
        return duckdb_rows(con, "SELECT %s FROM t WHERE %s AND file_name IN (%s)" % (cols, cond, marks), names), False
    if kind == "status_view":
        return duckdb_rows(con, "SELECT file_name, target_file_id FROM t WHERE file_status = ?", [param]), False
    if kind == "children_lookup":
        return duckdb_rows(con, "SELECT file_name, target_file_id FROM t WHERE parent_id = ?", [param]), False
    if kind == "path_prefix":
        return duckdb_rows(con, "SELECT file_name, target_file_id FROM t WHERE starts_with(file_name, ?)",
                           [param + "/"]), False
    if kind == "hierarchy_lookup":
        return duckdb_rows(con, HIERARCHY, [int(param)]), False
    raise ValueError("unknown query kind " + kind)


def answer_matches(expected, got, ordered):
    got = [tuple(None if v is None else str(v) for v in row) for row in got]
    return expected == got if ordered else sorted(map(repr, expected)) == sorted(map(repr, got))


def check_views(db_path, answers):
    """Number of view answers that differ from DuckDB's over the same parquet."""
    import duckdb
    con = duckdb.connect()
    glob = os.path.join(db_path, "*.parquet").replace("'", "''")
    con.execute("CREATE VIEW t AS SELECT * FROM read_parquet('%s')" % glob)
    wrong = 0
    for a in answers:
        expected, ordered = expected_answer(con, a["kind"], a["param"], a["rows"])
        if not answer_matches(expected, a["rows"], ordered):
            wrong += 1
            log("WRONG %s(%s): expected %s... got %s..." % (a["kind"], a["param"], expected[:3], a["rows"][:3]))
    con.close()
    return wrong


def canonical(con, sql, params=()):
    """A query's answer as an order-insensitive value: its column names in
    sorted order and its rows, rendered column by column in that order, sorted.
    """
    cur = con.execute(sql, list(params))
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = sorted("\x1f".join(str(r[i]) for i in order) for r in cur.fetchall())
    return [names[i] for i in order], rows


def check_registry(tables, answers):
    """Number of registry answers that differ from their oracle SQL run by
    DuckDB over the same tables; queries without an oracle are skipped here
    (the JVM checks that their answer is the same in both calls).
    """
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            glob = os.path.join(tables, f, "*.parquet").replace("'", "''")
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (f[:-len(".parquet")], glob))
    wrong = 0
    for a in answers:
        if a["oracle"] is None:
            continue
        got = canonical(con, "SELECT * FROM read_parquet(?)", [os.path.join(a["path"], "*.parquet")])
        want = canonical(con, a["oracle"])
        if got != want:
            wrong += 1
            log("WRONG registry %s (%s): columns %s vs %s, %d vs %d rows, first differing %s"
                % (a["query"], a["family"], got[0], want[0], len(got[1]), len(want[1]),
                   next(((g, w) for g, w in zip(got[1], want[1]) if g != w), None)))
    con.close()
    return wrong


def account(jvm, wrong_answers, expected_metrics):
    """The result line: the JVM's ledger plus the DuckDB check, and exactly
    the declared metrics of the mode. A missing metric is an error.
    """
    missing = [m for m in expected_metrics if m not in jvm["metrics"]]
    if missing:
        raise RuntimeError("metrics not reported: " + ", ".join(missing))
    failed = int(jvm["failed"]) + int(wrong_answers)
    attempted = max(int(jvm["attempted"]), 1)
    return {
        "correct": failed == 0 and int(jvm["attempted"]) > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: jvm["metrics"][m] for m in expected_metrics},
    }


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def java_cmd(classpath, args):
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms2g", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", classpath, "perfbench.Main"] + args)


def prune(dirname, keep):
    path = os.path.join(WORK, dirname)
    if os.path.isdir(path):
        entries = sorted(os.listdir(path), key=lambda f: os.path.getmtime(os.path.join(path, f)))
        for f in entries[:-keep]:
            os.remove(os.path.join(path, f))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    out = os.path.join(WORK, "result-%d.json" % os.getpid())
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--out", out]
    t0 = time.time()
    proc = subprocess.Popen(java_cmd(classpath, args), cwd=WORK, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("JVM did not finish within %d s" % JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError("JVM exited with code %d" % rc)
    with open(out) as fh:
        jvm = json.load(fh)
    os.remove(out)
    log("jvm run %.1f s, context %s" % (time.time() - t0, json.dumps(jvm["context"])))
    for f in jvm["failures"]:
        log("failure: " + f)

    wrong = check_views(jvm["context"]["db_path"], jvm["view_answers"]) if jvm["view_answers"] else 0
    if jvm["registry_answers"]:
        wrong += check_registry(jvm["context"]["registry_tables"], jvm["registry_answers"])
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    prune("spans", 20)
    names = PER_LAYER if a.trace else END_TO_END
    print(json.dumps({"host.load1": jvm["context"].get("host.load1"),
                      "host.steal_jiffies": jvm["context"].get("host.steal_jiffies")}))
    print(json.dumps(account(jvm, wrong, names)))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 — any failure is a run without a result
        log("error: %s" % e)
        sys.exit(1)
