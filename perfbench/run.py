#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload sparql_mixed --seed 1 --seconds 20 --trace 0

Builds the engine from source if needed, generates the seeded operation
list over the project's fixture tables (TESTDATA.md), runs the JVM client
(one client thread, closed loop, Spark local[nproc]), checks every distinct
answer against its DuckDB oracle and every timed answer against the checked
one, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import pandas

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import workloads  # noqa: E402

# The project's read-only fixture tables, one directory per scale factor
# (TESTDATA.md); the engine's own tests read them too.
TESTDATA = "/root/testdata"
SF = "0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Set-up repetitions per run (median reported). One pipeline set-up is a
# full cold pass over its gates, so it is done once.
SETUP_REPS = {"sparql_mixed": 3, "pipeline_staged": 1}
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
              "ops_per_s": "1/s", "success_ratio": "ratio", "peak_rss_mb": "MB"}
LAYOUT_METRICS = [f"plans.latency_p50_ms.{l}" for l in workloads.LAYOUTS] + \
                 [f"plans.layout_write_s.{l}" for l in workloads.LAYOUTS]
FAMILY_METRICS = [f"sparql.latency_p50_ms.{f}" for f in workloads.FAMILIES.values()]
PER_LAYER = {
    "sparql.parse_ms": "ms", "sparql.plan_ms": "ms", "sparql.plan_jobs": "count",
    "core.encode_jobs": "count", "core.encode_ms": "ms",
    "operators.graph_jobs": "count", "operators.graph_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.tasks_per_job": "count",
    "exec.cpu_s": "s", "exec.cpu_util": "ratio", "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    **{m: "ms" for m in FAMILY_METRICS},
    **{m: ("ms" if "latency" in m else "s") for m in LAYOUT_METRICS},
    "plans.bytes_per_triple": "B", "sources.dictionary_s": "s",
    "queries.run_s": "s", "queries.run_jobs": "count", "queries.run_share": "ratio",
    "self_ms.parse": "ms", "self_ms.plan": "ms", "self_ms.sink": "ms", "self_ms.run": "ms",
    "trace.overhead_pct": "%", "trace.latency_p50_ms": "ms", "trace.spans": "count",
}
TAIL_LADDER = [99.9, 99.0, 95.0, 90.0, 75.0, 50.0]


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(xs):
    """The highest ladder percentile with at least 10 samples beyond it, or
    a quarter of the samples when there are fewer than 40 (a
    pipeline_staged run times about eight operations, and the maximum of so
    few spread by 28% over ten runs of the same code); the maximum when
    there are fewer than 4."""
    need = min(10, len(xs) / 4)
    for p in TAIL_LADDER:
        if len(xs) >= 4 and len(xs) * (100 - p) / 100 >= need:
            return f"p{p:g}", percentile(xs, p)
    return "max", max(xs)


def parse_args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, conf, log_path):
    cp = classes + ":" + os.path.join(build.spark_jars(), "*")
    work = os.path.dirname(conf["out"])
    cmd = [build.java(), "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.PerfBench"] + [f"{k}={v}" for k, v in conf.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: JVM client failed ({rc})")


def duck(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def fixture_dir(sf):
    path = os.path.join(TESTDATA, f"sf{sf}")
    missing = [t for t in TABLES if not os.path.exists(os.path.join(path, f"{t}.parquet"))]
    if missing:
        sys.exit(f"perfbench: fixture tables {missing} not found under {path}")
    return path


def tables_stamp(data_dir):
    """Name, size and modification time of each input table."""
    return "\n".join(f"{t} {st.st_size} {st.st_mtime_ns}" for t, st in
                     ((t, os.stat(os.path.join(data_dir, f"{t}.parquet"))) for t in TABLES))


def expected(con, oracle_sql, data_dir):
    """Load the oracle's rows into temp table `want`. Answers are cached by
    query text and the input tables' file stats."""
    key = hashlib.sha256(f"{data_dir}\n{tables_stamp(data_dir)}\n{oracle_sql}"
                         .encode()).hexdigest()[:24]
    cache = os.path.join(build.BUILD, "oracle", f"{key}.parquet")
    if os.path.exists(cache):
        con.execute(f"CREATE OR REPLACE TEMP TABLE want AS SELECT * FROM '{cache}'")
        return
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {oracle_sql}")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    con.execute(f"COPY want TO '{cache}.tmp' (FORMAT PARQUET)")
    os.replace(f"{cache}.tmp", cache)


def load_result(con, path):
    """Load a saved answer into temp table `got`: a parquet directory, or a
    `.jsonl` file (column names, then one JSON object per row)."""
    if os.path.isdir(path):
        con.execute(f"CREATE OR REPLACE TEMP TABLE got AS "
                    f"SELECT * FROM '{os.path.join(path, '*.parquet')}'")
        return
    with open(path) as f:
        cols = json.loads(f.readline())
        rows = [json.loads(line) for line in f if line.strip()]
    frame = pandas.DataFrame([[r.get(c) for c in cols] for r in rows], columns=cols)
    con.register("got_frame", frame)
    con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM got_frame")
    con.unregister("got_frame")


def matches(con, path, oracle_sql, data_dir):
    """True iff the saved answer holds exactly the oracle's rows: the same
    column names and the same multiset of rows (EXCEPT ALL both ways)."""
    try:
        load_result(con, path)
        expected(con, oracle_sql, data_dir)
        cols = sorted(c[0] for c in con.execute("DESCRIBE got").fetchall())
        if cols != sorted(c[0] for c in con.execute("DESCRIBE want").fetchall()):
            return False
        n_got, n_want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                         for t in ("got", "want"))
        if n_got != n_want or n_got == 0:
            return n_got == n_want
        sel = ", ".join(f'"{c}"' for c in cols)
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM want) "
            f"UNION ALL (SELECT {sel} FROM want EXCEPT ALL SELECT {sel} FROM got))").fetchone()[0]
        return diff == 0
    except (duckdb.Error, OSError, ValueError) as e:
        print(f"[check] {path}: {e}".splitlines()[0], file=sys.stderr)
        return False


def check(ops, out, data_dir):
    """Return the ids of the queries whose saved answer is missing or not
    equal to the oracle."""
    con = duck(data_dir)
    res = os.path.join(out, "results")
    wrong = set()
    for op in {o.id: o for o in ops}.values():
        oracle, path = op.oracle, os.path.join(res, f"{op.id}.jsonl")
        if op.kind == "gate":
            path, oracle = os.path.join(res, op.id), ""
            sql = os.path.join(res, f"{op.id}.oracle.sql")
            if os.path.exists(sql):
                with open(sql) as f:
                    oracle = f.read()
        if not os.path.exists(path) or not oracle or not matches(con, path, oracle, data_dir):
            wrong.add(op.id)
    con.close()
    return wrong


def count_failed(timed, wrong, saved):
    """Timed operations that raised, whose query's checked answer is wrong,
    or whose result's fingerprint differs from that of the checked answer
    (so every layout must give the checked answer's hash)."""
    return sum(1 for r in timed if r["failed"] or r["id"] in wrong
               or r["fp"] != saved.get(r["id"]))


def read_ops_tsv(path):
    rows = []
    with open(path) as f:
        for line in f:
            seq, op_id, layout, ms, failed, traced, fp = line.rstrip("\n").split("\t")
            rows.append({"id": op_id, "layout": layout, "ms": float(ms),
                         "failed": failed == "1", "traced": traced == "1", "fp": fp})
    return rows


def read_fingerprints(out):
    """Fingerprint of each saved answer, by op id."""
    with open(os.path.join(out, "results", "fingerprints.tsv")) as f:
        return dict(line.rstrip("\n").split("\t") for line in f)


def read_summary(path):
    with open(path) as f:
        return {k: float(v) for k, v in (l.rstrip("\n").split("\t") for l in f if l.strip())}


def main(argv):
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    t0 = time.monotonic()
    classes = build.build()
    data = fixture_dir(SF)
    work = os.path.join(build.BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    ops = workloads.operations(args.workload, args.seed, data)
    ops_path, warmup_path = os.path.join(work, "ops.tsv"), os.path.join(work, "warmup.tsv")
    with open(ops_path, "w") as f:
        f.write(workloads.ops_text(ops))
    with open(warmup_path, "w") as f:
        f.write(workloads.ops_text(workloads.warmup(ops)))
    t1 = time.monotonic()
    run_jvm(classes, {
        "workload": args.workload, "data": data, "ops": ops_path,
        "warmup": warmup_path, "out": out,
        "seconds": args.seconds, "trace": args.trace, "cores": cores(),
        "setup_reps": SETUP_REPS[args.workload]}, os.path.join(work, "jvm.log"))

    summary = read_summary(os.path.join(out, "summary.tsv"))
    timed = read_ops_tsv(os.path.join(out, "ops.tsv"))
    t2 = time.monotonic()
    wrong = check(ops, out, data)
    failed = count_failed(timed, wrong, read_fingerprints(out))
    attempted = len(timed)
    lat = [r["ms"] for r in timed]
    tail_name, tail_ms = tail(lat)
    print(f"workload={args.workload} seed={args.seed} ops={len(ops)} per pass, "
          f"{attempted} timed, sf={SF}, cores={cores()}, one closed-loop client")
    print(f"latency_tail_ms is {tail_name} over {attempted} samples; "
          f"fail_ratio = {failed}/{attempted} = {failed / attempted:g}")
    print(f"wall: prepare {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s "
          f"(answers saved in {summary['verify_s']:.1f} s, warm-up {summary['warmup_s']:.1f} s), "
          f"check {time.monotonic() - t2:.1f} s")
    if wrong:
        print(f"wrong answers: {sorted(wrong)}")
    if args.trace:
        by_layout, by_family = {}, {}
        for r in timed:
            by_layout.setdefault(r["layout"], []).append(r["ms"])
            family = workloads.FAMILIES.get(r["id"][:2])
            if family:
                by_family.setdefault(family, []).append(r["ms"])
        # each operation ran twice in a row, traced and untraced
        ratios = [t["ms"] / u["ms"] for t, u in
                  ((a, b) if a["traced"] else (b, a) for a, b in zip(timed[::2], timed[1::2]))]
        values = {k: summary.get(k, 0.0) for k in PER_LAYER}
        values.update({f"plans.latency_p50_ms.{l}": statistics.median(v)
                       for l, v in by_layout.items() if l != "-"})
        values.update({f"sparql.latency_p50_ms.{f}": statistics.median(v)
                       for f, v in by_family.items()})
        values["trace.latency_p50_ms"] = statistics.median(r["ms"] for r in timed if r["traced"])
        values["trace.overhead_pct"] = 100 * (statistics.median(ratios) - 1)
        print(f"spans: {os.path.join(out, 'spans.jsonl')}")
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        setup_reps = [v for k, v in summary.items() if k.startswith("setup_rep_s.")]
        values = {
            "setup_s": summary["session_s"] + statistics.median(setup_reps),
            "latency_p50_ms": statistics.median(lat),
            "latency_tail_ms": tail_ms,
            "ops_per_s": attempted / summary["timed_wall_s"],
            "success_ratio": 1 - failed / attempted,
            "peak_rss_mb": summary["rss_peak_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
