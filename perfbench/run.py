#!/usr/bin/env python3
"""Layered benchmark of the graft engine on three workloads at local[4].

    python3 perfbench/run.py --workload <graph|elt_sync|intake_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
from source (perfbench/build.py), generates the workload's inputs from
the seed (GenSf.writeAll, then a seeded relabelling of key columns),
computes the DuckDB oracle for those inputs, runs the workload in a
fresh JVM, checks every job's output, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes goes under .bench_build/ in the checkout.
See perfbench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
SMOKE_SF = 0.001
# GenSf scale factor of each batch workload's inputs (see README.md)
SIZES = {"graph": 0.02, "elt_sync": 0.01, "intake_stream": None}
CATALOG = {
    "graph": ["q205_graph_family_shared"],
    "elt_sync": ["q106_cdc_merge", "q132_table_profile"],
    "intake_stream": [],
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s",
              "sustained_rows_per_s": "rows/s", "latency_p50_s": "s", "latency_p99_s": "s"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HEAP = "3g"
GENSF = os.path.join(ROOT, "src", "main", "scala", "graft", "tools", "GenSf.scala")


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def java(classes, args, work):
    """Run perfbench.Main in a fresh JVM whose temp files stay in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "perfbench.Main"] + args
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"perfbench: JVM failed ({' '.join(args[:2])})")


def digest(*files):
    """Short hash of the files' contents: part of a cache directory's
    name, so a changed generator or relabelling is recomputed."""
    h = hashlib.sha256()
    for p in files:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def gensf(classes, sf):
    out = os.path.join(BUILD, "data", f"base-sf{sf}-{digest(GENSF)}")
    if not os.path.isfile(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        work = out + ".work"
        os.makedirs(work, exist_ok=True)
        java(classes, ["gen", out, str(sf)], work)
        shutil.rmtree(work, ignore_errors=True)
        open(os.path.join(out, ".done"), "w").close()
    return out


def quantile(xs, p):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p * (len(s) - 1)))))]


def tail_pct(n):
    """p99 when at least 10 samples lie beyond it, else the highest
    percentile that has 10 beyond it (never below the median)."""
    return max(0.5, min(0.99, 1.0 - 10.0 / n)) if n else 0.5


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CATALOG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = a.workload

    classes = build.build()
    sql_file = os.path.join(classes, "oracle_sql.json")
    if not os.path.isfile(sql_file):
        java(classes, ["oracle-sql", sql_file], BUILD)
    oracle_sql = json.load(open(sql_file))

    smoke = gensf(classes, SMOKE_SF)
    data = oracle = None
    expected = {}
    if SIZES[w] is not None:
        import oracle  # duckdb, pyarrow, pandas: only the catalog jobs need them
        base = gensf(classes, SIZES[w])
        # keyed by the generator's and the relabelling's sources, and each
        # expected result by its oracle SQL (oracle.expected)
        key = f"sf{SIZES[w]}-{digest(GENSF, oracle.__file__)}-s{a.seed}"
        data = os.path.join(BUILD, "data", key)
        oracle.relabel(base, data, a.seed)
        expected = oracle.expected(data, CATALOG[w], oracle_sql, os.path.join(BUILD, "oracle", key))

    work = os.path.join(BUILD, "runs", f"{w}-s{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        t0 = time.time()
        java(classes, ["run", f"workload={w}", f"seed={a.seed}", f"seconds={a.seconds}",
                       f"trace={a.trace}", f"out={work}", f"data={data or ''}", f"smoke={smoke}"], work)
        log(f"JVM run {time.time() - t0:.1f}s")
        rec = json.load(open(os.path.join(work, "record.json")))
        attempted, failed, reasons = check(rec, expected, oracle)
        os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
        tag = f"{w}-s{a.seed}-trace{a.trace}"
        with open(os.path.join(BUILD, "records", tag + ".json"), "w") as f:
            json.dump(rec, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for r in reasons[:20]:
        log("CHECK FAILED " + r)

    if a.trace:
        metrics, samples = layer_metrics(rec), {}
    else:
        metrics, samples = end_to_end(rec)
    for k, v in metrics.items():
        print(f"{w:14s} {k:40s} {v['value']:14.6g} {v['unit']:8s} n={samples.get(k, '-')}")
    print(f"{w:14s} {'fail_frac':40s} {failed / attempted:14.6g} {'ratio':8s} n={attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def check(rec, expected, oracle):
    """Every job of every timed pass: invariants, and the oracle for
    catalog results. Returns (attempted, failed, reasons)."""
    attempted = failed = 0
    reasons = []
    for p in rec["passes"]:
        for j in p["jobs"]:
            attempted += 1
            bad = [f"{c['what']}: expected {c['expected']}, got {c['actual']}"
                   for c in j["checks"] if c["expected"] != c["actual"]]
            if j["oracle"] and not bad:
                why = oracle.compare(j["output"], expected[j["name"]])
                if why:
                    bad.append(why)
            if bad:
                failed += 1
                reasons.append(f"pass {p['pass']} {j['name']}: {'; '.join(bad)}")
    return attempted, failed, reasons


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in passes)
    if rec["workload"] == "intake_stream":
        lat = rec["latencies_s"]
        sustained = rec["sustained_rows_per_s"]
    else:
        lat = [j["wall_s"] for p in passes for j in p["jobs"]]
        sustained = rec["input_rows"] / pass_s
    vals = {
        "setup_s": (rec["setup_s"], 1),
        "pass_s": (pass_s, len(passes[0].get("batches", passes))),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), len(passes)),
        "sustained_rows_per_s": (sustained, len(passes)),
        "latency_p50_s": (quantile(lat, 0.5), len(lat)),
        "latency_p99_s": (quantile(lat, tail_pct(len(lat))), len(lat)),
    }
    return ({k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in vals.items()},
            {k: n for k, (_, n) in vals.items()})


def layer_metrics(rec):
    """Medians over the traced passes; job and layer names not reached by
    this workload read 0. The span tree stays in the saved record."""
    names = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["per_layer"]
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    out = {}
    for m in names:
        n = m["name"]
        vals = [p["layer"][n] for p in traced if n in p["layer"]]
        out[n] = {"value": statistics.median(vals) if vals else 0.0, "unit": m["unit"]}
    def put(n, v):
        if n in out:
            out[n]["value"] = v
    put("jvm.peak_rss_mb", rec["peak_rss_mb"])
    walls = [p["wall_s"] for p in rec["passes"]]
    put("session.pass_drift", walls[-1] / walls[0] if walls and walls[0] > 0 else 0.0)
    # overhead against the untraced passes after the first, which still
    # carries JIT warm-up
    later = [p for p in plain if p["pass"] > 0]
    if traced and later:
        put("trace.overhead_ratio", statistics.median(p["wall_s"] for p in traced) /
            statistics.median(p["wall_s"] for p in later))
        put("trace.covered_frac", statistics.median(
            p["layer"].get("trace.self_covered_s", 0.0) / p["wall_s"] for p in traced))
    if traced:
        put("ops.ivm_merge_s", statistics.median(p["layer"].get("job.q106_cdc_merge_s", 0.0) for p in traced))
    return out


if __name__ == "__main__":
    main()
