#!/usr/bin/env python3
"""graft benchmark: one workload per run, measured from outside the program.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the benchmark (graft's sources plus the harness in this directory)
with sbt on first use, generates the input tables, runs one JVM at
local[<cores>] that sets up, warms and then measures W for S seconds, checks
every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see BENCHMARK.json).

Other modes:
    --cores N          run at local[N] instead of local[nproc]
    --record FILE      also append the result, with workload and seed, to FILE
                       (the input of compare.py)
    --selftest         one short pass of every workload at a tiny scale; checks
                       that every metric is printed and that a wrong expected
                       fingerprint shows up as a failed operation
    --write-golden     store the fingerprints of the operations that have no
                       oracle as the golden ones for the current scale
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".bench")
SF = 0.01
SELFTEST_SF = 0.001
# The measured workloads are those in BENCHMARK.json; graph_iter and llm_dedup
# run the same way and serve traced analysis runs only.
WORKLOADS = ["sql_batch", "stream_cep", "graph_iter", "llm_dedup"]
BATCH = ["sql_batch", "graph_iter", "llm_dedup"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170
# Per-layer metrics that are ratios: aggregated over the workload as noted in
# `aggregate_layers`, not summed.
RATIO_LAYERS = {"executor.busy_frac", "executor.skew", "streaming.watermark_lag_s"}
# java.base packages Spark 4 needs opened on JDK 17 when it is not launched
# through spark-submit.
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build ----

def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("graft's sources (src/main/scala) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("[perfbench] building with sbt")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Compile/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data_dir(sf):
    """Generates the input tables for scale `sf` once per checkout."""
    d = os.path.join(WORK, f"data-sf{sf}")
    gen = os.path.join(HERE, "gen.py")
    stamp = hashlib.sha256(open(gen, "rb").read()).hexdigest()
    stamp_file = os.path.join(d, "gen.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, gen, d, str(sf)], check=True, timeout=300)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return d


# ------------------------------------------------------------------ run ----

def run_jvm(cp, workload, seed, seconds, trace, sf, cores, corrupt=None):
    data = data_dir(sf)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, results = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "results")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "raw.json")
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dderby.system.home=" + run_dir]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--data", data,
            "--out", out, "--cores", str(cores), "--results", results]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload}: the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        log(stdout[-4000:])
        raise SystemExit(f"{workload}: the benchmark JVM failed ({proc.returncode})")
    with open(out) as f:
        raw = json.load(f)
    return raw, data, results


# --------------------------------------------------------------- checks ----

def canon(rows, cols):
    """scripts/check.py's strict canonicalisation: columns by name, rows
    sorted, values type-tagged at full precision. Kept here so that the
    benchmark's check does not change with the repository's scripts."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(f"{type(r[i]).__name__}:{r[i]!r}" for i in order) for r in rows)
    return sorted(cols), out


def oracle_rows(con, sql, data):
    """DuckDB's canonical answer to `sql`, cached per checkout: it depends
    only on the SQL text and the generated tables (scale and generator)."""
    stamp = open(os.path.join(data, "gen.stamp")).read()
    key = hashlib.sha256("\0".join((sql, os.path.basename(data), stamp)).encode()).hexdigest()
    path = os.path.join(WORK, "oracle-cache", key + ".json")
    if os.path.exists(path):
        cols, rows = json.load(open(path))
        return cols, [tuple(r) for r in rows]
    o = con.execute(sql)
    cols, rows = canon(o.fetchall(), [d[0] for d in o.description])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump([cols, rows], f)
    return cols, rows


def oracle_failures(raw, data, results):
    """Each warm output with an oracle, compared with DuckDB's answer."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for op, sql in raw["oracles"].items():
        path = os.path.join(results, op)
        if not os.path.isdir(path):
            continue  # the warm run failed; counted through warm_errors
        try:
            oc, orws = oracle_rows(con, sql, data)
            s = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            sc, srws = canon(s.fetchall(), [d[0] for d in s.description])
        except Exception as e:  # noqa: BLE001 - any oracle error fails the op
            bad[op] = f"oracle error: {e}"
            continue
        if oc != sc:
            bad[op] = f"columns {sc} != oracle {oc}"
        elif orws != srws:
            bad[op] = f"{len(srws)} rows differ from the oracle's {len(orws)}"
    return bad


def golden_path():
    return os.path.join(HERE, "golden.json")


def golden_failures(raw, sf):
    """Operations with no oracle and no stream twin: a committed fingerprint."""
    golden = {}
    if os.path.exists(golden_path()):
        golden = json.load(open(golden_path())).get(str(sf), {})
    bad = {}
    for op, fp in raw["expected"].items():
        if raw["workload"] == "stream_cep" or op in raw["oracles"]:
            continue
        if golden.get(op) != fp:
            bad[op] = f"fingerprint {fp} != golden {golden.get(op)}"
    return bad


# -------------------------------------------------------------- metrics ----

def median(xs):
    return statistics.median(xs)


def tail(samples):
    """The highest percentile with at least ten samples beyond it
    (nearest rank), and that percentile's name."""
    s = sorted(samples)
    n = len(s)
    for p in (99.9, 99, 98, 95, 90, 80, 75, 70, 60, 50):
        if n * (100 - p) / 100 >= 10:
            return s[max(0, math.ceil(p / 100 * n) - 1)], p
    return s[-1], 100


def by_op(ops, key):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(key(o))
    return out


def end_to_end(raw):
    """An operation is one query: in batch workloads timed from its call
    through collect(), in stream_cep from its start to the commit of the last
    micro-batch of the replay. wall_s sums the per-operation medians. The
    latency samples are the operations' times in batch workloads and the
    triggers' (append to commit) in stream_cep."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    per_op = {k: median(v) for k, v in by_op(ops, lambda o: o["wall_s"]).items()}
    wall = sum(per_op.values())
    if raw["workload"] == "stream_cep":
        lat = [t["ms"] for t in raw["triggers"]]
    else:
        lat = [o["wall_s"] * 1e3 for o in ops]
    t, p = tail(lat)
    metrics = {
        "setup_s": raw["setup_s"],
        "wall_s": wall,
        "geomean_ms": math.exp(statistics.fmean(math.log(v * 1e3) for v in per_op.values())),
        "op_p50_ms": median(lat),
        "op_tail_ms": t,
    }
    samples = {"ops": len(ops), "op_latency_samples": len(lat), "op_tail_percentile": p,
               "passes": len({o["pass"] for o in ops}),
               "steal_share": round(statistics.fmean(o["steal_share"] for o in ops), 4),
               "op_median_s": {k: round(v, 3) for k, v in sorted(per_op.items())}}
    return metrics, samples


def self_times(spans):
    """Per span kind: the span's duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault((s["op"], s["pass"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered, reach = 0.0, a
        for c in sorted(kids.get((s["op"], s["pass"], s["id"]), []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], b)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.setdefault((s["op"], s["pass"]), {}).setdefault(s["kind"], 0.0)
        out[(s["op"], s["pass"])][s["kind"]] += max(0.0, b - a - covered) / 1e3
    return out


def op_layers(raw):
    """Per operation, the median over its traced runs of each layer metric,
    with the span self times added as `self.<kind>_s`."""
    st = self_times(raw["spans"])
    rows = {}
    for o in raw["ops"]:
        if not o["traced"]:
            continue
        d = dict(o["layers"])
        d["wall_s"] = o["wall_s"]
        for kind, v in st.get((o["name"], o["pass"]), {}).items():
            d[f"self.{kind}_s"] = v
        rows.setdefault(o["name"], []).append(d)
    return {op: {k: median([r.get(k, 0.0) for r in rs if r.get(k) is not None] or [0.0])
                 for k in set().union(*rs)} for op, rs in rows.items()}


def aggregate_layers(raw, names, cores):
    """Workload value of each per-layer metric: the sum over operations of
    the per-operation medians, except the ratios: busy_frac is run time over
    cores x wall time of the traced runs, skew and watermark lag are the
    median over operations."""
    per_op = op_layers(raw)
    out = {}
    for n in names:
        vals = [r.get(n, 0.0) for r in per_op.values()]
        if n == "peak_rss_mb":
            out[n] = raw["peak_rss_mb"]
        elif n == "host.steal_share":
            out[n] = statistics.fmean(o["steal_share"] for o in raw["ops"])
        elif n == "executor.busy_frac":
            wall = sum(r["wall_s"] for r in per_op.values())
            out[n] = sum(r.get("executor.run_s", 0.0) for r in per_op.values()) / (cores * wall)
        elif n in RATIO_LAYERS:
            out[n] = median(vals)
        elif n == "trace.overhead_frac":
            traced = by_op([o for o in raw["ops"] if o["traced"]], lambda o: o["wall_s"])
            plain = by_op([o for o in raw["ops"] if not o["traced"]], lambda o: o["wall_s"])
            common = [k for k in traced if k in plain]
            t = sum(median(traced[k]) for k in common)
            u = sum(median(plain[k]) for k in common)
            out[n] = t / u - 1.0 if u > 0 else 0.0
        else:
            out[n] = sum(vals)
    return out, per_op


def write_trace_report(raw, per_op, layer_values, units):
    """The traced run's spans and per-operation layer table, kept in the
    checkout's work directory."""
    base = os.path.join(WORK, f"trace-{raw['workload']}-seed{raw['seed']}")
    with open(base + ".json", "w") as f:
        json.dump({"spans": raw["spans"], "per_op": per_op, "workload": layer_values}, f)
    cols = ["wall_s", "self.query_s", "self.build_s", "self.action_s", "self.qe_s",
            "self.job_s", "self.stage_s", "catalyst.planning_s", "catalyst.optimization_s",
            "catalyst.analysis_s", "codegen.compile_s", "scheduler.jobs", "executor.run_s",
            "executor.cpu_s", "executor.skew", "queries.driver_s"]
    lines = [f"# Traced run: {raw['workload']}, seed {raw['seed']}, local[{raw['cores']}]", "",
             "Per operation, median over its traced runs; times in seconds.", "",
             "| op | " + " | ".join(cols) + " |", "|---" * (len(cols) + 1) + "|"]
    for op in sorted(per_op):
        lines.append(f"| {op} | " + " | ".join(f"{per_op[op].get(c, 0.0):.3f}" for c in cols) + " |")
    lines += ["", "Workload totals:", ""]
    lines += [f"- {k}: {v:.4f} {units[k]}" for k, v in layer_values.items()]
    with open(base + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")


def evaluate(raw, data, results, sf, trace, cores):
    bad_warm = dict(raw["warm_errors"])
    if raw["workload"] != "stream_cep":
        bad_warm.update(oracle_failures(raw, data, results))
        bad_warm.update(golden_failures(raw, sf))
    ops = raw["ops"]
    failed = [o for o in ops if not o["ok"] or o["name"] in bad_warm]
    for op, why in sorted(bad_warm.items()):
        log(f"[perfbench] wrong: {op}: {why}")
    for o in failed:
        if o["error"]:
            log(f"[perfbench] failed: {o['name']} pass {o['pass']}: {o['error']}")
    s = spec()
    if trace:
        names = [m["name"] for m in s["per_layer"]]
        units = {m["name"]: m["unit"] for m in s["per_layer"]}
        values, per_op = aggregate_layers(raw, names, cores)
        latency = end_to_end(raw)[0]
        values["op_p50_ms"], values["op_tail_ms"] = latency["op_p50_ms"], latency["op_tail_ms"]
        write_trace_report(raw, per_op, values, units)
        samples = {"traced_ops": sum(o["traced"] for o in raw["ops"])}
    else:
        values, samples = end_to_end(raw)
        units = {m["name"]: m["unit"] for m in s["end_to_end"]}
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(f"[perfbench] {raw['workload']} seed {raw['seed']}: " + json.dumps(samples), flush=True)
    return {"correct": not failed and not bad_warm, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


# ----------------------------------------------------------------- main ----

def selftest(cp, cores):
    """One short pass of every workload at a tiny scale: every metric named
    in BENCHMARK.json is printed with its unit, and a corrupted expected
    fingerprint is reported as a failed operation."""
    s = spec()
    ok = True
    for w in [x["name"] for x in s["workloads"]]:
        for trace in (0, 1):
            raw, data, results = run_jvm(cp, w, 1, 0.1, trace, SELFTEST_SF, cores)
            res = evaluate(raw, data, results, SELFTEST_SF, trace, cores)
            want = {m["name"] for m in s["per_layer" if trace else "end_to_end"]}
            print(json.dumps(res), flush=True)
            if set(res["metrics"]) != want or not res["correct"]:
                log(f"[selftest] {w} trace={trace}: correct={res['correct']} "
                    f"missing={sorted(want - set(res['metrics']))}")
                ok = False
        raw, data, results = run_jvm(cp, w, 1, 0.1, 0, SELFTEST_SF, cores, corrupt=raw["ops"][0]["name"])
        res = evaluate(raw, data, results, SELFTEST_SF, 0, cores)
        if res["failed"] == 0 or res["correct"]:
            log(f"[selftest] {w}: a corrupted fingerprint was not reported as failed")
            ok = False
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def write_golden(cp, cores):
    golden = json.load(open(golden_path())) if os.path.exists(golden_path()) else {}
    for sf in (SF, SELFTEST_SF):
        for w in BATCH:
            raw, _, _ = run_jvm(cp, w, 1, 0.1, False, sf, cores)
            for op, fp in raw["expected"].items():
                if op not in raw["oracles"]:
                    golden.setdefault(str(sf), {})[op] = fp
    with open(golden_path(), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--record")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()
    spec()  # the benchmark's own definition must be present
    cp = build()
    if a.selftest:
        return selftest(cp, a.cores)
    if a.write_golden:
        return write_golden(cp, a.cores)
    if not a.workload:
        ap.error("--workload is required")
    raw, data, results = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, SF, a.cores)
    res = evaluate(raw, data, results, SF, a.trace, a.cores)
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "cores": a.cores, "result": res}) + "\n")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
