#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles the program
(src/main/scala) and the benchmark's harness (perfbench/src) with the
Scala compiler that ships with Spark into .bench_build/; later runs reuse
the classes while the sources are unchanged. Each run generates its
inputs from --seed, starts one JVM that sets the system up, measures for
--seconds and checks every output, then prints each metric by name with
its unit and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 is
a separate traced run that reports the per-layer metrics, writes the spans
to .bench_build/trace/<workload>/ and states the tracing overhead against
the last untraced run of the workload. Workload constants, the query list
and the layer-to-metric map are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing may appear under perfbench/ at run time
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 140

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """Spark's jar directory; it also carries the Scala compiler."""
    dirs = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark distribution found: set SPARK_HOME")


def build(jars):
    """Compiles the program and the harness once per source state."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not sources:
        die(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}: run from a graft checkout")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "_OK")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    p = subprocess.run([java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        print(p.stdout[-4000:], file=sys.stderr)
        die("build failed")
    open(os.path.join(classes, "_OK"), "w").close()
    print(f"build: compiled {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_harness(classes, jars, run_dir, args):
    """Runs the system JVM; returns its result.json (or None on a crash)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + tmp, *JVM_OPENS,
           "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                   os.path.join(jars, "*")]), "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        # own process group: a timeout kills the harness and its generator
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    path = os.path.join(run_dir, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def oracle_answers(data_dir, sqls):
    """Runs each listed query's SparkEntry.oracleSql in DuckDB over the
    run's tables: name -> DataFrame, or the error text."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name, sql in sqls.items():
        try:
            out[name] = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that fails fails its query
            out[name] = f"oracle error: {str(e)[:200]}"
    return out


def oracle_check(answers, run_dir):
    """Every listed query's output against its oracle answer: same columns,
    same rows, exact values. Returns one line per mismatch."""
    import pyarrow.parquet as pq
    bad = []
    for name, want in sorted(answers.items()):
        if isinstance(want, str):
            bad.append(f"{name}: {want}")
            continue
        try:
            got = pq.read_table(os.path.join(run_dir, "out", name)).to_pandas()
        except Exception as e:  # no output: the query failed
            bad.append(f"{name}: no output ({str(e)[:200]})")
            continue
        if sorted(want.columns) != sorted(got.columns):
            bad.append(f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
            continue
        if len(want) != len(got):
            bad.append(f"{name}: {len(got)} rows != oracle {len(want)}")
            continue
        cols = sorted(want.columns)

        def norm(df):
            df = df[cols].apply(lambda c: c.astype("float64") if c.dtype.kind in "fiu" else c.astype(str))
            return df.sort_values(by=cols).reset_index(drop=True)
        w, g = norm(want), norm(got)
        for c in cols:
            same = [(a == b) or (isinstance(a, float) and math.isnan(a) and math.isnan(b))
                    for a, b in zip(w[c], g[c])]
            if not all(same):
                bad.append(f"{name}: column {c} differs from the oracle")
                break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        wl = json.load(f)
    if a.workload not in wl["workloads"]:
        die(f"unknown workload {a.workload}")
    c = wl["workloads"][a.workload]["constants"]
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    launch_us = int(time.time() * 1e6)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": wl["cores"], "run-dir": run_dir, "launch-us": launch_us}
    if a.workload == "edge_to_sink":
        args.update({"rate": c["rate_per_s"], "burst": c["burst_events"], "warm": c["warm_events"],
                     "conns": c["connections"], "flush-ms": c["flush_cadence_ms"],
                     "trigger-ms": c["trigger_ms"]})
    elif a.workload == "request_reply":
        args.update({"clients": c["clients"], "poll-ms": c["poll_interval_ms"],
                     "warm": c["warm_round_trips"], "reply-timeout-s": c["reply_timeout_s"]})
    else:
        data = os.path.join(run_dir, "data")
        sys.path.insert(0, HERE)
        import datagen
        datagen.generate(data, a.seed, c["sf"], c["documents"], c["embeddings"])
        args.update({"data": data, "queries": ",".join(c["queries"]),
                     "warm-queries": ",".join(c["warm_queries"])})

    print(f"[phase] inputs generated {time.time() - launch_us / 1e6:8.2f} s", file=sys.stderr)
    res = run_harness(classes, jars, run_dir, args)
    print(f"[phase] harness done     {time.time() - launch_us / 1e6:8.2f} s", file=sys.stderr)
    if res is None:
        with open(os.path.join(run_dir, "harness.log")) as f:
            print(f.read()[-3000:], file=sys.stderr)
        die("the harness crashed or timed out")
    if a.workload == "gate_batch":
        with open(os.path.join(run_dir, "oracle_sql.json")) as f:
            bad = oracle_check(oracle_answers(args["data"], json.load(f)), run_dir)
        failed = len({b.split(":")[0] for b in bad})
        res["failed"] += failed
        res["metrics"]["gate.failed"]["value"] += failed
        if bad:
            res["correct"] = False
            res["notes"] += bad
    metrics = res["metrics"]
    if a.trace and a.workload == "edge_to_sink":
        # single-threaded baseline of the same job: per-layer numbers only
        l1_dir = run_dir + "-l1"
        os.makedirs(l1_dir)
        l1 = run_harness(classes, jars, l1_dir, dict(args, **{"cores": 1, "run-dir": l1_dir,
                                                               "launch-us": int(time.time() * 1e6)}))
        if l1 is None:
            die("the local[1] baseline run crashed or timed out")
        if not l1["correct"]:
            res["correct"] = False
            res["notes"] += ["local[1]: " + n for n in l1["notes"]]
        metrics.update({"l1." + k: v for k, v in l1["metrics"].items()})
        shutil.rmtree(l1_dir, ignore_errors=True)

    last = os.path.join(BUILD, "last", a.workload + ".json")
    e2e = [m["name"] for m in spec["end_to_end"]]
    if a.trace:
        for k in e2e:
            if k in metrics:
                metrics["traced." + k] = metrics[k]
        report_trace(a.workload, run_dir, metrics, last, e2e)
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump({k: metrics[k]["value"] for k in e2e if k in metrics}, f)
        names = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  "
          f"cores local[{wl['cores']}]  load1 {metrics.get('host.load1', {}).get('value', 0):.2f}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v['value']:>14.4f} {v['unit']}")
    for n in res["notes"]:
        print(f"  check: {n}")
    out, idle = {}, []
    for n in names:
        if n in metrics:
            out[n] = {"value": metrics[n]["value"], "unit": units[n]}
        else:  # a layer this workload does not exercise did no work
            out[n] = {"value": 0, "unit": units[n]}
            idle.append(n)
    if idle:
        print(f"  not exercised by {a.workload} (reported as 0): {' '.join(idle)}")
    os.makedirs(os.path.join(BUILD, "last"), exist_ok=True)
    shutil.copy(os.path.join(run_dir, "harness.log"), os.path.join(BUILD, "last", a.workload + ".log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))
    sys.exit(0 if res["correct"] else 1)


def report_trace(workload, run_dir, metrics, last, e2e):
    """Keeps the span file and writes the trace report: self time per
    layer, and the tracing overhead against the last untraced run."""
    out = os.path.join(BUILD, "trace", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(out, "spans.jsonl"))
    lines = [f"trace report: {workload}", "self time per unit of work (ms):"]
    lines += [f"  {k[5:-3]:12s} {v['value']:10.3f}" for k, v in metrics.items()
              if k.startswith("self.") and k.endswith(".ms")]
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        lines.append("tracing overhead (traced run vs last untraced run):")
        for k in e2e:
            if k in base and k in metrics and base[k]:
                lines.append(f"  {k:20s} untraced {base[k]:12.4f}  traced {metrics[k]['value']:12.4f}"
                             f"  ({(metrics[k]['value'] - base[k]) / base[k] * 100:+.1f}%)")
    else:
        lines.append("tracing overhead: no untraced run of this workload in this checkout yet")
    lines.append(f"recorder time {metrics.get('trace.record_ms', {}).get('value', 0):.3f} ms"
                 f" over {metrics.get('trace.spans', {}).get('value', 0):.0f} spans")
    with open(os.path.join(out, "report.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
