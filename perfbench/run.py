#!/usr/bin/env python3
"""Repository benchmark: end-to-end and per-layer timings of the FIC
ETL, the monthly-drop pipeline and the operator gates.

    python3 perfbench/run.py --workload fic_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the repository
(see build.py). Inputs are generated from --seed; the program under test
only sees the generated files. Iterations repeat in fresh Spark sessions
(`Cli.session`, SPARK_GRAFT_CPUS = usable cores) until --seconds have
passed. The outputs are checked against the generator's prediction, the
traced/untraced twin, or the DuckDB oracle, outside the timed region.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. A full artifact (every
sample, load average samples, tracing overhead, planted input shares)
is written next to the run's work directory. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # write nothing next to the sources
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

# Sizes chosen so one run of every workload stays inside its budget on a
# 4-core machine (README.md, "Sizing").
FIC_DOCS = 50
DROPS, DROP_DOCS = 2, 150
# Gates of the drop_gates workload, one per pack for six of the eleven
# operator packs: f37 (the FIC transform as a gate), the MinHash gate t28
# and the ANN gate v34, whose kernels the drop pipeline's dedup and ANN
# indexes share, the flagship q3, and q35 and t68, which materialization
# exposed as slow. The other packs are left out to keep a run short.
GATES = ["q3_top_orders", "q35_approx_percentile", "t28_minhash_lsh",
         "t68_span_decontaminate", "v34_ann_lsh", "f37_fic_chain"]
CORPUS_SCALE = 0.25

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


class LoadSampler(threading.Thread):
    """Samples /proc/loadavg through the run."""

    def __init__(self, period=0.5):
        super().__init__(daemon=True)
        self.period, self.load = period, []
        self.stop = threading.Event()

    def run(self):
        t0 = time.time()
        while not self.stop.is_set():
            with open("/proc/loadavg") as f:
                self.load.append([round(time.time() - t0, 2)] + [float(x) for x in f.read().split()[:3]])
            self.stop.wait(self.period)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def check_fic(iters, expected):
    bad = []
    for i, it in enumerate(iters):
        r = it["results"]
        for month, exp in expected["months"].items():
            for key, want in [("docs", exp["docs"]), ("replaced", exp["replaced"]),
                              ("skipped", exp["skipped"])] + \
                             [(f"rows.{t}", n) for t, n in exp["rows"].items()]:
                got = r.get(f"{month}.{key}")
                if got != want:
                    bad.append(f"iter {i} {month}.{key}: got {got}, expected {want}")
    return bad


def check_drops(iters, planted):
    """Every iteration (traced or not) finds the same per-epoch pairs,
    spans and neighbors, and finds most planted near-duplicates and
    verbatim spans."""
    keys = sorted(k for k in iters[0]["results"] if k.startswith("epoch"))
    ref = [iters[0]["results"][k] for k in keys]
    bad = []
    for i, it in enumerate(iters[1:], 1):
        got = [it["results"].get(k) for k in keys]
        if got != ref:
            bad.append(f"iter {i} ({'traced' if it['traced'] else 'untraced'}) per-epoch "
                       f"pairs/spans/neighbors {got} != iter 0 {ref}")
    for what, key in (("pairs", "planted_near_dups"), ("spans", "planted_spans")):
        found = sum(iters[0]["results"][k] for k in keys if k.endswith("." + what))
        if found < 0.5 * planted[key]:
            bad.append(f"{what}: found {found}, planted {planted[key]}")
    return bad


def check_gates(corpus_dir, out_dir, names):
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import duckdb
    from check import TABLES, compare
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    bad = []
    for n in names:
        if n not in oracles:
            bad.append(f"{n}: no oracle")
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{n}/*.parquet')").df()
            ok, msg = compare(got, con.execute(oracles[n]).df())
        except duckdb.Error as e:  # e.g. no output from a failed gate
            ok, msg = False, str(e)
        if not ok:
            bad.append(f"{n}: {msg}")
    con.close()
    return bad


def end_to_end(workload, it):
    """End-to-end metrics of the cold first iteration (README.md)."""
    ser = it["series"]
    if workload == "fic_etl":
        first, steady, ops, unit_s = ser["months"][0], ser["months"][1], ser["months"], it["wall_s"]
    else:
        ep = ser["epochs"]
        first, steady, ops, unit_s = ep[0], median(ep[1:]), ser["gates"], sum(ep)
    return {"setup_s": it["setup_s"], "cpu_s": it["cpu_s"], "wall_s": it["wall_s"], "first_s": first,
            "steady_s": steady, "items_per_s": it["items"] / unit_s,
            "op_mean_s": sum(ops) / len(ops)}


def layers(workload, it):
    """Per-layer metrics of the traced cold first iteration. Layers the
    workload never calls read 0."""
    lay, res = it["layers"], it["results"]
    out = dict(lay)
    out.update(res)
    if workload == "fic_etl":
        out["load.parents_replaced"] = sum(v for k, v in res.items() if k.endswith(".replaced"))
        out["quality.docs_skipped"] = sum(v for k, v in res.items() if k.endswith(".skipped"))
    else:
        out["app.stream_overhead_s"] = sum(it["series"]["epoch_runs"]) - lay["trace.drop_steps_s"]
        for c in ("pairs", "spans", "neighbors"):
            out["streaming." + c] = sum(v for k, v in res.items() if k.startswith("epoch") and k.endswith("." + c))
        for p in {k.split(".")[1] for k in lay if k.startswith("operators.")}:
            base = "operators." + p
            for m in ("jobs", "task_s"):
                out[f"{base}.{m}"] = lay.get(f"{base}.cold.{m}", 0.0)
    over = lay["trace.overhead_s"]
    covered = lay["trace.span_sum_s"] + out.get("app.stream_overhead_s", 0.0) + over
    out["trace.overhead_frac"] = over / (it["wall_s"] - over)
    out["trace.unattributed_frac"] = (it["wall_s"] - covered) / it["wall_s"]
    out["trace.wall_s"] = it["wall_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["fic_etl", "drop_gates"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build.build(root, bdir)

    run_dir = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(os.path.join(bdir, "runs"), ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("inputs", "work", "tmp"))
    os.makedirs(work)
    os.makedirs(tmp)
    planted = None
    if a.workload == "fic_etl":
        expected = gen.fic_etl(os.path.join(inputs, "fic"), a.seed, docs=FIC_DOCS)
    else:
        planted = gen.drop_epochs(os.path.join(inputs, "drops"), a.seed, drops=DROPS, per_drop=DROP_DOCS)
        gen.corpus(os.path.join(inputs, "corpus"), a.seed, scale=CORPUS_SCALE)

    raw_path = os.path.join(run_dir, "samples.json")
    # a traced drop run adds an untraced twin iteration for the count check
    min_iters = 2 if a.trace and a.workload == "drop_gates" else 1
    # the JVM flags of build.sbt's forked run, with a fixed 2 GB heap and
    # no hsperfdata file (it would go to /tmp, outside the checkout)
    java = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.network.timeout=600s", "-Dspark.executor.heartbeatInterval=30s",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", ":".join(cp), "perfbench.Main", "--workload", a.workload,
             "--seconds", str(a.seconds), "--min-iters", str(min_iters),
             "--trace", str(a.trace), "--in", inputs, "--work", work, "--out", raw_path]
    if a.workload == "drop_gates":
        java += ["--gates", ",".join(GATES)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=tmp)
    sampler = LoadSampler()
    sampler.start()
    t0 = time.time()
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
        try:
            _, status, usage = os.wait4(proc.pid, 0)
            rc = proc.returncode = os.waitstatus_to_exitcode(status)
        finally:  # never leave the JVM behind
            if proc.returncode is None:
                proc.kill()
                proc.wait()
            sampler.stop.set()
            sampler.join()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: benchmark JVM exited with {rc}")
    with open(raw_path) as f:
        iters = json.load(f)["iterations"]

    if a.workload == "fic_etl":
        problems = check_fic(iters, expected)
    else:
        problems = check_drops(iters, planted)
        problems += check_gates(os.path.join(inputs, "corpus"), os.path.join(work, "iter0", "out"), GATES)
    attempted = sum(it["attempted"] for it in iters)
    failed = sum(it["failed"] for it in iters)

    if a.trace:
        values = layers(a.workload, iters[0])
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = end_to_end(a.workload, iters[0])
        values["peak_rss_mb"] = usage.ru_maxrss / 1024
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    load = [x[1] for x in sampler.load]
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores(),
                "run_s": time.time() - t0, "jvm_cpu_s": usage.ru_utime + usage.ru_stime,
                "iterations": iters, "problems": problems,
                "loadavg_1m_peak": max(load), "loadavg_1m_start": load[0],
                "loadavg_1m_end": load[-1], "loadavg_samples": sampler.load,
                "planted": planted, "metrics": metrics}
    if a.trace:
        artifact["trace_overhead_frac"] = values["trace.overhead_frac"]
        artifact["trace_unattributed_frac"] = values["trace.unattributed_frac"]
    with open(os.path.join(bdir, f"artifact-{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for p in problems:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
