#!/usr/bin/env python3
"""Benchmark of the medallion pipeline (source -> raw (CDC by watermark)
-> staging -> curated star schema with SCD2 -> dashboard serving) and
of the query catalog.

    python3 medbench/run.py --workload etl_cdc --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark driver (medbench/build.sbt, offline sbt). Each run generates
its inputs from the seed, starts one JVM (local[<cores>], the
library's default session and shuffle width), sets up once, then runs
closed-loop units (one client, the next unit starts when the previous
one ends) until --seconds have passed, checks every output, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1
they are the per-layer ones, from units that alternate untraced and
traced (at least three) so the tracing overhead is measured in the
same run. The full per-operation records, the spans and the per-layer
table go to medbench/out/.

Workloads (one unit each):
  etl_cdc   a round of CYCLES CDC cycles over a copy of the base zone
            (loaded during set-up): raw merge, restage, curated with the
            SCD2 merge against the previous curated zone, then the
            dashboard refreshed REFRESHES times per cycle.
  catalog   one pass over every EVERY-th catalog query (by number), in
            an order shuffled by the seed, over seeded catalog tables;
            the set-up runs the same pass over another seeded set of
            tables, so the timed pass does not pay code generation.

End-to-end metrics (untraced units; medbench/METRICS.md has the full
definitions):
  setup_s        JVM start to the first timed operation: session start,
                 then the base load (etl_cdc) or the warmup pass (catalog)
  wall_s         median unit wall time, checks excluded
  cycle_p50_s    median cycle (increment landed -> dashboards served;
                 catalog: one pass)
  rows_per_s     median over cycles of source rows / cycle time
  serve_p50_s, serve_p95_s
                 query latency over every execution (dashboard queries;
                 catalog: the catalog queries)
  write_amp      bytes written / source bytes
  space_amp      bytes left on disk after a unit / source bytes
  cache_peak_mb  peak Spark storage memory during the timed phase
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
sys.path.insert(0, HERE)
if not os.path.isfile(os.path.join(ROOT, "tools", "local_verify.py")):
    sys.exit("medbench: run from a checkout of the repository: tools/local_verify.py is missing")

import catalogdata  # noqa: E402
import evaluate  # noqa: E402
import inventory  # noqa: E402

STORES = 40
PRODUCTS = 2000
# etl_cdc: base rows and days, CDC cycles per round and dashboard serves
# per cycle; each increment adds ~1 % of the base rows on the next
# INCREMENT_DAYS days. catalog: table scale (1 = the smallest test
# tables) and the stride of the query sample.
WORKLOADS = {
    "etl_cdc": {"base_rows": 60_000, "base_days": 300, "cycles": 2, "refreshes": 3},
    "catalog": {"scale": 1, "every": 10},
}
INCREMENT_DAYS = 5
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def die(msg):
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build compiles, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(fs) if f.endswith((".scala", ".java"))]
    return out


def build():
    """Compile with sbt when the sources changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from a checkout of the repository: src/main/scala/graft is missing")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark installation")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_path = os.path.join(HERE, "target", "medbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = open(stamp_path).read() if os.path.exists(stamp_path) else None
    if stamp != h.hexdigest():
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx4g")
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            die("build failed")
        with open(stamp_path, "w") as f:
            f.write(h.hexdigest())
    return f"{classes}:{os.path.join(spark_home, 'jars', '*')}"


def driver_heap():
    """Half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, cfg_path, work, deadline):
    cores = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SHUFFLE"}
    env["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "medbench.Main", cfg_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or ^C: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed ({rc})")


def inputs(work, workload, seed):
    """Generates the run's inputs; returns the JVM's config entries and
    the ground truth."""
    w = WORKLOADS[workload]
    cfg = {"source": [], "cycles": 0, "refreshes": 1, "year": inventory.YEAR,
           "catalog_every": 0, "catalog_seed": seed, "data": "", "warm_data": ""}
    if workload == "catalog":
        data, warm = os.path.join(work, "tables"), os.path.join(work, "warm_tables")
        rows = catalogdata.generate(data, seed, w["scale"])
        # the warmup pass reads other tables, so the caches the library
        # keys by table directory start empty in the timed pass
        catalogdata.generate(warm, seed + 1_000_003, w["scale"])
        size = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
        cfg.update(catalog_every=w["every"], data=data, warm_data=warm)
        return cfg, {"source_rows": [sum(rows.values())], "source_bytes": [size], "tables": rows}
    src = os.path.join(work, "source")
    truth = inventory.generate(src, seed, w["base_rows"], STORES, PRODUCTS, w["base_days"],
                               increments=w["cycles"], increment_days=INCREMENT_DAYS)
    cfg.update(source=[os.path.join(src, f) for f in truth["files"]], cycles=w["cycles"],
               refreshes=w["refreshes"], year=truth["year"])
    truth["source_rows"] = [c["ingested_rows"] for c in truth["cycles"]]
    return cfg, truth


ETL_LAYERS = ["cycle", "raw", "staging", "curated"] + \
    [f"curated.{t}" for t in evaluate.CURATED] + ["serve"] + \
    [f"serve.{q}" for q in evaluate.SERVE]
CATALOG_LAYERS = ["catalog"] + [f"catalog.{f}" for f in evaluate.CATALOG_FAMILIES]


def layer_table(rows, metrics, layers):
    """Per-layer medians (wall, self, jobs) and their share of the unit,
    plus the per-cycle SCD2 growth."""
    top = metrics[f"{layers[0]}.wall_s"][0]
    out = [f"per-layer medians over traced {'passes' if layers is CATALOG_LAYERS else 'cycles'}",
           f"{'layer':28} {'wall_s':>9} {'self_s':>9} {'share':>6} {'jobs':>6}"]
    for name in layers:
        wall = metrics[f"{name}.wall_s"][0]
        slf = metrics.get(f"{name}.self_s", (wall,))[0]  # a leaf span is all self time
        jobs = metrics[f"{name}.jobs"][0]
        out.append(f"{name:28} {wall:9.4f} {slf:9.4f} {wall / top:6.1%} {jobs:6.0f}")
    out.append(f"tracing overhead (traced - untraced unit wall): "
               f"{metrics['trace.overhead_s'][0]:.4f} s")
    if layers is ETL_LAYERS:
        out.append("cycle  dim_product.rows_per_tuple  dim_product.rows_out  cycle.wall_s")
        for r in rows:
            v = r["values"]
            out.append(f"u{r['unit']}c{r['cycle']:<4} "
                       f"{v['curated.dim_product.rows_per_tuple']:26.3f} "
                       f"{v['curated.dim_product.rows_out']:21.0f} {v['cycle.wall_s']:13.4f}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + JVM_TIMEOUT_S
    classpath = build()
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)

    catalog = args.workload == "catalog"
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_cfg, truth = inputs(work, args.workload, args.seed)
        cfg = dict(jvm_cfg, trace=args.trace, seconds=args.seconds, work=work,
                   result=os.path.join(work, "result.json"))
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        run_jvm(classpath, cfg_path, work, deadline)
        with open(cfg["result"]) as f:
            result = json.load(f)
        ops = evaluate.setup_verdicts(result)
        if catalog:
            oracle = evaluate.oracle_digests(cfg["data"], result["sql"],
                                             os.path.join(HERE, "cache"))
            ops += evaluate.catalog_verdicts(result, oracle)
            for u in result["units"]:
                for c in u["cycles"]:
                    c.update(ingested=truth["source_rows"][0], source_files=1)
        else:
            ops += evaluate.verdicts(result, truth)
        failed = sum(1 for o in ops if o["failed"])
        if args.trace:
            metrics, rows = evaluate.per_layer(result, catalog)
        else:
            metrics, rows = evaluate.end_to_end(result, truth["source_bytes"]), []
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = dict(result["env"], seed=args.seed, workload=args.workload, trace=args.trace,
               source_rows=truth["source_rows"], source_bytes=truth["source_bytes"], **WORKLOADS[args.workload])
    table = layer_table(rows, metrics, CATALOG_LAYERS if catalog else ETL_LAYERS) \
        if args.trace else ""
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    detail = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump({"env": env, "operations": ops, "setup": result["setup"],
                   "metrics": metrics, "layer_table": table.splitlines(),
                   "traced_cycles": rows,
                   "spans": result["spans"] if args.trace else []}, f, indent=1)
    print("env " + json.dumps(env, sort_keys=True))
    for o in ops:
        if o["failed"]:
            print(f"FAILED {o['op']} unit {o['unit']} cycle {o['cycle']}: {o['failed']}")
    if table:
        print(table)
    print(f"detail: {os.path.relpath(detail, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
