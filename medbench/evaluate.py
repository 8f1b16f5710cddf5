"""Correctness verdicts and metrics over one JVM run's observations.

Every cycle, every dashboard query execution, every catalog query
execution and every warmup execution of a catalog query is one
operation. An operation fails when it throws, when a cycle's checks
differ from the generator's ground truth (or cannot be computed), when
a dashboard result differs from DuckDB's evaluation of the same SQL
text over the same curated zone, or when a catalog query's digest
differs from the digest of its oracle SQL evaluated by DuckDB over the
same tables. A failed operation is never scored as a fast success: it
is counted in `failed`, and `correct` is false.
"""
import decimal
import hashlib
import json
import math
import os
import statistics
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import local_verify  # noqa: E402  the catalog's digest definition, shared with its oracle gate

TABLES = ["dim_date", "dim_store", "dim_product", "fact_sales"]
SERVE = ["q1", "q2", "q3", "q4"]
MB = 1e6


def median(xs):
    return statistics.median(xs)


def p95(xs):
    """95th percentile, interpolated between the two nearest order
    statistics (numpy's default), so that with a few dozen samples it
    is not just the slowest one."""
    return statistics.quantiles(xs, n=20, method="inclusive")[18]


# --- correctness ---------------------------------------------------------

def _cell(kind, v):
    if v is None:
        return None
    if kind.startswith("decimal"):
        return decimal.Decimal(str(v))
    if kind in ("double", "float"):
        return float(v)
    if kind in ("int", "bigint", "smallint", "tinyint"):
        return int(v)
    return str(v)


def _canon(kinds, rows):
    out = [tuple(_cell(k, v) for k, v in zip(kinds, r)) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, repr(x)) for x in t))


def duck_rows(zone, sql):
    """DuckDB's rows for `sql` over the curated zone's parquet tables."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{zone}/{t}/*.parquet')")
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _same_cell(a, b):
    # AVG over integers: Spark divides the exact sum in double, DuckDB
    # goes through a wider intermediate and can land one ulp away
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0)
    return a == b


def serve_matches(served, zone, sql):
    """True when the dumped Spark result equals DuckDB's as multisets:
    exact for every type but doubles, which may differ in the last ulps."""
    kinds = [c.split(":", 1)[1] for c in served["schema"]]
    got = _canon(kinds, served["rows"])
    want = _canon(kinds, duck_rows(zone, sql))
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same_cell(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want))


def check_failures(cycle, truth):
    """Names of the checks a landed cycle fails against the truth."""
    if "error" in cycle:
        return ["threw: " + cycle["error"]]
    if "check_error" in cycle:
        return ["check threw: " + cycle["check_error"]]
    got = cycle["check"]
    bad = [k for k in ("staged_rows", "fact_rows", "distinct_dates")
           if int(got[k]) != truth[k]]
    if got["total_sales"] is None or \
            decimal.Decimal(got["total_sales"]) != decimal.Decimal(truth["total_sales"]):
        bad.append("total_sales")
    if cycle["ingested"] != truth["ingested_rows"]:
        bad.append("ingested_rows")
    return bad


def verdicts(result, truth):
    """Per-operation records with a `failed` reason (None when it passed).

    A cycle that landed source files 0..k is checked against
    truth["cycles"][k]. Dashboard results are checked against DuckDB on
    unit 0's zones; every other execution must reproduce a checked
    result's digest.
    """
    units = result["units"]
    good = {}
    for c in units[0]["cycles"] if units else []:
        for s in c["serves"]:
            if "rows" in s:
                zone = f"{units[0]['zone_root']}/curated_{c['cycle']}"
                if serve_matches(s, zone, result["sql"][s["name"]]):
                    good[(c["cycle"], s["name"])] = s["digest"]
    ops = []
    for u in units:
        for c in u["cycles"]:
            bad = check_failures(c, truth["cycles"][c["source_files"] - 1])
            ops.append({"op": "cycle", "unit": u["unit"], "cycle": c["cycle"],
                        "seconds": c["seconds"],
                        "failed": "; ".join(bad) if bad else None})
            for s in c["serves"]:
                if "error" in s:
                    why = "threw: " + s["error"]
                elif good.get((c["cycle"], s["name"])) != s["digest"]:
                    why = "result differs from DuckDB over the curated zone"
                else:
                    why = None
                ops.append({"op": "serve." + s["name"], "unit": u["unit"],
                            "cycle": c["cycle"], "refresh": s["refresh"],
                            "seconds": s["seconds"], "failed": why})
    return ops


def setup_verdicts(result):
    """A warmup execution that threw is a failed operation of the set-up."""
    return [{"op": e["op"], "unit": -1, "cycle": 0, "seconds": 0.0,
             "failed": "threw: " + e["error"]} for e in result["setup_errors"]]


def oracle_digests(data_dir, sql, cache_dir):
    """name -> (a, b, cols_csv, rows): the digest of each oracle SQL
    text evaluated by DuckDB over the tables in data_dir, as
    tools/local_verify.py computes it. Cached per (SQL text, table
    bytes), so a seed's digests are computed once per checkout."""
    h = hashlib.sha256()
    for t in local_verify.TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:32]}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)

    def key(text):
        return hashlib.sha256(text.encode()).hexdigest()
    missing = {n: q for n, q in sql.items() if key(q) not in cache}
    if missing:
        con = duckdb.connect()
        try:
            for t in local_verify.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            for q in missing.values():
                cur = con.execute(q)
                cache[key(q)] = list(local_verify.duck_digest(cur, [d[0] for d in cur.description]))
        finally:
            con.close()
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {n: cache[key(q)] for n, q in sql.items()}


def catalog_verdicts(result, oracle):
    """One record per catalog query execution, failed when it threw, has
    no oracle, or its digest differs from the oracle's."""
    ops = []
    for u in result["units"]:
        for c in u["cycles"]:
            for s in c["serves"]:
                want = oracle.get(s["name"])
                if "error" in s:
                    why = "threw: " + s["error"]
                elif want is None:
                    why = "no oracle SQL to check the result against"
                elif s["digest"] + [s["row_count"]] != [str(want[0]), str(want[1]), want[2],
                                                         int(want[3])]:
                    why = (f"digest differs from DuckDB's over the same tables "
                           f"(rows {s['row_count']} vs {want[3]})")
                else:
                    why = None
                ops.append({"op": "catalog." + s["name"], "unit": u["unit"], "cycle": 1,
                            "seconds": s["seconds"], "failed": why})
    return ops


# --- metrics ---------------------------------------------------------------

def unit_wall(result, unit):
    """A unit's timed phase: the sum of its top-level spans (the cycles
    and the dashboard refreshes), excluding the untimed checks."""
    return sum(s["end_s"] - s["start_s"] for s in result["spans"]
               if s["unit"] == unit and s["parent"] < 0)


def end_to_end(result, source_bytes):
    """The end-to-end metrics over the run's untraced units.

    source_bytes[k] is the size of source file k: the base, then one
    file per CDC increment. A cycle lands the last of its files."""
    units = [u for u in result["units"] if not u["traced"]]
    cycles = [c for u in units for c in u["cycles"]]
    serves = [s["seconds"] for c in cycles for s in c["serves"]]

    def landed(c):
        return source_bytes[c["source_files"] - 1]

    write_amp = [sum(c["bytes_written"] for c in u["cycles"]) /
                 sum(landed(c) for c in u["cycles"]) for u in units]
    space_amp = [u["cycles"][-1]["zone_bytes"] /
                 sum(source_bytes[:u["cycles"][-1]["source_files"]]) for u in units]
    return {
        "setup_s": (result["setup"]["setup_s"], "s"),
        "wall_s": (median([unit_wall(result, u["unit"]) for u in units]), "s"),
        "cycle_p50_s": (median([c["seconds"] for c in cycles]), "s"),
        "rows_per_s": (median([c["ingested"] / c["seconds"] for c in cycles]), "rows/s"),
        "serve_p50_s": (median(serves), "s"),
        "serve_p95_s": (p95(serves), "s"),
        "write_amp": (median(write_amp), "ratio"),
        "space_amp": (median(space_amp), "ratio"),
        "cache_peak_mb": (result["cache_peak_bytes"] / MB, "MB"),
    }


LAYER_COUNTERS = {
    "raw": ["jobs", "task_s", "core_util", "shuffle_write_mb", "written_mb"],
    "staging": ["jobs", "task_s", "core_util", "shuffle_write_mb", "spill_mb", "written_mb"],
    "curated": ["jobs"],
    "serve": ["jobs"],
}
CURATED = ["dim_date", "dim_store", "dim_product", "fact_sales"]
CATALOG_COUNTERS = ["jobs", "stages", "tasks", "task_s", "core_util", "gc_s",
                    "shuffle_write_mb", "spill_mb"]
# the query families (the first word after the query number) of the
# catalog workload's sample, every 10th query
CATALOG_FAMILIES = ["ann", "corpus", "diag", "docs", "emb", "events", "merge", "multimodal",
                    "pipeline", "scd2", "skew", "tpch", "value", "word"]


def family(query):
    return query.split("_")[1]


def per_layer_names():
    """Every per-layer metric a traced run reports, with its unit."""
    names = [("session.start_s", "s"), ("session.warmup_s", "s"), ("session.base_load_s", "s"),
             ("cycle.wall_s", "s"), ("cycle.self_s", "s"), ("cycle.jobs", "count")]
    for layer, counters in LAYER_COUNTERS.items():
        names += [(f"{layer}.wall_s", "s"), (f"{layer}.self_s", "s")]
        names += [(f"{layer}.{c}", _unit(c)) for c in counters]
    names += [("raw.files_written", "count"), ("raw.rows_in", "rows"),
              ("raw.rows_out", "rows"), ("raw.useful_write_ratio", "ratio"),
              ("staging.rows_in", "rows"), ("staging.rows_out", "rows")]
    for t in CURATED:
        names += [(f"curated.{t}.{m}", _unit(m)) for m in
                  ("wall_s", "jobs", "shuffle_write_mb", "written_mb", "rows_out")]
    names += [("curated.dim_store.rows_per_tuple", "ratio"),
              ("curated.dim_product.rows_per_tuple", "ratio"),
              ("curated.dim_product.rows_per_tuple_last", "ratio")]
    for q in SERVE:
        names += [(f"serve.{q}.{m}", _unit(m)) for m in
                  ("wall_s", "jobs", "shuffle_write_mb", "broadcasts")]
    names += [("catalog.wall_s", "s"), ("catalog.self_s", "s")]
    names += [(f"catalog.{c}", _unit(c)) for c in CATALOG_COUNTERS]
    names += [("catalog.jobs_per_query_p50", "count")]
    for f in CATALOG_FAMILIES:
        names += [(f"catalog.{f}.wall_s", "s"), (f"catalog.{f}.jobs", "count")]
    names += [("trace.overhead_s", "s")]
    return names


def _unit(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric == "core_util":
        return "ratio"
    if metric.startswith("rows_"):
        return "rows"
    return "count"


def _layer(span, cores):
    c = span["counters"]
    wall = span["end_s"] - span["start_s"]
    return {
        "wall_s": wall, "self_s": span["self_s"], "jobs": c["jobs"], "stages": c["stages"],
        "tasks": c["tasks"], "gc_s": c["gc_s"],
        "task_s": c["task_s"], "core_util": c["task_s"] / (wall * cores) if wall > 0 else 0.0,
        "shuffle_write_mb": c["shuffle_write_bytes"] / MB, "spill_mb": c["spill_bytes"] / MB,
        "written_mb": c["bytes_written"] / MB, "rows_out": c["records_written"],
    }


def traced_cycles(result):
    """One dict of per-layer values per traced cycle."""
    cores = result["env"]["cores"]
    spans = {s["id"]: s for s in result["spans"]}
    kids = {}
    for s in result["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for u in (u for u in result["units"] if u["traced"]):
        for c in u["cycles"]:
            if "traced_counts" not in c:
                continue
            cyc = spans[c["span"]]
            layer = {s["name"]: s for s in kids.get(cyc["id"], [])}
            for name in ("curated", "serve"):
                layer.update({s["name"]: s for s in kids.get(layer[name]["id"], [])})
            v = {}
            for name in ["cycle"] + list(LAYER_COUNTERS):
                vals = _layer(cyc if name == "cycle" else layer[name], cores)
                v[f"{name}.wall_s"] = vals["wall_s"]
                v[f"{name}.self_s"] = vals["self_s"]
                for k in LAYER_COUNTERS.get(name, []):
                    v[f"{name}.{k}"] = vals[k]
            v["cycle.jobs"] = cyc["counters"]["jobs"]
            tc, check = c["traced_counts"], c["check"]
            v.update({"raw.files_written": tc["raw_files"], "raw.rows_in": c["ingested"],
                      "raw.rows_out": tc["raw_rows"],
                      "raw.useful_write_ratio": c["ingested"] / tc["raw_rows"],
                      "staging.rows_in": tc["raw_rows"], "staging.rows_out": check["staged_rows"]})
            for t in CURATED:
                vals = _layer(layer[f"curated.{t}"], cores)
                for m in ("wall_s", "jobs", "shuffle_write_mb", "written_mb", "rows_out"):
                    v[f"curated.{t}.{m}"] = vals[m]
            v["curated.dim_store.rows_per_tuple"] = \
                v["curated.dim_store.rows_out"] / tc["store_tuples"]
            v["curated.dim_product.rows_per_tuple"] = \
                v["curated.dim_product.rows_out"] / tc["product_tuples"]
            # every execution of a dashboard query in this cycle, refreshes included
            for q in SERVE:
                runs = [(spans[s["span"]], s) for s in c["serves"] if s["name"] == q]
                for m in ("wall_s", "jobs", "shuffle_write_mb"):
                    v[f"serve.{q}.{m}"] = median([_layer(sp, cores)[m] for sp, _ in runs])
                v[f"serve.{q}.broadcasts"] = median([s["broadcasts"] for _, s in runs])
            out.append({"unit": u["unit"], "cycle": c["cycle"], "values": v})
    return out


def catalog_passes(result):
    """One dict of catalog-layer values per traced pass."""
    cores = result["env"]["cores"]
    spans = {s["id"]: s for s in result["spans"]}
    out = []
    for u in (u for u in result["units"] if u["traced"]):
        for c in u["cycles"]:
            vals = _layer(spans[c["span"]], cores)
            v = {f"catalog.{k}": vals[k] for k in ["wall_s", "self_s"] + CATALOG_COUNTERS}
            queries = [(s["name"], _layer(spans[s["span"]], cores)) for s in c["serves"]]
            unknown = {family(n) for n, _ in queries} - set(CATALOG_FAMILIES)
            if unknown:
                raise ValueError(f"catalog families missing from CATALOG_FAMILIES: {unknown}")
            v["catalog.jobs_per_query_p50"] = median([q["jobs"] for _, q in queries])
            for f in CATALOG_FAMILIES:
                mine = [q for n, q in queries if family(n) == f]
                v[f"catalog.{f}.wall_s"] = sum(q["wall_s"] for q in mine)
                v[f"catalog.{f}.jobs"] = sum(q["jobs"] for q in mine)
            out.append({"unit": u["unit"], "cycle": c["cycle"], "values": v})
    return out


def per_layer(result, catalog=False):
    """Per-layer medians over traced cycles (or catalog passes). The
    layers a workload does not run read 0."""
    rows = catalog_passes(result) if catalog else traced_cycles(result)
    names = [n for n, _ in per_layer_names()]
    m = {n: 0.0 for n in names}
    for n in names:
        vals = [r["values"][n] for r in rows if n in r["values"]]
        if vals:
            m[n] = median(vals)
    last = {}
    for r in rows:
        if "curated.dim_product.rows_per_tuple" in r["values"]:
            last[r["unit"]] = r["values"]["curated.dim_product.rows_per_tuple"]
    if last:
        m["curated.dim_product.rows_per_tuple_last"] = median(list(last.values()))
    for k in ("start_s", "warmup_s", "base_load_s"):
        m[f"session.{k}"] = result["setup"][k]
    # the first unit of a run is still warming up: compare with the later untraced ones
    traced = [unit_wall(result, u["unit"]) for u in result["units"] if u["traced"]]
    plain = [unit_wall(result, u["unit"]) for u in result["units"][1:] if not u["traced"]]
    m["trace.overhead_s"] = median(traced) - median(plain)
    units = dict(per_layer_names())
    return {n: (m[n], units[n]) for n in names}, rows
