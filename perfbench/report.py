"""Pure functions of the benchmark: statistics, the metric schema, the
DuckDB oracle compare, and the assembly of one run's result from the JSON
document the JVM side writes. No I/O beyond what each function names.
"""
import hashlib
import json
import os
import re
import statistics

WORKLOADS = ("bulk_extract", "scan_ocr")

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------- statistics

def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def regressed(parent, child, better, bound):
    """True when `child` is worse than `parent` by more than `bound` of it."""
    if better == "lower":
        return child > parent * (1 + bound)
    return child < parent * (1 - bound)


def summary(values):
    q1, q2, q3 = quartiles(values)
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


# ------------------------------------------------------------------- schema

def validate_benchmark(spec):
    """Raises ValueError on the first way `spec` breaks the metric schema."""
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        raise ValueError(f"keys {sorted(spec)} != {sorted(keys)}")
    names = set()

    def name(n):
        if not isinstance(n, str) or not NAME_RE.match(n) or n in names:
            raise ValueError(f"bad or repeated name: {n!r}")
        names.add(n)

    if not (1 <= len(spec["paths"]) <= 16):
        raise ValueError("paths: 1 to 16")
    for p in spec["paths"]:
        if p.startswith("/") or ".." in p.split("/") or not re.match(r"^[A-Za-z0-9_./-]{1,200}$", p):
            raise ValueError(f"bad path {p!r}")
    if not (1 <= len(spec["command"]) <= 32) or any(len(c) > 200 for c in spec["command"]):
        raise ValueError("command: 1 to 32 strings of at most 200 characters")
    if not (isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60):
        raise ValueError("run_seconds: whole number 1..60")
    if not (2 <= len(spec["workloads"]) <= 8):
        raise ValueError("workloads: 2 to 8")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200 or "\n" in w["why"]:
            raise ValueError(f"bad workload {w}")
        name(w["name"])
    if not (1 <= len(spec["end_to_end"]) <= 16):
        raise ValueError("end_to_end: 1 to 16")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"}:
            raise ValueError(f"bad end-to-end metric {m}")
        if not (0 < m["bound"] <= 0.25):
            raise ValueError(f"bound of {m['name']} outside (0, 0.25]")
    if not (1 <= len(spec["per_layer"]) <= 128):
        raise ValueError("per_layer: 1 to 128")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            raise ValueError(f"bad per-layer metric {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        name(m["name"])
        if not UNIT_RE.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            raise ValueError(f"bad unit or direction in {m}")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("setup_s (unit s, lower) is required")
    if setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        raise ValueError("setup_s must carry the largest bound")
    if len(json.dumps(spec)) > 65536:
        raise ValueError("BENCHMARK.json over 64 KiB")


# ------------------------------------------------------------ oracle compare

def canon(df):
    """Same canonical form as tools/check_oracles.py: sorted columns, sorted rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_hash(df):
    return hashlib.sha256(df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()


def compare(spark_df, oracle_df):
    """(ok, detail): rows, schema and content hash must all agree."""
    s, o = canon(spark_df), canon(oracle_df)
    rows = len(s) == len(o)
    schema = list(s.columns) == list(o.columns) and all(
        str(a) == str(b) for a, b in zip(s.dtypes, o.dtypes))
    same = rows and frame_hash(s) == frame_hash(o)
    return rows and schema and same, f"rows={len(s)}/{len(o)} schema={schema} hash={same}"


def oracle_compare(con, sql, output_dir):
    """(ok, detail) for one Spark output directory against its DuckDB oracle
    on connection `con`; a query that cannot be checked has failed."""
    import pandas as pd
    try:
        files = sorted(os.path.join(output_dir, f)
                       for f in os.listdir(output_dir) if f.endswith(".parquet"))
        return compare(pd.concat([pd.read_parquet(f) for f in files]), con.execute(sql).df())
    except Exception as e:
        return False, f"{type(e).__name__}: {e}"


def documents_db(documents_dir):
    import duckdb
    con = duckdb.connect()
    docs = os.path.join(documents_dir, "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return con


def oracle_checks(oracle):
    """Runs every DuckDB oracle over the gate's documents table, four at a
    time, and compares each with the Spark output the JVM side wrote."""
    from concurrent.futures import ThreadPoolExecutor
    con = documents_db(oracle["documents"])
    queries = sorted(oracle["sql"])
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(
            lambda q: oracle_compare(con.cursor(), oracle["sql"][q], oracle["outputs"][q]),
            queries))
    return [{"name": f"dedup_curate.{q}.oracle", "attempted": 1, "failed": 0 if ok else 1,
             "detail": detail} for q, (ok, detail) in zip(queries, results)]


# ----------------------------------------------------------------- metrics

# Seconds the reference work (`Calibration.refS` on the JVM side) takes on
# the 4-core box the benchmark was defined on, when that box is calm. A
# time "at reference speed" is a measured time scaled by REF_NOMINAL_S over
# the reference's own time, measured next to it in the same run.
REF_NOMINAL_S = 0.15


def round_seconds(r):
    """One set-up round: writing the documents table, synthesizing the
    input and one untimed pass."""
    return r["documents_s"] + r["synthesis_s"] + r["warmup_s"]


def at_ref(seconds, ref_s):
    """`seconds`, measured while the reference took `ref_s`, at reference speed."""
    return seconds * REF_NOMINAL_S / ref_s


def setup_seconds(doc):
    """Median over the run's warm set-up rounds of one round's seconds, at
    reference speed."""
    return median([at_ref(round_seconds(r), r["ref_s"]) for r in doc["setup_rounds"]])


def end_to_end(doc):
    """Every end-to-end metric of BENCHMARK.json, from an untraced run: the
    medians over the timed passes of pass seconds and of `Extract.run`
    docs/s, and set-up seconds, each at reference speed."""
    s = doc["samples"]
    return {
        "setup_s": setup_seconds(doc),
        "pass_s": median([at_ref(p, r) for p, r in zip(s["pass_s"], s["ref_s"])]),
        "docs_per_s": median([d / at_ref(1.0, r)
                              for d, r in zip(s["extract_docs_per_s"], s["ref_s"])]),
    }


def wall_figures(doc):
    """The end-to-end figures as measured, before scaling to reference speed."""
    s = doc["samples"]
    return {
        "e2e.pass_wall_s": median(s["pass_s"]),
        "e2e.setup_wall_s": median([round_seconds(r) for r in doc["setup_rounds"]]),
        "e2e.ref_s": median(s["ref_s"]),
    }


# Untraced figures the traced run also reports, so that one traced run
# shows the workload-specific numbers next to its layers.
WORKLOAD_FIGURES = {
    "e2e.extract_docs_per_s": "extract_docs_per_s",
    "e2e.narrow_docs_per_s": "narrow_docs_per_s",
}

BULK_ONLY = ("pipeline.Kernel.", "text.", "html.", "pdf.", "pipeline.Checkpoint.", "io.TableIO.",
             "io.bytes_written_mb", "e2e.scale_eff", "e2e.commit_docs_per_s",
             "e2e.resume_noop_s", "e2e.resume_drift_s")
SCAN_ONLY = ("ops.", "e2e.dedup_set_s", "e2e.curate_s")


def emitted_by(name):
    """The workload whose traced run emits per-layer metric `name`, or
    None when both do."""
    if name.startswith(BULK_ONLY):
        return "bulk_extract"
    if name.startswith(SCAN_ONLY):
        return "scan_ocr"
    return None


def per_layer(doc, names):
    """Every per-layer metric in `names`. A layer only the other workload
    exercises reads 0; a layer this workload should emit and did not, or a
    name the JVM side emits outside `names`, is an error."""
    layers = {k: median(v) for k, v in doc["layers"].items()}
    unknown = set(layers) - set(names)
    if unknown:
        raise ValueError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    for k, src in WORKLOAD_FIGURES.items():
        if src in doc["samples"]:
            layers[k] = median(doc["samples"][src])
    untraced = median(doc["samples"]["pass_s"])
    traced = median(doc["samples"]["traced_pass_s"])
    layers["trace.overhead_s"] = traced - untraced
    layers["trace.overhead_frac"] = (traced - untraced) / untraced
    layers["e2e.heap_peak_mb"] = doc["heap_peak_mb"]
    layers["e2e.session_s"] = doc["session_s"]
    layers["e2e.cold_setup_s"] = round_seconds(doc["cold_setup"])
    layers.update(wall_figures(doc))
    missing = [n for n in names if n not in layers and emitted_by(n) in (None, doc["workload"])]
    if missing:
        raise ValueError(f"{doc['workload']} emitted no value for: {missing}")
    return {n: layers.get(n, 0.0) for n in names}


def workload_figures(doc):
    """Median, quartiles and sample count of every timed sample series."""
    return {k: summary(v) for k, v in doc["samples"].items()}
