#!/usr/bin/env python3
"""graft end-to-end benchmark: seeded, closed-loop, single-client
workloads on the library's public entry points.

  python3 perfbench/run.py --workload etl_zstd --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --smoke                  # every workload, tiny input
  python3 perfbench/run.py compare A.json B.json    # diff two saved results

Run from the repository root. Each run builds the library if its sources
changed (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs perfbench.Main in one JVM pinned to `nproc`
cores and an explicit heap, checks every output (DuckDB oracle for the
queries, read-back for the ETL sink), and prints the metrics, one per
line with its unit, then one JSON object as the last line. `--trace 0`
reports the end-to-end metrics; `--trace 1` the per-layer ones. Each
result, stamped with host shape, seed and input fingerprint, is also
saved under .bench_build/results/. See perfbench/README.md.
"""
import argparse
import decimal
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 165
# set-ups per run; setup_s is their median. The first runs in a cold JVM
# (class loading, JIT), the others in a warm one, and all of them warm the
# JIT for the timed section.
SETUP_REPS = 3

# input sizes: `star_sf` is the star-schema scale factor (sf 1 = 6M
# lineitem rows), `taxi_rows` the ETL input
WORKLOADS = {
    "etl_zstd": {"taxi_rows": 200_000},
    "query_mix": {"star_sf": 0.002},
}
# smoke mode: the generator's floor sizes
SMOKE = {"etl_zstd": {"taxi_rows": 20_000}, "query_mix": {"star_sf": 0.0}}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "rows_per_s": "1/s", "ops_ok_ratio": "ratio", "heap_peak_mb": "MB",
}
PER_LAYER = {
    "session.create_s": "s", "session.warmup_s": "s", "queries.setup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count", "plans.graft_rules_s": "s",
    "plans.graft_rules_hit_ratio": "ratio", "codegen.compiles": "count",
    "codegen.compile_s": "s", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.task_wait_s": "s", "scheduler.gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_ratio": "ratio", "executor.stage_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "cache.stored_mb_peak": "MB", "scan.input_mb": "MB", "scan.rows": "count",
    "scan.tasks": "count", "sink.output_mb": "MB", "sink.files": "count",
    "sink.s": "s", "sink.bytes_per_row": "B", "tripmetrics.noop_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.state_rows": "count", "jvm.gc_s": "s",
    "self.queries_s": "s", "self.catalyst_s": "s", "self.codegen_s": "s",
    "self.executor_cpu_s": "s", "self.executor_gc_s": "s",
    "self.shuffle_wait_s": "s", "self.executor_other_s": "s",
    "self.stage_idle_s": "s", "trace.overhead_ratio": "ratio",
}
# the self times that partition each operation's wall (README.md)
SELF_LAYERS = ["self.queries_s", "self.catalyst_s", "self.codegen_s",
               "self.executor_cpu_s", "self.executor_gc_s",
               "self.shuffle_wait_s", "self.executor_other_s",
               "self.stage_idle_s", "scheduler.gap_s"]

def log(msg):
    print(msg, flush=True)


# ---- inputs ---------------------------------------------------------------

def make_inputs(work, seed, sizes):
    """Generate the run's inputs into `work`; returns the number of input
    rows an operation reads (the stated input size)."""
    expected = [0] * 4
    if "star_sf" in sizes:
        rows = sum(gen.write_star(os.path.join(work, "star"), sizes["star_sf"],
                                  seed).values())
    else:
        taxi = gen.write_taxi(os.path.join(work, "taxi"),
                              sizes["taxi_rows"], seed)
        expected = [taxi[k] for k in ("rows_out", "duration_s_sum",
                                      "airport_trips", "peak_trips")]
        rows = taxi["rows_in"]
    with open(os.path.join(work, "etl_expected.txt"), "w") as fh:
        fh.write(" ".join(map(str, expected)) + "\n")
    return rows


def input_fingerprint(work):
    """content fingerprint of the measured inputs: per file its size, row
    count and footer schema (no mtimes)"""
    import pyarrow.parquet as pq
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(work, "star", "*.parquet"))
                   + glob.glob(os.path.join(work, "taxi", "*.parquet")))
    for f in files:
        md = pq.ParquetFile(f)
        h.update(f"{os.path.relpath(f, work)}|{os.path.getsize(f)}|"
                 f"{md.metadata.num_rows}|{md.schema_arrow}\n".encode())
    return h.hexdigest()[:12]


# ---- output checks ----------------------------------------------------------

def canon(v):
    """type-tolerant rendering of one value: numbers to 12 significant
    digits (both engines sum in exact decimals; this only absorbs
    last-ulp rendering), anything else as its string"""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return format(float(v), ".12g")
    return str(v)


def fingerprint(con, sql):
    """(row count, sum of per-row hashes mod 2^64), columns taken in name
    order so both engines' column orders agree"""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n, acc = 0, 0
    for row in cur.fetchall():
        key = json.dumps([canon(row[i]) for i in order], sort_keys=True)
        acc = (acc + int.from_bytes(
            hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")) % 2**64
        n += 1
    return n, acc


def check_queries(work, names, oracle):
    """name -> error text for each query whose check-pass result is
    missing, empty (no oracle) or differs from the DuckDB oracle"""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(work, "star", "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    errors = {}
    for name in names:
        files = glob.glob(os.path.join(work, "check", name, "**", "*.parquet"),
                          recursive=True)
        if not files:
            errors[name] = "no check output"
            continue
        got = fingerprint(con, f"SELECT * FROM read_parquet({files!r}, "
                               "hive_partitioning = false)")
        if name in oracle:
            want = fingerprint(con, oracle[name])
            if got != want:
                errors[name] = f"fingerprint {got} != oracle {want}"
        elif got[0] == 0:
            errors[name] = "empty result"
    return errors


# ---- statistics --------------------------------------------------------------

def tail(values):
    """highest percentile with at least ten samples beyond it: the
    (n-10)-th of n sorted samples. Below forty samples that percentile
    would sit under p75, so the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    k = n - 10 if n >= 40 else n
    return xs[k - 1], round(100.0 * k / n, 1), n


# ---- one run ------------------------------------------------------------------

def run_jvm(classes, workload, seed, seconds, trace, work, setup_reps):
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss16m",
            "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={cpus}",
            # C1 only: in a run this short, C2's compiler threads compete
            # with the task threads and its tier-up lands at a different
            # point in every run; C1 code is steady after the warm-up
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
           + build.add_opens()
           + [f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", f"{classes}:{build.classpath()}", "perfbench.Main",
              workload, str(seed), str(seconds), str(trace), work,
              str(setup_reps)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        res = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, timeout=JVM_TIMEOUT_S)
    if res.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"benchmark JVM exited with {res.returncode}")
    with open(os.path.join(work, "jvm.json")) as fh:
        return json.load(fh), cpus


def run(workload, seed, seconds, trace, smoke=False):
    """one measured run; returns the result record (metrics + stamp)"""
    classes = build.build(BUILD_DIR)
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sizes = (SMOKE if smoke else WORKLOADS)[workload]
    input_rows = make_inputs(work, seed, sizes)
    jvm, cpus = run_jvm(classes, workload, seed, seconds, trace, work,
                        1 if smoke else SETUP_REPS)

    names = sorted({s["name"] for s in jvm["samples"]})
    bad = dict(jvm["check_errors"])
    if workload != "etl_zstd":
        bad.update(check_queries(work, [n for n in names if n not in bad],
                                 jvm["oracle"]))
    samples = jvm["samples"]
    attempted = len(samples)
    failed = sum(1 for s in samples if s["error"] or s["name"] in bad)
    errors = {s["name"]: s["error"] for s in samples if s["error"]}
    errors.update(bad)

    def op_median(traced):
        """median over operations of each operation's median latency:
        every pass runs each operation once, so this is the pooled median
        without its jump between two operations' latencies"""
        by_op = {}
        for s in samples:
            if s["traced"] == traced:
                by_op.setdefault(s["name"], []).append(s["wall_s"])
        return statistics.median(statistics.median(v) for v in by_op.values())

    walls = [s["wall_s"] for s in samples if not s["traced"]]
    pass_walls = [p["wall_s"] for p in jvm["passes"] if not p["traced"]]
    p50 = op_median(False)
    tail_v, tail_p, tail_n = tail(walls)
    setups = jvm["setups"]
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "wall_s": statistics.median(pass_walls),
        "op_p50_s": p50,
        "op_tail_s": tail_v,
        "rows_per_s": input_rows / p50,
        "ops_ok_ratio": (attempted - failed) / attempted,
        "heap_peak_mb": jvm["heap_peak_mb"],
    }
    layers = {}
    if jvm["layers"]:
        for k in jvm["layers"][0]:
            layers[k] = statistics.median(p[k] for p in jvm["layers"])
        layers["trace.overhead_ratio"] = op_median(True) / p50
        layers["session.create_s"] = statistics.median(s["create_s"] for s in setups)
        layers["session.warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
        layers["queries.setup_s"] = statistics.median(
            s["queries_setup_s"] for s in setups)
        # per traced pass, the self times must sum to the wall
        layers["self.remainder_s"] = min(
            p["self.wall_s"] - sum(p[k] for k in SELF_LAYERS)
            for p in jvm["layers"])

    stamp = {"workload": workload, "seed": seed, "nproc": cpus,
             "heap_mb": jvm["heap_max_mb"], "input_fingerprint":
             input_fingerprint(work), "input_rows": input_rows,
             "smoke": smoke}
    record = {"stamp": stamp, "end_to_end": e2e, "per_layer": layers,
              "op_tail": {"percentile": tail_p, "samples": tail_n},
              "sentinel_s": jvm["sentinel_s"], "errors": errors,
              "attempted": attempted, "failed": failed,
              "etl_readback": jvm["etl_readback"], "setups": setups,
              "samples": samples}
    return record


def report(record, trace, smoke=False):
    st = record["stamp"]
    log(f"# {st['workload']} seed={st['seed']} nproc={st['nproc']} "
        f"heap={st['heap_mb']}MB input={st['input_fingerprint']} "
        f"({st['input_rows']} input rows)")
    log(f"# sentinel before/after: {record['sentinel_s'][0]:.3f} s / "
        f"{record['sentinel_s'][1]:.3f} s")
    for name, err in sorted(record["errors"].items()):
        log(f"# FAILED {name}: {err}")
    shown = {}
    if not trace or smoke:
        for k, unit in END_TO_END.items():
            v = record["end_to_end"][k]
            extra = ""
            if k == "op_tail_s":
                t = record["op_tail"]
                extra = f"  (p{t['percentile']} of {t['samples']} ops)"
            if k == "rows_per_s":
                extra = f"  ({st['input_rows']} input rows per op)"
            log(f"{k} = {v:.6g} {unit}{extra}")
            shown[k] = {"value": v, "unit": unit}
    if trace or smoke:
        layers = record["per_layer"]
        for k, unit in PER_LAYER.items():
            log(f"{k} = {layers[k]:.6g} {unit}")
            shown[k] = {"value": layers[k], "unit": unit}
        wall = layers["self.wall_s"]
        parts = sorted(((layers[k], k) for k in SELF_LAYERS), reverse=True)
        log(f"# self time per pass ({wall:.3f} s): " + ", ".join(
            f"{k} {v:.3f} s ({100 * v / wall:.0f}%)" for v, k in parts)
            + f"; remainder {layers['self.remainder_s']:.3f} s")
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    path = os.path.join(BUILD_DIR, "results",
                        f"{st['workload']}-seed{st['seed']}-trace{int(trace)}"
                        f"{'-smoke' if smoke else ''}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return {"correct": record["failed"] == 0 and not record["errors"],
            "attempted": record["attempted"], "failed": record["failed"],
            "metrics": shown}


def compare(a_path, b_path):
    """diff two saved results; refuses when their stamps differ"""
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    sa, sb = a["stamp"], b["stamp"]
    if sa != sb:
        diff = {k: (sa.get(k), sb.get(k)) for k in set(sa) | set(sb)
                if sa.get(k) != sb.get(k)}
        sys.exit(f"refusing to compare: stamps differ {diff}")
    for section in ("end_to_end", "per_layer"):
        for k in sorted(set(a[section]) & set(b[section])):
            x, y = a[section][k], b[section][k]
            ratio = f"{y / x:.3f}x" if x else "n/a"
            log(f"{k}: {x:.6g} -> {y:.6g} ({ratio})")


def main(argv):
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            sys.exit("usage: run.py compare A.json B.json")
        return compare(argv[1], argv[2])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="each workload once on tiny inputs, every metric")
    args = ap.parse_args(argv)
    if args.smoke:
        names = [args.workload] if args.workload else list(WORKLOADS)
        out = {w: report(run(w, args.seed, 1, 1, smoke=True), 1, smoke=True)
               for w in names}
        print(json.dumps({
            "correct": all(o["correct"] for o in out.values()),
            "attempted": sum(o["attempted"] for o in out.values()),
            "failed": sum(o["failed"] for o in out.values()),
            "metrics": {f"{w}.{k}": v for w, o in out.items()
                        for k, v in o["metrics"].items()}}))
        return
    if not args.workload:
        ap.error("--workload is required")
    result = report(run(args.workload, args.seed, args.seconds, args.trace),
                    args.trace)
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:])
