#!/usr/bin/env python3
"""Catalog benchmark: end-to-end query latency per workload, and a traced
split of the same work into registry, construction, Catalyst, scheduler,
executor, I/O and lineage layers.

    python3 perfbench/run.py --workload loops --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 24 --trace 0

Run from the root of a checkout of the repository. The first run builds the
repository and the runner with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run starts one JVM with one
`local[nproc]` session (see src/main/scala/perfbench/Main.scala), then checks
the cold pass's outputs against each query's DuckDB oracle here. The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and the
metrics that BENCHMARK.json lists (end-to-end with `--trace 0`, per-layer
with `--trace 1`). Everything else goes to the lines before it and to
`.perfbench/results/`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
DATA = HERE / "data" / "sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Why each list was chosen is in README.md.
WORKLOADS = {
    "loops": ["q149_kcore", "q104_pagerank"],
    "oneshot": ["q01_pricing_summary", "q04_semi_join", "q09_window_topk",
                "q14_palette", "q16_blob_edges", "q72_json_roundtrip",
                "q94_corrupt_records"],
}

# Typical warm-pass wall time of each workload on a 4-core host. A run makes
# --seconds / PASS_S warm passes (at least three, four when traced), a count
# that does not depend on how fast the host happens to be: every run then
# covers the same stretch of the JVM's warm-up and yields the same number of
# latency samples.
PASS_S = {"loops": 4.8, "oneshot": 2.7}

E2E = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "failed_frac": "frac", "mem_retained_mb": "MB", "disk_left_mb": "MB",
}
LAYER = {
    "registry.lookup_ms": "ms",
    "construct.s": "s", "construct.self_s": "s", "construct.jobs": "count",
    "construct.cold_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.one_task_stage_frac": "frac",
    "scheduler.wait_s": "s", "scheduler.task_success_frac": "frac",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.slot_util": "frac",
    "io.scan_mb": "MB", "io.scan_rows": "count", "io.shuffle_write_mb": "MB",
    "io.shuffle_read_mb": "MB", "io.spill_mb": "MB", "io.output_mb": "MB",
    "io.output_rows": "count",
    "lineage.blocks_mb": "MB", "lineage.persisted_rdds": "count",
    "trace.overhead_frac": "frac",
}
# Counters compared across passes and seeds for exact repetition.
STRUCTURAL = ("jobs", "stages", "tasks", "scan_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes")

JVM_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# No hsperfdata files in the system tmp dir: a run writes only inside the
# checkout (java.io.tmpdir, Spark's local dir and Hadoop's tmp dir point
# into the run's directory).
JVM_FLAGS = ["-Xmx3g", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 165
MB = 1 << 20


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    """Digest of the sources the build reads and of the input tables."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src", DATA):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile the repository and the runner; return the runtime classpath."""
    out = STATE / "build"
    cp_file, stamp = out / "classpath.txt", out / "stamp"
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    log("building (sbt compile)")
    t0 = time.time()
    with open(out / "sbt.log", "w") as sbt_log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sbt_log,
            text=True, timeout=800)
    (out / "sbt.out").write_text(proc.stdout)
    cps = [ln for ln in proc.stdout.splitlines()
           if ln.endswith(".jar") and ":" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        raise SystemExit(f"build failed (exit {proc.returncode}); "
                         f"see {out / 'sbt.out'}")
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def fixtures_remap(oracle_sql):
    """(pinned, local) when the catalog pins fixture reads to a directory
    other than this checkout's fixtures/, else None."""
    pinned = sorted({m for sql in oracle_sql.values()
                     for m in re.findall(r"'(/[^']*?/fixtures)/", sql)})
    local = str(ROOT / "fixtures")
    return (pinned[0], local) if pinned and pinned[0] != local else None


def expected_results(classpath, digest):
    """Run every workload query's DuckDB oracle once per checkout and keep
    the results; returns the fixture remap the runs need."""
    out = STATE / "expected"
    stamp = out / "stamp"
    if stamp.is_file() and stamp.read_text() == digest:
        return json.loads((out / "remap.json").read_text())
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    names = sorted({q for qs in WORKLOADS.values() for q in qs})
    subprocess.run(["java", *JVM_FLAGS, "-cp", classpath, "perfbench.Oracles",
                    ",".join(names), str(out / "oracle_sql.json")],
                   check=True, timeout=120)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    remap = fixtures_remap(oracle)
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='4GB'")
    con.execute(f"SET temp_directory='{STATE / 'duckdb_tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA / (t + '.parquet')}')")
    t0 = time.time()
    for q in names:
        if q not in oracle:
            (out / f"{q}.err").write_text("no oracle declared")
            continue
        sql = oracle[q].replace(*remap) if remap else oracle[q]
        try:
            canon(con.execute(sql).df()).to_pickle(out / f"{q}.pkl")
        except Exception as e:  # noqa: BLE001 - reported by every check
            (out / f"{q}.err").write_text(f"oracle failed: {type(e).__name__}: {e}")
    log(f"oracle results for {len(names)} queries in {time.time() - t0:.0f} s")
    (out / "remap.json").write_text(json.dumps(remap))
    stamp.write_text(digest)
    return remap


# ---------------------------------------------------------------- run

def tree_bytes(path):
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) \
        if path.exists() else 0


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classpath, workload, seed, passes, trace, run_dir, cores, remap):
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS, *JVM_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
           "perfbench.Main", workload, ",".join(WORKLOADS[workload]),
           str(seed), str(passes), str(trace), str(DATA), str(run_dir),
           str(cores), *(remap or [])]
    with open(run_dir / "jvm.log", "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jvm_log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"runner exceeded {JVM_TIMEOUT_S} s; "
                             f"see {run_dir / 'jvm.log'}")
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not (run_dir / "record.json").is_file():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"runner failed (exit {code}):\n{tail}")
    return json.loads((run_dir / "record.json").read_text())


def canon(df):
    """Column order and timestamp unit made comparable across engines."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    cols = [df[c].astype("datetime64[us]")
            if str(df[c].dtype).startswith("datetime") else df[c]
            for c in df.columns]
    return pd.concat(cols, axis=1).reset_index(drop=True)


def check_outputs(record, run_dir):
    """Compare each cold-pass output with its oracle's expected result.

    Returns {query: None if equal, else the reason}."""
    import duckdb
    import pandas as pd
    expected = STATE / "expected"
    verdict = {}
    for sample in record["cold"]:
        q = sample["query"]
        if not sample["ok"]:
            continue  # already counted as failed by the runner
        if (expected / f"{q}.err").is_file():
            verdict[q] = (expected / f"{q}.err").read_text()
            continue
        try:
            files = sorted(str(f) for f in (run_dir / "check" / q).glob("*.parquet"))
            got = canon(duckdb.execute(
                f"SELECT * FROM read_parquet({files!r})").df())
            want = pd.read_pickle(expected / f"{q}.pkl")
        except Exception as e:  # noqa: BLE001 - recorded, counted as failed
            verdict[q] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(want.columns):
            verdict[q] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            verdict[q] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            bad = [c for c in got.columns if not got[c].equals(want[c])]
            verdict[q] = f"values differ in {bad}"
        else:
            verdict[q] = None
    return verdict


# ---------------------------------------------------------------- metrics

def tail(latencies):
    """Latency at the highest percentile with at least ten samples beyond it
    (nearest rank), that percentile, and the sample count."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1] if xs else float("nan"), 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(record, failed, attempted, disk_left):
    passes = [p for p in record["passes"] if not p["traced"]]
    lat = [s["s"] for p in passes for s in p["samples"]]
    t, pct, n = tail(lat)
    metrics = {
        "setup_s": record["setup_s"],
        "pass_s": statistics.median([p["wall_s"] for p in passes]),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": t,
        "failed_frac": failed / attempted,
        "mem_retained_mb": (record["heap_retained_bytes"]
                            + record["storage_retained_bytes"]) / MB,
        "disk_left_mb": disk_left / MB,
    }
    return metrics, {"query_tail_pct": pct, "query_samples": n,
                     "passes": len(passes)}


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    cores = record["host"]["cores"]
    rows = []
    for p in traced:
        c = {k: sum(s["counters"][k] for s in p["samples"])
             for k in p["samples"][0]["counters"]}
        construct = sum(s["construct_s"] for s in p["samples"])
        rows.append({
            "registry.lookup_ms": sum(s["lookup_ms"] for s in p["samples"]),
            "construct.s": construct,
            "construct.self_s": construct - sum(s["construct_job_s"]
                                                for s in p["samples"]),
            "construct.jobs": c["construct_jobs"],
            "catalyst.analysis_ms": c["analysis_ms"],
            "catalyst.optimization_ms": c["optimization_ms"],
            "catalyst.planning_ms": c["planning_ms"],
            "scheduler.jobs": c["jobs"],
            "scheduler.stages": c["stages"],
            "scheduler.tasks": c["tasks"],
            "scheduler.one_task_stage_frac":
                c["one_task_stages"] / max(c["stages"], 1),
            "scheduler.wait_s": c["wait_ms"] / 1e3,
            "scheduler.task_success_frac": c["tasks_ok"] / max(c["tasks"], 1),
            "executor.run_s": c["run_ms"] / 1e3,
            "executor.cpu_s": c["cpu_ns"] / 1e9,
            "executor.gc_s": c["gc_ms"] / 1e3,
            "executor.slot_util": c["run_ms"] / 1e3 / (p["wall_s"] * cores),
            "io.scan_mb": c["scan_bytes"] / MB,
            "io.scan_rows": c["scan_rows"],
            "io.shuffle_write_mb": c["shuffle_write_bytes"] / MB,
            "io.shuffle_read_mb": c["shuffle_read_bytes"] / MB,
            "io.spill_mb": c["spill_bytes"] / MB,
            "io.output_mb": c["output_bytes"] / MB,
            "io.output_rows": c["output_rows"],
            "lineage.blocks_mb": p["rdd_storage_bytes"] / MB,
            "lineage.persisted_rdds": p["persisted_rdds"],
        })
    metrics = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    metrics["construct.cold_s"] = sum(s["construct_s"] for s in record["cold"])
    metrics["trace.overhead_frac"] = (
        statistics.median([p["wall_s"] for p in traced])
        / statistics.median([p["wall_s"] for p in untraced]) - 1)
    return metrics


def query_counters(record):
    """{query: [{counter: value} per traced pass]}"""
    out = {}
    for p in record["passes"]:
        if p["traced"]:
            for s in p["samples"]:
                out.setdefault(s["query"], []).append(
                    {k: s["counters"][k] for k in STRUCTURAL})
    return out


def repeat_report(runs):
    """Split (query, counter) pairs into those equal in every run and those
    that vary, with their range."""
    exact, varies = [], {}
    for q in sorted(runs[0]):
        for k in STRUCTURAL:
            vals = [r[k] for run in runs for r in run.get(q, [])]
            if len(set(vals)) <= 1:
                exact.append(f"{q}.{k}")
            else:
                varies[f"{q}.{k}"] = [min(vals), max(vals)]
    return {"exact": exact, "varies": varies}


def stability(workload, seed, counters):
    """Counters across this run's traced passes, and across seeds against
    the latest traced record of this workload with another seed."""
    recs = STATE / "records"
    recs.mkdir(parents=True, exist_ok=True)
    mine = recs / f"{workload}-trace-seed{seed}.json"
    others = sorted((p for p in recs.glob(f"{workload}-trace-seed*.json")
                     if p != mine), key=lambda p: p.stat().st_mtime)
    mine.write_text(json.dumps(counters))
    report = {"within_run": repeat_report([counters])}
    if others:
        other = json.loads(others[-1].read_text())
        other_seed = others[-1].stem.rsplit("seed", 1)[1]
        report["across_seeds"] = {"seeds": [seed, int(other_seed)],
                                  **repeat_report([counters, other])}
    return report


def host_context(record, digest):
    loads = [x for p in record["passes"]
             for x in (p["load_before"], p["load_after"])]
    commit = None
    if (ROOT / ".git").exists():  # else git would name an enclosing repo
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    host = dict(record["host"])
    host.update({
        "git_commit": commit, "source_digest": digest,
        "load_per_pass": [[p["load_before"], p["load_after"]]
                          for p in record["passes"]],
        "overloaded": any(x > host["cores"] for x in loads),
    })
    return host


# ---------------------------------------------------------------- main

def gated(kind):
    """Names of the metrics BENCHMARK.json lists under `kind`, in its order."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec[kind]]


def run_one(args):
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"{ROOT} is not a checkout of the repository")
    if not all((DATA / f"{t}.parquet").is_file() for t in TABLES):
        raise SystemExit(f"input tables missing under {DATA}")
    digest = source_digest()
    classpath = build(digest)
    remap = expected_results(classpath, digest)
    cores = len(os.sched_getaffinity(0))
    run_dir = STATE / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    steal0, total0 = cpu_times()
    passes = max(4 if args.trace else 3,
                 round(args.seconds / PASS_S[args.workload]))
    record = run_jvm(classpath, args.workload, args.seed, passes,
                     args.trace, run_dir, cores, remap)
    steal1, total1 = cpu_times()
    record["host"]["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
    disk_left = tree_bytes(run_dir / "tmp") + tree_bytes(run_dir / "local")
    verdict = check_outputs(record, run_dir)

    runs = [record["cold"]] + [p["samples"] for p in record["passes"]]
    attempted = sum(len(r) for r in runs)
    errors = sum(not s["ok"] for r in runs for s in r)
    mismatched = {q: why for q, why in verdict.items() if why}
    failed = errors + len(mismatched)
    e2e, tail_info = end_to_end(record, failed, attempted, disk_left)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": record["queries"], "host": host_context(record, digest),
        "end_to_end": {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()},
        **tail_info,
        "check": {q: why or "ok" for q, why in verdict.items()},
        "errors": record["errors"],
    }
    if args.trace:
        layers = per_layer(record)
        result["per_layer"] = {k: {"value": layers[k], "unit": LAYER[k]}
                               for k in LAYER}
        result["counter_repeat"] = stability(args.workload, args.seed,
                                             query_counters(record))

    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{stem}.json").write_text(json.dumps(result, indent=1))
    shutil.copy(run_dir / "record.json", results / f"{stem}.record.json")
    if args.trace:
        shutil.copy(run_dir / "spans.jsonl", results / f"{stem}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)

    h = result["host"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cores {h['cores']}/{h['nproc']}  steal {h['steal_frac']:.3f}  "
          f"overloaded {h['overloaded']}")
    print(f"  query_tail_s is p{tail_info['query_tail_pct']:.1f} of "
          f"{tail_info['query_samples']} samples over "
          f"{tail_info['passes']} warm passes")
    shown = dict(result["end_to_end"], **result.get("per_layer", {}))
    for name, m in shown.items():
        print(f"  {name:32s} {m['value']:14.6g} {m['unit']}")
    for q, why in mismatched.items():
        print(f"  CHECK FAILED {q}: {why}")
    for e in record["errors"]:
        print(f"  ERROR {e['query']} pass {e['pass']}: "
              + " <- ".join(e["cause_chain"]))
    print(f"  full record: {results / (stem + '.json')}")

    kind = "per_layer" if args.trace else "end_to_end"
    values = result[kind]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: values[k] for k in gated(kind)}}


def run_all(args):
    """Every workload in turn, each in its own process, as run alone."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        proc = subprocess.Popen(
            [sys.executable, __file__, "--workload", w, "--seed",
             str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate()
        finally:  # let the child stop its own JVM
            if proc.poll() is None:
                proc.terminate()
                proc.wait()
        lines = stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"workload {w} failed (exit {proc.returncode})")
        one = json.loads(lines[-1])
        total["correct"] &= one["correct"]
        total["attempted"] += one["attempted"]
        total["failed"] += one["failed"]
        for k, v in one["metrics"].items():
            total["metrics"][f"{w}.{k}"] = v
    return total


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
