#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source and generates the input tables on first use (see build.py), runs
one workload in one JVM on local[N] (N = usable cores), checks every output
the run produced, and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it stamps the run (cores, Spark version, source revision,
calibration probe, ERROR log lines, workload shape).

Workloads and their sizes live in perfbench/workloads.json."""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import benchlib  # noqa: E402
import build  # noqa: E402

HARNESS_TIMEOUT_S = 150


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def usable_cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def harness_params(spec):
    """Workload spec → the harness's --param list."""
    params = {k: v for k, v in spec.items()
              if k not in ("notes", "cores")}
    if "queries" in params:
        params["queries"] = ",".join(params["queries"])
    out = []
    for k, v in sorted(params.items()):
        out += ["--param", f"{k}={v}"]
    return out


def run_harness(classes, data, work, args, spec, cores):
    cmd = ["java"] + build.JAVA_OPENS + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
        "-cp", build.classpath(classes), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--cores", str(cores),
    ] + harness_params(spec)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise RuntimeError(f"harness timed out after {HARNESS_TIMEOUT_S}s")
    with open(log, errors="replace") as f:
        text = f.read()
    if rc != 0:
        raise RuntimeError(f"harness exit {rc}:\n{text[-4000:]}")
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    raw["error_lines"] = len(re.findall(r"^\S+ \S+ ERROR ", text, re.M))
    return raw


def oracle_expected(data, name, sql):
    """DuckDB result of the query's oracle SQL over the same input tables,
    cached as an arrow file next to the data (the inputs are fixed)."""
    import duckdb
    import pyarrow as pa
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = os.path.join(os.path.dirname(data), "oracle", f"{name}-{digest}.arrow")
    if not os.path.exists(cache):
        con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
        table = con.sql(sql).arrow()
        if isinstance(table, pa.RecordBatchReader):
            table = table.read_all()
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with pa.OSFile(cache + ".tmp", "wb") as sink:
            with pa.ipc.new_file(sink, table.schema) as w:
                w.write_table(table)
        os.rename(cache + ".tmp", cache)
    with pa.memory_map(cache) as src:
        return pa.ipc.open_file(src).read_all()


def check_outputs(raw, data, work):
    """Checks every output the run kept. Returns (checks, mismatches)."""
    kind = raw["params_kind"]
    problems = []
    checks = 0
    if kind == "batch":
        import pyarrow.dataset as ds
        for name in raw["info"]["order"]:
            checks += 1
            sql = raw["info"]["oracle_sql"].get(name)
            try:
                if not sql:
                    raise RuntimeError("no oracle SQL")
                got = ds.dataset(os.path.join(work, "check", name),
                                 format="parquet").to_table()
                ok, msg = benchlib.compare_tables(got, oracle_expected(data, name, sql))
            except Exception as e:  # an unreadable output is a wrong output
                ok, msg = False, repr(e)
            if not ok:
                problems.append(f"{name}: {msg}")
    elif kind == "backfill":
        expected = benchlib.read_tsv(os.path.join(work, "check", "backfill_expected.tsv"))
        for r in raw["reps"]:
            checks += 1
            sink = benchlib.read_tsv(os.path.join(work, "check", f"backfill_rep{r['index']}.tsv"))
            errs = benchlib.check_windows(sink, expected, r["layers"]["watermark_ms"])
            if not sink:
                errs.append("no window emitted")
            if errs:
                problems.append(f"rep {r['index']}: {len(errs)} errors, e.g. {errs[:3]}")
    elif kind == "live":
        for r in raw["reps"]:
            checks += 1
            base = os.path.join(work, "check", f"live_rep{r['index']}")
            errs = benchlib.check_first_per_key(benchlib.read_tsv(base + "_sink.tsv"),
                                                benchlib.read_tsv(base + "_events.tsv"))
            if errs:
                problems.append(f"rep {r['index']}: {len(errs)} errors, e.g. {errs[:3]}")
    return checks, problems


def shape(raw, work):
    """What the seed does not change: sizes and skew of the inputs."""
    kind = raw["params_kind"]
    info = raw["info"]
    if kind == "batch":
        return {"queries": len(info["order"]), "query_set": sorted(info["order"])}
    if kind == "backfill":
        return {"rows": info["rows"], "rows_per_batch": info["rows_per_batch"]}
    events = benchlib.read_tsv(os.path.join(work, "check", "live_rep0_events.tsv"))
    keys = {}
    for e in events:
        k = (e["user_id"], e["event_type"])
        keys[k] = keys.get(k, 0) + 1
    top = sorted(keys.values(), reverse=True)
    return {"events": len(events), "distinct_keys": len(keys),
            "top1pct_key_share": round(sum(top[:max(1, len(top) // 100)]) / len(events), 3),
            "rate_per_s": info["rate"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    workloads = load_workloads()
    spec = workloads["workloads"].get(args.workload)
    if spec is None:
        print(f"unknown workload {args.workload!r}; known: "
              f"{', '.join(workloads['workloads'])}", file=sys.stderr)
        return 2
    cores = spec.get("cores", usable_cores())
    t0 = time.time()
    try:
        build.sources()  # fails fast, before writing anything, without sources
        os.makedirs(build.BUILD, exist_ok=True)
        classes = build.compile_classes()
        data = build.generate_data(classes, workloads["sf"], usable_cores())
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    build_s = time.time() - t0

    work = os.path.join(build.BUILD, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "check"))
    try:
        raw = run_harness(classes, data, work, args, spec, cores)
        raw["params_kind"] = spec["kind"]
        checks, problems = check_outputs(raw, data, work)
        run_shape = shape(raw, work)
    except Exception as e:
        print(f"run failed: {e} (work directory kept: {work})", file=sys.stderr)
        return 1

    attempted = sum(r["attempted"] for r in raw["reps"]) + checks
    failed = sum(r["failed"] for r in raw["reps"]) + len(problems)
    for r in raw["reps"]:
        for e in r["errors"]:
            print(f"error in rep {r['index']}: {e}", file=sys.stderr)
    for p in problems:
        print(f"wrong output: {p}", file=sys.stderr)
    if failed:
        print(f"work directory kept: {work}", file=sys.stderr)
    else:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = benchlib.per_layer(raw)
        units = dict(benchlib.PER_LAYER)
    else:
        metrics = benchlib.end_to_end(raw)
        units = dict(benchlib.END_TO_END)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(f"{args.workload} fail_ratio = {failed / attempted:.6g} "
          f"({failed} failed or wrong of {attempted} attempted)")
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": usable_cores(), "spark_cores": cores,
        "spark_version": raw["spark_version"],
        "git_sha": git_sha(), "source_digest": build.source_digest(),
        "calibration": raw["calibration"], "error_log_lines": raw["error_lines"],
        "reps": [[r["kind"], r["wall_s"]] for r in raw["reps"]],
        "measured_s": raw["measured_s"],
        "ops_per_rep": len(raw["reps"][-1]["ops_ms"]),
        "build_s": build_s, "shape": run_shape,
    }
    gen = [r["layers"]["gen"] for r in raw["reps"] if "gen" in r["layers"]]
    if gen:
        stamp["generator"] = gen
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
