#!/usr/bin/env python3
"""The repo benchmark: one command per workload, end-to-end and per-layer.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs from the root of a checkout. It builds the library and the benchmark
(`perfbench/build.py`), generates the inputs from the seed (`perfbench/gen.py`),
runs the workload in one JVM at local[nproc] (`perfbench/scala/PerfBench.scala`),
checks every operation's output against DuckDB (`perfbench/check.py`), and
prints a report. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end metrics
under `--trace 0` and the per-layer metrics under `--trace 1`.

Workloads, their rationale and the first baseline are in perfbench/README.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"

# Input sizes. The star-schema tables are fixed (seed 42); the nightly batch
# is drawn from the run's seed.
TABLE_ROWS = 60_000          # lineitem rows; other tables scale from it
TABLE_SEED = 42
ETL_SALES_ROWS = 30_000      # sales.csv rows per landed batch
ETL_BATCHES = 3              # distinct batches per run, landed round-robin
ETL_PROBE_ROWS = 10_000      # the re-landed batch of the stale-reload check
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160          # a run must end within 180 s

# The workloads BENCHMARK.json names. A run is a fresh JVM doing set-up, one
# cold pass and three warm passes, and the total time of all runs is
# budgeted, so the lists are short; README.md gives the cut.
WORKLOADS = {
    "etl_nightly": ["pipeline_run"],
    "session_mix": ["a28_pareto_abc", "c24_dq_audit", "st5_stream_stateful"],
}
# The full operation lists, runnable on demand through the same command
# (`--workload sales_session` etc.); not named in BENCHMARK.json.
EXTRA_WORKLOADS = {
    "sales_session": [
        "q1_sales_summary", "q2_product_ranking", "q3_avg_check_by_region",
        "q4_clean_sales", "q5_clean_customers", "a46_kendall_tau",
        "a28_pareto_abc", "c24_dq_audit", "f1_dedup_first",
        "f3_nadrop_critical", "w3_moving_avg", "j3_salted_join",
        "g5_connected_components", "g13_label_propagation"],
    "corpus_ops": [
        "d2_ngram_jaccard", "c19_threshold_sweep", "d6_dedup_clusters",
        "d10_span_dedup", "d11_edit_verify", "d12_edit_prefilter",
        "d14_dup_census", "c18_boilerplate_strip", "e3_json_explode",
        "m10_phash_dup", "t1_token_count", "t18_bigram_fluency",
        "t22_trigram_coverage", "s1_cosine_topk", "s4_ann_ivf", "v5_pq_codes"],
    "stream_replay": [
        "st1_stream_tumbling", "st4_stream_session", "st5_stream_stateful",
        "st6_stream_join", "st9_stream_ingest_dedup", "st11_stream_outer_join",
        "st13_stream_interval_merge", "st19_stream_checksum"],
}

# the input table whose rows an operation consumes, for rows_per_s
VECTOR_OPS = {"s1_cosine_topk", "s4_ann_ivf", "v5_pq_codes", "m10_phash_dup"}


def input_table(op):
    if op.startswith("st"):
        return "events"
    if op in VECTOR_OPS:
        return "embeddings"
    if op[0] in "dcemt" and not op.startswith("c24"):
        return "documents"
    return "lineitem"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def tables_dir():
    """The fixed star-schema tables, generated once per generator version."""
    key = tree_hash([BENCH / "gen.py"])
    d = STATE / "data" / f"tables-{TABLE_ROWS}-{TABLE_SEED}-{key}"
    if not (d / ".done").exists():
        tmp = d.with_name(d.name + f".tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        counts = gen.tables(tmp, TABLE_ROWS, TABLE_SEED)
        (tmp / "counts.json").write_text(json.dumps(counts))
        (tmp / ".done").write_text("ok\n")
        if d.exists():
            shutil.rmtree(tmp)
        else:
            tmp.rename(d)
    return d, json.loads((d / "counts.json").read_text())


def etl_inputs(work, seed):
    """ETL_BATCHES seeded landing batches plus the stale-reload probe batch."""
    root = work / "etl_input"
    info = {}
    for b in range(ETL_BATCHES):
        info[f"batch{b}"] = gen.etl_batch(root / f"batch{b}", ETL_SALES_ROWS, seed * 100 + b)
    info["probe"] = gen.etl_batch(root / "probe", ETL_PROBE_ROWS, seed * 100 + 99)
    return root, info


def java_cmd(classpath, work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), "perfbench.PerfBench"] + args


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(runs):
    """Tail latency of the warm calls: the latency at the highest percentile
    with at least ten samples beyond it. Below 20 samples that percentile
    would sit at or under the median, so the slowest call of each warm pass
    is taken instead, and its median over the passes reported.
    Returns (value, percentile or None, n)."""
    s = sorted(r["seconds"] for r in runs)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    slowest = {}
    for r in runs:
        slowest[r["pass"]] = max(slowest.get(r["pass"], 0.0), r["seconds"])
    return median(list(slowest.values())), None, n


def end_to_end(res, inputs, ok_runs):
    warm = [p for p in res["passes"] if p["pass"] > 0]
    warm_runs = [r for r in res["runs"] if r["pass"] > 0]
    lat = [r["seconds"] for r in warm_runs]
    tail_v, tail_pct, n = tail(warm_runs)
    rows = sum(inputs(r) for r in warm_runs if ok_runs(r))
    held = res["held"]
    held_mb = (held["heap_after_gc_bytes"] + held["persisted_disk_bytes"]
               + held["stream_tmp_bytes"]) / 1e6
    m = {
        "setup_s": (median(res["setup_seconds"]), "s"),
        "first_pass_s": (res["passes"][0]["seconds"], "s"),
        "pass_s": (median([p["seconds"] for p in warm]), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (rows / sum(p["seconds"] for p in warm), "rows/s"),
        "held_mb": (held_mb, "MB"),
    }
    notes = {"op_tail_percentile": round(tail_pct, 1) if tail_pct else "median of per-pass max",
             "op_samples": n,
             "warm_passes": len(warm)}
    return m, notes


def per_layer(res, workload, cores, sink_stats, etl_info, tables):
    spans = res["spans"]
    warm_ids = sorted({s["pass"] for s in spans if s["pass"] > 0})
    by_pass = {p: [s for s in spans if s["pass"] == p] for p in warm_ids + [0]}
    pass_wall = {p["pass"]: p["seconds"] for p in res["passes"]}

    def per_pass(f, only=None):
        vals = []
        for p in warm_ids:
            ss = [s for s in by_pass[p] if only is None or s["op"] in only]
            vals.append(f(ss, p))
        return median(vals)

    def total(key, only=None, scale=1.0):
        return per_pass(lambda ss, p: sum(s[key] for s in ss) * scale, only)

    def actions(ss, names):
        return sum(a["seconds"] for s in ss for a in s["actions"] if a["name"] in names)

    etl = workload == "etl_nightly"
    session = workload in ("session_mix", "sales_session")
    runs = res["runs"]
    counts = [r.get("counts", {}) for r in runs if r["pass"] > 0 and r["ok"]]
    m = {}
    z = 0.0
    # etl.Extract
    m["extract.rows"] = total("scan_records") if etl else z
    m["extract.mb"] = total("scan_bytes", scale=1e-6) if etl else z
    m["extract.scan_s"] = total("scan_run_s") if etl else z
    m["extract.jobs"] = total("scan_jobs") if etl else z
    # etl.TransformSales / TransformCustomers
    if etl:
        m["clean.rows_in"] = median([etl_info[f"batch{r['batch']}"]["sales_rows"]
                                     + etl_info[f"batch{r['batch']}"]["customer_rows"]
                                     for r in runs if r["pass"] > 0])
        m["clean.rows_out"] = median([c["clean_sales"] + c["clean_customers"] for c in counts])
        m["clean.exchange_mb"] = total("scan_shuffle_write_bytes", scale=1e-6)
    elif session:
        # the cold call that builds the cleaned-fact cache: rows scanned for
        # it, rows the cache holds, and the dedup exchange it wrote
        build = [s for s in by_pass[0] if s["cache_builds"] and s["cached_rows"]][:1]
        m["clean.rows_in"] = float(sum(s["scan_records"] for s in build))
        m["clean.rows_out"] = float(sum(s["cached_rows"] for s in build))
        m["clean.exchange_mb"] = sum(s["scan_shuffle_write_bytes"] for s in build) / 1e6
    else:
        m["clean.rows_in"] = m["clean.rows_out"] = m["clean.exchange_mb"] = z
    # etl.Pipelines + family caches
    builds = total("cache_builds")
    hits = total("cache_hits")
    m["cache.builds"] = builds
    m["cache.hits"] = hits
    m["cache.hit_ratio"] = hits / (hits + builds) if hits + builds else z
    warm_lat = {}
    for r in runs:
        if r["pass"] > 0:
            warm_lat.setdefault(r["op"], []).append(r["seconds"])
    m["cache.build_s"] = sum(max(0.0, s["wall_s"] - median(warm_lat.get(s["op"], [0.0])))
                             for s in by_pass[0] if s["cache_builds"] > 0)
    m["cache.mb"] = (res["held"]["persisted_mem_bytes"]
                     + res["held"]["persisted_disk_bytes"]) / 1e6
    # etl.Aggregates
    if etl:
        m["aggregate.exchange_mb"] = per_pass(lambda ss, p: sum(
            s["shuffle_write_bytes"] - s["scan_shuffle_write_bytes"] for s in ss) / 1e6)
        m["aggregate.rows_out"] = median([c["sales_summary"] + c["product_ranking"]
                                          for c in counts])
    elif session:
        q = {"q1_sales_summary", "q2_product_ranking", "q3_avg_check_by_region"}
        q &= {r["op"] for r in runs}
        m["aggregate.exchange_mb"] = total("shuffle_write_bytes", q, 1e-6)
        m["aggregate.rows_out"] = float(sum(r["rows"] for r in runs
                                            if r["pass"] == 0 and r["op"] in q))
    else:
        m["aggregate.exchange_mb"] = m["aggregate.rows_out"] = z
    # etl.Pipeline and etl.Sink / etl.Load
    m["pipeline.jobs"] = total("jobs") if etl else z
    m["pipeline.recount_jobs"] = total("count_jobs") if etl else z
    m["pipeline.recount_s"] = per_pass(lambda ss, p: actions(ss, {"count"})) if etl else z
    m["sink.rows"] = median([sum(c.values()) for c in counts]) if etl else z
    m["sink.mb"] = median([b for _, b in sink_stats]) / 1e6 if etl else z
    m["sink.files"] = median([f for f, _ in sink_stats]) if etl else z
    m["sink.write_s"] = per_pass(lambda ss, p: actions(
        ss, {"save", "command", "insertInto"})) if etl else z
    # query families: one latency and one job count per operation
    for wl, wl_ops in WORKLOADS.items():
        for op in wl_ops:
            mine = wl == workload
            m[f"op.{op}_s"] = median(warm_lat.get(op, [])) if mine else z
            m[f"op.{op}_jobs"] = total("jobs", {op}) if mine else z
    # the Spark engine
    m["spark.jobs"] = total("jobs")
    m["spark.stages"] = total("stages")
    m["spark.tasks"] = total("tasks")
    m["spark.task_cpu_s"] = total("task_cpu_s")
    m["spark.task_run_s"] = total("task_run_s")
    m["spark.utilization"] = per_pass(
        lambda ss, p: sum(s["task_run_s"] for s in ss) / (pass_wall[p] * cores))
    m["spark.idle_s"] = total("idle_s")
    m["exchange.count"] = total("exchanges")
    m["exchange.write_mb"] = total("shuffle_write_bytes", scale=1e-6)
    m["exchange.read_mb"] = total("shuffle_read_bytes", scale=1e-6)
    m["spill.mb"] = total("spill_bytes", scale=1e-6)
    m["checkpoint.count"] = total("checkpoints")
    m["checkpoint.mb"] = total("checkpoint_bytes", scale=1e-6)
    # streaming.Streams
    st = workload in ("session_mix", "stream_replay")
    m["stream.batches"] = total("stream_batches") if st else z
    m["stream.input_rows"] = total("stream_input_rows") if st else z
    m["stream.trigger_s"] = total("stream_trigger_s") if st else z
    m["stream.commit_s"] = total("stream_commit_s") if st else z
    m["stream.state_rows"] = total("state_rows") if st else z
    m["stream.staging_s"] = sum(s["staging_s"] for s in by_pass[0]) if st else z
    m["stream.tmp_mb"] = res["held"]["stream_tmp_bytes"] / 1e6 if st else z
    # the tracer itself: traced pass time, and how much of it the spans cover
    m["trace.pass_s"] = median([pass_wall[p] for p in warm_ids])
    m["trace.span_cover"] = per_pass(
        lambda ss, p: sum(s["wall_s"] for s in ss) / pass_wall[p])
    return m


UNITS = {"_s": "s", "_mb": "MB", ".mb": "MB", "ratio": "ratio", "utilization": "ratio",
         "cover": "ratio"}


def unit_of(name):
    for suf, u in UNITS.items():
        if name.endswith(suf):
            return u
    return "count"


def sink_stats_of(res):
    out = []
    for r in res["runs"]:
        if r["pass"] > 0 and r.get("sink"):
            files = [f for f in Path(r["sink"]).rglob("part-*") if f.is_file()]
            out.append((len(files), sum(f.stat().st_size for f in files)))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + sorted(EXTRA_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    a = ap.parse_args()

    classpath = build.build()
    cores = nproc()
    data, tables = tables_dir()
    work = STATE / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return run(a, classpath, cores, data, tables, work)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


def run(a, classpath, cores, data, tables, work):
    etl = a.workload == "etl_nightly"
    t_gen = time.time()
    etl_root, etl_info = etl_inputs(work, a.seed) if etl else (None, {})
    gen_s = time.time() - t_gen
    ops = {**WORKLOADS, **EXTRA_WORKLOADS}[a.workload]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--data", str(data),
            "--work", str(work), "--ops", ",".join(ops)]
    if etl:
        args += ["--etl", str(etl_root), "--etl-batches", str(ETL_BATCHES)]
    log = work / "jvm.log"
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(java_cmd(classpath, work, args), cwd=work, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not (work / "result.json").exists():
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")
    jvm_s = time.time() - t0
    res = json.loads((work / "result.json").read_text())

    # output checks, outside every timed span
    t_check = time.time()
    failures = []
    verdict = {}
    if etl:
        by_batch = {}
        for r in res["runs"]:
            if r["ok"]:
                by_batch.setdefault(f"batch{r['batch']}", []).append(r["sink"])
            else:
                verdict[(r["pass"], r["op"])] = r["error"]
        diffs = {}
        for name, sinks in by_batch.items():
            diffs.update(check.etl_check(etl_root / name, res["oracle"], sinks))
        for r in res["runs"]:
            if r["ok"]:
                verdict[(r["pass"], r["op"])] = diffs[r["sink"]]
        probe = res["stale_reload"]
        stale = probe and check.etl_check(etl_root / "probe", res["oracle"],
                                          [probe["sink"]])[probe["sink"]]
    else:
        probe = stale = None
        exp = check.registry_expected(data, res["oracle"], STATE / "expected")
        cold_rows = {}
        for r in res["runs"]:
            op = r["op"]
            if not r["ok"]:
                err = r["error"]
            elif r["pass"] == 0:
                err = check.compare_dir(Path(res["out_dir"]) / op, exp.get(op))
                cold_rows[op] = r["rows"]
            else:
                err = None if r["rows"] == cold_rows.get(op) else (
                    f"row count {r['rows']} != verified cold pass {cold_rows.get(op)}")
            verdict[(r["pass"], op)] = err
    for (pss, op), err in verdict.items():
        if err:
            failures.append(f"pass {pss} {op}: {err}")
    ok_keys = {k for k, e in verdict.items() if not e}

    def ok_run(r):
        return (r["pass"], r["op"]) in ok_keys

    def inputs(r):
        if etl:
            b = etl_info[f"batch{r['batch']}"]
            return b["sales_rows"] + b["customer_rows"]
        return tables[input_table(r["op"])]

    attempted = len(res["runs"])
    failed = attempted - len(ok_keys)
    check_s = time.time() - t_check

    e2e, notes = end_to_end(res, inputs, ok_run)
    stamps = {
        "workload": a.workload, "seed": a.seed, "nproc": cores, "master": res["master"],
        "trace": a.trace, "git_commit": git_commit(),
        "source_tree": Path(build.build()[1]).name,
        "inputs": ({k: v for k, v in etl_info.items()} if etl else
                   {t: tables[t] for t in sorted({input_table(o) for o in ops})}),
        "loadavg_1m_per_pass": [round(p["loadavg_1m"], 2) for p in res["passes"]],
        "setup_seconds": [round(x, 3) for x in res["setup_seconds"]],
        "wall_s": {"inputs": round(gen_s, 1), "jvm": round(jvm_s, 1),
                   "checks": round(check_s, 1)}, **notes,
        "failed_frac": failed / attempted,
    }
    print(f"# perfbench {a.workload} seed={a.seed} nproc={cores} master={res['master']} "
          f"trace={a.trace} commit={stamps['git_commit']}")
    print("# stamps " + json.dumps(stamps, sort_keys=True))
    for name, (v, u) in e2e.items():
        print(f"# {name:<13} {v:12.4f} {u}")
    print(f"# failed_frac   {failed / attempted:12.4f} ratio ({failed}/{attempted})")
    for op in ops:
        lat = [r["seconds"] for r in res["runs"] if r["op"] == op]
        print(f"#   op {op:<28} cold {lat[0]:8.3f} s  warm p50 {median(lat[1:]):8.3f} s")
    print(f"# output check: {'PASS' if not failures else 'FAIL'} "
          f"({len(ok_keys)}/{attempted} operations verified)")
    for f in failures:
        print(f"#   FAIL {f}")
    if probe:
        # a known engine defect, reported by name. It is checked after the
        # timed passes and is not one of the timed operations, so it does
        # not count against them.
        print(f"# known defect stale_reload: {'REPRODUCED' if stale else 'not reproduced'}"
              f" -- re-landed {etl_info['probe']['sales_rows']} sales rows under the used dir "
              f"{Path(probe['dir']).name}; Pipeline.run returned {probe['counts']}"
              + (f"; check: {stale}" if stale else ""))

    # tracing overhead: this run's warm pass time against the median of the
    # last ten untraced runs of the same workload in this checkout
    history = STATE / f"untraced-pass-s-{a.workload}.json"
    past = json.loads(history.read_text()) if history.exists() else []
    if not a.trace and not failures:
        history.write_text(json.dumps((past + [e2e["pass_s"][0]])[-10:]))
    elif a.trace and past:
        base = median(past)
        print(f"# tracing overhead: pass_s {e2e['pass_s'][0]:.3f} s traced vs "
              f"{base:.3f} s, the median of {len(past)} untraced runs: "
              f"{100 * (e2e['pass_s'][0] / base - 1):+.1f}%")

    if a.trace:
        layer = per_layer(res, a.workload, cores, sink_stats_of(res), etl_info, tables)
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in layer.items()}
        trace_file = STATE / f"trace-{a.workload}-{a.seed}.json"
        trace_file.write_text(json.dumps({"stamps": stamps, "spans": res["spans"],
                                          "passes": res["passes"]}))
        print(f"# spans written to {trace_file.relative_to(ROOT)}")
        for k, v in layer.items():
            if v:
                print(f"# {k:<34} {v:14.4f} {unit_of(k)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
