"""Repository benchmark: the flagship pages path, end to end and per layer.

    python3 perfbench/run.py --workload join_broadcast --seed 7 --seconds 10 --trace 0

One driver process, one Spark session on ``local[<cores>]`` (all cores by
default), one Spark action at a time: a closed loop. The run

1. starts the session, writes the seed's synthetic pages table to parquet
   ``SETUPS`` times, prepares the ``SpatialJoinPlan`` and warms the path
   up; ``setup_s`` = session start + median write + plan + warm-up;
2. repeats the workload's iteration until ``--seconds`` have passed (at
   least once); ``pages_per_s`` = pages / median iteration seconds;
3. checks the outputs (``checks.py``); a failed check fails the run;
4. with ``--trace 1`` (event log on) adds the per-layer split
   (``layers.py``) and reports the per-layer metrics instead.

The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the lines before it say the same in words, with sample counts, and a
``detail`` line carries checksums and bases for cross-run comparison.

Other modes (not part of a measured run):

* ``--workload all`` runs every workload untraced and traced in turn, prints
  every end-to-end metric, checks that the workloads' checksums agree and
  reports the tracing overhead (traced minus untraced pages/s);
* ``--scaling`` runs the workload at ``local[1]`` and at ``local[cores]``
  and reports the scaling efficiency ``(pps_N / pps_1) / N``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import checks  # noqa: E402  (this directory is on sys.path as the script's own)
from procmem import PeakRss, alive, tree_pids  # noqa: E402
from workloads import TILE_COLS, WORKLOADS, job_group  # noqa: E402

END_TO_END = [
    ("pages_per_s", "pages/s", "higher"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
DEFAULT_PAGES = 20_000
SETUPS = 3  # pages-table writes per run; setup_s takes their median
DRIVER_MEMORY = "2g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(cores: int, work_dir: str, event_dir: str | None):
    """The benchmark's own session. Unhinted joins never auto-broadcast, so
    the salted plan really shuffles on the cell key as it would once the
    polygon side outgrows a broadcast; the engine's explicit broadcast hints
    are unaffected."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.eventLog.enabled", str(event_dir is not None).lower())
    )
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.dir", event_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it and every
    process it started (the Python workers) to be gone."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = tree_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while any(alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def set_up(spark, wl, args) -> tuple:
    """Write the seed's pages table ``SETUPS`` times (median taken),
    prepare the workload's plan and warm the path up. Returns (pages,
    plan, {part: seconds})."""
    from spatial.synth import synth_pages

    writes = []
    for k in range(SETUPS):
        path = os.path.join(wl.work_dir, f"pages-{k}")
        with job_group(spark, f"setup-write-{k}"):
            t0 = time.perf_counter()
            synth_pages(spark, args.pages, seed=args.seed).write \
                .mode("overwrite").parquet(path)
            writes.append(time.perf_counter() - t0)
    pages = wl.pages(path)
    with job_group(spark, "setup-plan"):
        t0 = time.perf_counter()
        plan = wl.make_setup_plan()
        t1 = time.perf_counter()
    with job_group(spark, "setup-warm-up"):
        wl.warm_up(pages, plan)
        t2 = time.perf_counter()
    return pages, plan, {"writes": writes, "write_s": median(writes),
                         "prepare_s": t1 - t0, "warm_up_s": t2 - t1}


def check_outputs(spark, wl, n_iter: int, seed: int, n_pages: int) -> dict:
    """Run every output check; returns the reference frame, problems per
    iteration and run-wide, and the checksums."""
    with job_group(spark, "check"):
        wl.collect_checked()
        reference = wl.reference
        expected = checks.oracle_pairs(reference, checks.region_table())
        ref_tiles = list(zip(reference["url"], *(reference[c] for c in TILE_COLS)))
        tile_of = {row[0]: row for row in ref_tiles}
        sampled, bad_text = checks.extract_text_mismatches(wl.pages_df)
        run_problems, per_iter = [], {}
        if sampled == 0 or bad_text:
            run_problems.append(f"extract_text differs on {bad_text}/{sampled}")
        pin = checks.JOIN_ROW_PINS.get((seed, n_pages))
        if pin is not None and len(expected) != pin:
            run_problems.append(f"join rows {len(expected)} != pin {pin}")
        for i in range(n_iter):
            pairs, tiles, problems = wl.outputs(i)
            if set(pairs) != expected or len(pairs) != len(expected):
                problems.append(f"join pairs {len(pairs)} differ from the "
                                f"oracle's {len(expected)}")
            if any(tile_of.get(t[0]) != t for t in tiles):
                problems.append("tile columns differ from the enrichment's")
            per_iter[i] = problems
    return {
        "reference": reference,
        "matches": len(expected),
        "run_problems": run_problems,
        "iteration_problems": per_iter,
        "checksum_region": checks.checksum(sorted(expected)),
        "checksum_tile": checks.checksum(ref_tiles),
        "extract_sampled": sampled,
    }


def run(args) -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    try:
        return measure(args, work_dir, event_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def measure(args, work_dir, event_dir, workload_cls) -> int:
    t0 = time.perf_counter()
    spark = build_session(args.cores, work_dir, event_dir)
    session_s = time.perf_counter() - t0
    wl = workload_cls(spark, work_dir)
    try:
        with PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            pages, plan, setup = set_up(spark, wl, args)
            wl.prepare(pages, plan)
            plan_log = checks.PlanLog(spark)
            mark = plan_log.last_id()
            walls, errors = [], []
            start = time.perf_counter()
            while not walls or time.perf_counter() - start < args.seconds:
                t = time.perf_counter()
                try:
                    wl.iteration(len(walls))
                except Exception as exc:  # counted, reported, run goes on
                    errors.append(f"iteration {len(walls)}: {exc!r}")
                walls.append(time.perf_counter() - t)
                if errors:
                    break
        n_iter = len(walls)
        plan_issues = checks.plan_problems(
            plan_log.since(mark), wl.write_label, wl.required_markers,
            {k: v * n_iter for k, v in wl.writes_per_iteration.items()})
        t_check = time.perf_counter()
        checked = check_outputs(spark, wl, n_iter, args.seed, args.pages) \
            if not errors else None
        check_s = time.perf_counter() - t_check
        split = None
        if args.trace and checked:
            from layers import prefix_split
            split = prefix_split(wl)
            split["plan"].unpersist()
        wl.release()
    finally:
        stop_session(spark)

    failed_iters = set(range(n_iter)) if (errors or plan_issues) else set()
    problems = list(errors) + plan_issues
    if checked:
        problems += checked["run_problems"]
        if checked["run_problems"]:
            failed_iters = set(range(n_iter))
        for i, found in checked["iteration_problems"].items():
            problems += [f"iteration {i}: {p}" for p in found]
            if found:
                failed_iters.add(i)
    pages_per_s = args.pages / median(walls)
    setup_s = session_s + setup["write_s"] + setup["prepare_s"] + setup["warm_up_s"]
    correct = not problems
    out = sys.stdout
    print(f"workload {wl.name}: seed {args.seed}, {args.pages} pages, "
          f"local[{args.cores}], trace {args.trace}", file=out)
    print(f"  pages_per_s  {pages_per_s:.1f} pages/s  (median of {n_iter} "
          f"iterations: {', '.join(f'{w:.2f}' for w in walls)} s)", file=out)
    print(f"  setup_s      {setup_s:.2f} s  (session {session_s:.2f} + median of "
          f"{len(setup['writes'])} pages writes "
          f"[{', '.join(f'{s:.2f}' for s in setup['writes'])}] + plan "
          f"{setup['prepare_s']:.2f} + warm-up {setup['warm_up_s']:.2f} s)",
          file=out)
    print(f"  peak_rss_mb  {rss.peak_mb:.0f} MB  (driver JVM + Python workers, "
          f"peak over set-up and timed iterations)", file=out)
    print(f"  error_rate   {len(failed_iters) / n_iter:.3f}  "
          f"({len(failed_iters)} failed / {n_iter} attempted)", file=out)
    for p in problems:
        print(f"  CHECK FAILED: {p}", file=out)
    detail = {"workload": wl.name, "seed": args.seed, "pages": args.pages,
              "cores": args.cores, "iterations": walls, "setup": setup,
              "session_s": session_s, "pages_per_s": pages_per_s,
              "check_s": check_s, "wall_s": time.perf_counter() - T_START}
    if checked:
        detail.update(checksum_region=checked["checksum_region"],
                      checksum_tile=checked["checksum_tile"],
                      join_rows=checked["matches"])
        print(f"  checks: join rows {checked['matches']} (driver oracle), "
              f"checksums region {checked['checksum_region']} tile "
              f"{checked['checksum_tile']}, extract_text sample "
              f"{checked['extract_sampled']} rows", file=out)
    if args.trace:
        metrics = traced_metrics(wl, event_dir, args, n_iter, split, checked,
                                 pages_per_s)
    else:
        metrics = {"pages_per_s": pages_per_s, "setup_s": setup_s,
                   "peak_rss_mb": rss.peak_mb}
        units = {n: u for n, u, _ in END_TO_END}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print("detail " + json.dumps(detail), file=out)
    print(json.dumps({"correct": correct, "attempted": n_iter,
                      "failed": len(failed_iters), "metrics": metrics}),
          file=out)
    return 0


def traced_metrics(wl, event_dir, args, n_iter, split, checked,
                   pages_per_s) -> dict:
    from eventlog import EventLog
    from layers import PER_LAYER, layer_metrics

    if checked is None:  # nothing trustworthy to split
        return {n: {"value": 0.0, "unit": u} for n, u, _ in PER_LAYER}
    values = layer_metrics(EventLog.load(event_dir), wl, args.pages, n_iter,
                           split, checked["reference"], checked["matches"],
                           pages_per_s)
    units = {n: u for n, u, _ in PER_LAYER}
    print("  per-layer split (seconds: one pass per cumulative prefix; "
          "counts per iteration):")
    for name, _, _ in PER_LAYER:
        print(f"    {name:28s} {values[name]:.6g} {units[name]}")
    print(f"    bases: enrich_passes = {values['textextract.rows_sent']:.0f} "
          f"extract_text rows / {args.pages} pages; refine_hit_ratio = "
          f"{values['join.matches']:.0f} matches / "
          f"{values['join.candidate_pairs']:.0f} candidate pairs")
    return {n: {"value": float(values[n]), "unit": units[n]} for n, _, _ in PER_LAYER}


def child(args, workload: str, trace: int, cores: int) -> tuple[dict, dict]:
    """Run one measured run in a fresh process; (result, detail)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--cores", str(cores),
           "--pages", str(args.pages)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
    lines = proc.stdout.strip().splitlines()
    sys.stdout.write("\n".join(lines[:-2]) + "\n")
    detail = json.loads(lines[-2][len("detail "):])
    return json.loads(lines[-1]), detail


def run_all(args) -> int:
    summary, ok = {}, True
    for name in WORKLOADS:
        plain, detail = child(args, name, 0, args.cores)
        traced, _ = child(args, name, 1, args.cores)
        summary[name] = {"result": plain, "detail": detail}
        overhead = traced["metrics"]["trace.pages_per_s"]["value"] - \
            detail["pages_per_s"]
        summary[name]["tracing_overhead_pages_per_s"] = overhead
        ok &= plain["correct"] and traced["correct"]
    print("\nend-to-end (median over iterations; samples in brackets)")
    for name, s in summary.items():
        res, det = s["result"], s["detail"]
        for metric, unit, better in END_TO_END:
            samples = {"pages_per_s": len(det["iterations"]),
                       "setup_s": len(det["setup"]["writes"]),
                       "peak_rss_mb": 1}[metric]
            print(f"  {name:16s} {metric:12s} {res['metrics'][metric]['value']:12.2f}"
                  f" {unit:8s} [{samples}] ({better} is better)")
        print(f"  {name:16s} {'error_rate':12s} "
              f"{res['failed'] / res['attempted']:12.3f} fraction [{res['attempted']}]")
        print(f"  {name:16s} tracing overhead "
              f"{s['tracing_overhead_pages_per_s']:+.1f} pages/s (traced - untraced)")
    sums = {(d["detail"].get("checksum_region"), d["detail"].get("checksum_tile"))
            for d in summary.values()}
    print(f"checksums agree across workloads: {len(sums) == 1} {sorted(sums)}")
    ok &= len(sums) == 1
    print(json.dumps({"correct": bool(ok), "workloads": {
        k: v["result"] for k, v in summary.items()}}))
    return 0 if ok else 1


def run_scaling(args) -> int:
    one, _ = child(args, args.workload, 0, 1)
    many, _ = child(args, args.workload, 0, args.cores)
    p1 = one["metrics"]["pages_per_s"]["value"]
    pn = many["metrics"]["pages_per_s"]["value"]
    eff = pn / (args.cores * p1)
    print(f"scaling {args.workload}: local[1] {p1:.1f} pages/s, "
          f"local[{args.cores}] {pn:.1f} pages/s, efficiency {eff:.3f}")
    print(json.dumps({"correct": one["correct"] and many["correct"],
                      "workload": args.workload, "cores": args.cores,
                      "pages_per_s_1": p1, "pages_per_s_n": pn,
                      "efficiency": eff}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="join_broadcast, pipeline_resume, or all")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=host_cores())
    ap.add_argument("--pages", type=int, default=DEFAULT_PAGES)
    ap.add_argument("--scaling", action="store_true",
                    help="report 1-core to all-core scaling efficiency")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spatial")):
        print(f"perfbench: no engine sources ('spatial/') next to {HERE}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.scaling:
        return run_scaling(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
