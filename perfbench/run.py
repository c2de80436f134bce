#!/usr/bin/env python3
"""Dedup benchmark: seeded corpora through ``plans.pipeline.run_pipeline``.

Usage (from the repository root):

    python3 perfbench/run.py --workload forks --seed 1 --seconds 20 --trace 0

One run starts a local[4] Spark session, generates the workload's corpus
in the JVM from ``--seed``, warms up, then calls ``run_pipeline`` with
checkpoints (``force=True``) again and again until ``--seconds`` of
pipeline time have been measured. Every timed call is checked
(checks.py); a call fails on an exception or a failed check. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (medians over the timed calls). ``--trace 1`` adds one
traced call (tracing.py) and reports the per-layer metrics instead; its
spans are written to ``.perfbench_work/traces/``.

Workloads (see NOTES.md for the ones left out and why):

* ``forks``  deep trees copied as forks with a few edited files and a
             1,000-file vendored directory: the exact tier (Merkle
             levels, the wide-directory fold, colliding directory
             groups, parent suppression) and redundant signature work on
             exact copies; the near-dup tier finds few candidates.
* ``churn``  the clones corpus (families of 8 near-dup files) is
             checkpointed during set-up; 1% of rows then get new content
             and a new commit and ``run_pipeline(force=True)`` reruns
             against that checkpoint: commit-token reuse in ``clean``,
             the prior-signature plan, checkpoint reads, and the full
             candidate / scoring / components tier over near-dup
             families.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
CORES = 4
# sizes keep one pipeline call at 12-20 s on a 4-core box, so a run
# (JVM start, corpus, warm-up, one timed call, checks) stays near 60 s
# and the 4 + 22 x 2 runs of a comparison fit the 3,420 s budget; the
# churn base snapshot is a whole cold run, hence its smaller corpus
WORKLOADS = {
    "forks": {"n_repos": 3, "files_per_repo": 256, "n_forks": 4,
              "vendor_files": 1000, "n_vendored": 1},
    "churn": {"n_families": 400},
}
WARM_ROWS = 200
DRIVER_MEM = "2g"
DEADLINE_S = 150  # no new timed call starts after this; jobs are cancelled

END_TO_END = {
    "files_per_s": "files/s", "setup_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "shuffle_mb": "MB", "checkpoint_mb": "MB",
    "dup_pair_recall": "ratio",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _session(work: str):
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # a fixed, modest heap: G1 sizes an 8 GB default heap by GC pressure,
    # which made peak RSS swing by a third between identical runs
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    from backupdeduplicator_spark.session import get_spark

    spark = get_spark("perfbench", cores=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def setup(spark, workload: str, seed: int, work: str):
    """Corpus generation, warm-up and (churn) the base checkpoint.
    Returns (corpus, checkpoint root each timed call starts from, or
    None for an empty one)."""
    import workloads as W
    from backupdeduplicator_spark.plans.pipeline import run_pipeline

    cfg = WORKLOADS[workload]
    parts = spark.sparkContext.defaultParallelism * 2

    if workload == "forks":
        corpus = W.forks(spark, seed, n_parts=parts, **cfg)
        # untimed JIT / codegen warm-up on a slice (bench.py's rationale)
        warm = corpus.files.limit(WARM_ROWS).persist()
        warm.count()
        run_pipeline(spark, warm, os.path.join(work, "warm"), force=True)
        warm.unpersist()
        return corpus, None
    # the cold run that writes the base snapshot is the warm-up: a slice
    # run before it would cost as much again as a whole run, since job
    # latency, not rows, sets the time of a pipeline call at these sizes.
    # The few plans only an incremental run has compile in the timed
    # call, as they do in a user's first run after a base snapshot.
    base_root = os.path.join(work, "base")
    base = W.clones(spark, seed, cfg["n_families"], parts)
    run_pipeline(spark, base.files, base_root, force=True)
    base.unpersist()
    return W.churned(spark, seed, cfg["n_families"], parts), base_root


def fresh_root(work: str, i: int, base_root: str | None) -> str:
    root = os.path.join(work, f"ck-{i}")
    shutil.rmtree(root, ignore_errors=True)
    if base_root is not None:
        shutil.copytree(base_root, root)
    return root


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "backupdeduplicator_spark")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        _fail("run from the repository root: the engine package "
              "(backupdeduplicator_spark/) and bench.py are missing here")
    sys.path.insert(0, ROOT)
    try:
        from bench import _tree_cpu_seconds

        from backupdeduplicator_spark.plans.pipeline import run_pipeline
    except ImportError as e:
        _fail(f"cannot import the engine: {e}")
    import checks
    import tracing as T
    from resources import RssSampler, StatusStore, dir_bytes

    work_base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    rss = RssSampler()
    spark = None
    try:
        t0 = time.monotonic()
        spark = _session(work)
        sc = spark.sparkContext
        sc.setJobGroup("setup", "setup")
        corpus, base_root = setup(spark, args.workload, args.seed, work)
        setup_s = time.monotonic() - t0
        watchdog = threading.Timer(
            max(1.0, DEADLINE_S - (time.monotonic() - t_start)),
            sc.cancelAllJobs)
        watchdog.daemon = True
        watchdog.start()

        status = StatusStore(spark)
        samples: dict[str, list[float]] = {k: [] for k in END_TO_END}
        runs: list[dict] = []
        attempted = failed = 0
        measured = 0.0
        while measured < args.seconds and (
                attempted == 0
                or time.monotonic() - t_start < DEADLINE_S - 30):
            i = attempted
            attempted += 1
            root = fresh_root(work, i, base_root)
            before = dir_bytes(root)
            try:
                sc.setJobGroup(f"timed:{i}", "timed")
                rss.window()
                cpu0 = sum(_tree_cpu_seconds())
                w0 = time.monotonic()
                result = run_pipeline(spark, corpus.files, root, force=True)
                wall = time.monotonic() - w0
                cpu = sum(_tree_cpu_seconds()) - cpu0
                peak = rss.peak_mb()
                measured += wall
                sc.setJobGroup("check", "check")
                shuffle = status.groups(f"timed:{i}").get(
                    f"timed:{i}", {}).get("shuffle_mb", 0.0)
                ck_mb = (dir_bytes(root) - before) / 2**20
                chk = checks.check_run(corpus, result)
            except Exception:  # noqa: BLE001 - a failed call is counted
                traceback.print_exc()
                failed += 1
                continue
            finally:
                shutil.rmtree(root, ignore_errors=True)
            runs.append({"wall_s": wall, **chk})
            if not chk["ok"]:
                print(f"perfbench: output check failed: {chk}",
                      file=sys.stderr)
                failed += 1
                continue
            samples["files_per_s"].append(corpus.n_files / wall)
            samples["cpu_s"].append(cpu)
            samples["peak_rss_mb"].append(peak)
            samples["shuffle_mb"].append(shuffle)
            samples["checkpoint_mb"].append(ck_mb)
            samples["dup_pair_recall"].append(chk["dup_pair_recall"])
        if len({r["fingerprint"] for r in runs}) > 1:
            print("perfbench: outputs differ between calls on one corpus",
                  file=sys.stderr)
            failed += 1
        samples["setup_s"].append(setup_s)
        if not samples["files_per_s"]:
            _fail("no timed call succeeded", 1)
        metrics = {k: statistics.median(v) for k, v in samples.items()}

        report = {"workload": args.workload, "seed": args.seed,
                  "files": corpus.n_files, "calls": runs}
        if args.trace:
            root = fresh_root(work, attempted, base_root)
            try:
                result, tr, layer = T.traced_pipeline(
                    spark, corpus.files, root, CORES)
                chk = checks.check_run(corpus, result)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                _fail("the traced call failed", 1)
            attempted += 1
            failed += 0 if chk["ok"] else 1
            untraced = statistics.median(r["wall_s"] for r in runs)
            layer["pipeline.trace_overhead_s"] = (
                layer["pipeline.wall_s"] - untraced)
            report["traced_call"] = chk
            trace_dir = os.path.join(work_base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(
                    trace_dir, f"{args.workload}-seed{args.seed}.json"),
                    "w") as f:
                json.dump({"spans": tr.spans, "metrics": layer}, f, indent=1)
            metrics = {k: layer[k] for k in T.PER_LAYER}
            units = {k: T.unit_of(k) for k in T.PER_LAYER}
        else:
            units = END_TO_END
        watchdog.cancel()
    finally:
        if spark is not None:
            _stop(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    report["error_rate"] = failed / attempted
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
