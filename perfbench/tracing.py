"""Traced pipeline run: per-layer numbers for one ``run_pipeline`` call.

Spans are recorded in this file, around the calls into each layer's
public function, never inside the engine. For the traced run the module
attributes ``run_pipeline`` resolves (``incremental_file_hashes``,
``entries_from_file_hashes``, ``duplicate_sets``,
``distinct_content_signatures``, the near-dup tier's
``lsh_candidate_pairs`` / ``signature_similarity`` /
``connected_components`` and ``CheckpointManager.write`` / ``.read``)
are swapped for wrappers that open a span, call the real function and
materialize its output the way the pipeline consumes it (persist, then
count the persisted frame), so each layer's work runs inside its own
span; a checkpoint read's parquet scan is charged to its read span.
No operator is re-implemented: the work ``near_duplicate_clusters``
does between its calls (the label join) stays outside every layer and
shows up in ``pipeline.unattributed_s``.

Each span sets a Spark job group; time, shuffle, spill, GC and failed
tasks per layer then come from Spark's status store. Counts that need
extra jobs (rows out, bucket rows, kept pairs, ...) are taken after the
root span closes, in the ``bookkeeping`` job group.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from unittest import mock

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from resources import StatusStore, dir_bytes

LAYERS = ["clean", "build", "analyze", "signatures", "candidates",
          "scoring", "components", "checkpoint", "pipeline"]
COMMON = ["wall_s", "task_s", "idle_core_s", "gc_s", "shuffle_mb",
          "spill_mb", "failed_tasks"]
EXTRA = {
    "clean": ["rows_out", "reused_rows"],
    "build": ["dir_rows", "levels", "peak_exec_mb"],
    "analyze": ["rows_out", "colliding_rows"],
    "signatures": ["cpu_task_s", "kernel_rows", "rows_out", "useful_ratio"],
    "candidates": ["bucket_rows", "pair_rows", "pairs", "kept", "keep_ratio"],
    "scoring": ["edges", "edge_ratio"],
    "components": ["edges_in", "nodes", "jobs", "distributed"],
    "checkpoint": ["write_s", "read_s", "written_mb"],
    "pipeline": ["unattributed_s", "trace_overhead_s"],
}
PER_LAYER = [f"{layer}.{m}" for layer in LAYERS
             for m in COMMON + EXTRA[layer]]
UNITS = {"s": "s", "mb": "MB", "ratio": "ratio"}


def unit_of(metric: str) -> str:
    tail = metric.rsplit("_", 1)[-1]
    return UNITS.get(tail, "count")


class Tracer:
    """In-memory spans (name, start, end, parent, trace id); each span
    runs its Spark jobs under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"trace_id": self.trace_id, "span_id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"trace:{sid}:{name}", "start": time.monotonic(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["group"] if self._stack \
                else "bookkeeping"
            self.sc.setJobGroup(outer, outer)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by child spans (children of
        one span never overlap: the pipeline is sequential)."""
        kids = [s for s in self.spans if s["parent"] == rec["span_id"]]
        return self.duration(rec) - sum(self.duration(k) for k in kids)


def _materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _children(node) -> list:
    """Plan children, looking through adaptive-execution wrappers."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def kernel_rows(df: DataFrame) -> int:
    """Rows the Python signature kernel returned while the persisted
    ``df`` was built: ``pythonNumRowsReceived`` summed over the Python
    nodes of the cached plan whose output carries a signature (the fused
    ``mapInPandas`` kernel, or the signature UDF of the incremental
    plan). Input caches the plan scans are not descended into."""
    top = df._jdf.queryExecution().executedPlan()
    while top.nodeName() != "InMemoryTableScan":
        top = _children(top)[0]
    total, todo = 0, [top.relation().cacheBuilder().cachedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            out = node.output()
            names = [out.apply(i).name() for i in range(out.size())]
            if any(n == "sig" or n.startswith("pythonUDF") for n in names):
                m = node.metrics().get("pythonNumRowsReceived")
                if m.isDefined():
                    total += int(m.get().value())
        if name != "InMemoryTableScan":
            todo.extend(_children(node))
    return total


def traced_pipeline(spark, files: DataFrame, ckpt_root: str, cores: int):
    """One ``run_pipeline(force=True)`` with every layer in its own span.
    Returns (pipeline result, tracer, per-layer metrics without
    ``pipeline.trace_overhead_s``)."""
    from backupdeduplicator_spark.operators import buckets, components, minhash
    from backupdeduplicator_spark.operators.analyze import colliding_entries
    from backupdeduplicator_spark.plans import checkpoint, pipeline

    tr = Tracer(spark)
    got: dict[str, object] = {"distributed": 1}
    keep: list[DataFrame] = []

    def layer(name: str, fn):
        def wrapped(*args, **kwargs):
            with tr.span(name):
                out = _materialize(fn(*args, **kwargs))
            keep.append(out)
            got[name] = out
            return out
        return wrapped

    def clean(files_df, prior):
        got["prior"] = prior
        return real["clean"](files_df, prior)

    def signatures(files_df, prior=None, **kwargs):
        got["prior_sigs"] = prior
        return real["signatures"](files_df, prior=prior, **kwargs)

    def candidates(sigs, **kwargs):
        got["sigs_in"] = sigs
        with tr.span("candidates"):
            cand = real["candidates"](sigs, **kwargs)
            pairs = _materialize(cand.pairs)
        keep.append(pairs)
        got["pairs"] = pairs
        return minhash.CandidateStats(pairs, cand.oversized)

    def bucket_pairs(*args, **kwargs):
        pair_rows, oversized = real["bucket_pairs"](*args, **kwargs)
        got["pair_rows"] = pair_rows
        return pair_rows, oversized

    def cc(edges, *args, **kwargs):
        got["edges"] = edges
        with tr.span("components"):
            labels = _materialize(real["cc"](edges, *args, **kwargs))
        keep.append(labels)
        got["labels"] = labels
        return labels

    def local_uf(e):
        got["distributed"] = 0
        return real["local_uf"](e)

    def ck_write(self, df, name, lineage=None):
        # the frame is materialized before the span (a cache hit for a
        # layer's output; the label join for near_dup), so the span
        # times the write alone
        df = _materialize(df)
        keep.append(df)
        with tr.span("checkpoint", op="write", table=name):
            return real["write"](self, df, name, lineage)

    def ck_read(self, name, snapshot_id=None):
        # read() returns a lazy scan; materializing it here charges the
        # scan to the read span, and the consuming layer hits the cache
        with tr.span("checkpoint", op="read", table=name):
            df = _materialize(real["read"](self, name, snapshot_id))
        keep.append(df)
        return df

    real = {
        "clean": pipeline.incremental_file_hashes,
        "signatures": pipeline.distinct_content_signatures,
        "candidates": minhash.lsh_candidate_pairs,
        "bucket_pairs": buckets.bounded_bucket_pairs,
        "cc": minhash.connected_components,
        "local_uf": components._local_union_find,
        "write": checkpoint.CheckpointManager.write,
        "read": checkpoint.CheckpointManager.read,
    }
    before = dir_bytes(ckpt_root)
    swaps = [
        (pipeline, "incremental_file_hashes", layer("clean", clean)),
        (pipeline, "entries_from_file_hashes",
         layer("build", pipeline.entries_from_file_hashes)),
        (pipeline, "duplicate_sets", layer("analyze", pipeline.duplicate_sets)),
        (pipeline, "distinct_content_signatures",
         layer("signatures", signatures)),
        (minhash, "lsh_candidate_pairs", candidates),
        (buckets, "bounded_bucket_pairs", bucket_pairs),
        (minhash, "signature_similarity",
         layer("scoring", minhash.signature_similarity)),
        (minhash, "connected_components", cc),
        (components, "_local_union_find", local_uf),
        (checkpoint.CheckpointManager, "write", ck_write),
        (checkpoint.CheckpointManager, "read", ck_read),
    ]
    with contextlib.ExitStack() as stack:
        for owner, attr, value in swaps:
            stack.enter_context(mock.patch.object(owner, attr, value))
        with tr.span("pipeline"):
            result = pipeline.run_pipeline(spark, files, ckpt_root,
                                           force=True)

    # ---- bookkeeping: counts that need their own jobs, after the root
    spark.sparkContext.setJobGroup("bookkeeping", "bookkeeping")
    m: dict[str, float] = {}
    n = lambda df: float(df.count())  # noqa: E731
    fh, entries = got["clean"], got["build"]
    m["clean.rows_out"] = n(fh)
    prior = got["prior"]
    m["clean.reused_rows"] = 0.0 if prior is None else n(fh.join(
        prior.select("repo", "path", "commit"), ["repo", "path", "commit"],
        "left_semi"))
    dirs = entries.filter(F.col("file_type") == "Directory")
    m["build.dir_rows"] = n(dirs)
    m["build.levels"] = n(dirs.select("depth").distinct())
    m["analyze.rows_out"] = n(got["analyze"])
    m["analyze.colliding_rows"] = n(colliding_entries(entries))
    sigs = got["signatures"]
    m["signatures.rows_out"] = n(sigs)
    m["signatures.kernel_rows"] = float(kernel_rows(sigs))
    # useful = distinct contents the kernel had to sign (cached prior
    # signatures pass through without it)
    prior_sigs = got["prior_sigs"]
    useful = m["signatures.rows_out"] - (0.0 if prior_sigs is None else n(
        sigs.join(prior_sigs.select("id"), "id", "left_semi")))
    m["signatures.useful_ratio"] = (
        useful / m["signatures.kernel_rows"]
        if m["signatures.kernel_rows"] else 1.0)
    m["candidates.bucket_rows"] = n(minhash.lsh_buckets(got["sigs_in"]))
    m["candidates.pair_rows"] = n(got["pair_rows"])
    pairs = got["pairs"]
    m["candidates.pairs"] = n(pairs)
    m["candidates.kept"] = n(pairs.filter(F.col("band_matches") >= 2))
    m["candidates.keep_ratio"] = (
        m["candidates.kept"] / m["candidates.pairs"]
        if m["candidates.pairs"] else 0.0)
    m["components.edges_in"] = n(got["edges"])
    m["components.nodes"] = n(got["labels"])
    m["components.distributed"] = float(got["distributed"])
    m["scoring.edges"] = m["components.edges_in"]
    m["scoring.edge_ratio"] = (
        m["scoring.edges"] / m["candidates.kept"]
        if m["candidates.kept"] else 0.0)
    m["checkpoint.written_mb"] = (dir_bytes(ckpt_root) - before) / 2**20

    # ---- time and resources per layer, from the spans + status store
    per_group = StatusStore(spark).groups("trace:")
    root = next(s for s in tr.spans if s["name"] == "pipeline")
    for name in LAYERS:
        recs = [root] if name == "pipeline" else \
            [s for s in tr.spans if s["name"] == name]
        wall = sum(tr.duration(r) for r in recs)
        groups = list(per_group) if name == "pipeline" else \
            [r["group"] for r in recs]
        tot: dict[str, float] = {}
        for g in groups:
            for k, v in per_group.get(g, {}).items():
                tot[k] = max(tot.get(k, 0.0), v) if k == "peak_exec_mb" \
                    else tot.get(k, 0.0) + v
        m[f"{name}.wall_s"] = wall
        for key in ("task_s", "gc_s", "shuffle_mb", "spill_mb",
                    "failed_tasks"):
            m[f"{name}.{key}"] = tot.get(key, 0.0)
        m[f"{name}.idle_core_s"] = wall * cores - tot.get("task_s", 0.0)
        if name == "build":
            m["build.peak_exec_mb"] = tot.get("peak_exec_mb", 0.0)
        if name == "signatures":
            m["signatures.cpu_task_s"] = tot.get("cpu_task_s", 0.0)
        if name == "components":
            m["components.jobs"] = tot.get("jobs", 0.0)
    ck = [s for s in tr.spans if s["name"] == "checkpoint"]
    m["checkpoint.write_s"] = sum(tr.duration(s) for s in ck
                                  if s["op"] == "write")
    m["checkpoint.read_s"] = sum(tr.duration(s) for s in ck
                                 if s["op"] == "read")
    m["pipeline.unattributed_s"] = tr.self_time(root)
    for df in keep:
        df.unpersist()
    return result, tr, m
