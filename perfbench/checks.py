"""Output checks run on every timed pipeline run.

* ``sha256``: the engine's file hashes equal ``hashlib`` on a sample of
  rows (the per-row invariant of the exact tier).
* ``exact``: every planted exact-group member is reported by
  ``dup_sets``, itself or through a duplicated ancestor directory (parent
  suppression reports the highest duplicated subtree), and members
  reported themselves sit in one group.
* ``dup_pair_recall``: planted near-dup file pairs that share a
  ``near_dup`` component, over all planted pairs.
* ``fingerprint``: an order-independent digest of ``dup_sets`` and
  ``near_dup``, so the outputs of two commits can be compared.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHA_SAMPLE = 64   # rows whose digest is recomputed with hashlib (1 in N)
MIN_RECALL = 0.99


def sha256_mismatches(files: DataFrame, file_hashes: DataFrame) -> int:
    rows = (
        files.filter(F.pmod(F.xxhash64("repo", "path"), F.lit(SHA_SAMPLE)) == 0)
        .join(file_hashes, ["repo", "path"])
        .select("content", "hash")
        .collect()
    )
    bad = sum(
        hashlib.sha256(r["content"].encode("utf-8")).digest() != bytes(r["hash"])
        for r in rows
    )
    return bad if rows else 1


def exact_misses(exact: DataFrame, dup_sets: DataFrame) -> int:
    """Planted members not reported, plus groups whose self-reported
    members are split over several dup sets."""
    reported = dup_sets.select(
        "hash", F.explode("conflicting").alias("m")
    ).select("hash", "m.repo", "m.path")
    ancestors = exact.select(
        "repo", "path", "gid",
        F.explode(F.expr(
            "transform(sequence(0, size(split(path, '/'))), "
            "i -> array_join(slice(split(path, '/'), 1, i), '/'))"
        )).alias("anc"),
    )
    covered = ancestors.join(
        reported.select("repo", F.col("path").alias("anc")).distinct(),
        ["repo", "anc"], "left_semi",
    ).select("repo", "path").distinct()
    missing = exact.join(covered, ["repo", "path"], "left_anti").count()
    split = (
        exact.join(reported, ["repo", "path"])
        .groupBy("gid").agg(F.countDistinct("hash").alias("h"))
        .filter(F.col("h") > 1).count()
    )
    return missing + split


def dup_pair_recall(families: DataFrame, near_dup: DataFrame) -> float:
    """Sum over families of pairs inside one component, over the sum of
    all pairs; a file missing from ``near_dup`` pairs with no one."""
    labeled = families.join(
        near_dup.select("repo", "path", "component"), ["repo", "path"], "left")
    pairs = lambda n: n * (n - 1) / 2  # noqa: E731
    total = labeled.groupBy("fam").agg(F.count(F.lit(1)).alias("n")).agg(
        F.sum(pairs(F.col("n"))).alias("p")).collect()[0]["p"]
    found = (
        labeled.filter(F.col("component").isNotNull())
        .groupBy("fam", "component").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(pairs(F.col("n"))).alias("p")).collect()[0]["p"]
    )
    return float(found or 0) / float(total) if total else 1.0


def fingerprint(dup_sets: DataFrame, near_dup: DataFrame) -> str:
    """(rows, xor of row hashes) of both outputs, as one hex digest."""
    def digest(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias("x"),
        ).collect()[0]
        return int(row["n"]), int(row["x"])

    parts = digest(dup_sets.select("file_type", "size", "hash", "n_members",
                                   "conflicting"))
    parts += digest(near_dup.select("repo", "path", "id", "component"))
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def check_run(corpus, result) -> dict:
    """All checks for one pipeline run. ``ok`` is False when any fails."""
    sha_bad = sha256_mismatches(corpus.files, result.file_hashes)
    exact_bad = exact_misses(corpus.exact, result.dup_sets)
    recall = dup_pair_recall(corpus.families, result.near_dup)
    return {
        "ok": sha_bad == 0 and exact_bad == 0 and recall >= MIN_RECALL,
        "sha256_mismatches": sha_bad,
        "exact_misses": exact_bad,
        "dup_pair_recall": recall,
        "fingerprint": fingerprint(result.dup_sets, result.near_dup),
    }
