"""Seeded corpus generators for the benchmark workloads.

Every table is built with JVM-side expressions over ``spark.range`` (no
driver loops, no input files), so one seed always gives the same rows.
Each generator returns the input table the engine sees plus the planted
ground truth the output checks compare against:

* ``exact``    (repo, path, gid): files planted as byte-identical copies;
               ``dup_sets`` must report every one of them.
* ``families`` (repo, path, fam): files planted as near-duplicates of one
               another; every pair inside a family should share a
               ``near_dup`` component (``dup_pair_recall``).

Document text is a run of base-36 tokens drawn from xxhash64(seed, doc,
position), so two different documents share almost no 5-char shingles.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

FAMILY = 8  # clones: rows per family, 2 exact copies + 6 near-dup variants
CLONE_TOKENS = 60    # tokens per clones document
CLONE_REPEAT = 8     # times each clones document repeats in a file
CHURN_SHARE = 0.01   # share of churn rows that get a new commit
FORK_TOKENS = 250    # tokens per forks file
FORK_EDIT_SHARE = 0.05  # share of forks files edited in one fork
COMMIT0 = "0" * 40


@dataclass
class Corpus:
    files: DataFrame     # (repo, path, commit, lang, content)
    exact: DataFrame     # (repo, path, gid)
    families: DataFrame  # (repo, path, fam)
    n_files: int
    cached: DataFrame    # the persisted table all three project from

    def unpersist(self) -> None:
        self.cached.unpersist()


def _finish(spark: SparkSession, rows: DataFrame, n_parts: int) -> Corpus:
    """Lay the table out over ``n_parts`` splits (a real table of this
    size has many; a single split would pin the map-side kernels to one
    core), persist it and the planted truth."""
    rows = rows.repartition(n_parts).persist()
    n = rows.count()
    return Corpus(
        rows.select("repo", "path", "commit", "lang", "content"),
        rows.filter(F.col("gid").isNotNull()).select("repo", "path", "gid"),
        rows.filter(F.col("fam").isNotNull()).select("repo", "path", "fam"),
        n, rows)


def clones_rows(spark: SparkSession, seed: int, n_families: int) -> DataFrame:
    """The shape of ``bench.bench_files``: families of 8 files whose base
    content is two documents (the family's own and a seed-shifted
    neighbour's), each repeated ``CLONE_REPEAT`` times. Variants 0 and 4 are
    exact copies; the other six add a one-line suffix (Jaccard ~0.99).
    Families that share a neighbour document share half their content,
    which feeds the LSH candidate stage with pairs it must reject.

    Extra columns: ``fam`` (family id), ``gid`` (exact group, variants 0
    and 4 only), ``sub`` (variant)."""
    shift = 1 + seed % 7
    fams = spark.range(n_families).select(
        F.col("id").alias("fam"),
        ((F.col("id") + shift) % n_families).alias("other"))
    fams = fams.select(
        "fam",
        F.concat(
            F.expr(f"repeat(concat({_text_sql(seed, 'fam', CLONE_TOKENS)}, "
                   f"'\\n'), {CLONE_REPEAT})"),
            F.lit("\n"),
            F.expr(f"repeat(concat({_text_sql(seed, 'other', CLONE_TOKENS)}, "
                   f"'\\n'), {CLONE_REPEAT})"),
        ).alias("base"),
    )
    subs = spark.range(FAMILY).select(F.col("id").alias("sub"))
    rows = fams.crossJoin(subs)
    exact_copy = F.col("sub") % 4 == 0
    return rows.select(
        F.concat(F.lit("org-"), (F.col("fam") % 5).cast("string"),
                 F.lit("/repo-"),
                 ((F.col("fam") * 7 + F.col("sub")) % 37).cast("string")
                 ).alias("repo"),
        F.concat(F.lit("src/d"), (F.col("fam") % 17).cast("string"),
                 F.lit("/f"), F.col("fam").cast("string"), F.lit("_"),
                 F.col("sub").cast("string"), F.lit(".txt")).alias("path"),
        F.lit(COMMIT0).alias("commit"),
        F.lit("txt").alias("lang"),
        F.when(exact_copy, F.col("base"))
        .otherwise(F.concat(F.col("base"), F.lit("\n// variant "),
                            F.col("sub").cast("string")))
        .alias("content"),
        "fam",
        F.when(exact_copy, F.col("fam")).alias("gid"),
        "sub",
    )


def _text_sql(seed: int, doc: str, n_tokens: int) -> str:
    """SQL for ``n_tokens`` pseudo-random base-36 tokens of document
    ``doc`` (an expression over the row)."""
    return (
        f"array_join(transform(sequence(0, {n_tokens - 1}), t -> "
        f"lower(conv(pmod(xxhash64({seed}, {doc}, t), 1679616), 10, 36))), ' ')"
    )


def clones(spark: SparkSession, seed: int, n_families: int,
           n_parts: int) -> Corpus:
    return _finish(spark, clones_rows(spark, seed, n_families), n_parts)


def churned(spark: SparkSession, seed: int, n_families: int,
            n_parts: int) -> Corpus:
    """The clones table after one commit: a ``CHURN_SHARE`` of the rows get a
    new ``commit`` token and an appended line (so they stay near-dups of
    their family). An edited exact copy leaves its exact group."""
    def hit(sub: Column) -> Column:
        h = F.xxhash64(F.lit(seed), F.lit("churn"), F.col("fam"), sub)
        return F.pmod(h, F.lit(1_000_000)) < F.lit(
            int(CHURN_SHARE * 1_000_000))

    rows = clones_rows(spark, seed, n_families).withColumn(
        "_hit", hit(F.col("sub")))
    return _finish(spark, rows.select(
        "repo", "path",
        F.when(F.col("_hit"), F.sha1(F.concat(F.lit(f"churn-{seed}-"),
                                              F.col("path"))))
        .otherwise(F.col("commit")).alias("commit"),
        "lang",
        F.when(F.col("_hit"), F.concat(F.col("content"),
                                       F.lit(f"\n// edited {seed}")))
        .otherwise(F.col("content")).alias("content"),
        "fam",
        # the exact pair (variants 0 and 4) survives only untouched
        F.when(~hit(F.lit(0).cast("long")) & ~hit(F.lit(4).cast("long")),
               F.col("gid")).alias("gid"),
    ), n_parts)


def forks(spark: SparkSession, seed: int, n_repos: int, files_per_repo: int,
          n_forks: int, vendor_files: int, n_vendored: int,
          n_parts: int) -> Corpus:
    """Deep trees copied as forks. Each upstream repo holds
    ``files_per_repo`` files six directories deep; the first
    ``n_vendored`` repos also carry a flat ``third_party/vendored``
    directory of ``vendor_files`` files (the wide-directory fold). Every
    repo is copied into ``n_forks`` forks (fork 0 is the upstream); a
    ``FORK_EDIT_SHARE`` of files get an appended line in exactly one fork.
    Contents are mutually dissimilar, so LSH finds few candidates.

    Exact groups: the unedited copies of each file (parent suppression
    may report them through a duplicated ancestor directory instead).
    Families: both versions of every edited file."""
    src = spark.range(n_repos * files_per_repo).select(
        (F.col("id") / files_per_repo).cast("long").alias("r"),
        (F.col("id") % files_per_repo).alias("i"),
        F.lit(0).alias("v"))
    vend = spark.range(n_vendored * vendor_files).select(
        (F.col("id") / vendor_files).cast("long").alias("r"),
        (F.col("id") % vendor_files).alias("i"),
        F.lit(1).alias("v"))
    i = F.col("i")

    def level(tag: str, div: int) -> Column:
        return F.concat(F.lit(tag), ((i / div).cast("long") % 4).cast("string"))

    # src/a/b/c/d/e/f<i>.c, directory digit = (i / div) % 4: src/ and the
    # a/, b/, c/ levels fan out 4 ways; with 256 files per repo (a, b, c,
    # d) already name a file, so each d/ holds the one directory e0/ and
    # each e0/ one file: a single-child chain at the bottom of the tree
    deep = F.concat_ws("/", F.lit("src"), level("a", 1), level("b", 4),
                       level("c", 16), level("d", 64), level("e", 256),
                       F.concat(F.lit("f"), i.cast("string"), F.lit(".c")))
    flat = F.concat(F.lit("third_party/vendored/v"), i.cast("string"),
                    F.lit(".c"))
    file_key = F.concat_ws("/", F.col("r"), F.col("v"), F.col("i"))
    edited = F.pmod(F.xxhash64(F.lit(seed), F.lit("edit"), file_key),
                    F.lit(1_000_000)) < F.lit(
                        int(FORK_EDIT_SHARE * 1_000_000))
    src = src.unionByName(vend).select(
        "r",
        F.when(F.col("v") == 1, flat).otherwise(deep).alias("path"),
        F.expr(_text_sql(seed, "xxhash64(r, v, i)", FORK_TOKENS)
               ).alias("content"),
        file_key.alias("_file"),
        edited.alias("_edited"),
        # the one fork (1..n_forks-1) that edits an edited file
        (F.pmod(F.xxhash64(F.lit(seed), F.lit("fork"), file_key),
                F.lit(n_forks - 1)) + 1).alias("_by"))
    fk = spark.range(n_forks).select(F.col("id").alias("k"))
    rows = src.crossJoin(fk).withColumn(
        "_edit", F.col("_edited") & (F.col("k") == F.col("_by")))
    return _finish(spark, rows.select(
        F.concat(F.lit("org-"), F.col("r").cast("string"),
                 F.when(F.col("k") == 0, F.lit("/upstream"))
                 .otherwise(F.concat(F.lit("/fork-"),
                                     F.col("k").cast("string")))).alias("repo"),
        "path",
        F.sha1(F.concat_ws("-", F.lit(seed), F.col("r"), F.col("k"))
               ).alias("commit"),
        F.lit("c").alias("lang"),
        F.when(F.col("_edit"),
               F.concat(F.col("content"), F.lit("\n// patched in fork "),
                        F.col("k").cast("string")))
        .otherwise(F.col("content")).alias("content"),
        F.when(F.col("_edited"), F.col("_file")).alias("fam"),
        F.when(~F.col("_edit"), F.col("_file")).alias("gid"),
    ), n_parts)
