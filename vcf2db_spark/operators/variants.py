"""Per-variant derivations + deterministic ID assignment (SURVEY.md §2A
A5; §7 hard part 3).

The reference computes these row-by-row from cyvcf2 numpy arrays
[U vcf2db.py §VCFDB._set_variant_properties ~L620]; here they are Spark
higher-order functions over the typed genotype arrays — JVM-side, inside
WholeStageCodegen, no Python in the hot path.
"""

from __future__ import annotations

from itertools import accumulate
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# cyvcf2 gt_types coding
HOM_REF, HET, UNKNOWN, HOM_ALT = 0, 1, 2, 3

_TS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}


def with_variant_type(df: DataFrame, ref: str = "ref", alt: str = "alt") -> DataFrame:
    """``type`` (snp/indel) and ``sub_type`` (ts/tv/ins/del/unknown)."""
    r, a = F.col(ref), F.col(alt)
    is_snp = (F.length(r) == 1) & (F.length(a) == 1) & (r != a)
    ts_pairs = F.array(
        *[F.struct(F.lit(x).alias("r"), F.lit(y).alias("a")) for x, y in sorted(_TS)]
    )
    is_ts = F.array_contains(ts_pairs, F.struct(r.alias("r"), a.alias("a")))
    return df.withColumns(
        {
            "type": F.when(is_snp, "snp").otherwise("indel"),
            "sub_type": F.when(is_snp & is_ts, "ts")
            .when(is_snp, "tv")
            .when(F.length(r) < F.length(a), "ins")
            .when(F.length(r) > F.length(a), "del")
            .otherwise("unknown"),
        }
    )


def with_genotype_stats(df: DataFrame, gt_types: str = "gt_types") -> DataFrame:
    """call_rate / num_hom_ref / num_het / num_hom_alt / num_unknown / aaf
    from the gt_types array — pure higher-order functions."""
    g = F.col(gt_types)

    def count_eq(code: int):
        return F.size(F.filter(g, lambda x: x == F.lit(code)))

    n = F.size(g)
    num_unknown = count_eq(UNKNOWN)
    num_het = count_eq(HET)
    num_hom_alt = count_eq(HOM_ALT)
    called = n - num_unknown
    return df.withColumns(
        {
            "num_hom_ref": count_eq(HOM_REF),
            "num_het": num_het,
            "num_hom_alt": num_hom_alt,
            "num_unknown": num_unknown,
            "call_rate": F.when(n > 0, called.cast("double") / n).otherwise(None),
            "aaf": F.when(
                called > 0,
                (num_het + 2 * num_hom_alt).cast("double") / (2 * called),
            ).otherwise(None),
        }
    )


class VariantIds(NamedTuple):
    """``assign_variant_id``'s result."""

    #: the input rows with ``variant_id`` as the first column
    df: DataFrame
    #: the persisted, range-sorted stage ``df`` reads — the caller
    #: releases it (``unpersist()``) once ``df``'s consumers are done
    persisted: DataFrame
    #: the row count, from the per-partition counts (no extra job)
    count: int


def assign_variant_id(
    df: DataFrame,
    order: tuple[str, ...] = ("chrom", "start", "ref", "alt"),
    num_partitions: int | None = None,
) -> VariantIds:
    """Deterministic sequential ``variant_id`` in locus order — the Spark
    equivalent of the reference's file-order counter [U vcf2db.py ~L660].

    Not a global ``row_number()`` window (single-partition sort — dies at
    scale). Instead:

    1. range-repartition + sort within partitions on the locus key,
       persisted — the only shuffle of row data, and every later pass
       reads the same partition contents in the same order;
    2. count rows per partition (one small job, one row per partition
       to the driver) and turn the counts into cumulative offsets;
    3. stamp ``offset[pid] + i + 1`` in the JVM, where ``i`` is the row's
       index within its persisted partition:
       ``monotonically_increasing_id()`` is ``(pid << 33) + i`` when it is
       projected straight over the persisted scan, so ``i`` is that minus
       ``pid << 33``.

    Gap-free: partition ``pid`` holds exactly ``count[pid]`` rows, so its
    ids are ``offset[pid] + 1 .. offset[pid + 1]``, and partitions are in
    key order. The determinism contract is unchanged: the ids are a
    function of the persisted partitions' contents and row order, which
    every consumer of ``df`` reads identically while the stage stays
    persisted. Filters on ``df``
    cannot slip under the stamp — Catalyst does not push predicates
    through a nondeterministic projection.
    """
    spark = df.sparkSession
    n = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    sorted_df = df.repartitionByRange(n, *[F.col(c) for c in order]).sortWithinPartitions(
        *order
    ).persist()

    counts = (
        sorted_df.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets = list(accumulate((sizes.get(p, 0) for p in range(n - 1)), initial=0))

    pid = F.spark_partition_id()
    local_index = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    # coalesce: the array lookup is nullable in Catalyst's eyes, the id is not
    base = F.coalesce(F.lit(offsets)[pid], F.lit(0))
    ids = (base + local_index + 1).alias("variant_id")
    return VariantIds(sorted_df.select(ids, "*"), sorted_df, sum(sizes.values()))
