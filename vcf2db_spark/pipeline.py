"""End-to-end VCF → tables pipeline (SURVEY.md §3 lifecycle).

Spark equivalent of the reference's load loop [U vcf2db.py §VCFDB.load
~L640]: read VCF (header-inferred schema, contig partitions) → derive
per-variant stats → assign deterministic variant_id → explode annotations
into variant_impacts → denormalize top impact → load PED samples → emit
the four-table GEMINI-shaped output.

Each returned DataFrame is a lazy plan; callers pick the sink
(``sinks.write_parquet`` / ``sinks.write_jdbc``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from vcf2db_spark.io import local_table
from vcf2db_spark.operators.impacts import explode_impacts, with_top_impact
from vcf2db_spark.operators.variants import (
    assign_variant_id,
    with_genotype_stats,
    with_variant_type,
)
from vcf2db_spark.sources.header import VCFHeader, clean, parse_header, read_header_text
from vcf2db_spark.sources.ped import read_ped
from vcf2db_spark.sources.vcf import read_vcf

_HEADER_SCHEMA = T.StructType([T.StructField("header_text", T.StringType(), True)])


@dataclass
class PersistedStages:
    """The stages ``load_vcf`` persisted; ``unpersist()`` releases all of
    them (idempotent), latest first so no earlier stage is re-planned
    under a later one."""

    stages: tuple[DataFrame, ...]

    def unpersist(self, blocking: bool = False) -> None:
        for df in reversed(self.stages):
            df.unpersist(blocking)


@dataclass
class VCFTables:
    """The reference's output data model (SURVEY §1.2)."""

    variants: DataFrame
    variant_impacts: DataFrame | None
    samples: DataFrame | None
    vcf_header: DataFrame
    header: VCFHeader
    #: every stage ``load_vcf`` persisted (the range-sorted id stage, and
    #: the parse with ``cache_parse=True``) — callers own their lifetime:
    #: ``tables.cached.unpersist()`` once the tables are consumed
    cached: PersistedStages | None = None
    #: rows in ``variants``, known from the id offsets without a job
    n_variants: int | None = None


def load_vcf(
    spark: SparkSession,
    vcf_path: str,
    ped_path: str | None = None,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    num_partitions: int | None = None,
    cache_parse: bool = False,
    decompose: str = "reject",
    target_partition_bytes: int | None = None,
) -> VCFTables:
    """Parse, derive and id a VCF into the four tables as lazy plans.

    The range-sorted stage ``assign_variant_id`` persists is the load's
    only shuffle of row data; ``variants`` (with its top impact picked
    per row), ``variant_impacts`` and any expansion are projections of
    it. ``cache_parse=True`` also persists the parse itself, so the id
    step's range sampling and its sort share ONE Python-parse pass
    instead of reading the text twice. Use it when the parsed batch fits
    cluster memory/disk; at larger scale write the parsed stage to
    parquet and continue from there instead. Either way release
    ``tables.cached`` when done.

    ``target_partition_bytes=None`` lets ``read_vcf`` size scan splits
    to the file and the cluster."""
    header = parse_header(read_header_text(vcf_path))

    raw = read_vcf(
        spark,
        vcf_path,
        black_list=black_list,
        include_genotypes=include_genotypes and bool(header.samples),
        decompose=decompose,
        target_partition_bytes=target_partition_bytes,
    )
    if cache_parse:
        raw = raw.persist()
    v = with_variant_type(raw)
    if include_genotypes and header.samples:
        v = with_genotype_stats(v)
    ids = assign_variant_id(v, num_partitions=num_partitions)
    v = ids.df

    impacts = None
    ann_key = header.annotation_key
    if ann_key is not None and clean(ann_key) in v.columns:
        impacts = explode_impacts(v, header)
        v = with_top_impact(v, header)

    samples = None
    if ped_path is not None:
        samples = read_ped(spark, ped_path, vcf_samples=header.samples or None)

    return VCFTables(
        variants=v,
        variant_impacts=impacts,
        samples=samples,
        vcf_header=local_table(spark, [(header.raw,)], _HEADER_SCHEMA),
        header=header,
        cached=PersistedStages((raw, ids.persisted) if cache_parse else (ids.persisted,)),
        n_variants=ids.count,
    )


def open_artifact(spark: SparkSession, path: str) -> VCFTables:
    """Re-open a written artifact as ``VCFTables`` — the downstream-query
    entry point (SURVEY §3 entry 3) without re-parsing any VCF.

    ``path`` is either the CLI's parquet output directory (one dataset per
    table) or a gemini-compatible SQLite ``.db`` file (ours, or one the
    reference itself produced — genotype blobs decode back to arrays).
    The VCF header text stored in the artifact rebuilds the sample-order
    index that gt-filters need.
    """
    import os

    if path.endswith(".db"):
        import sqlite3 as _sq

        from vcf2db_spark.sources.sqlite import read_gemini_db

        con = _sq.connect(f"file:{path}?mode=ro", uri=True)
        try:
            present = {
                r[0]
                for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")
            }
        finally:
            con.close()

        def load(name):
            return read_gemini_db(spark, path, name) if name in present else None

    else:

        def load(name):
            p = os.path.join(path, name)
            return spark.read.parquet(p) if os.path.isdir(p) else None

    variants = load("variants")
    if variants is None:
        raise ValueError(f"no variants table in artifact {path!r}")
    vcf_header = load("vcf_header")
    if vcf_header is not None:
        raw = vcf_header.collect()[0]["header_text"]
        header = parse_header(raw)
    else:  # header-less artifact: SQL works, gt-filters can't resolve samples
        header = parse_header("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT")
        vcf_header = local_table(spark, [(header.raw,)], _HEADER_SCHEMA)
    return VCFTables(
        variants=variants,
        variant_impacts=load("variant_impacts"),
        samples=load("samples"),
        vcf_header=vcf_header,
        header=header,
    )
