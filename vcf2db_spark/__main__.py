"""CLI entry point — drop-in shape of the reference's command line
[U vcf2db.py §__main__/argparse ~L1100-1200]:

    python -m vcf2db_spark sample.anno.vcf.gz sample.ped out_dir \\
        [--black-list FIELD ...] [--expand gt_types ...] \\
        [--batch-size N] [--legacy-compression] [--jdbc-url URL]

Output target:
- a directory (default): one parquet dataset per table
  (variants/ variant_impacts/ samples/ vcf_header/ + expanded_<col>/),
  chrom-partitioned and locus-sorted — the columnar analog of the
  reference's indexed SQLite artifact;
- ``--jdbc-url jdbc:...``: batched JDBC load (the reference's
  MySQL/PostgreSQL path); requires the driver jar on the classpath.

``--expand`` materializes a genotype array column in long relational form
(variant_id, sample_idx, sample_name, value) like the reference's
expanded tables [U §main/--expand ~L1160]. ``--legacy-compression``
additionally writes zlib-packed blob twins of the genotype arrays for
byte-parity with gemini consumers [U §pack_blob ~L60].
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m vcf2db_spark",
        description="Load a decomposed, annotated VCF into analytic tables.",
        epilog="Subcommands over a loaded artifact: "
        "`query <artifact> -q SQL [--gt-filter ...]`, "
        "`stats <artifact> --tstv|--snp-counts|--sfs|--roh|--burden`, "
        "`inheritance <artifact> --model de_novo|...`, "
        "`annotate <artifact> <bed> -o OUT`. "
        "Local cores: the SPARK_GRAFT_CPUS environment variable (default 32).",
    )
    ap.add_argument("vcf", help="decomposed, annotated VCF (.vcf or .vcf.gz)")
    ap.add_argument("ped", nargs="?", default=None, help="PED pedigree file")
    ap.add_argument(
        "db",
        help="output: directory (parquet), *.db file (gemini-compatible "
        "SQLite, the reference's artifact), or table prefix with --jdbc-url",
    )
    ap.add_argument("--black-list", nargs="*", default=[], help="INFO fields to drop")
    ap.add_argument("--expand", nargs="*", default=[], help="genotype columns to expand long-form")
    ap.add_argument(
        "--expand-wide",
        nargs="*",
        default=[],
        help="genotype columns as per-sample wide tables (the reference's "
        "--expand layout [U vcf2db.py §main/--expand ~L1160]); long form "
        "(--expand) is the shape that scales past ~10^3 samples",
    )
    ap.add_argument("--batch-size", type=int, default=50_000, help="JDBC insert batch size")
    ap.add_argument("--legacy-compression", action="store_true", help="zlib blob twins")
    ap.add_argument(
        "--decompose",
        action="store_true",
        help="split multi-allelic records in-engine (vt decompose -s "
        "semantics) instead of rejecting them",
    )
    ap.add_argument("--jdbc-url", default=None, help="jdbc:... target instead of parquet")
    return ap


def build_query_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m vcf2db_spark query",
        description="gemini-style SQL over a loaded artifact "
        "(parquet output dir or gemini-compatible .db).",
    )
    ap.add_argument("artifact", help="CLI output dir (parquet) or .db file")
    ap.add_argument("-q", "--sql", required=True, help="SQL over variants/variant_impacts/samples")
    ap.add_argument("--gt-filter", default=None, help="gemini gt-filter mini-language expression")
    ap.add_argument("--limit", type=int, default=None, help="cap printed rows")
    ap.add_argument("--format", choices=("tsv", "json"), default="tsv")
    return ap


def query_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark query out_dir -q 'SELECT ...' [--gt-filter ...]`
    — the reference ecosystem's `gemini query` shape (SURVEY §3 entry 3)."""
    args = build_query_parser().parse_args(argv)

    from vcf2db_spark.gemini import GeminiEngine
    from vcf2db_spark.pipeline import open_artifact
    from vcf2db_spark.session import get_spark

    spark = get_spark("vcf2db-query")
    spark.sparkContext.setLogLevel("ERROR")
    eng = GeminiEngine(spark, open_artifact(spark, args.artifact))
    df = eng.query(args.sql, gt_filter=args.gt_filter)
    if args.limit is not None:
        df = df.limit(args.limit)
    if args.format == "json":
        for line in df.toJSON().toLocalIterator():
            print(line)
    else:
        cols = df.columns
        print("\t".join(cols))
        for row in df.toLocalIterator():
            print("\t".join("" if row[c] is None else str(row[c]) for c in cols))
    return 0


def stats_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark stats <artifact> --tstv|--snp-counts|--sfs|
    --roh|--burden` — the `gemini stats` tool shape over a loaded artifact."""
    ap = argparse.ArgumentParser(prog="python -m vcf2db_spark stats")
    ap.add_argument("artifact", help="CLI output dir (parquet) or .db file")
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--tstv", action="store_true")
    g.add_argument("--snp-counts", action="store_true")
    g.add_argument("--sfs", action="store_true", help="site frequency spectrum")
    g.add_argument("--roh", action="store_true", help="runs of homozygosity (strict)")
    g.add_argument(
        "--roh-tolerant",
        action="store_true",
        help="roh absorbing up to --max-hets/--max-unknowns interruptions (gemini defaults)",
    )
    g.add_argument("--burden", action="store_true", help="per-gene HIGH-impact burden")
    ap.add_argument(
        "--wide",
        action="store_true",
        help="burden: print the gene × sample matrix instead of long form",
    )
    ap.add_argument("--min-snps", type=int, default=25, help="roh: min sites per run")
    ap.add_argument("--min-size-bp", type=int, default=100_000, help="roh: min run span")
    ap.add_argument("--max-hets", type=int, default=1, help="roh-tolerant: het budget")
    ap.add_argument("--max-unknowns", type=int, default=3, help="roh-tolerant: unknown budget")
    args = ap.parse_args(argv)

    from vcf2db_spark import stats as S
    from vcf2db_spark.pipeline import open_artifact
    from vcf2db_spark.session import get_spark

    spark = get_spark("vcf2db-stats")
    spark.sparkContext.setLogLevel("ERROR")
    tables = open_artifact(spark, args.artifact)
    if args.tstv:
        df = S.tstv(tables.variants)
    elif args.snp_counts:
        df = S.snp_counts(tables.variants)
    elif args.sfs:
        df = S.site_frequency_spectrum(tables.variants)
    elif args.roh:
        df = S.roh(
            tables.variants,
            tables.header.samples or [],
            min_snps=args.min_snps,
            min_size_bp=args.min_size_bp,
        )
    elif args.roh_tolerant:
        df = S.roh_tolerant(
            tables.variants,
            tables.header.samples or [],
            min_snps=args.min_snps,
            min_size_bp=args.min_size_bp,
            max_hets=args.max_hets,
            max_unknowns=args.max_unknowns,
        )
    else:
        if tables.variant_impacts is None:
            raise SystemExit("--burden needs a variant_impacts table in the artifact")
        fn = S.burden_wide if args.wide else S.burden
        df = fn(tables.variants, tables.variant_impacts, tables.header.samples or [])
    cols = df.columns
    print("\t".join(cols))
    for row in df.toLocalIterator():
        print("\t".join("" if row[c] is None else str(row[c]) for c in cols))
    return 0


INHERITANCE_MODELS = (
    "de_novo",
    "autosomal_recessive",
    "autosomal_dominant",
    "x_linked_de_novo",
    "x_linked_recessive",
    "x_linked_dominant",
    "mendel_errors",
    "comp_hets",
)


def inheritance_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark inheritance <artifact> --model de_novo` —
    the gemini Mendelian-tool shapes (gemini de_novo / autosomal_* /
    x_linked_* / mendel_errors / comp_hets) over a loaded artifact with a
    samples (PED) table."""
    ap = argparse.ArgumentParser(prog="python -m vcf2db_spark inheritance")
    ap.add_argument("artifact", help="CLI output dir (parquet) or .db file")
    ap.add_argument("--model", required=True, choices=INHERITANCE_MODELS)
    ap.add_argument(
        "--pattern-only",
        action="store_true",
        help="comp_hets: genotype-pattern candidates only (ignore affection/origin)",
    )
    ap.add_argument("--limit", type=int, default=None)
    args = ap.parse_args(argv)

    from vcf2db_spark.inheritance import InheritanceEngine
    from vcf2db_spark.pipeline import open_artifact
    from vcf2db_spark.session import get_spark

    spark = get_spark("vcf2db-inheritance")
    spark.sparkContext.setLogLevel("ERROR")
    tables = open_artifact(spark, args.artifact)
    if tables.samples is None:
        raise SystemExit("inheritance models need a samples (PED) table in the artifact")
    eng = InheritanceEngine(tables)
    if args.pattern_only and args.model != "comp_hets":
        raise SystemExit("--pattern-only applies only to --model comp_hets")
    if args.model == "comp_hets":
        df = eng.compound_hets(pattern_only=args.pattern_only)
    else:
        df = getattr(eng, args.model)()
    if args.limit is not None:
        df = df.limit(args.limit)
    cols = df.columns
    print("\t".join(cols))
    for row in df.toLocalIterator():
        print("\t".join("" if row[c] is None else str(row[c]) for c in cols))
    return 0


def annotate_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark annotate <artifact> <regions.bed>
    [--boolean NAME] [--count NAME] [--extract OUT:COL:OP ...] -o OUT` —
    the `gemini annotate` tool shape: add overlap-derived columns to the
    variants table from a BED file, write the augmented table."""
    ap = argparse.ArgumentParser(prog="python -m vcf2db_spark annotate")
    ap.add_argument("artifact", help="CLI output dir (parquet) or .db file")
    ap.add_argument("bed", help="BED interval file (plain or gzip)")
    ap.add_argument("--boolean", default=None, metavar="NAME", help="any-overlap flag column")
    ap.add_argument("--count", default=None, metavar="NAME", help="overlap-count column")
    ap.add_argument(
        "--extract",
        nargs="*",
        default=[],
        metavar="OUT:COL:OP",
        help="extracted columns, e.g. gerp_mean:score:mean names:name:uniq",
    )
    ap.add_argument("-o", "--out", required=True, help="output parquet path for the augmented variants")
    ap.add_argument("--bin-width", type=int, default=100_000)
    args = ap.parse_args(argv)

    from vcf2db_spark.operators.annotate import annotate_variants
    from vcf2db_spark.pipeline import open_artifact
    from vcf2db_spark.session import get_spark
    from vcf2db_spark.sinks.writers import write_parquet
    from vcf2db_spark.sources.bed import read_bed

    extract: dict[str, tuple[str, str]] = {}
    for spec in args.extract:
        parts = spec.split(":")
        if len(parts) != 3:
            print(f"--extract expects OUT:COL:OP, got {spec!r}", file=sys.stderr)
            return 2
        extract[parts[0]] = (parts[1], parts[2])

    spark = get_spark("vcf2db-annotate")
    spark.sparkContext.setLogLevel("ERROR")
    tables = open_artifact(spark, args.artifact)
    out = annotate_variants(
        tables.variants,
        read_bed(spark, args.bed),
        extract=extract,
        boolean_col=args.boolean,
        count_col=args.count,
        bin_width=args.bin_width,
    )
    write_parquet(out, args.out)
    print(f"annotated variants written to {args.out}")
    return 0


def curate_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark curate docs.parquet out_dir [--min-quality]
    [--lsh-threshold] [--languages en,de] [--report]` — the composed
    corpus-curation pipeline (curate.py) as a CLI stage: quality/language
    filter -> exact dedup -> MinHash-LSH near-dedup -> parquet."""
    ap = argparse.ArgumentParser(
        prog="python -m vcf2db_spark curate",
        description="Curate a document table for training and write the survivors.",
    )
    ap.add_argument("docs", help="input parquet with doc_id/text columns")
    ap.add_argument("out", help="output parquet directory for curated docs")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--lsh-threshold", type=float, default=0.8)
    ap.add_argument("--languages", default=None, help="comma-separated lang allowlist")
    ap.add_argument("--report", action="store_true", help="print per-stage JSON counts")
    args = ap.parse_args(argv)

    import json as _json

    from vcf2db_spark.curate import curate_documents
    from vcf2db_spark.session import get_spark

    spark = get_spark("vcf2db-curate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.docs)
    langs = tuple(args.languages.split(",")) if args.languages else None
    res = curate_documents(
        docs,
        min_quality=args.min_quality,
        languages=langs,
        lsh_threshold=args.lsh_threshold,
        report=args.report,
    )
    curated = res.curated if args.report else res
    curated.write.mode("overwrite").parquet(args.out)
    if args.report:
        print(
            _json.dumps(
                {
                    "n_input": res.n_input,
                    "n_after_quality": res.n_after_quality,
                    "n_after_exact": res.n_after_exact,
                    "n_after_neardup": res.n_after_neardup,
                }
            )
        )
    return 0


def export_main(argv: list[str]) -> int:
    """`python -m vcf2db_spark export curated.parquet out_dir [--shards 8]
    [--id-col doc_id]` — hash-sharded training export with an integrity
    manifest (sinks/export.py); prints the manifest JSON."""
    ap = argparse.ArgumentParser(
        prog="python -m vcf2db_spark export",
        description="Write hash-sharded training shards + integrity manifest.",
    )
    ap.add_argument("docs", help="input parquet")
    ap.add_argument("out", help="output shard directory")
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--id-col", default="doc_id")
    args = ap.parse_args(argv)

    import json as _json

    from vcf2db_spark.session import get_spark
    from vcf2db_spark.sinks.export import write_training_shards

    spark = get_spark("vcf2db-export")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.docs)
    manifest = write_training_shards(
        df, args.out, n_shards=args.shards, id_col=args.id_col
    )
    print(_json.dumps(manifest))
    return 0


def main(argv: list[str] | None = None) -> int:
    import sys as _sys

    argv = list(_sys.argv[1:]) if argv is None else list(argv)
    if argv and argv[0] == "query":
        return query_main(argv[1:])
    if argv and argv[0] == "stats":
        return stats_main(argv[1:])
    if argv and argv[0] == "inheritance":
        return inheritance_main(argv[1:])
    if argv and argv[0] == "annotate":
        return annotate_main(argv[1:])
    if argv and argv[0] == "curate":
        return curate_main(argv[1:])
    if argv and argv[0] == "export":
        return export_main(argv[1:])
    args = build_parser().parse_args(argv)

    from pyspark.sql import functions as F

    from vcf2db_spark.functions.codecs import pack_blob_udf
    from vcf2db_spark.pipeline import load_vcf
    from vcf2db_spark.session import get_spark
    from vcf2db_spark.sinks.writers import write_jdbc, write_parquet

    t0 = time.perf_counter()
    from pyspark.sql import SparkSession

    owned = SparkSession.getActiveSession() is None
    spark = get_spark("vcf2db-load")
    spark.sparkContext.setLogLevel("WARN")
    tables = load_vcf(
        spark,
        args.vcf,
        ped_path=args.ped,
        black_list=tuple(args.black_list),
        cache_parse=True,
        decompose="split" if args.decompose else "reject",
    )

    try:
        variants = tables.variants
        if args.legacy_compression and not args.db.endswith(".db"):
            # (the SQLite sink packs genotype matrices to blobs natively)
            # blob twins for the integer genotype matrices (gts is the string
            # base rendering — not blob-packed; gemini reads the int matrices)
            pack = pack_blob_udf(legacy=True)
            for c in ("gt_types", "gt_depths", "gt_ref_depths", "gt_alt_depths", "gt_quals"):
                if c in variants.columns:
                    variants = variants.withColumn(f"{c}_blob", pack(F.col(c)))

        outputs = {"variants": variants, "vcf_header": tables.vcf_header}
        if tables.variant_impacts is not None:
            outputs["variant_impacts"] = tables.variant_impacts
        if tables.samples is not None:
            outputs["samples"] = tables.samples

        sample_names = tables.header.samples or []
        for col in args.expand:
            if col not in variants.columns:
                print(f"--expand: no such genotype column {col!r}", file=sys.stderr)
                return 2
            long = tables.variants.select(
                "variant_id", F.posexplode(col).alias("sample_idx", "value")
            )
            if sample_names:
                names = F.array(*[F.lit(s) for s in sample_names])
                long = long.withColumn("sample_name", names[F.col("sample_idx")])
            outputs[f"expanded_{col}"] = long

        for col in args.expand_wide:
            if col not in variants.columns:
                print(f"--expand-wide: no such genotype column {col!r}", file=sys.stderr)
                return 2
            if not sample_names:
                print("--expand-wide requires samples in the VCF header", file=sys.stderr)
                return 2
            # pure projection (element_at per sample) — no shuffle, no pivot;
            # width = cohort size, which is the layout's scale ceiling anyway
            wide = tables.variants.select(
                "variant_id",
                *[
                    F.element_at(F.col(col), i + 1).alias(f"{col}_{s}")
                    for i, s in enumerate(sample_names)
                ],
            )
            outputs[f"expanded_wide_{col}"] = wide

        if args.jdbc_url:
            for name, df in outputs.items():
                write_jdbc(df, args.jdbc_url, f"{args.db}{name}", batch_size=args.batch_size)
        elif args.db.endswith(".db"):
            from vcf2db_spark.sinks.sqlite import write_gemini_db

            write_gemini_db(
                args.db,
                outputs,
                batch_size=args.batch_size,
                legacy=args.legacy_compression,
            )
        else:
            for name, df in outputs.items():
                part = ("chrom",) if "chrom" in df.columns else ()
                sort = ("start",) if "start" in df.columns else ()
                write_parquet(
                    df, os.path.join(args.db, name), partition_by=part, sort_within=sort
                )
    finally:
        tables.cached.unpersist()
    secs = time.perf_counter() - t0
    n = tables.n_variants
    print(f"loaded {n} variants in {secs:.1f}s ({n / secs:.0f} variants/sec)")
    if owned:  # embedded callers (tests, pipelines) keep their session
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
