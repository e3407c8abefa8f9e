"""BCF at cohort scale (VERDICT r9 item 7): the BCF fixtures in pytest
are mini; this measures the binary container against the text source at
an sf0.1-equivalent row count (default 100k variants × 16 samples × 8
contigs ≈ 1.6M genotype cells) and proves two claims:

(a) CSI partition pruning keeps per-task read bytes BOUNDED: a
    single-contig + locus-range query plans partitions whose compressed
    chunk spans cover only the matching slice of the file — reported as
    pruned-bytes / file-bytes plus the max per-partition span against
    the targetPartitionBytes contract.
(b) BCF full-scan wall is within 1.5× of the text-VCF scan (the binary
    container should WIN — typed atoms beat string splitting; if it
    loses, the typed-value decode needs vectorizing).

Usage: python tools/bench_bcf.py [--n 100000] [--samples 16]
                                 [--contigs 8] [--passes 2]
Prints one JSON line; the curated paragraph goes to BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_vcf import make_vcf  # noqa: E402


def plan_bytes(index, contig: str, beg: int, end: int, split_bytes: int):
    """Compressed byte spans the planner would read for a region —
    derived from the same chunks()/partition_chunks() calls the reader
    plans with (virtual offsets >> 16 = compressed file offsets)."""
    spans = []
    for sub in index.partition_chunks(contig, beg, end, split_bytes):
        lo = min(b >> 16 for b, _ in sub)
        hi = max(e >> 16 for _, e in sub)
        spans.append(hi - lo + (64 << 10))  # +1 block for the tail
    return spans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--samples", type=int, default=16)
    ap.add_argument("--contigs", type=int, default=8)
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args()

    from vcf2db_spark.sources.bcf import read_bcf_header_text, write_bcf
    from vcf2db_spark.sources.bgzf import compress_file
    from vcf2db_spark.sources.csi import read_csi
    from vcf2db_spark.sources.tabix import index_vcf
    from vcf2db_spark.sources.vcf import VCFDataSource, read_vcf
    from vcf2db_spark.session import get_spark

    tag = f"{args.n}x{args.samples}x{args.contigs}"
    vcf = f"/tmp/bench_bcf_{tag}.vcf"
    gz, bcf = vcf + ".gz", f"/tmp/bench_bcf_{tag}.bcf"
    if not os.path.exists(vcf):
        t0 = time.time()
        make_vcf(vcf, args.n, contigs=args.contigs, samples=args.samples)
        print(f"# made vcf in {time.time() - t0:.1f}s", file=sys.stderr)
    if not os.path.exists(gz + ".tbi"):
        compress_file(vcf, gz)
        index_vcf(gz)
    if not os.path.exists(bcf + ".csi"):
        t0 = time.time()
        write_bcf(vcf, bcf, index_path=bcf + ".csi")
        print(f"# encoded bcf in {time.time() - t0:.1f}s", file=sys.stderr)

    out: dict = {
        "metric": "bcf_cohort_scale",
        "n": args.n,
        "samples": args.samples,
        "contigs": args.contigs,
        "vcf_gz_bytes": os.path.getsize(gz),
        "bcf_bytes": os.path.getsize(bcf),
    }

    spark = get_spark("bcf-cohort")
    spark.sparkContext.setLogLevel("ERROR")

    # (b) full-scan wall, text vs binary — identical row contract
    for label, path in (("vcf_gz", gz), ("bcf", bcf)):
        walls, rows = [], 0
        for _ in range(args.passes):
            df = read_vcf(spark, path)
            t0 = time.perf_counter()
            rows = df.count()
            walls.append(time.perf_counter() - t0)
        out[label] = {
            "rows": rows,
            "seconds": round(min(walls), 2),
            "tasks": df.rdd.getNumPartitions(),
            "variants_per_sec": round(rows / min(walls)),
        }
    assert out["vcf_gz"]["rows"] == out["bcf"]["rows"], "container rows differ"
    out["bcf_over_vcf"] = round(
        out["bcf"]["seconds"] / out["vcf_gz"]["seconds"], 3
    )

    # (a) CSI pruning: single-contig + range predicate, pushed down
    # through the DataSource (read_vcf's scan prunes nothing)
    from pyspark.sql import functions as F

    spark.dataSource.register(VCFDataSource)

    contig = f"chr{args.contigs // 2}"
    # ~1/8th of one contig's locus span (positions step 10..500/record,
    # mean ~255 — scale the window with the data so it's never empty)
    pos_max = (args.n // args.contigs) * 255
    lo, hi = pos_max // 8, pos_max // 4
    pr_walls, pr_rows = [], 0
    for _ in range(args.passes):
        df = spark.read.format("vcf").load(bcf).filter(
            (F.col("chrom") == contig)
            & (F.col("start") >= lo)
            & (F.col("start") < hi)
        )
        t0 = time.perf_counter()
        pr_rows = df.count()
        pr_walls.append(time.perf_counter() - t0)
    contigs_aware, _ = __import__(
        "vcf2db_spark.sources.bcf", fromlist=["header_dicts"]
    ).header_dicts(read_bcf_header_text(bcf))
    idx = read_csi(bcf + ".csi", names=contigs_aware)
    spans = plan_bytes(idx, contig, lo, hi, 64 << 20)
    out["pruned_region"] = {
        "contig": contig,
        "range": [lo, hi],
        "rows": pr_rows,
        "seconds": round(min(pr_walls), 2),
        "plan_partitions": len(spans),
        "tasks": df.rdd.getNumPartitions(),
        "plan_bytes": sum(spans),
        "max_partition_bytes": max(spans) if spans else 0,
        "file_fraction": round(sum(spans) / os.path.getsize(bcf), 4),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
