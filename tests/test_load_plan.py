"""Shape of the VCF load: the scan is a ``mapInArrow`` over driver-planned
splits, the persisted, range-sorted parse is its only shuffle of row data,
``variant_id`` is stamped in the JVM, the top impact is picked per row,
and every stage the load persists is released.

Runs in the default suite: each test loads a file of a few dozen rows
into the shared session."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from tests.fixtures.make_mini_vcf import write_fixture
from vcf2db_spark import pipeline
from vcf2db_spark.__main__ import build_parser, main
from vcf2db_spark.lifecycle import Lifecycle
from vcf2db_spark.operators.impacts import explode_impacts, top_impacts, with_top_impact
from vcf2db_spark.sources.bgzf import compress_file
from vcf2db_spark.sources.header import parse_header
from vcf2db_spark.sources.tabix import index_vcf
from vcf2db_spark.sources.vcf import read_vcf


def _persistent_rdds(spark) -> set[int]:
    """Ids of the persisted RDDs. Compared as sets: the context cleaner may
    drop RDDs that earlier tests left persisted and no longer reference."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _without_initial_plans(plan: str) -> list[str]:
    """Plan lines minus AQE's ``== Initial Plan ==`` subtrees, which
    repeat every node of the final plan they sit beside."""
    out, skip_deeper_than = [], None
    for ln in plan.splitlines():
        depth = len(ln) - len(ln.lstrip(" "))
        if skip_deeper_than is not None and depth > skip_deeper_than:
            continue
        skip_deeper_than = None
        if "== Initial Plan ==" in ln:
            skip_deeper_than = depth
        else:
            out.append(ln)
    return out


# ---- the CLI's variants plan and its persisted stages ---------------------


def test_cli_variants_plan_is_one_range_shuffle(spark, tmp_path, monkeypatch, capsys):
    import vcf2db_spark.sinks.writers as writers

    plans: dict[str, str] = {}
    real = writers.write_parquet

    def spy(df, path, **kw):
        plans[os.path.basename(path)] = df._jdf.queryExecution().executedPlan().toString()
        real(df, path, **kw)

    monkeypatch.setattr(writers, "write_parquet", spy)
    vcf, ped = write_fixture(str(tmp_path / "src"))
    before = _persistent_rdds(spark)
    assert main([vcf, ped, str(tmp_path / "out")]) == 0
    assert "loaded 6 variants" in capsys.readouterr().out
    # the CLI released both stages it persisted (parse + sorted id stage)
    assert not _persistent_rdds(spark) - before

    plan = plans["variants"]
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "Join", "Cartesian"):
        assert node not in plan, f"{node} in the variants plan:\n{plan}"
    exchanges = [ln for ln in _without_initial_plans(plan) if "Exchange " in ln]
    assert len(exchanges) == 1 and "Exchange rangepartitioning" in exchanges[0], plan
    # the VCF is scanned by one mapInArrow over driver-planned splits,
    # not through a Python DataSource (BatchScan)
    assert "BatchScan" not in plan, plan
    lines = plan.splitlines()
    scans = [i for i, ln in enumerate(lines) if "MapInArrow " in ln]
    assert scans and all("Range (" in lines[i + 1] for i in scans), plan


def test_cli_cores_come_from_the_env_var_only():
    ap = build_parser()
    assert "SPARK_GRAFT_CPUS" in ap.epilog
    with pytest.raises(SystemExit):
        ap.parse_args(["a.vcf", "out", "--cpus", "4"])


def test_cli_sqlite_load_releases_its_stages(spark, tmp_path):
    vcf, ped = write_fixture(str(tmp_path / "src"))
    before = _persistent_rdds(spark)
    assert main([vcf, ped, str(tmp_path / "mini.db")]) == 0
    assert not _persistent_rdds(spark) - before


def test_lifecycle_release_returns_to_baseline(spark, tmp_path):
    vcf, ped = write_fixture(str(tmp_path / "src"))
    before = _persistent_rdds(spark)
    lc = Lifecycle()
    for cache_parse in (True, True, False):
        lc.release()
        t = pipeline.load_vcf(spark, vcf, ped_path=ped, cache_parse=cache_parse)
        lc.hold_df(t.cached)
        assert t.variants.count() == t.n_variants == 6
        t.variant_impacts.collect()
        # one generation live at a time: the parse and the id stage
        assert len(_persistent_rdds(spark) - before) == (2 if cache_parse else 1)
    lc.release()
    assert not _persistent_rdds(spark) - before


def test_small_tables_are_one_partition(spark, tmp_path):
    vcf, ped = write_fixture(str(tmp_path / "src"))
    t = pipeline.load_vcf(spark, vcf, ped_path=ped)
    try:
        assert t.samples.rdd.getNumPartitions() == 1
        assert t.vcf_header.rdd.getNumPartitions() == 1
        assert [r["name"] for r in t.samples.orderBy("sample_id").collect()] == [
            "NA001", "NA002", "NA003"
        ]
        assert not t.samples.schema["sample_id"].nullable
        assert t.samples.schema["family_id"].nullable
    finally:
        t.cached.unpersist()


# ---- variant_id against a driver-side enumeration ------------------------


def _tie_heavy_vcf(path: str) -> None:
    """Three contigs (``chr10`` sorts between ``chr1`` and ``chr2``);
    every site carries a tri-allelic record (split into three rows with
    one start) and a deletion at the same start."""
    lines = [
        "##fileformat=VCFv4.2",
        *[f"##contig=<ID={c},length=1000000>" for c in ("chr1", "chr2", "chr10")],
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2",
    ]
    for chrom in ("chr1", "chr2", "chr10"):
        for pos in range(100, 1700, 100):
            lines.append(f"{chrom}\t{pos}\t.\tA\tT,C,G\t50\tPASS\tDP=9\tGT\t0/1\t1/2")
            lines.append(f"{chrom}\t{pos}\t.\tAT\tA\t50\tPASS\tDP=7\tGT\t0/0\t0/1")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_variant_id_matches_driver_enumeration(spark, tmp_path):
    path = str(tmp_path / "ties.vcf")
    _tie_heavy_vcf(path)
    t = pipeline.load_vcf(spark, path, decompose="split", num_partitions=6)
    try:
        sorted_stage = t.cached.stages[-1]
        used = sorted_stage.select(F.spark_partition_id()).distinct().count()
        assert used >= 4, f"only {used} range partitions hold rows"

        got = {
            (r["chrom"], r["start"], r["ref"], r["alt"]): r["variant_id"]
            for r in t.variants.select("variant_id", "chrom", "start", "ref", "alt").collect()
        }
        want = {key: i + 1 for i, key in enumerate(sorted(got))}
        assert len(got) == t.n_variants == 3 * 16 * 4
        assert got == want
        assert not t.variants.schema["variant_id"].nullable
    finally:
        t.cached.unpersist()


# ---- load_vcf reaches read_vcf's adaptive split ---------------------------


def test_load_vcf_uses_adaptive_scan_split(spark, tmp_path, monkeypatch):
    rng = random.Random(5)
    lines = [
        "##fileformat=VCFv4.2",
        "##contig=<ID=chr1,length=248956422>",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    pos = 0
    for _ in range(40_000):
        pos += rng.randint(1, 50)
        lines.append(
            f"chr1\t{pos}\trs{rng.randrange(10**9)}\tA\tG\t{rng.random() * 99:.2f}"
            f"\tPASS\tDP={rng.randrange(10**4)}"
        )
    plain = str(tmp_path / "one_contig.vcf")
    with open(plain, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    gz = plain + ".gz"
    compress_file(plain, gz)
    index_vcf(gz)
    assert os.path.getsize(gz) > 2 * (256 << 10), "must exceed two split floors"

    scans = []

    def spy(*args, **kw):
        df = read_vcf(*args, **kw)
        scans.append(df.rdd.getNumPartitions())
        return df

    monkeypatch.setattr(pipeline, "read_vcf", spy)
    t = pipeline.load_vcf(spark, gz)
    t.cached.unpersist()
    direct = read_vcf(spark, gz).rdd.getNumPartitions()
    assert direct > 1
    assert scans == [direct]


# ---- per-row top impact == the groupBy reference --------------------------

_CSQ_HEADER = (
    "##fileformat=VCFv4.2\n"
    '##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations '
    "from Ensembl VEP. Format: Allele|Consequence|SYMBOL|Feature|BIOTYPE|EXON|"
    'Codons|Amino_acids|Protein_position|PolyPhen|SIFT">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
)

_CSQ_ROWS = [
    # rank tie (missense) broken by transcript: ENST01 wins
    (1, "G|missense_variant|G1|ENST02|pc||||||,G|missense_variant|G1|ENST01|pc||||||"),
    # NULL transcript sorts as '~', after any ENST id
    (2, "G|stop_gained|G2||pc||||||,G|stop_gained|G2|ENST09|pc||||||"),
    # ... and wins when it is the only most severe record
    (3, "G|stop_gained|G3||pc||||||,G|intron_variant|G3|ENST01|pc||||||"),
    # '&'-joined: severity of the worst member, impact_so the first
    (4, "G|intron_variant&stop_gained|G4|ENST05|pc||||||,G|missense_variant|G4|ENST01|pc||||||"),
    # unknown SO term ranks below every known one
    (5, "G|made_up_term|G5|ENST01|pc||||||,G|intergenic_variant|G5|ENST07|pc||||||"),
    # polyphen/sift subfields split into pred + score
    (6, "G|missense_variant|G6|ENST03|pc|3/9|gCa/gGa|A/G|120|"
        "probably_damaging(0.957)|deleterious(0.01)"),
    # equal rank and transcript: the next struct fields break the tie
    (7, "G|missense_variant|G7b|ENST01|pc||||||,G|missense_variant|G7a|ENST01|pc||||||"),
    # unannotated: NULL impact columns
    (8, None),
]


def test_per_row_top_impact_matches_groupby_reference(spark):
    header = parse_header(_CSQ_HEADER)
    v = spark.createDataFrame(_CSQ_ROWS, "variant_id long, csq string")
    got = with_top_impact(v, header)
    top = top_impacts(explode_impacts(v, header))
    keep = [c for c in got.columns if c != "variant_id"]
    want = v.drop("csq").join(top.select("variant_id", *keep), "variant_id", "left")

    assert got.columns == want.columns
    assert got.dtypes == want.dtypes
    rows = got.orderBy("variant_id").collect()
    assert rows == want.orderBy("variant_id").collect()

    by_id = {r["variant_id"]: r for r in rows}
    assert by_id[1]["transcript"] == "ENST01"
    assert by_id[2]["transcript"] == "ENST09"
    assert by_id[3]["transcript"] is None and by_id[3]["impact_so"] == "stop_gained"
    assert by_id[4]["impact_so"] == "intron_variant" and by_id[4]["is_lof"]
    assert by_id[4]["impact_severity"] == "HIGH"
    assert by_id[5]["transcript"] == "ENST07"
    assert (by_id[6]["polyphen_pred"], by_id[6]["polyphen_score"]) == ("probably_damaging", 0.957)
    assert (by_id[6]["sift_pred"], by_id[6]["sift_score"]) == ("deleterious", 0.01)
    assert by_id[7]["gene"] == "G7a"
    assert all(by_id[8][c] is None for c in keep)
