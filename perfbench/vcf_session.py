"""``vcf_session``: load an annotated VCF, then query what was loaded.

One pass, in a fixed order (the seed drives the VCF, the gt-filter's
family and the regions):

- ``load``: the CLI's parquet path, ``vcf2db_spark.__main__.main([vcf.gz,
  ped, out_dir])`` (``load_vcf`` + ``write_parquet``);
- ``load_db``: the same CLI call with a ``.db`` target
  (``write_gemini_db``, the reference's SQLite artifact);
- queries on the parquet artifact just written: ``open_artifact``,
  ``GeminiEngine.query`` with a per-sample and a wildcard gt-filter,
  ``GeminiEngine.region`` twice, ``stats.tstv`` /
  ``site_frequency_spectrum`` / ``burden`` / ``roh`` and
  ``InheritanceEngine.de_novo`` / ``autosomal_recessive`` /
  ``mendel_errors`` / ``compound_hets``.

Every query result is collected to the client (``toPandas``), as a user
reading it would, and checked after the window against DuckDB over the
same written parquet; variant and impact counts of both artifacts are
checked against the generator's.
"""

from __future__ import annotations

import contextlib
import io
import os
import sqlite3
import time
from collections.abc import Callable

import numpy as np

from perfbench import gen
from perfbench.harness import dir_bytes, median, tree_cpu_seconds

N_VARIANTS = 4000
ROH_MIN_SNPS, ROH_MIN_BP = 10, 1000
NAMES_SQL = "[" + ", ".join(f"'{s}'" for s in gen.SAMPLES) + "]"
KIDS = [3 * f for f in range(1, gen.FAMILIES + 1)]  # 1-based slots


def _trio(f: int) -> tuple[int, int, int]:
    """(kid, dad, mom) 1-based genotype slots of family ``f``."""
    return 3 * f, 3 * f - 2, 3 * f - 1


def _mendel_case(k: int, d: int, m: int) -> str:
    c, f, mo = f"gt_types[{k}]", f"gt_types[{d}]", f"gt_types[{m}]"
    both_ref = f"({f} = 0 AND {mo} = 0)"
    both_alt = f"({f} = 3 AND {mo} = 3)"
    opp = f"(({f} = 0 AND {mo} = 3) OR ({f} = 3 AND {mo} = 0))"
    return (
        f"CASE WHEN {both_ref} AND {c} = 1 THEN 'plausible de novo' "
        f"WHEN {both_alt} AND {c} = 1 THEN 'plausible de novo' "
        f"WHEN {both_ref} AND {c} = 3 THEN 'implausible de novo' "
        f"WHEN {both_alt} AND {c} = 0 THEN 'implausible de novo' "
        f"WHEN {opp} AND ({c} = 0 OR {c} = 3) THEN 'uniparental disomy' "
        f"WHEN {f} = 1 AND {mo} = 0 AND {c} = 3 THEN 'loss of heterozygosity' "
        f"WHEN {f} = 1 AND {mo} = 3 AND {c} = 0 THEN 'loss of heterozygosity' "
        f"WHEN {mo} = 1 AND {f} = 0 AND {c} = 3 THEN 'loss of heterozygosity' "
        f"WHEN {mo} = 1 AND {f} = 3 AND {c} = 0 THEN 'loss of heterozygosity' "
        "END"
    )


def _long_sql() -> str:
    return (
        "SELECT variant_id, chrom, start, \"end\", generate_subscripts(gt_types, 1) AS i, "
        "unnest(gt_types) AS gt FROM variants"
    )


class Session:
    """The vcf_session workload; ``ctx`` is run.py's run context."""

    name = "vcf_session"

    def __init__(self, ctx):
        self.ctx = ctx
        self.cohort = gen.make_cohort(ctx.inputs, ctx.seed, N_VARIANTS)
        self.rng = np.random.default_rng([ctx.seed, 10])
        self.results: list[tuple[str, str, object, dict]] = []  # (art, op, pdf, params)
        self.artifacts: list[str] = []
        self.pass_no = 0

    def stage(self, loop) -> None:
        """Nothing to stage: every pass loads from the VCF."""

    # -- the op mix ------------------------------------------------------

    def _open(self, art: str):
        """What a user does before querying: re-open the artifact and
        build the gemini and inheritance engines over it."""
        from vcf2db_spark import pipeline
        from vcf2db_spark.gemini import GeminiEngine
        from vcf2db_spark.inheritance import InheritanceEngine

        tables = pipeline.open_artifact(self.ctx.spark, art)
        return tables, GeminiEngine(self.ctx.spark, tables), InheritanceEngine(tables)

    def _queries(self, tables, eng, inh) -> list[tuple[str, str, Callable, dict]]:
        from vcf2db_spark import stats

        names = tables.header.samples
        f = int(self.rng.integers(1, gen.FAMILIES + 1))
        regions = []
        for _ in range(2):
            c = int(self.rng.integers(1, gen.N_CONTIGS + 1))
            s = int(self.rng.integers(0, 80_000))
            regions.append((f"chr{c}", s, s + 30_000))
        out = [
            ("gemini", "gt_sample", lambda: eng.query(
                "SELECT variant_id, chrom, start, ref, alt, gene FROM variants "
                "WHERE impact_severity IN ('HIGH', 'MED')",
                gt_filter=f"gt_types.F{f}_kid == HET and gt_types.F{f}_dad == HOM_REF",
            ), {"f": f}),
            ("gemini", "gt_wildcard", lambda: eng.query(
                "SELECT variant_id, chrom, start FROM variants",
                gt_filter="(gt_types).(phenotype==2).(!=HOM_REF).(count>=2)",
            ), {}),
        ]
        for j, (c, s, e) in enumerate(regions):
            out.append(("gemini", f"region{j}", lambda c=c, s=s, e=e: eng.region(c, s, e)
                        .select("variant_id", "chrom", "start", "end"), {"region": (c, s, e)}))
        out += [
            ("stats", "tstv", lambda: stats.tstv(tables.variants), {}),
            ("stats", "sfs", lambda: stats.site_frequency_spectrum(tables.variants), {}),
            ("stats", "burden", lambda: stats.burden(
                tables.variants, tables.variant_impacts, names), {}),
            ("stats", "roh", lambda: stats.roh(
                tables.variants, names, min_snps=ROH_MIN_SNPS, min_size_bp=ROH_MIN_BP), {}),
            ("inheritance", "de_novo", lambda: inh.de_novo().select("variant_id", "model"), {}),
            ("inheritance", "autosomal_recessive",
             lambda: inh.autosomal_recessive().select("variant_id", "model"), {}),
            ("inheritance", "mendel_errors", lambda: inh.mendel_errors()
             .select("variant_id", "child", "error"), {}),
            ("inheritance", "compound_hets", lambda: inh.compound_hets(), {}),
        ]
        return out

    def run_pass(self, loop) -> None:
        """One pass: both loads, then the query block on the parquet
        artifact. Results are kept for the checks after the window."""
        from vcf2db_spark.__main__ import main

        spark = self.ctx.spark
        art = os.path.join(self.ctx.work, f"art{self.pass_no}")
        self.pass_no += 1
        self.artifacts.append(art)
        args = [self.cohort.vcf_gz, self.cohort.ped]
        quiet = contextlib.redirect_stdout(io.StringIO())
        with quiet:
            loop.op("write", "load", lambda: main(args + [art]), layer="pipeline")
            loop.op("write", "load_db", lambda: main(args + [art + ".db"]), layer="pipeline")
        # the CLI leaves its persisted parse stage cached; drop it between passes
        spark.catalog.clearCache()
        opened = loop.op("query", "open_artifact", lambda: self._open(art), layer="pipeline")
        if opened is None:
            return
        for layer, name, build, params in self._queries(*opened):
            pdf = loop.op("query", name, lambda b=build: b().toPandas(), layer=layer)
            if pdf is not None:
                self.results.append((art, name, pdf, params))

    # -- checks (after the window) ----------------------------------------

    def _oracle_sql(self, name: str, params: dict) -> str:
        if name == "gt_sample":
            k, d, _ = _trio(params["f"])
            return (
                "SELECT variant_id, chrom, start, ref, alt, gene FROM variants "
                f"WHERE impact_severity IN ('HIGH', 'MED') AND gt_types[{k}] = 1 "
                f"AND gt_types[{d}] = 0"
            )
        if name == "gt_wildcard":
            terms = " + ".join(f"coalesce(gt_types[{k}] != 0, false)::INT" for k in KIDS)
            return f"SELECT variant_id, chrom, start FROM variants WHERE ({terms}) >= 2"
        if name.startswith("region"):
            c, s, e = params["region"]
            return (
                'SELECT variant_id, chrom, start, "end" FROM variants '
                f"WHERE chrom = '{c}' AND start >= {s} AND \"end\" <= {e}"
            )
        if name == "tstv":
            return (
                "SELECT count_if(sub_type = 'ts')::BIGINT AS n_ts, "
                "count_if(sub_type = 'tv')::BIGINT AS n_tv, "
                "CASE WHEN count_if(sub_type = 'tv') > 0 THEN round(count_if(sub_type = 'ts')"
                "::DOUBLE / count_if(sub_type = 'tv'), 4) END AS tstv FROM variants"
            )
        if name == "sfs":
            return (
                "SELECT least(floor(aaf * 10)::INT, 9) AS bucket, "
                "round(least(floor(aaf * 10)::INT, 9)::DOUBLE / 10, 6) AS lo, "
                "round((least(floor(aaf * 10)::INT, 9) + 1)::DOUBLE / 10, 6) AS hi, "
                "count(*) AS n FROM variants WHERE aaf IS NOT NULL GROUP BY 1, 2, 3"
            )
        if name == "burden":
            return (
                "WITH q AS (SELECT DISTINCT variant_id, gene FROM variant_impacts "
                "WHERE impact_severity IN ('HIGH', 'MED') AND gene IS NOT NULL), "
                f"c AS (SELECT variant_id, {NAMES_SQL}[i] AS sample FROM ({_long_sql()}) "
                "WHERE gt IN (1, 3)) "
                "SELECT gene, sample, count(*) AS n_variants FROM c JOIN q USING (variant_id) "
                "GROUP BY gene, sample"
            )
        if name == "roh":
            return (
                "WITH m AS (SELECT *, gt IN (0, 3) AS hom, "
                'row_number() OVER (PARTITION BY i, chrom ORDER BY start, "end") - '
                'row_number() OVER (PARTITION BY i, chrom, gt IN (0, 3) ORDER BY start, "end") '
                f"AS grp FROM ({_long_sql()})) "
                f"SELECT {NAMES_SQL}[i] AS sample, chrom, count(*) AS n_snps, "
                'min(start) AS run_start, max("end") AS run_end, '
                'max("end") - min(start) AS size_bp FROM m WHERE hom '
                f"GROUP BY i, chrom, grp HAVING count(*) >= {ROH_MIN_SNPS} "
                f'AND max("end") - min(start) >= {ROH_MIN_BP}'
            )
        if name in ("de_novo", "autosomal_recessive"):
            want = (1, 0, 0) if name == "de_novo" else (3, 1, 1)
            conds = " OR ".join(
                f"(gt_types[{k}] = {want[0]} AND gt_types[{d}] = {want[1]} "
                f"AND gt_types[{m}] = {want[2]})"
                for k, d, m in map(_trio, range(1, gen.FAMILIES + 1))
            )
            return f"SELECT variant_id, '{name}' AS model FROM variants WHERE {conds}"
        if name == "mendel_errors":
            parts = [
                f"SELECT variant_id, '{gen.SAMPLES[k - 1]}' AS child, "
                f"{_mendel_case(k, d, m)} AS error FROM variants"
                for k, d, m in map(_trio, range(1, gen.FAMILIES + 1))
            ]
            return (
                "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE error IS NOT NULL"
            )
        if name == "compound_hets":
            parts = []
            for k, d, m in map(_trio, range(1, gen.FAMILIES + 1)):
                cand = (
                    f"SELECT variant_id, gene, CASE WHEN gt_types[{d}] = 1 AND gt_types[{m}] = 0 "
                    f"THEN 'paternal' WHEN gt_types[{m}] = 1 AND gt_types[{d}] = 0 "
                    f"THEN 'maternal' END AS origin FROM variants "
                    f"WHERE gt_types[{k}] = 1 AND gene IS NOT NULL"
                )
                parts.append(
                    f"SELECT '{gen.SAMPLES[k - 1]}' AS child, p.gene, "
                    "p.variant_id AS paternal_variant_id, m.variant_id AS maternal_variant_id "
                    f"FROM ({cand}) p JOIN ({cand}) m ON p.gene = m.gene "
                    "WHERE p.origin = 'paternal' AND m.origin = 'maternal'"
                )
            return " UNION ALL ".join(parts)
        raise KeyError(name)

    def check(self) -> tuple[list[str], float]:
        """Compare every collected result with DuckDB over its artifact and
        both artifacts' counts with the generator's. Returns (mismatches,
        DuckDB seconds)."""
        import duckdb

        from tools.check import compare

        bad: list[str] = []
        duck_s = 0.0
        cons: dict[str, duckdb.DuckDBPyConnection] = {}
        for art in self.artifacts:
            con = duckdb.connect()
            for t in ("variants", "variant_impacts"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{art}/{t}/**/*.parquet', hive_partitioning = true)"
                )
            cons[art] = con
            nv = con.execute("SELECT count(*) FROM variants").fetchone()[0]
            ni = con.execute("SELECT count(*) FROM variant_impacts").fetchone()[0]
            if (nv, ni) != (self.cohort.n_variants, self.cohort.n_impacts):
                bad.append(f"{art}: parquet counts {(nv, ni)}")
            if not os.path.exists(art + ".db"):
                continue
            db = sqlite3.connect(art + ".db")
            try:
                nv = db.execute("SELECT count(*) FROM variants").fetchone()[0]
                ni = db.execute("SELECT count(*) FROM variant_impacts").fetchone()[0]
            finally:
                db.close()
            if (nv, ni) != (self.cohort.n_variants, self.cohort.n_impacts):
                bad.append(f"{art}: sqlite counts {(nv, ni)}")
        for art, name, pdf, params in self.results:
            t0 = time.perf_counter()
            odf = cons[art].execute(self._oracle_sql(name, params)).fetchdf()
            duck_s += time.perf_counter() - t0
            ok, msg = compare(pdf, odf)
            if not ok:
                bad.append(f"{name}: {msg}")
        return bad, duck_s

    # -- figures -------------------------------------------------------

    def storage(self) -> dict[str, float]:
        """Artifact bytes of the first pass ÷ input VCF bytes."""
        art = self.artifacts[0]
        parquet, _ = dir_bytes(art)
        db = os.path.getsize(art + ".db") if os.path.exists(art + ".db") else 0
        return {
            "bytes_stored_per_input_byte": parquet / self.cohort.vcf_bytes,
            "write_amp": (parquet + db) / self.cohort.vcf_bytes,
        }

    def report(self, loop) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures for the human report."""
        n = self.cohort.n_variants
        return {
            "load_variants_per_s": (n / median(loop.seconds_of("write", "load")), "1/s"),
            "load_db_variants_per_s": (n / median(loop.seconds_of("write", "load_db")), "1/s"),
        }

    def layers(self, loop, tracer) -> dict[str, float]:
        """Per-layer figures from the traced window, then from a
        parse-only and a derive-only probe run after it."""
        from vcf2db_spark.pipeline import load_vcf
        from vcf2db_spark.sources.vcf import read_vcf

        ops = [r for r in loop.records if r.kind in ("write", "query")]

        def op_median(names: tuple[str, ...]) -> float:
            return median([r.seconds for r in ops if r.name.startswith(names)])

        def span_median(name: str) -> float:
            return median([s.seconds for s in tracer.by_name(name)])

        sqlite = tracer.by_name("sqlite.write_gemini_db")
        wbytes, wfiles = dir_bytes(self.artifacts[0])
        out = {
            "pipeline.load_vcf.call_s": span_median("pipeline.load_vcf"),
            "pipeline.open_artifact_s": op_median(("open_artifact",)),
            "operators.impacts.rows_per_variant": self.cohort.n_impacts / self.cohort.n_variants,
            "sinks.writers.write_s": median(tracer.sums_per_op("writers.write_parquet")),
            "sinks.writers.bytes": wbytes,
            "sinks.writers.files": wfiles,
            "sinks.sqlite.write_s": span_median("sqlite.write_gemini_db"),
            "sinks.sqlite.driver_s": median([s.seconds - tracer.job_wall_within(s) for s in sqlite]),
            "gemini.compile_gt_filter_s": span_median("gemini.GeminiEngine.compile_gt_filter"),
            "gemini.query_s": op_median(("gt_",)),
            "gemini.region_s": op_median(("region",)),
            "stats.s": op_median(("tstv", "sfs", "burden", "roh")),
            "inheritance.s": op_median(
                ("de_novo", "autosomal_recessive", "mendel_errors", "compound_hets")),
        }

        spark = self.ctx.spark
        gz = self.cohort.vcf_gz

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        cpu = []
        for _ in range(2):
            c0 = tree_cpu_seconds(os.getpid())
            loop.op("probe", "scan", lambda: noop(read_vcf(spark, gz)), layer="sources")
            cpu.append(tree_cpu_seconds(os.getpid()) - c0)
        scans = loop.records[-2:]
        scan_s = median([r.seconds for r in scans])

        def derive():
            t = load_vcf(spark, gz, ped_path=self.cohort.ped)
            noop(t.variants)
            noop(t.variant_impacts)

        loop.op("probe", "derive", derive, layer="pipeline")
        out.update({
            "sources.vcf.scan_s": scan_s,
            "sources.vcf.tasks": tracer.counters([scans[-1].extra["group"]])["tasks"],
            # CPU of the whole process tree (JVM and Python workers) over
            # wall x cores: the parse runs in Python workers, whose CPU
            # the executor's own CPU counter does not see
            "sources.vcf.cpu_util": cpu[-1] / (scans[-1].seconds * spark.sparkContext.defaultParallelism),
            "pipeline.derive_s": max(0.0, loop.records[-1].seconds - scan_s),
        })
        return out

    def wrap(self, tracer) -> None:
        tracer.wrap("vcf2db_spark.session", "get_spark", "session", "session.get_spark")
        tracer.wrap("vcf2db_spark.pipeline", "load_vcf", "pipeline", "pipeline.load_vcf")
        tracer.wrap("vcf2db_spark.sinks.writers", "write_parquet", "sinks")
        tracer.wrap("vcf2db_spark.sinks.sqlite", "write_gemini_db", "sinks")
        tracer.wrap("vcf2db_spark.gemini", "GeminiEngine.compile_gt_filter", "gemini",
                    "gemini.GeminiEngine.compile_gt_filter")
