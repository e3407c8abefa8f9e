"""``lakehouse_rw``: commits beside reads on one lakehouse table, plus a
small declared-query mix over the sibling tables.

Staging (counted in ``setup_s``): ``lakehouse.create`` from the generated
``orders`` table (unique ``o_orderkey``, ``stat_cols=(o_orderkey,
o_orderdate)``, ``bloom_cols=(o_orderkey,)``), range-partitioned by
``o_orderdate`` into eight files so that date predicates can prune files,
and seven small appends, so that the first cycle's ``compact`` is commit
16, the log's checkpoint fold.

One cycle:

- writes: three ``append`` (fresh keys), ``dv_merge`` and copy-on-write
  ``merge`` (seeded key sets, price + a seeded whole number) and three
  ``dv_delete`` (adjacent seeded key ranges); the cheap verbs run three
  times so that their per-verb median drops a stray slow commit;
- reads, in this fixed order: ``read_pruned`` (a
  seeded 60-day window), ``read_point`` (a seeded key), time-travel
  ``read(version=latest-3)``, ``table_changes`` over the last four
  commits and a full-table aggregate;
- then two declared rows through the query registry: ``tpch_q3`` (a JVM-only
  join plan) and ``search_bm25`` (Python/Arrow operators);
- one availableNow drain of the change feed
  (``sources.lakehouse_feed.read_feed_stream`` ->
  ``streaming.pipelines.run_to_memory``) of the commits since the last one;
- ``compact``, closing the cycle.

Checks after the window: every read against a pandas replay of the same
commit sequence (time-travel reads against the replayed state at their
version), the final table against the replay, the declared rows against
their DuckDB oracles, and every drain for a non-empty result.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.harness import median, tree_bytes

SF = 0.01
BATCH = 500
REPEATS = 3  # appends and dv_deletes per cycle
# create is version 0; 7 appends, then 2 * REPEATS + 2 commits make the
# first cycle's compact version 16, a multiple of the log's checkpoint interval
STAGE_APPENDS = 7
CREATE_FILES = 8
DECLARED = {"relational": ("tpch_q3",), "curation": ("search_bm25",)}
VERBS = ("append", "dv_merge", "merge", "dv_delete", "compact")
READS = ("read_pruned", "read_point", "read_version", "table_changes", "read_full")
KEY = "o_orderkey"
CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


class Replay:
    """The table's expected contents after each committed version."""

    def __init__(self, orders):
        self.orders = orders.set_index(KEY, drop=False)
        self.states = {0: self.orders}

    def commit(self, version: int, op: str, **kw) -> None:
        cur = self.states[max(self.states)]
        if op == "append":
            a0 = kw["first"]
            new = self.orders.iloc[: kw["n"]].copy()
            new[KEY] = new[KEY] + a0
            cur = pd.concat([cur, new.set_index(KEY, drop=False)])
        elif op in ("merge", "dv_merge"):
            upd = self.orders.loc[kw["keys"]].copy()
            upd["o_totalprice"] = upd["o_totalprice"] + kw["delta"]
            cur = pd.concat([cur.drop(index=upd.index, errors="ignore"), upd])
        elif op == "dv_delete":
            lo, hi = kw["range"]
            cur = cur[(cur[KEY] < lo) | (cur[KEY] >= hi)]
        self.states[version] = cur


def _cents(s) -> int:
    return int(np.round(s.to_numpy() * 100).astype("int64").sum())


class Table:
    """The lakehouse_rw workload; ``ctx`` is run.py's run context."""

    name = "lakehouse_rw"

    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.dir = gen.make_tables(ctx.inputs, ctx.seed, SF)
        self.src = os.path.join(self.dir, "orders.parquet")
        self.orders_pd = pq.read_table(self.src).to_pandas()
        self.n = len(self.orders_pd)
        self.row_bytes = os.path.getsize(self.src) / self.n
        self.root = os.path.join(ctx.work, "orders_lh")
        self.replay = Replay(self.orders_pd)
        self.version = 0
        self.cycle = 0
        self.appended = 0
        self.fed_to = -1  # last version drained from the change feed (set by stage)
        self.checks: list[tuple[str, int, object, dict]] = []  # (op, version, result, params)
        self.build_s: dict[str, list[float]] = {}
        self.bytes_written: dict[str, list[int]] = {v: [] for v in VERBS}
        self.input_bytes = 0
        self.window_bytes = 0
        self.drain_rows: list[int] = []
        self.pass_no = 0
        self.storage_at = 0

    # -- staging -------------------------------------------------------

    def stage(self, loop) -> None:
        from vcf2db_spark.sinks import lakehouse as lh

        spark = self.ctx.spark
        self.orders = spark.read.parquet(self.src)
        lh.create(spark, self.root, self.orders.repartitionByRange(CREATE_FILES, "o_orderdate"),
                  stat_cols=(KEY, "o_orderdate"), bloom_cols=(KEY,))
        for _ in range(STAGE_APPENDS):
            self._append(loop, BATCH // 10, kind="stage")
        self.fed_to = self.version

    def _append(self, loop, n: int, kind: str = "write") -> None:
        from pyspark.sql import functions as F

        from vcf2db_spark.sinks import lakehouse as lh

        first = self.n + self.appended
        batch = self.orders.filter(F.col(KEY) < n).withColumn(KEY, F.col(KEY) + first)
        self._commit(loop, kind, "append", lambda: lh.append(self.ctx.spark, self.root, batch),
                     n, first=first, n=n)
        self.appended += n

    def _commit(self, loop, kind: str, verb: str, fn, in_rows: int, **replay_kw) -> None:
        before = tree_bytes(self.root)
        v = loop.op(kind, verb, fn, layer="sinks")
        if v is None:
            return
        written = tree_bytes(self.root) - before
        if kind == "write":
            self.bytes_written[verb].append(written)
            self.window_bytes += written
            self.input_bytes += in_rows * self.row_bytes
        self.version = v
        self.replay.commit(v, verb, **replay_kw)

    # -- one cycle -----------------------------------------------------

    def run_pass(self, loop) -> None:
        from pyspark.sql import functions as F

        from vcf2db_spark.sinks import lakehouse as lh

        spark = self.ctx.spark
        self.pass_no += 1
        p = gen.lakehouse_cycle(self.ctx.seed, self.cycle, self.n, BATCH)
        self.cycle += 1
        delta = p["delta"]

        def updates(keys):
            return self.orders.filter(F.col(KEY).isin(keys)).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(float(delta)))

        for _ in range(REPEATS):
            self._append(loop, BATCH)
        for verb, keys in (("dv_merge", p["dv_merge_keys"]), ("merge", p["merge_keys"])):
            fn = getattr(lh, verb)
            self._commit(loop, "write", verb,
                         lambda fn=fn, keys=keys: fn(spark, self.root, updates(keys), KEY),
                         len(keys), keys=keys, delta=delta)
        for lo, hi in p["delete_ranges"]:
            self._commit(loop, "write", "dv_delete", lambda lo=lo, hi=hi: lh.dv_delete(
                spark, self.root, f"{KEY} >= {lo} AND {KEY} < {hi}", prune={KEY: (lo, hi - 1)}),
                0, range=(lo, hi))
        # a fixed order: the first read after the writes pays first-use
        # costs, and a seeded order would move them between reads
        for layer, name, fn, params in self._reads(p) + self._declared():
            out = loop.op("query", name, fn, layer=layer)
            if out is not None:
                self.checks.append((name, self.version, out, params))
        self._drain(loop)
        self.state = self._table_state(p)
        self._commit(loop, "write", "compact", lambda: lh.compact(spark, self.root), 0)
        if self.pass_no == 1:
            self.storage_at = tree_bytes(self.root)

    def _table_state(self, p: dict) -> dict[str, float]:
        """File-planning and file-count figures of the fragmented table,
        read from the log before ``compact`` rewrites it (driver-side,
        milliseconds)."""
        from vcf2db_spark.sinks import lakehouse as lh

        d0, d1 = p["read_days"]
        sel, skipped = lh.plan_files(
            self.root, {"o_orderdate": (f"{d0}T00:00:00", f"{d1}T00:00:00")})
        snap = lh.snapshot(self.root)
        return {
            "sinks.lakehouse.plan_files.selected_frac": len(sel) / max(1, len(sel) + skipped),
            "sinks.lakehouse.plan_files_bloom.useful_frac": self._bloom_useful(p["point_key"]),
            "sinks.lakehouse.live_files": len(snap["files"]),
            "sinks.lakehouse.dv_files": sum(1 for e in snap["files"] if e.get("dv")),
        }

    def _reads(self, p: dict) -> list:
        from pyspark.sql import functions as F

        from vcf2db_spark.sinks import lakehouse as lh

        spark, root, v = self.ctx.spark, self.root, self.version
        d0, d1 = p["read_days"]
        lo, hi = f"{d0}T00:00:00", f"{d1}T00:00:00"
        agg = [F.count("*").alias("n"), F.sum(F.expr(CENTS)).alias("cents")]
        vv = max(0, v - 3)
        return [
            ("sinks", "read_pruned", lambda: lh.read_pruned(
                spark, root, {"o_orderdate": (lo, hi)})
                .filter((F.col("o_orderdate") >= d0) & (F.col("o_orderdate") < d1))
                .agg(*agg).collect()[0].asDict(), {"days": (d0, d1)}),
            ("sinks", "read_point", lambda: [r.asDict() for r in lh.read_point(
                spark, root, {KEY: p["point_key"]}).collect()], {"key": p["point_key"]}),
            ("sinks", "read_version", lambda: lh.read(spark, root, version=vv)
                .agg(*agg).collect()[0].asDict(), {"version": vv}),
            ("sinks", "table_changes", lambda: {
                r["_change"]: r["n"] for r in lh.table_changes(spark, root, max(0, v - 4), v, KEY)
                .groupBy("_change").agg(F.count("*").alias("n")).collect()},
                {"range": (max(0, v - 4), v)}),
            ("sinks", "read_full", lambda: {
                r["o_orderstatus"]: (r["n"], r["cents"]) for r in lh.read(spark, root)
                .groupBy("o_orderstatus").agg(*agg).collect()}, {}),
        ]

    def _declared(self) -> list:
        from vcf2db_spark.queries import QUERIES

        out = []
        for cls, rows in DECLARED.items():
            for row in rows:
                def run(row=row):
                    t0 = time.perf_counter()
                    df = QUERIES[row](self.ctx.spark, self.dir)
                    self.build_s.setdefault(row, []).append(time.perf_counter() - t0)
                    return df.toPandas()
                out.append(("queries", row, run, {"class": cls}))
        return out

    def _drain(self, loop) -> None:
        from vcf2db_spark.sources.lakehouse_feed import read_feed_stream
        from vcf2db_spark.streaming.pipelines import run_to_memory

        spark = self.ctx.spark
        start, end = self.fed_to + 1, self.version
        name = f"feed_{self.pass_no}"

        def drain():
            return run_to_memory(read_feed_stream(spark, self.root, start_version=start),
                                 name).count()

        rows = loop.op("drain", "drain", drain, layer="streaming")
        spark.catalog.dropTempView(name)
        if rows is not None:
            self.drain_rows.append(rows)
            self.fed_to = end

    # -- checks (after the window) ---------------------------------------

    def check(self) -> tuple[list[str], float]:
        import duckdb

        from tools.check import compare
        from vcf2db_spark.queries import ORACLES
        from vcf2db_spark.sinks import lakehouse as lh

        bad: list[str] = []
        declared: dict[str, list] = {}  # row -> collected results
        for name, version, out, params in self.checks:
            if params.get("class"):
                declared.setdefault(name, []).append(out)
                continue
            want = self._expected(name, version, params)
            if out != want:
                bad.append(f"{name}@v{version}: got {out}, replay {want}")
        final = lh.read(self.ctx.spark, self.root).toPandas()
        exp = self.replay.states[self.version].reset_index(drop=True)
        ok, msg = compare(final, exp[final.columns])
        if not ok:
            bad.append(f"final state: {msg}")
        if not self.drain_rows or min(self.drain_rows) <= 0:
            bad.append(f"drains returned {self.drain_rows} rows")

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for f in os.listdir(self.dir):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{self.dir}/{f}')")
        duck_s = 0.0
        for row, results in declared.items():
            t0 = time.perf_counter()
            odf = con.execute(ORACLES[row]).fetchdf()
            duck_s += time.perf_counter() - t0
            for got in results:
                ok, msg = compare(got, odf)
                if not ok:
                    bad.append(f"{row}: {msg}")
        return bad, duck_s

    def _expected(self, name: str, version: int, params: dict):
        st = self.replay.states
        cur = st[version]
        if name == "read_pruned":
            d0, d1 = (np.datetime64(d) for d in params["days"])
            sel = cur[(cur["o_orderdate"] >= d0) & (cur["o_orderdate"] < d1)]
            return {"n": len(sel), "cents": _cents(sel["o_totalprice"]) if len(sel) else None}
        if name == "read_point":
            sel = cur[cur[KEY] == params["key"]]
            return [
                {k: (v.to_pydatetime() if hasattr(v, "to_pydatetime") else v)
                 for k, v in r.items()}
                for r in sel.to_dict("records")
            ]
        if name == "read_version":
            old = st[params["version"]]
            return {"n": len(old), "cents": _cents(old["o_totalprice"])}
        if name == "table_changes":
            a, b = params["range"]
            old, new = st[a], st[b]
            both = old.index.intersection(new.index)
            changed = (old.loc[both] != new.loc[both]).any(axis=1).sum()
            out = {
                "insert": len(new.index.difference(old.index)),
                "delete": len(old.index.difference(new.index)),
                "update_postimage": int(changed),
            }
            return {k: v for k, v in out.items() if v}
        if name == "read_full":
            return {
                s: (len(g), _cents(g["o_totalprice"]))
                for s, g in cur.groupby("o_orderstatus")
            }
        raise KeyError(name)

    # -- figures -------------------------------------------------------

    def storage(self) -> dict[str, float]:
        return {
            "bytes_stored_per_input_byte": self.storage_at / os.path.getsize(self.src),
            "write_amp": self.window_bytes / max(1, self.input_bytes),
        }

    def report(self, loop) -> dict[str, tuple[float, str]]:
        return {"drain_p50_s": (median(loop.seconds_of("drain")), "s")}

    def layers(self, loop, tracer) -> dict[str, float]:
        traced = [r for r in loop.records if r.kind in ("write", "query", "drain")]
        out: dict[str, float] = {}

        def med(name):
            return median([r.seconds for r in traced if r.name == name])

        for verb in VERBS:
            recs = [r for r in traced if r.name == verb and r.kind == "write"]
            out[f"sinks.lakehouse.{verb}_s"] = median([r.seconds for r in recs])
            out[f"sinks.lakehouse.{verb}.jobs"] = median(
                [tracer.counters([r.extra["group"]])["jobs"] for r in recs])
            out[f"sinks.lakehouse.{verb}.bytes_written"] = median(self.bytes_written[verb])
        out["sinks.lakehouse.snapshot_s"] = median(
            [s.seconds for s in tracer.by_name("lakehouse.snapshot")])
        for name in READS:
            out[f"sinks.lakehouse.{name}_s"] = med(name)
        out.update(self.state)
        out["sources.lakehouse_feed.rows"] = median(self.drain_rows)
        out["streaming.drain_s"] = med("drain")

        for cls, rows in DECLARED.items():
            recs = [r for r in traced if r.name in rows]
            build = [sum(self.build_s[row][i] for row in rows)
                     for i in range(min(len(self.build_s[row]) for row in rows))]
            c = tracer.counters([r.extra["group"] for r in recs])
            passes = max(1, len(recs) // len(rows))
            out[f"queries.{cls}.build_s"] = median(build)
            out[f"queries.{cls}.jobs"] = c["jobs"] / passes
            out[f"queries.{cls}.shuffle_write_bytes"] = c["shuffle_write_bytes"] / passes
            out[f"queries.{cls}.spill_bytes"] = c["spill_bytes"] / passes
            out[f"queries.{cls}.cpu_util"] = c["cpu_util"]
            out[f"queries.{cls}.task_skew"] = c["task_skew"]
            out[f"queries.{cls}.gc_s"] = c["gc_s"] / passes
            for row in rows:
                out[f"queries.{row}.exec_s"] = med(row) - median(self.build_s[row])
        return out

    def _bloom_useful(self, key: int) -> float:
        import pyarrow.parquet as pq

        from vcf2db_spark.sinks import lakehouse as lh

        kept, _, _ = lh.plan_files_bloom(self.root, {KEY: key})
        if not kept:
            return 1.0
        hits = 0
        for e in kept:
            col = pq.read_table(os.path.join(self.root, e["path"]), columns=[KEY])[KEY]
            hits += key in set(col.to_pylist())
        return hits / len(kept)

    def wrap(self, tracer) -> None:
        tracer.wrap("vcf2db_spark.sinks.lakehouse", "snapshot", "sinks", "lakehouse.snapshot")
