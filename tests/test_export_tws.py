"""Training-shard export sink (sinks/export.py): round trip,
determinism, manifest verification, and agreement with the
shuffle_export declared query.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from vcf2db_spark.io import table
from vcf2db_spark.sinks.export import (
    MANIFEST,
    read_training_shards,
    write_training_shards,
)

SF = "/root/testdata/sf0.001"


def test_export_shards_roundtrip(spark, tmp_path):
    docs = table(spark, SF, "documents")
    out = str(tmp_path / "shards")
    manifest = write_training_shards(docs, out, n_shards=4)
    assert manifest["total_rows"] == docs.count()
    assert set(manifest["shards"]) == {"0", "1", "2", "3"}
    # balance: hash sharding keeps every shard within 3x of fair share
    rows = [s["rows"] for s in manifest["shards"].values()]
    assert max(rows) <= 3 * (sum(rows) // len(rows) + 1)
    back = read_training_shards(spark, out)  # verify=True recomputes sums
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )


def test_export_shards_deterministic(spark, tmp_path):
    docs = table(spark, SF, "documents")
    m1 = write_training_shards(docs, str(tmp_path / "a"), n_shards=4)
    m2 = write_training_shards(docs, str(tmp_path / "b"), n_shards=4)
    assert m1["shards"] == m2["shards"]


def test_export_verify_catches_corruption(spark, tmp_path):
    docs = table(spark, SF, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=2)
    # corrupt the manifest's row count → read must refuse
    p = os.path.join(out, MANIFEST)
    m = json.load(open(p))
    m["shards"]["0"]["rows"] += 1
    json.dump(m, open(p, "w"))
    with pytest.raises(ValueError, match="manifest mismatch"):
        read_training_shards(spark, out)


def test_export_shard_matches_declared_query(spark, tmp_path):
    """The sink's shard assignment IS the shuffle_export declared query's
    (same Knuth hash) — cross-check one against the other."""
    from vcf2db_spark.queries import QUERIES

    docs = table(spark, SF, "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8)
    back = read_training_shards(spark, out, verify=False)
    dq = QUERIES["shuffle_export"](spark, SF).select("doc_id", "shard")
    mismatch = (
        back.select("doc_id", F.col("shard").cast("long").alias("s1"))
        .join(dq.withColumnRenamed("shard", "s2"), "doc_id")
        .filter(F.col("s1") != F.col("s2"))
        .count()
    )
    assert mismatch == 0
