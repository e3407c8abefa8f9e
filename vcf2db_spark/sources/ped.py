"""PED pedigree ingest → samples dimension table (SURVEY.md §2A A9;
[U vcf2db.py §load_ped ~L850]).

PED is whitespace-delimited: family_id, name, paternal_id, maternal_id,
sex, phenotype [+ extra columns, whose names may come from a ``#family_id
name ...`` comment header]. The samples table is a small dimension — it is
parsed driver-side into one JVM-held partition (``io.local_table``) and
becomes a broadcast-join side; ``sample_id`` is the 1-based genotype-array
index, fixed by the VCF header's sample order (the same contract the
reference uses to index its genotype blobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from vcf2db_spark.io import local_table
from vcf2db_spark.sources.header import clean

_CORE = ("family_id", "name", "paternal_id", "maternal_id", "sex", "phenotype")


def _coerce_int(tok: str) -> int:
    try:
        return int(tok)
    except ValueError:
        return -9  # PED missing code


def read_ped(
    spark: SparkSession, path: str, vcf_samples: list[str] | None = None
) -> DataFrame:
    """Parse a PED file. If ``vcf_samples`` is given, ``sample_id`` follows
    the VCF sample order (genotype array index + 1) and samples missing from
    the PED are filled with nulls — mirroring the reference's behavior of
    keying genotype columns by VCF order, not PED order."""
    extra_names: list[str] = []
    rows: dict[str, dict] = {}
    order: list[str] = []
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line.strip():
                continue
            if line.startswith("#"):
                toks = line.lstrip("#").split()
                if len(toks) > 6:
                    extra_names = [clean(t) for t in toks[6:]]
                continue
            toks = line.split()
            rec = {
                "family_id": toks[0],
                "name": toks[1],
                "paternal_id": toks[2] if toks[2] != "0" else None,
                "maternal_id": toks[3] if toks[3] != "0" else None,
                "sex": _coerce_int(toks[4]) if len(toks) > 4 else -9,
                "phenotype": _coerce_int(toks[5]) if len(toks) > 5 else -9,
            }
            for i, tok in enumerate(toks[6:]):
                name = extra_names[i] if i < len(extra_names) else f"extra_{i+1}"
                rec[name] = tok
            rows[rec["name"]] = rec
            order.append(rec["name"])

    names = vcf_samples if vcf_samples is not None else order
    all_extra = sorted({k for r in rows.values() for k in r if k not in _CORE})
    schema = T.StructType(
        [
            T.StructField("sample_id", T.LongType(), False),
            T.StructField("family_id", T.StringType(), True),
            T.StructField("name", T.StringType(), False),
            T.StructField("paternal_id", T.StringType(), True),
            T.StructField("maternal_id", T.StringType(), True),
            T.StructField("sex", T.IntegerType(), True),
            T.StructField("phenotype", T.IntegerType(), True),
        ]
        + [T.StructField(e, T.StringType(), True) for e in all_extra]
    )
    data = []
    for idx, name in enumerate(names):
        rec = rows.get(name, {"name": name})
        data.append(
            tuple(
                [idx + 1]
                + [rec.get(c) for c in _CORE[:1]]
                + [name]
                + [rec.get(c) for c in _CORE[2:]]
                + [rec.get(e) for e in all_extra]
            )
        )
    return local_table(spark, data, schema)
