"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical files, a different seed gives different
ones (``perfbench/test_gen.py`` pins both). Outputs are cached under the
caller's directory, keyed by seed and size, and are produced outside any
timed region.

- ``make_cohort``: a biallelic, VEP-annotated VCF (GT:GQ:DP for 16
  samples) bgzipped and tabix-indexed through the package's own
  ``sources.bgzf.compress_file`` / ``sources.tabix.index_vcf``, plus a PED
  of five affected-child trios and one unrelated sample.
- ``make_tables``: the TPC-H-shaped star schema plus the ``documents`` and
  ``embeddings`` tables the declared queries read, with the column domains
  of the repository's fixture tables and row counts proportional to a
  scale factor (lineitem = 6M x sf).
- ``lakehouse_cycle``: the seeded keys, values and predicates of one
  ``lakehouse_rw`` cycle on its ``orders`` table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import asdict, dataclass

import numpy as np

N_CONTIGS = 8
FAMILIES = 5
SAMPLES = [
    name
    for f in range(1, FAMILIES + 1)
    for name in (f"F{f}_dad", f"F{f}_mom", f"F{f}_kid")
] + ["U1"]
BASES = np.array(list("ACGT"))
# transition partner of each base (A<->G, C<->T)
_TS = {"A": "G", "G": "A", "C": "T", "T": "C"}
# (consequence, biotype) per gemini severity band of operators/impacts.py
CONSEQ_SNP = [
    ("stop_gained", "protein_coding"),
    ("missense_variant", "protein_coding"),
    ("missense_variant", "protein_coding"),
    ("synonymous_variant", "protein_coding"),
    ("intron_variant", "protein_coding"),
    ("upstream_gene_variant", "lincRNA"),
]
CONSEQ_INDEL = [
    ("frameshift_variant", "protein_coding"),
    ("inframe_deletion", "protein_coding"),
    ("intron_variant", "protein_coding"),
]
GENE_SPAN = 20_000  # bp per synthetic gene block

VCF_HEADER = """\
##fileformat=VCFv4.2
{contigs}
##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">
##INFO=<ID=AN,Number=1,Type=Integer,Description="Total number of alleles">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL|Feature|BIOTYPE">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{samples}
"""


@dataclass(frozen=True)
class Cohort:
    vcf_gz: str
    ped: str
    n_variants: int
    n_impacts: int
    n_annotated: int
    vcf_bytes: int


def _ped_text() -> str:
    lines = ["#family_id\tname\tpaternal_id\tmaternal_id\tsex\tphenotype"]
    for f in range(1, FAMILIES + 1):
        dad, mom, kid = f"F{f}_dad", f"F{f}_mom", f"F{f}_kid"
        lines += [
            f"fam{f}\t{dad}\t0\t0\t1\t1",
            f"fam{f}\t{mom}\t0\t0\t2\t1",
            f"fam{f}\t{kid}\t{dad}\t{mom}\t{1 + f % 2}\t2",
        ]
    lines.append("fam0\tU1\t0\t0\t2\t1")
    return "\n".join(lines) + "\n"


def _genotypes(rng: np.random.Generator, af: np.ndarray) -> np.ndarray:
    """Allele pairs (n, samples, 2) with -1 for missing: parents drawn
    from Hardy-Weinberg at ``af``, each child inheriting one allele from
    each parent, plus rare de novo hits and 2% uncalled cells."""
    n = len(af)
    draw = (rng.random((n, len(SAMPLES), 2)) < af[:, None, None]).astype(np.int8)
    alleles = draw.copy()
    for f in range(FAMILIES):
        dad, mom, kid = 3 * f, 3 * f + 1, 3 * f + 2
        pick = rng.integers(0, 2, size=(n, 2))
        alleles[:, kid, 0] = draw[np.arange(n), dad, pick[:, 0]]
        alleles[:, kid, 1] = draw[np.arange(n), mom, pick[:, 1]]
        de_novo = rng.random(n) < 0.004
        alleles[de_novo, kid, 1] = 1
    missing = rng.random((n, len(SAMPLES))) < 0.02
    alleles[missing] = -1
    return alleles


def make_cohort(out_dir: str, seed: int, n_variants: int) -> Cohort:
    """Write ``cohort.vcf.gz`` (+ ``.tbi``) and ``cohort.ped`` under
    ``out_dir/cohort-<seed>-<n>``; reuse them when already complete."""
    from vcf2db_spark.sources.bgzf import compress_file
    from vcf2db_spark.sources.tabix import index_vcf

    d = os.path.join(out_dir, f"cohort-{seed}-{n_variants}")
    meta = os.path.join(d, "cohort.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return Cohort(**json.load(fh))
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    per = n_variants // N_CONTIGS
    n = per * N_CONTIGS
    steps = rng.integers(40, 400, size=(N_CONTIGS, per))
    pos = np.cumsum(steps, axis=1).reshape(-1)
    chrom = np.repeat(np.arange(1, N_CONTIGS + 1), per)
    kind = rng.random(n)  # < .85 snp, < .95 deletion, else insertion
    ref_i = rng.integers(0, 4, size=n)
    transition = rng.random(n) < 0.67
    tv_off = rng.integers(1, 3, size=n)
    indel_len = rng.integers(1, 4, size=n)
    af = np.clip(rng.beta(0.6, 2.0, size=n), 0.01, 0.95)
    alleles = _genotypes(rng, af)
    gq = rng.integers(20, 100, size=(n, len(SAMPLES)))
    dp = rng.integers(5, 60, size=(n, len(SAMPLES)))
    annotated = rng.random(n) < 0.6
    n_tx = rng.integers(1, 4, size=n)
    conseq_pick = rng.integers(0, 1 << 30, size=(n, 3))
    tx_id = rng.integers(0, 100_000, size=(n, 3))
    qual = rng.integers(200, 9999, size=n) / 10

    lines: list[str] = []
    n_impacts = 0
    for i in range(n):
        ref = str(BASES[ref_i[i]])
        if kind[i] < 0.85:
            tv = [b for b in "ACGT" if b not in (ref, _TS[ref])]
            alt = _TS[ref] if transition[i] else tv[tv_off[i] - 1]
            table = CONSEQ_SNP
        elif kind[i] < 0.95:
            alt = ref
            ref = ref + "".join(BASES[(ref_i[i] + k + 1) % 4] for k in range(indel_len[i]))
            table = CONSEQ_INDEL
        else:
            alt = ref + "".join(BASES[(ref_i[i] + k + 2) % 4] for k in range(indel_len[i]))
            table = CONSEQ_INDEL
        a = alleles[i]
        called = a[:, 0] >= 0
        ac = int(a[called].sum())
        an = int(2 * called.sum())
        info = f"AC={ac};AN={an};AF={ac / an if an else 0:.4f};DP={int(dp[i].sum())}"
        if annotated[i]:
            gene = f"G{chrom[i]}_{pos[i] // GENE_SPAN}"
            recs = []
            for t in range(n_tx[i]):
                cons, bio = table[conseq_pick[i, t] % len(table)]
                recs.append(f"{alt}|{cons}|{gene}|ENST{tx_id[i, t]:06d}|{bio}")
            info += ";CSQ=" + ",".join(recs)
            n_impacts += int(n_tx[i])
        cells = []
        for s in range(len(SAMPLES)):
            if a[s, 0] < 0:
                cells.append("./.:.:.")
            else:
                cells.append(f"{a[s, 0]}/{a[s, 1]}:{gq[i, s]}:{dp[i, s]}")
        lines.append(
            f"chr{chrom[i]}\t{pos[i]}\t.\t{ref}\t{alt}\t{qual[i]}\tPASS\t{info}"
            f"\tGT:GQ:DP\t" + "\t".join(cells)
        )
    contigs = "\n".join(
        f"##contig=<ID=chr{c},length=250000000>" for c in range(1, N_CONTIGS + 1)
    )
    plain = os.path.join(d, "cohort.vcf")
    with open(plain, "w") as fh:
        fh.write(VCF_HEADER.format(contigs=contigs, samples="\t".join(SAMPLES)))
        fh.write("\n".join(lines) + "\n")
    gz = plain + ".gz"
    compress_file(plain, gz)
    index_vcf(gz)
    os.remove(plain)
    ped = os.path.join(d, "cohort.ped")
    with open(ped, "w") as fh:
        fh.write(_ped_text())
    out = Cohort(
        vcf_gz=gz,
        ped=ped,
        n_variants=n,
        n_impacts=n_impacts,
        n_annotated=int(annotated.sum()),
        vcf_bytes=os.path.getsize(gz),
    )
    with open(meta, "w") as fh:
        json.dump(asdict(out), fh)
    return out


# ---------------------------------------------------------------------------
# declared-query tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big query order group "
    "filter stream vector customer"
).split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMB_DIM = 64
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(lo: str, hi: str, rng: np.random.Generator, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(int)
    return rng.integers(a, b + 1, size=n).astype("int64") * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _tables(seed: int, sf: float) -> dict:
    import pyarrow as pa

    n = table_sizes(sf)
    rng = np.random.default_rng([seed, 2])
    ts = pa.timestamp("us")
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, size=k).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, size=k)],
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, size=k).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    keys = np.arange(k, dtype="int64")
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": np.char.add(
                np.char.add(np.array(ADJ)[rng.integers(0, 8, size=k)], " "),
                np.array(NOUN)[rng.integers(0, 8, size=k)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, size=k).astype(str)),
            "p_type": np.array(PTYPES)[rng.integers(0, 6, size=k)],
            "p_size": rng.integers(1, 51, size=k).astype("int32"),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], size=k),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=k)],
            "o_totalprice": _money(rng, 1000, 500_000, k),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", rng, k), ts),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, size=k)],
        }
    )
    k = n["lineitem"]
    flags = rng.integers(0, 6, size=k)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], size=k),
            "l_partkey": rng.integers(0, n["part"], size=k),
            "l_suppkey": rng.integers(0, n["supplier"], size=k),
            "l_linenumber": rng.integers(1, 8, size=k).astype("int32"),
            "l_quantity": rng.integers(1, 51, size=k).astype("float64"),
            "l_extendedprice": _money(rng, 900, 100_000, k),
            "l_discount": rng.integers(0, 11, size=k) / 100,
            "l_tax": rng.integers(0, 9, size=k) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["F", "O"])[flags % 2],
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", rng, k), ts),
        }
    )
    k = n["documents"]
    lens = rng.integers(20, 90, size=k)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(k, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, size=k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    k = n["embeddings"]
    labels = rng.integers(0, 10, size=k)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + 1.5 * rng.normal(size=(k, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    return out


def make_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write one ``<table>.parquet`` per table under
    ``out_dir/tables-<seed>-sf<sf>``; returns that directory."""
    import pyarrow.parquet as pq

    d = os.path.join(out_dir, f"tables-{seed}-sf{sf:g}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, tbl in _tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"), compression="zstd")
    open(done, "w").close()
    return d


# ---------------------------------------------------------------------------
# lakehouse_rw operation stream
# ---------------------------------------------------------------------------


def lakehouse_cycle(seed: int, cycle: int, n_orders: int, batch: int) -> dict:
    """Keys, values and predicates for one write/read cycle on ``orders``:
    update key sets for the two merges and the whole number they add to
    the price, three adjacent deleted key ranges, a pruned-read date
    window and a point key. Pure function of its arguments."""
    rng = np.random.default_rng([seed, 3, cycle])
    lo_day = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2000)))
    del_lo = int(rng.integers(0, n_orders - batch))
    width = batch // 4
    return {
        "merge_keys": np.sort(rng.choice(n_orders, size=batch, replace=False)).tolist(),
        "dv_merge_keys": np.sort(rng.choice(n_orders, size=batch, replace=False)).tolist(),
        "delta": int(rng.integers(1, 100)),
        "delete_ranges": [(del_lo + i * width, del_lo + (i + 1) * width) for i in range(3)],
        "read_days": (lo_day.isoformat(), (lo_day + dt.timedelta(days=60)).isoformat()),
        "point_key": int(rng.integers(0, n_orders)),
    }
