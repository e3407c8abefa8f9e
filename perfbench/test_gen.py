"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if not f.endswith(".json") and f != "_DONE")


def _same(a: str, b: str) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


@pytest.mark.parametrize("make,size", [(gen.make_cohort, 400), (gen.make_tables, 0.001)])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, make, size):
    out_a = make(str(tmp_path / "a"), 7, size)
    out_b = make(str(tmp_path / "b"), 7, size)
    out_c = make(str(tmp_path / "c"), 8, size)
    dirs = [os.path.dirname(o.vcf_gz) if hasattr(o, "vcf_gz") else o for o in (out_a, out_b, out_c)]
    assert _files(dirs[0])
    assert _same(dirs[0], dirs[1])
    assert not _same(dirs[0], dirs[2])


def test_cohort_counts_match_the_file(tmp_path):
    import gzip

    c = gen.make_cohort(str(tmp_path), 3, 800)
    with gzip.open(c.vcf_gz, "rt") as fh:
        body = [line for line in fh if not line.startswith("#")]
    assert len(body) == c.n_variants == 800
    csq = [line.split("CSQ=", 1)[1].split("\t", 1)[0] for line in body if "CSQ=" in line]
    assert len(csq) == c.n_annotated
    assert sum(len(x.split(",")) for x in csq) == c.n_impacts
    assert os.path.exists(c.vcf_gz + ".tbi")


def test_lakehouse_cycle_is_seeded():
    a = gen.lakehouse_cycle(5, 2, 15_000, 500)
    assert a == gen.lakehouse_cycle(5, 2, 15_000, 500)
    assert a != gen.lakehouse_cycle(6, 2, 15_000, 500)
    assert len(a["merge_keys"]) == len(set(a["merge_keys"])) == 500
    assert all(0 <= k < 15_000 for k in a["merge_keys"] + a["dv_merge_keys"])


def test_benchmark_json_matches_the_runner():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)
