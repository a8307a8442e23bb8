"""Tests of the benchmark's input generator (no Spark needed):

    python3 -m pytest genobench -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from avocado_spark.functions.alignment import walk_alignment  # noqa: E402

FILES = {
    "realign_call": ["inputs/reads.parquet", "truth/sites.parquet"],
    "gvcf_all_sites": ["inputs/reads.parquet", "truth/bases.parquet"],
    "cohort_joint": ["inputs/gvcf.parquet", "truth/genotypes.parquet"],
}


def _tables(workload: str, seed: int, out: str) -> list:
    gen.generate(workload, seed, out)
    return [pq.read_table(os.path.join(out, f)) for f in FILES[workload]]


@pytest.mark.parametrize("workload", sorted(FILES))
def test_same_seed_same_rows_other_seed_other_rows(workload, tmp_path):
    a = _tables(workload, 7, str(tmp_path / "a"))
    b = _tables(workload, 7, str(tmp_path / "b"))
    c = _tables(workload, 8, str(tmp_path / "c"))
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(y) for x, y in zip(a, c))


def test_alignments_rebuild_the_reference(tmp_path):
    """Every mapped read's CIGAR/MD walks cleanly and its matched and
    mismatched bases agree with one reference."""
    rng = gen._rng(3, "realign_call")
    ref = gen.make_reference(rng, gen.REALIGN_CALL.ref_len)
    _, rows, _ = gen.simulate_reads(3, "realign_call", gen.REALIGN_CALL)
    for r in rows[:2000]:
        if not r["read_mapped"]:
            continue
        for p in walk_alignment(r["cigar"], r["md"], r["sequence"]):
            pos = r["start"] + p.ref_pos
            if p.kind == "match":
                assert r["sequence"][p.read_off : p.read_off + p.length] == ref[pos : pos + p.length]
            elif p.kind in ("mismatch", "del"):
                assert p.ref_bases == ref[pos : pos + p.length]


def test_planted_indels_are_normalized():
    rng = gen._rng(5, "plant")
    ref = gen.make_reference(rng, 20_000)
    for pos, r, a, _ in gen.plant_variants(rng, ref):
        assert r[0] == a[0] or (len(r) == 1 and len(a) == 1)
        if len(a) > 1:  # insertion of a[1:] after pos: no shift either way
            assert a[-1] != ref[pos] and a[1] != ref[pos + 1]
        if len(r) > 1:  # deletion of r[1:]
            k = len(r) - 1
            assert ref[pos] != ref[pos + k] and ref[pos + 1] != ref[pos + k + 1]
