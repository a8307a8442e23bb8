"""Seeded input generator for the genomics benchmark.

Everything here is a pure function of (workload, seed): the same seed
writes byte-identical rows, a different seed different ones. Inputs go
to ``<out>/inputs``; the truth tables the program never sees go to
``<out>/truth``.

Coordinates are 0-based half-open, reads are aligned to one contig
``chr1`` and carry exact CIGAR/MD strings, Phred+33 qualities and the
flag columns ``prefilter_reads`` reads.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

CONTIG = "chr1"
BASES = "ACGT"
READ_LEN = 100

READ_ARROW_SCHEMA = pa.schema(
    [
        pa.field("read_name", pa.string(), nullable=False),
        ("contig", pa.string()),
        ("start", pa.int64()),
        ("end", pa.int64()),
        pa.field("sequence", pa.string(), nullable=False),
        ("qual", pa.string()),
        ("cigar", pa.string()),
        ("md", pa.string()),
        ("mapq", pa.int32()),
        pa.field("read_mapped", pa.bool_(), nullable=False),
        ("primary_alignment", pa.bool_()),
        ("duplicate_read", pa.bool_()),
        ("forward_strand", pa.bool_()),
        ("read_paired", pa.bool_()),
        ("mate_mapped", pa.bool_()),
        ("mate_contig", pa.string()),
        ("mate_start", pa.int64()),
        ("sample_id", pa.string()),
    ]
)

GVCF_ARROW_SCHEMA = pa.schema(
    [
        ("contig", pa.string()),
        ("start", pa.int64()),
        ("end", pa.int64()),
        ("ref_allele", pa.string()),
        ("alt_allele", pa.string()),
        ("sample_id", pa.string()),
        ("gt_state", pa.int32()),
        ("ll0", pa.float64()),
        ("ll1", pa.float64()),
        ("ll2", pa.float64()),
        ("nr_ll0", pa.float64()),
        ("nr_ll1", pa.float64()),
        ("nr_ll2", pa.float64()),
    ]
)


@dataclass(frozen=True)
class ReadSpec:
    """Sizes of one simulated read set."""

    ref_len: int
    samples: int
    coverage: float
    error_rate: float = 0.005
    duplicate_rate: float = 0.0
    secondary_rate: float = 0.0
    low_mapq_rate: float = 0.0
    unmapped_rate: float = 0.0


@dataclass(frozen=True)
class CohortSpec:
    """Sizes of one simulated cohort gVCF."""

    region_len: int
    samples: int
    sites: int
    weak_rate: float = 0.02


# A warm job takes 2-5 s on four cores, mostly per-stage overhead: at
# three times these sizes it takes about as long, so larger inputs buy
# no steadier figures, only a slower set-up.
REALIGN_CALL = ReadSpec(
    ref_len=72_000, samples=1, coverage=30.0,
    duplicate_rate=0.03, secondary_rate=0.02, low_mapq_rate=0.02, unmapped_rate=0.01,
)
GVCF_ALL_SITES = ReadSpec(ref_len=12_000, samples=2, coverage=20.0)
COHORT_JOINT = CohortSpec(region_len=400_000, samples=64, sites=1_200)


def _rng(seed: int, part: str) -> random.Random:
    return random.Random(f"genobench:{seed}:{part}")


def make_reference(rng: random.Random, length: int) -> str:
    return "".join(rng.choices(BASES, k=length))


def plant_variants(rng: random.Random, ref: str, margin: int = 150) -> list[tuple]:
    """Diploid variants as (pos, ref, alt, haps) with VCF-style anchored
    indels. ``haps`` is the set of haplotypes (0/1) carrying the alt.
    Indels are placed where they cannot shift left or right, so the
    planted representation is the unique normalized one."""
    out = []
    pos = margin
    while pos < len(ref) - margin:
        kind = rng.random()
        haps = frozenset({0, 1}) if rng.random() < 0.4 else frozenset({rng.randrange(2)})
        if kind < 0.7:
            alt = rng.choice([b for b in BASES if b != ref[pos]])
            out.append((pos, ref[pos], alt, haps))
        elif kind < 0.85:
            k = rng.randint(1, 3)
            ins = "".join(rng.choices(BASES, k=k))
            if ins[-1] != ref[pos] and ins[0] != ref[pos + 1]:
                out.append((pos, ref[pos], ref[pos] + ins, haps))
        else:
            k = rng.randint(1, 3)
            if ref[pos] != ref[pos + k] and ref[pos + 1] != ref[pos + k + 1]:
                out.append((pos, ref[pos : pos + k + 1], ref[pos], haps))
        pos += rng.randint(60, 160)
    return out


def _haplotype_events(variants: list[tuple], hap: int) -> dict[int, tuple[str, str]]:
    return {p: (r, a) for p, r, a, haps in variants if hap in haps}


def simulate_read(
    ref: str, events: dict[int, tuple[str, str]], start: int, length: int
) -> tuple[list[tuple[str, int, str]], int] | None:
    """Alignment columns of one error-free read from ``start``:
    ('M', ref_pos, read_base) | ('I', -1, read_base) | ('D', ref_pos, '').
    Returns (columns, ref_end), or None when the read would start or end
    inside an indel or run off the reference."""
    cols: list[tuple[str, int, str]] = []
    n_read = 0
    r = start
    while n_read < length:
        if r >= len(ref):
            return None
        ev = events.get(r)
        if ev is None:
            cols.append(("M", r, ref[r]))
            n_read += 1
            r += 1
            continue
        vref, valt = ev
        if len(vref) == 1 and len(valt) == 1:
            cols.append(("M", r, valt))
            n_read += 1
            r += 1
        elif len(valt) > 1:
            cols.append(("M", r, vref))
            n_read += 1
            for b in valt[1:]:
                cols.append(("I", -1, b))
                n_read += 1
            r += 1
        else:
            cols.append(("M", r, vref[0]))
            n_read += 1
            for d in range(1, len(vref)):
                cols.append(("D", r + d, ""))
            r += len(vref)
    if cols[0][0] != "M" or cols[-1][0] != "M" or n_read != length:
        return None
    return cols, r


def encode_alignment(ref: str, cols: list[tuple[str, int, str]]) -> tuple[str, str, str]:
    """(sequence, CIGAR, MD) of alignment columns against ``ref``."""
    seq = "".join(b for op, _, b in cols if op != "D")
    cigar: list[str] = []
    run_op, run_n = cols[0][0], 0
    for op, _, _ in cols:
        if op == run_op:
            run_n += 1
        else:
            cigar.append(f"{run_n}{run_op}")
            run_op, run_n = op, 1
    cigar.append(f"{run_n}{run_op}")
    md: list[str] = []
    match_run = 0
    prev = None
    for op, rp, b in cols:
        if op == "M":
            if b == ref[rp]:
                match_run += 1
            else:
                md.append(f"{match_run}{ref[rp]}")
                match_run = 0
        elif op == "D":
            if prev != "D":
                md.append(f"{match_run}^")
                match_run = 0
            md.append(ref[rp])
        prev = op
    md.append(str(match_run))
    return seq, "".join(cigar), "".join(md)


def _qual_pool(rng: random.Random, n: int = 64) -> list[str]:
    return [
        "".join(chr(33 + rng.randint(24, 40)) for _ in range(READ_LEN)) for _ in range(n)
    ]


def _with_errors(rng: random.Random, cols: list, rate: float) -> list:
    """Substitute read bases at aligned/inserted columns with probability ``rate``."""
    if rate <= 0:
        return cols
    cols = list(cols)
    i = int(rng.expovariate(rate))
    while i < len(cols):
        op, rp, b = cols[i]
        if op != "D":
            cols[i] = (op, rp, rng.choice([x for x in BASES if x != b]))
        i += 1 + int(rng.expovariate(rate))
    return cols


def _read_row(name, sample, start, end, seq, qual, cigar, md, mapq, fwd,
              mapped=True, primary=True, dup=False) -> dict:
    return {
        "read_name": name, "contig": CONTIG if mapped else None,
        "start": start if mapped else None, "end": end if mapped else None,
        "sequence": seq, "qual": qual, "cigar": cigar if mapped else None,
        "md": md if mapped else None, "mapq": mapq, "read_mapped": mapped,
        "primary_alignment": primary, "duplicate_read": dup, "forward_strand": fwd,
        "read_paired": False, "mate_mapped": False, "mate_contig": None,
        "mate_start": None, "sample_id": sample,
    }


def simulate_reads(seed: int, part: str, spec: ReadSpec):
    """Reads over one simulated diploid genome per sample (all samples
    share the reference, each plants its own variants).

    Returns (ref, rows, truth) where truth maps sample → (variants,
    per-base depth of the reads a default prefilter keeps)."""
    rng = _rng(seed, part)
    ref = make_reference(rng, spec.ref_len)
    quals = _qual_pool(rng)
    rows: list[dict] = []
    truth = {}
    n_primary = int(spec.coverage * spec.ref_len / READ_LEN)
    for s in range(spec.samples):
        sample = f"S{s}"
        variants = plant_variants(rng, ref)
        haps = [_haplotype_events(variants, 0), _haplotype_events(variants, 1)]
        depth = [0] * (spec.ref_len + 1)
        made = 0
        while made < n_primary:
            start = rng.randrange(0, spec.ref_len - READ_LEN - 12)
            sim = simulate_read(ref, haps[rng.randrange(2)], start, READ_LEN)
            if sim is None:
                continue
            cols, end = sim
            cols = _with_errors(rng, cols, spec.error_rate)
            seq, cigar, md = encode_alignment(ref, cols)
            qual = quals[rng.randrange(len(quals))]
            fwd = rng.random() < 0.5
            name = f"{sample}:r{made}"
            u = rng.random()
            if u < spec.unmapped_rate:
                rows.append(_read_row(name, sample, start, end, seq, qual, cigar, md,
                                      0, fwd, mapped=False, primary=True))
                made += 1
                continue
            low = u < spec.unmapped_rate + spec.low_mapq_rate
            mapq = rng.randint(0, 8) if low else 60
            rows.append(_read_row(name, sample, start, end, seq, qual, cigar, md, mapq, fwd))
            if not low:
                depth[start] += 1
                depth[end] -= 1
            if rng.random() < spec.duplicate_rate:
                rows.append(_read_row(name + ":dup", sample, start, end, seq, qual,
                                      cigar, md, mapq, fwd, dup=True))
            if rng.random() < spec.secondary_rate:
                # a noisy secondary placement: calls would be polluted
                # if the prefilter let it through
                s2 = rng.randrange(0, spec.ref_len - READ_LEN - 12)
                sim2 = simulate_read(ref, {}, s2, READ_LEN)
                if sim2 is not None:
                    c2 = _with_errors(rng, sim2[0], 0.08)
                    q2, g2, m2 = encode_alignment(ref, c2)
                    rows.append(_read_row(name + ":sec", sample, s2, sim2[1], q2, qual,
                                          g2, m2, 3, fwd, primary=False))
            made += 1
        acc = 0
        for i in range(len(depth)):
            acc += depth[i]
            depth[i] = acc
        truth[sample] = (variants, depth)
    return ref, rows, truth


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path)


def generate_realign_call(seed: int, out: str) -> dict:
    """One diploid sample at ~30x with duplicate, secondary, low-mapq
    and unmapped reads. Truth: planted sites with their genotype and
    the depth of prefilter-passing reads spanning them."""
    _, rows, truth = simulate_reads(seed, "realign_call", REALIGN_CALL)
    _write(rows, READ_ARROW_SCHEMA, os.path.join(out, "inputs", "reads.parquet"))
    variants, depth = truth["S0"]
    sites = [
        {
            "contig": CONTIG, "start": p, "ref_allele": r, "alt_allele": a,
            "gt_state": len(h), "depth": min(depth[p : p + len(r)]),
        }
        for p, r, a, h in variants
    ]
    _write(sites, None, os.path.join(out, "truth", "sites.parquet"))
    return {"reads": len(rows), "sites": len(sites)}


def _base_states(variants: list[tuple]) -> dict[int, int]:
    """Non-reference gVCF state per base: the alt carrier count of the
    SNP, of the insertion's anchor, or of each deleted base."""
    states = {}
    for p, r, a, h in variants:
        if len(r) == 1:
            states[p] = len(h)
        else:
            for d in range(1, len(r)):
                states[p + d] = len(h)
    return states


def generate_gvcf_all_sites(seed: int, out: str) -> dict:
    """Two samples at ~20x. Truth: every covered (base, sample) with its
    depth and expected gVCF genotype state."""
    _, rows, truth = simulate_reads(seed, "gvcf_all_sites", GVCF_ALL_SITES)
    _write(rows, READ_ARROW_SCHEMA, os.path.join(out, "inputs", "reads.parquet"))
    bases = []
    for sample, (variants, depth) in truth.items():
        states = _base_states(variants)
        for pos in range(GVCF_ALL_SITES.ref_len):
            if depth[pos] > 0:
                bases.append({"contig": CONTIG, "pos": pos, "sample_id": sample,
                              "gt_state": states.get(pos, 0), "depth": depth[pos]})
    _write(bases, None, os.path.join(out, "truth", "bases.parquet"))
    return {"reads": len(rows), "bases": len(bases)}


def _likelihoods(rng: random.Random, gt: int, weak: bool) -> list[float]:
    """Log-likelihoods favouring ``gt``: decisive, or within a few nats
    (weak) so the joint prior can overturn the call."""
    gap = (1.0, 3.0) if weak else (15.0, 40.0)
    best = -rng.uniform(0.0, 0.5)
    return [best if g == gt else best - rng.uniform(*gap) for g in range(3)]


def generate_cohort_joint(seed: int, out: str) -> dict:
    """A cohort gVCF: per sample, hom-ref blocks tiling the region
    (split around its own calls) plus one scored row per carried site.
    Truth: the true genotype of every (site, sample)."""
    spec = COHORT_JOINT
    rng = _rng(seed, "cohort_joint")
    ref = make_reference(rng, spec.region_len + 8)
    positions = sorted(rng.sample(range(50, spec.region_len - 50, 8), spec.sites))
    sites = []
    for p in positions:
        kind = rng.random()
        if kind < 0.8:
            r, a = ref[p], rng.choice([b for b in BASES if b != ref[p]])
        elif kind < 0.9:
            r, a = ref[p], ref[p] + "".join(rng.choices(BASES, k=rng.randint(1, 3)))
        else:
            r, a = ref[p : p + 1 + rng.randint(1, 3)], ref[p]
        freq = rng.uniform(0.03, 0.5)
        while True:
            gts = [(rng.random() < freq) + (rng.random() < freq) for _ in range(spec.samples)]
            if any(gts):
                break
        sites.append((p, r, a, gts))
    rows: list[dict] = []
    truth: list[dict] = []
    for s in range(spec.samples):
        sample = f"S{s:02d}"
        block_start = 0
        for p, r, a, gts in sites:
            gt = gts[s]
            truth.append({"contig": CONTIG, "start": p, "ref_allele": r, "alt_allele": a,
                          "sample_id": sample, "gt_state": gt})
            weak = rng.random() < spec.weak_rate
            if gt == 0:
                continue
            if block_start < p:
                rows.append(_block(rng, sample, block_start, p, ref))
            ll = _likelihoods(rng, gt, weak)
            nr = _likelihoods(rng, gt, weak)
            rows.append({"contig": CONTIG, "start": p, "end": p + len(r), "ref_allele": r,
                         "alt_allele": a, "sample_id": sample, "gt_state": gt,
                         "ll0": ll[0], "ll1": ll[1], "ll2": ll[2],
                         "nr_ll0": nr[0], "nr_ll1": nr[1], "nr_ll2": nr[2]})
            block_start = p + len(r)
        if block_start < spec.region_len:
            rows.append(_block(rng, sample, block_start, spec.region_len, ref))
    # weak hom-ref evidence lives in the blocks: rewrite a share of them
    for row in rows:
        if row["alt_allele"] is None and rng.random() < spec.weak_rate:
            nr = _likelihoods(rng, 0, True)
            row["nr_ll0"], row["nr_ll1"], row["nr_ll2"] = nr
    _write(rows, GVCF_ARROW_SCHEMA, os.path.join(out, "inputs", "gvcf.parquet"))
    _write(truth, None, os.path.join(out, "truth", "genotypes.parquet"))
    return {"rows": len(rows), "sites": len(sites), "genotypes": len(truth)}


def _block(rng: random.Random, sample: str, start: int, end: int, ref: str) -> dict:
    ll = _likelihoods(rng, 0, False)
    return {"contig": CONTIG, "start": start, "end": end, "ref_allele": ref[start],
            "alt_allele": None, "sample_id": sample, "gt_state": 0,
            "ll0": ll[0], "ll1": ll[1], "ll2": ll[2],
            "nr_ll0": ll[0], "nr_ll1": ll[1], "nr_ll2": ll[2]}


GENERATORS = {
    "realign_call": generate_realign_call,
    "gvcf_all_sites": generate_gvcf_all_sites,
    "cohort_joint": generate_cohort_joint,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the inputs and truth of ``workload`` for ``seed`` under ``out``."""
    for sub in ("inputs", "truth"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    return GENERATORS[workload](seed, out)
