"""Truth checks: compare one job's parquet output with the generator's
truth tables. Each check returns the concordance (share of truth
genotypes the output reproduces), the precision (share of non-reference
output rows that are truly non-reference) and the reasons the output
fails, if any. A job whose output fails its check counts as a failed job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# realign_call: sites need this many prefilter-passing reads to count
MIN_DEPTH = 10
# realign_call: the realigner misplaces an indel whose k-mer flank holds
# a sequencing error and turns it into a run of mismatches, so false SNP
# calls cluster within one k-mer (20 bp) of planted indels; ``precision``
# counts them. Other false calls are noise, allowed up to this share of
# the planted sites.
REALIGN_WINDOW = 20
AWAY_CALL_BUDGET = 0.01
MIN_CONCORDANCE = {"realign_call": 0.85, "gvcf_all_sites": 0.95, "cohort_joint": 0.95}


@dataclass
class CheckResult:
    concordance: float
    precision: float
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def _share(part: int, whole: int) -> float:
    return part / whole if whole else 1.0


def _concordance(name: str, matched: int, total: int, problems: list[str]) -> float:
    value = matched / total if total else 0.0
    if value < MIN_CONCORDANCE[name]:
        problems.append(f"concordance {value:.4f} < {MIN_CONCORDANCE[name]}")
    return value


def check_realign_call(out: str, truth: str) -> CheckResult:
    """Genotype state at planted sites with depth >= MIN_DEPTH, and no
    more calls away from planted sites than the error budget."""
    keys = ["start", "ref_allele", "alt_allele"]
    calls = _read(out, keys + ["gt_state"])
    sites = _read(os.path.join(truth, "sites.parquet"), keys + ["gt_state", "depth"])
    problems: list[str] = []
    if calls.duplicated(keys).any():
        problems.append("duplicate calls for one site")
    j = sites.merge(calls, on=keys, how="left", suffixes=("", "_call"))
    deep = j[j["depth"] >= MIN_DEPTH]
    conc = _concordance(
        "realign_call", int((deep["gt_state"] == deep["gt_state_call"]).sum()), len(deep),
        problems,
    )
    false_calls = (calls.merge(sites[keys], on=keys, how="left", indicator=True)
                   .query("_merge == 'left_only'")["start"].to_numpy())
    indels = np.sort(sites.loc[(sites["ref_allele"].str.len() > 1)
                               | (sites["alt_allele"].str.len() > 1), "start"].to_numpy())
    away = int((_distance(false_calls, indels) > REALIGN_WINDOW).sum())
    if away > AWAY_CALL_BUDGET * len(sites):
        problems.append(f"{away} calls away from {len(sites)} planted sites")
    return CheckResult(conc, _share(len(calls) - len(false_calls), len(calls)), problems)


def _distance(points: np.ndarray, sorted_sites: np.ndarray) -> np.ndarray:
    """Distance from each point to the nearest of ``sorted_sites``."""
    if len(sorted_sites) == 0:
        return np.full(len(points), np.inf)
    i = np.searchsorted(sorted_sites, points)
    left = sorted_sites[np.clip(i - 1, 0, len(sorted_sites) - 1)]
    right = sorted_sites[np.clip(i, 0, len(sorted_sites) - 1)]
    return np.minimum(np.abs(points - left), np.abs(points - right))


def check_gvcf_all_sites(out: str, truth: str) -> CheckResult:
    """Exactly one row per covered (base, sample), and gt_state matching
    truth at bases with depth >= MIN_DEPTH."""
    rows = _read(out, ["site_start", "sample_id", "gt_state"]).rename(
        columns={"site_start": "pos"}
    )
    bases = _read(os.path.join(truth, "bases.parquet"), ["pos", "sample_id", "gt_state", "depth"])
    problems: list[str] = []
    j = bases.merge(rows, on=["pos", "sample_id"], how="outer", suffixes=("", "_call"),
                    indicator=True)
    if len(rows) != len(bases) or (j["_merge"] != "both").any():
        problems.append(f"{len(rows)} rows for {len(bases)} covered bases")
    deep = j[j["depth"] >= MIN_DEPTH]
    conc = _concordance(
        "gvcf_all_sites", int((deep["gt_state"] == deep["gt_state_call"]).sum()), len(deep),
        problems,
    )
    called = j[j["gt_state_call"].isin([1, 2])]
    return CheckResult(conc, _share(int((called["gt_state"] > 0).sum()), len(called)), problems)


def check_cohort_joint(out: str, truth: str) -> CheckResult:
    """One row per (site, sample) and recalled_state matching truth."""
    keys = ["start", "ref_allele", "alt_allele", "sample_id"]
    rows = _read(out, keys + ["recalled_state"])
    gts = _read(os.path.join(truth, "genotypes.parquet"), keys + ["gt_state"])
    problems: list[str] = []
    j = gts.merge(rows, on=keys, how="outer", indicator=True)
    if len(rows) != len(gts) or (j["_merge"] != "both").any():
        problems.append(f"{len(rows)} rows for {len(gts)} site x sample genotypes")
    conc = _concordance(
        "cohort_joint", int((j["gt_state"] == j["recalled_state"]).sum()), len(gts), problems
    )
    called = j[j["recalled_state"].isin([1, 2])]
    return CheckResult(conc, _share(int((called["gt_state"] > 0).sum()), len(called)), problems)
