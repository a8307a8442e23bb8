"""The benchmark's workloads: one avocado command each, from the parquet
scan to the parquet sink, with its truth check and the layer functions
the traced run wraps.
"""

from __future__ import annotations

import inspect
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avocado_spark.operators import discovery, genotyping, relational
from avocado_spark.plans import pipelines
from avocado_spark.sources import io

from checks import CheckResult, check_cohort_joint, check_gvcf_all_sites, check_realign_call

# captured before the traced run wraps it, so counting stays untraced
_discover_variants = discovery.discover_variants


def _realign_call(spark: SparkSession, reads: DataFrame) -> DataFrame:
    return pipelines.biallelic_genotyper(spark, pipelines.reassemble(reads))


def _gvcf_all_sites(spark: SparkSession, reads: DataFrame) -> DataFrame:
    return genotyping.gvcf_score_all_sites(spark, reads)


def _cohort_joint(spark: SparkSession, gvcf: DataFrame) -> DataFrame:
    return pipelines.jointer(gvcf, from_gvcf=True)


def _input_bytes(args, kwargs, out: DataFrame) -> dict[str, int]:
    return {"input_bytes": os.path.getsize(args[1])}  # the generator writes one file


def _realigned(args, kwargs, out: DataFrame) -> dict[str, int]:
    return {"realigned": out.where(F.col("was_realigned")).count()}


def _candidates(args, kwargs, out: DataFrame) -> dict[str, int]:
    """Distinct candidate sites: the same call without the support filter."""
    call = inspect.signature(_discover_variants).bind(*args, **kwargs)
    call.arguments["min_observations"] = None
    return {"candidates": _discover_variants(*call.args, **call.kwargs).count()}


def _reads_in(args, kwargs, out: DataFrame) -> dict[str, int]:
    return {"reads_in": args[0].count()}


def _exact(args, kwargs, out: DataFrame) -> dict[str, int]:
    return {"exact": out.where(F.col("had_exact")).count()}


# (module, attribute, layer name, counter); the attribute is patched on
# the module its caller reads it from
Patch = tuple[object, str, str, Callable | None]

_SOURCES: list[Patch] = [
    (io, "scan_parquet", "io.scan", _input_bytes),
    (io, "write_parquet", "io.sink", None),
]
_GENOTYPING: list[Patch] = [
    (genotyping, "read_site_events", "genotyping.events", _reads_in),
    (genotyping, "genotype_sites", "genotyping.genotype", None),
]


@dataclass(frozen=True)
class Workload:
    name: str
    input_file: str
    build: Callable[[SparkSession, DataFrame], DataFrame]
    check: Callable[[str, str], CheckResult]  # (output dir, truth dir)
    patches: list[Patch]

    def run(self, spark: SparkSession, input_path: str, out_path: str) -> None:
        """One job: scan → command → committed parquet sink."""
        io.write_parquet(self.build(spark, io.scan_parquet(spark, input_path)), out_path)


WORKLOADS = {
    w.name: w
    for w in [
        Workload("realign_call", "reads.parquet", _realign_call, check_realign_call, _SOURCES + [
            (pipelines, "realign_reads", "realigner", _realigned),
            (relational, "prefilter_reads", "prefilter", None),
            (discovery, "discover_variants", "discovery", _candidates),
            (genotyping, "observe_variants", "genotyping.observe", None),
            *_GENOTYPING,
            (pipelines, "rewrite_hets", "hard_filters", None),
            (pipelines, "hard_filter_annotate", "hard_filters", None),
            (pipelines, "emit_genotype_filter", "hard_filters", None),
        ]),
        Workload("gvcf_all_sites", "reads.parquet", _gvcf_all_sites, check_gvcf_all_sites,
                 _SOURCES + _GENOTYPING),
        Workload("cohort_joint", "gvcf.parquet", _cohort_joint, check_cohort_joint, _SOURCES + [
            (pipelines, "extract_variants", "squareoff.extract", None),
            (pipelines, "square_off", "squareoff.square_off", _exact),
            (pipelines, "joint_recall", "joint.recall", None),
        ]),
    ]
}
