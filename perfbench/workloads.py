"""The benchmark's workloads: the registered queries one pass runs and
the standing indexes set-up builds first. Why each exists is in
BENCHMARK.json and README.md.

BENCHMARK.json declares etl_surface and index_serve. dedup_curation runs
the same way by hand; it is left out of the declared set because 22 runs
of each declared workload must fit in 57 minutes, and on a 4-vCPU host
two workloads already take about three quarters of that.

Query names are keys of ``cpx_etl_spark.queries.QUERIES``. Builders are
``module:function`` names, each called as ``fn(spark, sf_dir)``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    builders: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    "etl_surface": Workload(
        # Ten of the surface's queries, to keep runs inside the benchmark's
        # time budget: every source read, every sink write, both Python UDF
        # paths and both plan compilers stay; q_match_route, q_schema_apply,
        # q_nest_customer_orders and q_xsl_chain repeat shapes already here.
        queries=(
            "q_xlsx_source",
            "q_xml_badgerfish_source",
            "q_badgerfish_convert",
            "q_validation_rules",
            "q_transform_mapping",
            "q_pipeline_e2e",
            "q_load_related_split",
            "q_fixed_width_roundtrip",
            "q_xsl_execute",
            "q_unicode_normalize",
        ),
    ),
    "dedup_curation": Workload(
        # Four of the family, to keep runs inside the benchmark's time
        # budget: dedup_minhash_lsh carries the construction-time checkpoints
        # (14 jobs), q_decontaminate and q_repetition_filter the corpus-sized
        # shuffles, dedup_exact the one-shuffle baseline.
        queries=(
            "dedup_minhash_lsh",
            "q_decontaminate",
            "q_repetition_filter",
            "dedup_exact",
        ),
    ),
    "index_serve": Workload(
        # One ANN index (OPQ), one text index (winnowing) and one
        # build-on-first-call query (the training-shard artifact), to keep
        # runs inside the benchmark's time budget.
        queries=(
            "ann_opq_topk_indexed",
            "q_winnow_incremental",
            "q_training_shards",
        ),
        builders=(
            "cpx_etl_spark.queries.similarity:build_opq_standing_index",
            "cpx_etl_spark.queries.text:build_winnow_index",
        ),
    ),
}
