"""Workload definitions and the metric catalogue.

``query`` draws from the engine's query registry: a subset of the
relational and LLM-data candidates, small enough that a warm-up pass and
five timed passes fit one run on a 4-core machine at sf0.1. ``ingest`` runs
the dataset pipeline.
DESIGN.md lists what was left out and why.
"""

from __future__ import annotations

from perfbench.feeds import Sizes

SF = 0.1  # query corpus scale (17 MB of parquet)
REPLAY_SF = 0.001  # events replayed through the streaming sink in ``ingest``
# ingest's set-up warm-up feeds: the same code paths on small data
WARMUP_SIZES = Sizes(ntas=16, nta_garbage=2, food_years=2, zips=16, months=4, slice_updates=4, slice_new=2)
# ingest warms up on the two feeds whose first load pays most start-up: the
# first MERGE (food) and the first geometry pandas UDF (NTA)
WARMUP_DATASETS = ("food_supply_gap", "ntas_2020")
STREAM = "st7_stream_upsert"

# (family, query) pairs: the relational/reference-analytics family and the
# LLM-data family, in one workload (DESIGN.md says why)
QUERIES = {
    "query": (
        ("olap", "q3_shipping_priority"),
        ("olap", "j4_scalar_subquery_latest"),
        ("llm", "d2_fingerprints"),
        ("llm", "d5_simhash"),
        ("llm", "s5_cosine_topk_gemm"),
    ),
}
WORKLOADS = ("query", "ingest")

# First passes, each paying the session-cache builds afresh (query: each
# on its own copy of the corpus; ingest: the initial load), and later
# passes. Every run of a workload makes the same passes, so it does the same
# work. A traced run traces the first of the first passes and the later
# passes named here (1-based). Each of those sits between two untraced later
# passes that do as much work at about the same warmth, and the tracing
# overhead compares it with them.
FIRST_PASSES = {"query": 3, "ingest": 1}
LATER_PASSES = {"query": 2, "ingest": 1}
TRACED_LATER_PASSES = {"query": 3, "ingest": 3}
TRACED_LATER = {"query": (2,), "ingest": (2,)}
# ingest: the first pass loads all five datasets; a round upserts the three
# that the registry refreshes within a decade (food annual, ACS annual,
# Zillow monthly; the NTA and ZCTA boundaries are decennial)
DATASETS = ("food_supply_gap", "census_acs", "ntas_2020", "census_zctas_2020", "zillow_zori")
ROUND_DATASETS = ("food_supply_gap", "census_acs", "zillow_zori")
DOCUMENTS = ("food_gaps", "poverty_by_zip", "rent_by_zip")
OPS_FIRST = {"query": len(QUERIES["query"]), "ingest": len(DATASETS) + len(DOCUMENTS) + 1}
OPS_LATER = {"query": len(QUERIES["query"]), "ingest": len(ROUND_DATASETS) + len(DOCUMENTS)}


def later_passes(workload: str, traced: bool) -> tuple[int, tuple[int, ...]]:
    """Number of later passes, and which of them are traced."""
    if traced:
        return TRACED_LATER_PASSES[workload], TRACED_LATER[workload]
    return LATER_PASSES[workload], ()


def min_ops(workload: str) -> int:
    """Operations every untraced run of the workload times."""
    return FIRST_PASSES[workload] * OPS_FIRST[workload] + LATER_PASSES[workload] * OPS_LATER[workload]


END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.cache_build_s": "s",
    "plans.cache_builds": "count",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.scan_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "functions.python_compute_s": "s",
    "sources.read_s": "s",
    "pipeline.parse_s": "s",
    "storage.upsert_s": "s",
    "storage.metadata_upsert_s": "s",
    "storage.read_s": "s",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
    "storage.rows_rewritten_per_row_in": "ratio",
    "storage.bytes_on_disk": "bytes",
    "serving.food_gaps_s": "s",
    "serving.poverty_by_zip_s": "s",
    "serving.rent_by_zip_s": "s",
    "serving.doc_bytes": "bytes",
    "streaming.sink_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.jobs_per_batch": "ratio",
    "self.bench_s": "s",
    "self.plans_s": "s",
    "self.catalog_s": "s",
    "self.spark_s": "s",
    "self.sources_s": "s",
    "self.pipeline_s": "s",
    "self.storage_s": "s",
    "self.serving_s": "s",
    "trace.overhead_pct": "%",
}
