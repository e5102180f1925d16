"""The benchmark's workloads and the layer each registry entry exercises.

``WORKLOADS`` lists, per workload, exactly the registry entries
(``pygrametl_spark.queries.QUERIES``) a run builds, materializes and
digest-checks. The other entries are listed in ``UNTIMED``: building and
materializing all 50 in a fresh process three or more times does not fit
the benchmark's per-run time budget (see README.md, "Budget"). Each entry
is in exactly one of the lists.
"""

from __future__ import annotations

WORKLOADS = {
    "warehouse": (
        "q01_pricing_summary", "etl_star_load", "snowflake_lookup_ensure",
        "scd2_streaming_maintain", "pep249_sink_roundtrip",
    ),
    "curation": (
        "token_count", "simhash", "ann_topk", "sampling_suite", "multimodal_pipeline",
    ),
}

# Untimed warm-up passes after the cold pass, until the passes stop
# falling: with two, curation's timed passes still fell from pass to pass
# (4.8, 4.5, 4.0, 4.0, 3.8 s in one run) while warehouse's were level.
WARM_PASSES = {"warehouse": 2, "curation": 4}

UNTIMED = (
    "sql_transforming", "project_map_filter", "joining_sources", "steps_suite",
    "helpers_suite", "dim_lookup", "dim_getby", "dim_ensure", "dim_update",
    "dim_rowexpander", "snowflake_scdensure", "scd_typeone", "scd2_build_close",
    "scd2_type1_overrides", "scd2_incremental_merge", "scd_lookupasof",
    "asof_bounds_fullrow", "newest_version", "fact_suite", "accumulating_snapshot",
    "crosstab", "rollup_cube_agg", "advanced_aggs", "topk", "pep249_source",
    "sources_roundtrip", "dedup_exact", "events_stream_windows", "events_sessionize",
    "corpus_curation", "dedup_minhash_lsh", "text_analysis", "curation_guard",
    "minhash_signatures", "neardup_clusters", "dedup_ngram_jaccard",
    "embedding_neardup", "ann_lsh_neardup", "ann_ivf_topk", "ann_ivf_index",
)

# The repository layers each entry exercises, named after the package
# module that implements its core operator. Entries with no tag spend their
# time in catalog scans, plans joins and plain aggregation, which the exec.*
# and catalog.* metrics cover.
LAYERS = {
    "dim_lookup": ("operators.dimension",),
    "dim_getby": ("operators.dimension",),
    "dim_ensure": ("operators.dimension",),
    "dim_update": ("operators.dimension",),
    "dim_rowexpander": ("operators.dimension",),
    "snowflake_lookup_ensure": ("operators.snowflake",),
    "snowflake_scdensure": ("operators.snowflake",),
    "scd_typeone": ("operators.scd",),
    "scd2_build_close": ("operators.scd",),
    "scd2_type1_overrides": ("operators.scd",),
    "scd2_incremental_merge": ("operators.scd",),
    "scd_lookupasof": ("operators.scd",),
    "asof_bounds_fullrow": ("operators.scd",),
    "newest_version": ("operators.scd",),
    "etl_star_load": ("operators.dimension", "operators.facttable"),
    "fact_suite": ("operators.facttable",),
    "accumulating_snapshot": ("operators.facttable",),
    "corpus_curation": ("functions.text",),
    "text_analysis": ("functions.text",),
    "token_count": ("functions.text",),
    "curation_guard": ("functions.text",),
    "minhash_signatures": ("functions.dedup",),
    "dedup_minhash_lsh": ("functions.dedup",),
    "neardup_clusters": ("functions.dedup",),
    "simhash": ("functions.dedup",),
    "dedup_ngram_jaccard": ("functions.dedup",),
    "embedding_neardup": ("functions.similarity",),
    "ann_topk": ("functions.similarity",),
    "ann_lsh_neardup": ("functions.similarity",),
    "ann_ivf_topk": ("functions.similarity",),
    "ann_ivf_index": ("functions.similarity",),
    "sampling_suite": ("functions.sampling",),
    "multimodal_pipeline": ("functions.multimodal",),
    "dedup_exact": ("streaming",),
    "events_stream_windows": ("streaming",),
    "events_sessionize": ("streaming",),
    "scd2_streaming_maintain": ("streaming", "operators.scd"),
    "sources_roundtrip": ("sources",),
    "pep249_source": ("sources",),
    # endloads a star through PEP249Target, then verifies it through PEP249Source
    "pep249_sink_roundtrip": ("sinks", "sources"),
}

LAYER_TIME_METRICS = {
    "operators.dimension": "operators.dimension_s",
    "operators.snowflake": "operators.snowflake_s",
    "operators.scd": "operators.scd_s",
    "operators.facttable": "operators.facttable_s",
    "functions.text": "functions.text_s",
    "functions.dedup": "functions.dedup_s",
    "functions.similarity": "functions.similarity_s",
    "functions.sampling": "functions.sampling_s",
    "functions.multimodal": "functions.multimodal_s",
    "streaming": "streaming.drain_s",
    "sources": "sources.s",
    "sinks": "sinks.s",
}
