"""Benchmark workloads: fixed job lists from ``registry.all_specs()``.

Each job is one registry key, run as ``QuerySpec.fn(spark, sf_dir)``
followed by a ``noop`` write.  A pass runs the list once, in an order
the run's seed permutes.  See README.md for why each job is in its list.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "hbase_mr": {
        "why": (
            "HBase MapReduce jobs: Scan/Get, filter, RowCounter, aggregate and join reads "
            "plus Put, export and bulk-layout writes; JVM-only, catalog and sink bound"
        ),
        "jobs": [
            # reads: client Scan/Get, a server-side filter, RowCounter, aggregate, join
            "x_client_scan",
            "x_client_get",
            "filter_regex",
            "agg_rowcount",
            "agg_group_sum",
            "join_semi",
            # writes: Put mutations, JSON-lines export; a scan of the staged partitioned layout
            "x_client_mutate",
            "x_sink_json_lines",
            "x_scan_partition_pruned",
        ],
    },
    "llm_curation": {
        "why": (
            "LLM-curation operators: the only Python-worker (pandas/Arrow) kernels, plus "
            "iterative k-means whose plan construction and driver gaps dominate its wall"
        ),
        "jobs": [
            "dedup_exact",
            # Python-worker kernels (FlatMapGroupsInPandas, MapInPandas)
            "udaf_grouped_pandas",
            "x_multimodal_audio_energy",
            "x_emb_gram_gemm",
        ],
    },
}
