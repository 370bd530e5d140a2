"""Query registry: every SURVEY.md §2 operator exposed as a (spark_fn,
oracle_sql) pair for the driver's DuckDB correctness gate.

Each module defines QUERIES: dict[name, (callable(spark, sf_dir) ->
DataFrame, oracle_sql | None)]. None ⇒ non-portable semantics (e.g.
LSH bucketing) — driver records a rows-only check.

ORDERING CONTRACT (see COVERAGE.md): the driver's correctness gate
records only the FIRST 50 registry entries, in `all_queries()` order.
`_PRIORITY` below therefore front-loads exactly the entries that need
driver evidence this round — one representative per SURVEY §2 operator
class plus every LLM-pipeline operator — and leaves redundant variants
(already driver-green in a prior round) at the tail. When adding a new
query, add its name to `_PRIORITY` if it introduces a new operator
class; the assert below catches typos.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# First-50 window budget, rotated by STALENESS each round (COVERAGE.md
# rule: edited since last green driver evidence ⇒ re-enter the window;
# never-evidenced entries outrank everything).
# Current layout: (1) the six rows whose code changed after their latest
# gate evidence (r11/r12); (2) the rows the round-14 window evidenced,
# minus six untouched pure-DataFrame rows that make room for
# (1); the write-path and sstable rows stay because their code changed
# again since. Exactly 50 names.
_PRIORITY: tuple[str, ...] = (
    # -- (1) stale-by-edit since their latest evidence: the pager memo
    # (cql_paging, r12), the connected-components stop tests (r11, r12)
    # and the iterative loops over plans/hints.materialize (r11, r12)
    "cql_paging",
    "dedup_connected_components",
    "dedup_components_star",
    "text_dsir_weights",
    "multimodal_image_dedup",
    "graph_pagerank_exact",
    # -- (2) round-14 evidence. The sstable tier (one opener and one
    # ranged partition walker, the import snapshot), the write path (one BATCH path, the session
    # frame memo) and the token lane (native expression deleted) all
    # changed again since.
    "source_sstable_pruned_scan",
    "cql_token_scan_frozen_ts",
    "cql_token_scan_frozen",
    "cql_token_scan_frozen_num",
    "source_sstable_roundtrip",
    "source_sstable_version_interop",
    "source_sstable_pointread",
    "source_sstable_wide_slice",
    "source_sstable_counter_cells",
    "cql_upsert_lww_rows",
    "cql_upsert_lww_cells",
    "cql_lwt_conditional",
    "cql_batch_apply",
    "cql_ttl_expiry",
    "cql_udt_field_writes",
    "cql_delete_tombstones",
    "cql_now_writes",
    "cql_counter_fold",
    "cql_trigger_audit",
    "cql_collection_writetime",
    "analytics_salted_agg",
    "cql_clustering_slice",
    "cql_distinct_partitions",
    "cql_duration_arithmetic",
    "cql_from_json",
    "cql_group_by_pk_prefix",
    "cql_group_limit",
    "cql_is_not_null",
    "cql_latest_events",
    "cql_multipoint_in",
    "cql_per_partition_limit",
    "cql_point_lookup",
    "cql_static_column",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "multimodal_video_dedup",
    "sim_ivf_topk",
    "streaming_exactly_once_sink",
    "streaming_session_batch",
    "streaming_sliding_batch",
    "streaming_tumbling_batch",
    "virtual_system_tables",
    "csv_roundtrip",
)
# Deliberately outside the window this round: analytics_count_distinct,
# analytics_set_ops, analytics_topk_orders, analytics_rollup,
# analytics_explode_wordcount and jsonl_roundtrip — plain DataFrame
# queries over the generated tables, with round-14 evidence and no code
# change since.


def all_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from cassandra_pmem_spark.queries import (
        analytics,
        cql_queries,
        extras,
        pipeline_queries,
        tpch_more,
        write_queries,
    )

    merged: dict = {}
    for mod in (cql_queries, analytics, tpch_more, extras, pipeline_queries, write_queries):
        overlap = merged.keys() & mod.QUERIES.keys()
        assert not overlap, f"duplicate query names: {overlap}"
        merged.update(mod.QUERIES)

    missing = [n for n in _PRIORITY if n not in merged]
    assert not missing, f"_PRIORITY names not in registry: {missing}"

    out: dict = {n: merged[n] for n in _PRIORITY}
    out.update({n: q for n, q in merged.items() if n not in out})
    return out
