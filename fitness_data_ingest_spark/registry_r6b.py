"""Round-6 continuation families (r6b) — aggregator.

The 52 r6b keys were built as one file in round 6 and mechanically
split by family in round 7 (verdict r6 item 5): registry_r6b_stat /
_ml / _text / _events each hold one family's operators with their SQL
oracles inline. This module re-assembles R6B_QUERIES in the exact
original registration order (``all_queries()`` returns keys in
registration order, so the merge is order-pinned, not a plain dict
union).

Original module docstring (applies to every family file):

Exactness discipline (house rules, registry_util): every statistic is
either pure int64 arithmetic, or an IEEE-754 expression whose inputs
are exactly-representable int64 casts — both engines evaluate the
identical float expression tree — and every exported float/ln term is
quantized ``floor(x*10^k + 0.5)/10^k`` per term BEFORE any cross-row
sum (the fold-order rule).

Reference parity note: the reference repo (pandas/requests ETL —
``services/fitbit/fitbit_utils.py``, ``services/strava/utils.py``) has
no DQ/evaluation layer; these extend SURVEY.md §2's LLM-pipeline axis
(pipeline self-auditing, model-based curation QA, spatial/blocking
joins) the same way the round-4/5/6 families do.
"""

from __future__ import annotations

from .registry_r6b_events import R6B_QUERIES as _EVENTS
from .registry_r6b_ml import R6B_QUERIES as _ML
from .registry_r6b_stat import R6B_QUERIES as _STAT
from .registry_r6b_text import R6B_QUERIES as _TEXT
from .registry_util import QueryDef

_MERGED: dict[str, QueryDef] = {**_STAT, **_ML, **_TEXT, **_EVENTS}

_ORDER = (
    "dq_referential_integrity",
    "dq_uniqueness_audit",
    "dq_benford_digits",
    "ml_threshold_sweep",
    "ml_lift_gains",
    "ml_calibration_bins",
    "ml_naive_bayes",
    "geo_grid_knn",
    "geo_bbox_contain",
    "text_zipf_fit",
    "text_heaps_law",
    "embed_random_projection",
    "corpus_shard_pack",
    "embed_mmr_select",
    "multimodal_tar_shards",
    "graph_bfs_hops",
    "ts_changepoint_sse",
    "text_bm25_topk",
    "sample_kfold_assign",
    "dq_profile_drift",
    "events_seq_pattern",
    "stat_kendall_tau",
    "stat_brown_forsythe",
    "warehouse_cdc_apply",
    "rag_hybrid_rrf",
    "text_kneser_ney_xent",
    "events_cuped_adjust",
    "sample_neyman_alloc",
    "graph_assortativity",
    "ts_ljung_box",
    "embed_matryoshka_recall",
    "graph_modularity",
    "multimodal_bmp_rle",
    "stat_spearman_corr",
    "events_conversion_lag",
    "text_char_entropy",
    "embed_drift_centroid",
    "ml_average_precision",
    "ml_ndcg_ann",
    "stat_runs_test",
    "events_attribution_position",
    "events_bot_score",
    "layout_partition_advisor",
    "stat_mde_power",
    "stat_srm_check",
    "agg_winsorized_mean",
    "text_burstiness_vmr",
    "graph_powerlaw_alpha",
    "multimodal_tar_index",
    "feature_pit_join",
    "ts_pacf_levinson",
    "stat_logrank_test",
)

R6B_QUERIES: dict[str, QueryDef] = {k: _MERGED[k] for k in _ORDER}

assert len(R6B_QUERIES) == len(_MERGED) == len(_ORDER)
