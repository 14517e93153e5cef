"""Round-6 families — aggregator.

Built as one file in round 6, mechanically split in round 7 (same
procedure and guarantees as the registry_r6b split): wave 1
(two-sample statistics, feature engineering, text quality) in
registry_r6_statfeat.py, waves 2-4 in registry_r6_misc.py. The merge
preserves the exact original registration order (``all_queries()``
returns keys in registration order), pinned by the assertion below.
"""

from __future__ import annotations

from .registry_r6_misc import R6_QUERIES as _MISC
from .registry_r6_statfeat import R6_QUERIES as _STATFEAT
from .registry_util import QueryDef

R6_QUERIES: dict[str, QueryDef] = {**_STATFEAT, **_MISC}

assert len(R6_QUERIES) == len(_STATFEAT) + len(_MISC)
assert list(R6_QUERIES)[:2] == ["stat_ks_test", "stat_mannwhitney_u"]
assert list(R6_QUERIES)[-1] == "dq_freshness_audit"
