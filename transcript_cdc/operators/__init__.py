from transcript_cdc.operators.asof import asof_join
from transcript_cdc.operators.dedup import lww_dedup, union_dedup
from transcript_cdc.operators.ivm import (
    changes_delta,
    group_agg,
    maintained_agg,
    merge_agg_state,
)
from transcript_cdc.operators.merge import merge_apply, merge_apply_versioned
from transcript_cdc.operators.sessionize import session_summary, sessionize
from transcript_cdc.operators.skew import (
    choose_salt,
    lagged_salt,
    salted_repartition,
)

__all__ = [
    "asof_join",
    "changes_delta",
    "group_agg",
    "maintained_agg",
    "merge_agg_state",
    "lww_dedup",
    "union_dedup",
    "merge_apply",
    "merge_apply_versioned",
    "sessionize",
    "session_summary",
    "choose_salt",
    "lagged_salt",
    "salted_repartition",
]
