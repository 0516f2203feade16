from .asof import asof_join
from .graph import connected_components, connected_components_incremental
from .similarity import jaccard_join_prefix
from .joins import disjunctive_join
from .ranking import (
    global_ntile,
    global_rank,
    latest_per_group,
    skyline_2d,
    top_k_per_group,
)
from .sets import union_distinct
from .skew import salted_join
from .interval import point_in_interval_join

__all__ = [
    "asof_join",
    "connected_components",
    "connected_components_incremental",
    "jaccard_join_prefix",
    "global_ntile",
    "global_rank",
    "disjunctive_join",
    "latest_per_group",
    "skyline_2d",
    "top_k_per_group",
    "union_distinct",
    "salted_join",
    "point_in_interval_join",
]
