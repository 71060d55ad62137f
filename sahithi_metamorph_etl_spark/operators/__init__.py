from .projection import normalize_columns, rename_positional, conform_to_contract
from .joins import join_on_clean_keys, semi_join, anti_join
from .windows import top_k_per_group, sessionize
from .aggregates import duplicate_keys
from .quantiles import approx_quantiles, tier_by_cutoffs

__all__ = [
    "normalize_columns",
    "rename_positional",
    "conform_to_contract",
    "join_on_clean_keys",
    "semi_join",
    "anti_join",
    "top_k_per_group",
    "sessionize",
    "duplicate_keys",
    "approx_quantiles",
    "tier_by_cutoffs",
]
