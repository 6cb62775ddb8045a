"""Continuous-aggregate retention tiers (1m/1h/1d) with mergeable sketches;
coarse tiers re-aggregate the finer tier."""

from .tdigest import TDigest  # noqa: F401
from .tiers import TIER_SECONDS, rollup_tier, reaggregate_tier, tier_summary  # noqa: F401
