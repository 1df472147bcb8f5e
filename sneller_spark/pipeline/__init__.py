from .aggregate import aggregate_per_sink, aggregate_per_sink_salted
from .enrich import BroadcastGuardError, enrich_stage
from .parse import parse_stage_dict
from .route import route_stage, write_routed

__all__ = [
    "parse_stage_dict",
    "enrich_stage",
    "BroadcastGuardError",
    "route_stage",
    "write_routed",
    "aggregate_per_sink",
    "aggregate_per_sink_salted",
]
