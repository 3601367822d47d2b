from . import (  # noqa: F401
    analytics,
    bucketing,
    dedup,
    incremental,
    ingest,
    maintenance,
    merge,
    multimodal,
    similarity,
    skew,
)
