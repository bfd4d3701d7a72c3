from bcdc2bcdc_spark.functions.canonicalize import (
    canonical_nullish,
    canonicalize_events,
    canonicalize_snapshot,
)
from bcdc2bcdc_spark.functions.digest import (
    row_digest_expr,
    with_row_digest,
)

__all__ = [
    "canonical_nullish",
    "canonicalize_events",
    "canonicalize_snapshot",
    "row_digest_expr",
    "with_row_digest",
]
