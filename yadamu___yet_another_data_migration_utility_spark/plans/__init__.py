"""Query catalog behind the ``__spark_entry__`` driver contract: every
driver-checkable query, a ``(spark, sf_dir) -> DataFrame``, with its
DuckDB oracle SQL under the same name."""

from .catalog import ORACLES, QUERIES  # noqa: F401
from . import temporal  # noqa: F401  (as-of join, sessionization)
from . import migrate_types  # noqa: F401  (interval ISO-8601, spatial recode)
from . import composite  # noqa: F401  (composite-key CDC replay + skew evidence)
