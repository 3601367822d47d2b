"""The spec catalogue: every graded query, in driver-grading order.

``SPECS`` (``queries/specs.py``) is the one list of specs; each
``QuerySpec`` pairs a builder with its DuckDB oracle.  ``queries()``
wraps every builder for a long-lived session (previous caches
released, cached plans compiled with AQE) and ``oracle_sql()`` maps
each graded name to its oracle.  The builders and their helpers live
in the ``queries/*.py`` module that defines them; import them from
there.
"""

from .queries._base import QuerySpec
from .queries.specs import SPECS, oracle_sql, queries

__all__ = ["SPECS", "QuerySpec", "oracle_sql", "queries"]
