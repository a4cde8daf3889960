"""Physical-plan inspection and scale-shape assertions.

The reference asserts plan shapes in its optimizer tests
(presto-main/src/test/java/io/prestosql/sql/planner/assertions/ plan
matchers, TestLocalQueries EXPLAIN assertions — SURVEY.md §5.6). The Spark
analog inspects ``df._jdf.queryExecution()`` / ``explain`` output: these
helpers turn "is the filter pushed down / is the dim broadcast / does this
join avoid a cartesian product" into unit-testable predicates, which is how
the 100 TB design rules stay enforced as the query corpus grows.
"""

from .inspect import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    construction_round_trips,
    count_exchanges,
    formatted_plan,
)

__all__ = [
    "formatted_plan",
    "count_exchanges",
    "assert_pushed_filters",
    "assert_no_cartesian",
    "assert_broadcast_join",
    "assert_read_schema_pruned",
    "construction_round_trips",
]
