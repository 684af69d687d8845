"""Property-based soundness of the hidden-partitioning rewrite.

For ANY predicate tree over a timestamp source column and ANY row
timestamps, a file whose rows contain a match must survive pruning by
the TRANSFORMED predicate over the file's day/hour partition values.
Hypothesis drives the search for an unsound drop.
"""

from __future__ import annotations

import datetime as _dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glue_table_cache_spark.pruning import (
    And,
    Comparison,
    InList,
    Not,
    Or,
)
from glue_table_cache_spark.sources.iceberg_partitioning import (
    temporal_value,
    transform_partition_predicate,
)

_TS_POOL = [
    _dt.datetime(1969, 12, 31, 23, 30),
    _dt.datetime(1970, 1, 1, 0, 0),
    _dt.datetime(2017, 11, 16, 0, 0),
    _dt.datetime(2017, 11, 16, 22, 31, 8),
    _dt.datetime(2017, 11, 16, 23, 59, 59),
    _dt.datetime(2017, 11, 17, 0, 0),
    _dt.datetime(2017, 12, 1, 9, 0),
    _dt.datetime(2018, 1, 1, 0, 0),
]

_CMP_OPS = (
    "COMPARE_EQUAL",
    "COMPARE_NOTEQUAL",
    "COMPARE_GREATERTHAN",
    "COMPARE_LESSTHAN",
    "COMPARE_GREATERTHANOREQUALTO",
    "COMPARE_LESSTHANOREQUALTO",
)


def _ts_leaves(draw_const):
    return st.builds(
        Comparison,
        st.just("ts"),
        st.sampled_from(_CMP_OPS),
        draw_const,
    )


_ts_const = st.sampled_from(
    [t.strftime("%Y-%m-%d %H:%M:%S") for t in _TS_POOL]
    + ["2017-11-16", "2017-12-01"]
)

_ts_pred = st.recursive(
    _ts_leaves(_ts_const)
    | st.builds(
        InList,
        st.just("ts"),
        st.lists(_ts_const, min_size=1, max_size=3).map(tuple),
        st.booleans(),
    ),
    lambda inner: st.builds(
        And, st.lists(inner, min_size=2, max_size=3).map(tuple)
    )
    | st.builds(
        Or, st.lists(inner, min_size=2, max_size=3).map(tuple)
    )
    | st.builds(Not, inner),
    max_leaves=6,
)


def _row_matches(pred, ts: _dt.datetime):
    """Ground truth: evaluate the ORIGINAL predicate against one row's
    actual timestamp (string compare on ISO forms = timestamp order)."""
    s = ts.strftime("%Y-%m-%d %H:%M:%S")
    return pred.evaluate({"ts": s})


@settings(
    max_examples=300, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    pred=_ts_pred,
    rows=st.lists(
        st.sampled_from(_TS_POOL), min_size=1, max_size=5
    ),
)
def test_transform_pruning_never_drops_a_matching_file(pred, rows):
    fields = [
        {"name": "ts_day", "transform": "day", "source": "ts"},
        {"name": "ts_hour", "transform": "hour", "source": "ts"},
    ]
    pv_pred = transform_partition_predicate(pred, fields)
    # one file per distinct (day, hour) partition tuple, as a real
    # writer would split them
    by_part = {}
    for ts in rows:
        iso = ts.strftime("%Y-%m-%d %H:%M:%S")
        key = (
            temporal_value("day", iso),
            temporal_value("hour", iso),
        )
        by_part.setdefault(key, []).append(ts)
    for (day, hour), members in by_part.items():
        pv = {"ts_day": str(day), "ts_hour": str(hour)}
        kept = pv_pred.evaluate(pv) is not False
        has_match = any(
            _row_matches(pred, t) is True for t in members
        )
        if has_match:
            assert kept, (
                f"file {pv} contains a matching row but was pruned "
                f"by {pv_pred!r} (original {pred!r})"
            )
