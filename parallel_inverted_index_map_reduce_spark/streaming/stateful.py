"""Custom stateful streaming operator via applyInPandasWithState.

Spark's built-ins cover windows/dedup; this is the extension point for
semantics they can't express — here, a per-key running aggregate that
emits cumulative counts and sums per micro-batch (the canonical
"session metrics so far" operator).

The state function is a closure (pickled by value) so executors never
import this package — same constraint as operators/multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EXACT_OUTPUT_SCHEMA = "event_type string, n_events long, sum_value string"
EXACT_STATE_SCHEMA = "n long, s string"


def running_totals_exact(events: DataFrame) -> DataFrame:
    """Cumulative (count, EXACT decimal sum) per event_type across
    batches, hash-comparable with the DuckDB oracle's decimal sum.

    The caller pre-rounds the measure to 6 decimals IN SPARK
    (``F.round(value, 6).alias("value6")``), so the one genuinely
    engine-sensitive step (double rounding mode) happens in the same
    engine expression the registry's batch aggregates use. The state
    then accumulates ``decimal.Decimal(repr(double))``: a
    6-decimal-rounded double's shortest repr IS its decimal value (no
    shorter decimal lands on the same double at these magnitudes), so
    the running sum is exact, order- and batch-split-independent, and
    equal to SQL's ``SUM(CAST(round(value, 6) AS DECIMAL(38,8)))``.
    Rendered at scale 8 to match the DECIMAL(38,8)->VARCHAR cast.

    State rides as (count, decimal-string) — strings because the exact
    sum must not round-trip through a binary double between batches.

    NO-NaN INVARIANT (pinned by tests/test_streaming.py::
    test_events_fixture_value_envelope): Arrow hands the UDF a float64
    pandas column where SQL NULL and a genuine NaN VALUE are
    indistinguishable (both arrive as NaN), so ``dropna`` necessarily
    treats both as SQL NULL — skipped by the sum but counted in
    n_events. SQL SUM instead PROPAGATES a non-null NaN. The two
    semantics only agree because the events fixture contains no NaN
    values; the fixture test fails loudly if a future generator emits
    one, instead of this operator silently diverging from the oracle.
    """

    def update(key, pdfs, state: GroupState):
        from decimal import Decimal

        import pandas as pd

        # s == "" is the "no non-null value seen yet" sentinel: SQL SUM
        # over a key whose every value is NULL is NULL, not 0, and the
        # oracle comparison holds the operator to that
        n, s = state.get if state.exists else (0, "")
        tot = Decimal(s) if s else None
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value6"].dropna():
                d = Decimal(repr(float(v)))
                tot = d if tot is None else tot + d
        state.update((n, str(tot) if tot is not None else ""))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_events": [n],
                "sum_value": [f"{tot:.8f}" if tot is not None else None],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=EXACT_OUTPUT_SCHEMA,
        stateStructType=EXACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
