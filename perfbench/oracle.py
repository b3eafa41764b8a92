"""Independent expected state for the CDC workloads, in plain Python.

The rule is the CDC contract itself, not the engine's merge: per key the
event with the greatest (timestamp, transaction-id) wins; a winning
delete removes the key; a late image never overrides a newer one.
"""

from __future__ import annotations

from collections import defaultdict


class ExpectedState:
    """Folds envelopes one file at a time; ``rows()`` is the live table."""

    def __init__(self) -> None:
        self._latest: dict[int, tuple] = {}  # key -> ((ts, txn), op, row)

    def apply(self, envelopes) -> None:
        for e in envelopes:
            stamp = (e.ts_us, e.txn)
            cur = self._latest.get(e.key)
            if cur is None or stamp > cur[0]:
                self._latest[e.key] = (stamp, e.op, e.row)

    def rows(self) -> dict[int, dict]:
        return {k: row for k, (_, op, row) in self._latest.items() if op != "delete"}


def table_rows(rows: dict[int, dict]) -> set[tuple]:
    """Comparable form of a table: one tuple per live row."""
    return {
        (r["trans_id"], r["customer_id"], r["event"], r["sku"], r["amount"],
         r["device"], r["trans_datetime"])
        for r in rows.values()
    }


def by_event(rows: dict[int, dict]) -> dict[str, tuple[int, int]]:
    """event -> (row count, sum(amount)): the rollup and the aggregates."""
    acc: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for r in rows.values():
        a = acc[r["event"]]
        a[0] += 1
        a[1] += r["amount"]
    return {k: (n, s) for k, (n, s) in acc.items()}


def self_test() -> None:
    """The checker must reproduce the golden 12-row final state of the
    reference's two fixture waves (cdc.fixtures)."""
    from types import SimpleNamespace

    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.cdc import fixtures

    state = ExpectedState()
    for wave in fixtures.iter_all_waves():
        state.apply(
            SimpleNamespace(key=e["data"]["trans_id"], op=e["metadata"]["operation"],
                            ts_us=e["metadata"]["timestamp"],
                            txn=e["metadata"]["transaction-id"], row=e["data"])
            for e in wave
        )
    got = {k: r["amount"] for k, r in state.rows().items()}
    if got != fixtures.expected_final_state():
        raise RuntimeError(f"oracle self-test failed: {got}")
