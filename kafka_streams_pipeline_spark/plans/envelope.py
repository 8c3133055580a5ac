"""Tabular response envelope (SURVEY.md §2.1 S6).

Reference wire format: Message {columns: [..], data: [[..]], metadata}
(model/Message.java:7-16, built at querying/QueryingService.java:205-229).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame


def to_message(df: DataFrame) -> dict[str, Any]:
    """Collect a (small, final) query result into the envelope.

    Only for query RESULTS (already aggregated/limited) — never call
    on raw data; the collect here is the serving boundary, not part of
    any plan.
    """
    rows = df.collect()
    return {
        "columns": list(df.columns),
        "data": [list(r) for r in rows],
        "metadata": {"metric": "temperature"},
    }
