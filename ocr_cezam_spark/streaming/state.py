"""The keyed-state seam every stateful streaming operator here runs on.

``changelog_stream`` owns the ``applyInPandasWithState`` protocol once:
per key and micro-batch it reads the stored state (``None`` before the
key's first batch), hands it with the batch's rows to the operator's
``step(key, state, chunks) -> (state, rows)``, stores the returned state
(``None`` keeps what is stored) and emits the returned row dicts. A step
returns rows only when the key saw rows that count, so every emission
is the key's current answer; with a monotonic counter in each row
(``n_rows``, ``n_crawls``, ...) consumers compact the changelog by its
max.

``chunks`` is Spark's lazy iterator of pandas frames: a hot key's batch
arrives as several Arrow chunks (``arrow.maxRecordsPerBatch`` rows each)
and is never held whole unless the step itself concatenates it. No
timeouts: a key's state lives as long as the query's checkpoint.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Step = Callable[[Any, Any, Iterator[pd.DataFrame]],
                tuple[Any, list[dict]]]


def changelog_stream(df: DataFrame, key_col: str, step: Step,
                     output_schema: str, state_schema: str,
                     output_mode: str = "append") -> DataFrame:
    """Group ``df`` by ``key_col`` and run ``step`` per key and batch."""

    def update(key: tuple, chunks: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        new_state, rows = step(key[0], state.get if state.exists else None,
                               chunks)
        if new_state is not None:
            state.update(new_state)
        if rows:
            yield pd.DataFrame(rows)

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def group_keys(events: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """The (grp, k) projection the key sketches group and read."""
    return events.select(events[group_col].alias("grp"),
                         events[key_col].alias("k"))


def non_null_keys(chunks: Iterable[pd.DataFrame]) -> Iterator[str]:
    """The ``k`` values of each chunk as str, nulls dropped: the sketches
    ignore null keys (the batch convention). dropna comes BEFORE
    astype(str), which would turn None into the real key 'None'."""
    for pdf in chunks:
        yield from pdf["k"].dropna().astype(str)
