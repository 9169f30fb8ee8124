"""Input concatenation: union input tables into one node table.

Reference: splink/internals/vertically_concatenate.py:23-71 builds
``__splink__df_concat`` with UNION ALL, synthesising a ``source_dataset``
column when missing (:52-66); all inputs must share an identical column set
(linker.py:196-219).
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vertically_concatenate(
    frames: Mapping[str, DataFrame],
    source_dataset_column_name: Optional[str] = None,
) -> DataFrame:
    """Union the named input frames; add ``source_dataset`` if requested and
    not already present, and then record the names written as the output's
    ``_splink_dataset_names``. Column sets must match exactly."""
    items = list(frames.items())
    base_cols = items[0][1].columns
    for name, df in items[1:]:
        if set(df.columns) != set(base_cols):
            raise ValueError(
                f"input {name!r} columns {df.columns} != {base_cols} "
                "(all inputs must share an identical column set)"
            )
    synthesize = source_dataset_column_name and source_dataset_column_name not in base_cols
    out_frames = []
    for name, df in items:
        df = df.select(*base_cols)
        if synthesize:
            df = df.withColumn(source_dataset_column_name, F.lit(name))
        out_frames.append(df)
    out = out_frames[0]
    for df in out_frames[1:]:
        out = out.unionByName(df)
    if synthesize:
        out._splink_dataset_names = list(frames)  # type: ignore[attr-defined]
    return out


def concat_input_frames(
    df_or_dfs,
    table_names=None,
    source_dataset_column_name: str = "source_dataset",
):
    """Shared facade-input handling: a single DataFrame passes through
    unchanged; a sequence is vertically concatenated with a source-dataset
    column naming each input. Returns (frame, source_dataset_col_or_None)."""
    from pyspark.sql import DataFrame

    if isinstance(df_or_dfs, DataFrame):
        return df_or_dfs, None
    frames = list(df_or_dfs)
    if len(frames) == 1 and table_names is None:
        return frames[0], None
    names = table_names or [f"table_{i}" for i in range(len(frames))]
    if len(names) != len(frames):
        raise ValueError("table_names must match the number of input frames")
    return (
        vertically_concatenate(dict(zip(names, frames)), source_dataset_column_name),
        source_dataset_column_name,
    )
