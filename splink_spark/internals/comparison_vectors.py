"""Comparison vectors: re-join blocked id pairs to their columns and compute
per-comparison gamma values.

Reference: splink/internals/comparison_vector_values.py:41-132 — the junction
re-join (``blocked_id_pairs b JOIN concat_tf l ON uid_l = b.join_key_l JOIN
concat_tf r ...``, :98-115) followed by the gamma CASE ladders. The ids-only
blocking output + this junction join is a deliberate shuffle-width
optimisation at scale: the wide columns move through exactly two hash joins
instead of through the blocking join's output.

The id-pair contract: a pair table is ``(match_key, [source_dataset_l,
source_dataset_r,] join_key_l, join_key_r, *carried)``. The source-dataset
keys are present whenever the job has source datasets, because uids are only
unique per dataset (the reference's composite ids, unique_id_concat.py).
Blocking emits this shape, and ``id_pairs`` builds it from any other table
of pairs (labels, cluster members, single records). Carried columns ride
through the junction join onto the scored rows.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .blocking import block_using_rules
from .misc import row_count
from .settings import Settings
from .term_frequencies import tf_column_name


def _needed_columns(settings: Settings, concat_with_tf: DataFrame) -> list[str]:
    """Columns the comparisons actually touch (narrow shuffle width)."""
    cols: list[str] = [settings.unique_id_column_name]
    if settings.source_dataset_column_name and (
        settings.source_dataset_column_name in concat_with_tf.columns
    ):
        cols.append(settings.source_dataset_column_name)
    for comp in settings.comparisons:
        for c in getattr(comp, "input_columns", None) or []:
            if c in concat_with_tf.columns and c not in cols:
                cols.append(c)
    for c in getattr(settings, "additional_columns_to_retain", []) or []:
        if c in concat_with_tf.columns and c not in cols:
            cols.append(c)
    for c in settings.tf_columns:
        tf = tf_column_name(settings, c)
        if tf in concat_with_tf.columns and tf not in cols:
            cols.append(tf)
    known = {c for comp in settings.comparisons for c in (getattr(comp, "input_columns", None) or [])}
    if not known:  # no declared inputs (custom SQL levels) → carry everything
        return list(concat_with_tf.columns)
    return cols


# node tables at or below this row count are broadcast into the junction
# join; larger tables either carry columns through the blocking join
# (build_pairs_with_columns) or sort-merge-join the junction. 200k rows of a
# narrow projection is ~10-30 MB serialized — comfortably broadcastable;
# beyond that the per-task hash-build cost of a forced broadcast exceeds the
# shuffle it saves (measured: a 1M-row forced broadcast junction ran ~3x
# slower than carry-through on the 1M-row dedupe bench).
BROADCAST_NODES_MAX_ROWS = 200_000


def id_pairs(
    df: DataFrame,
    settings: Settings,
    match_key: str,
    uid: tuple = ("unique_id_l", "unique_id_r"),
    source_dataset: Optional[tuple] = ("source_dataset_l", "source_dataset_r"),
    carry: Sequence[Union[str, Column]] = (),
    lower_id_on_lhs: bool = False,
) -> DataFrame:
    """A pair table in the id-pair contract, read from ``df``.

    ``uid`` and ``source_dataset`` name the (left, right) key columns of
    ``df``, as column names or expressions; the defaults are the labels-table
    names. The source-dataset keys are carried whenever the job has source
    datasets. ``source_dataset=None`` leaves them out, which is sound only
    when each side's node table holds a single record (``compare_two_records``).
    ``carry`` columns are kept as pair columns.

    ``lower_id_on_lhs`` orients each pair with the lower ``(source_dataset,
    uid)`` on the left and keeps one row per pair (the reference's
    lower_id_on_lhs.py, as its labels join does).
    """
    def col(c):
        return F.col(c) if isinstance(c, str) else c

    uid_l, uid_r = (col(c) for c in uid)
    keys = {"join_key": (uid_l, uid_r)}
    swap = uid_l > uid_r
    if settings.needs_source_dataset and source_dataset is not None:
        missing = [c for c in source_dataset if isinstance(c, str) and c not in df.columns]
        if missing:
            raise ValueError(
                f"a {settings.link_type} job keys its pairs by (source dataset, "
                f"unique id): missing {missing} (got {df.columns})"
            )
        sd_l, sd_r = (col(c) for c in source_dataset)
        keys = {"source_dataset": (sd_l, sd_r), **keys}
        swap = (sd_l > sd_r) | ((sd_l == sd_r) & swap)
    if lower_id_on_lhs:
        keys = {
            name: (F.when(swap, r).otherwise(l), F.when(swap, l).otherwise(r))
            for name, (l, r) in keys.items()
        }
    names = [f"{name}_{side}" for name in keys for side in ("l", "r")]
    cols = [c for pair in keys.values() for c in pair]
    out = df.select(
        F.lit(match_key).alias("match_key"),
        *[c.alias(n) for c, n in zip(cols, names)],
        *carry,
    )
    return out.dropDuplicates(names) if lower_id_on_lhs else out


def blocked_pairs_with_columns(
    blocked_pairs: DataFrame,
    concat_with_tf: DataFrame,
    settings: Settings,
    concat_with_tf_right: Optional[DataFrame] = None,
) -> DataFrame:
    """The junction re-join (comparison_vector_values.py:98-115).

    Join-strategy note: |pairs| >> |nodes| in any blocked workload, so when
    the narrow node table is small enough to broadcast we hint it explicitly
    — otherwise Catalyst sort-merge-joins and shuffles the (much larger) pair
    table twice. At billions of nodes the hint is skipped and SMJ is correct.
    The row count is known for free: the concat was already counted when the
    blocked pairs materialized.
    """
    uid = settings.unique_id_column_name
    cols = _needed_columns(settings, concat_with_tf)
    narrow_l = concat_with_tf.select([F.col(c).alias(f"{c}_l") for c in cols])
    right_src = concat_with_tf_right if concat_with_tf_right is not None else concat_with_tf
    narrow_r = right_src.select([F.col(c).alias(f"{c}_r") for c in cols])
    if row_count(concat_with_tf) <= BROADCAST_NODES_MAX_ROWS:
        narrow_l = F.broadcast(narrow_l)
        narrow_r = F.broadcast(narrow_r)

    sd = settings.source_dataset_column_name
    keyed_by_sd = bool(sd) and "source_dataset_l" in blocked_pairs.columns

    def on(narrow, side):
        cond = blocked_pairs[f"join_key_{side}"] == narrow[f"{uid}_{side}"]
        if keyed_by_sd:
            cond = cond & (blocked_pairs[f"source_dataset_{side}"] == narrow[f"{sd}_{side}"])
        return cond

    out = blocked_pairs.join(narrow_l, on=on(narrow_l, "l"), how="inner").join(
        narrow_r, on=on(narrow_r, "r"), how="inner"
    )
    # drop the pair table's copies by REFERENCE — the node table contributes
    # identically-named source_dataset_l/_r columns that must survive
    for key in ("join_key", "source_dataset"):
        for side in ("l", "r"):
            if f"{key}_{side}" in blocked_pairs.columns:
                out = out.drop(blocked_pairs[f"{key}_{side}"])
    return out


def build_pairs_with_columns(
    nodes: DataFrame,
    rules,
    settings: Settings,
    nodes_right: Optional[DataFrame] = None,
    repartition_count: Optional[int] = None,
    link_type: Optional[str] = None,
) -> DataFrame:
    """Blocked pairs WITH their compared columns, by whichever join shape is
    right for the node-table size:

    - small node table (<= BROADCAST_NODES_MAX_ROWS) or exploding rules:
      ids-only blocking join + broadcast junction re-join (narrow shuffle,
      two broadcast hash joins — the 100 TB shape when records are wide);
    - large node table, no exploding rules: carry the needed columns through
      the blocking join directly (one shuffle of the narrow node projection
      on the blocking keys, no junction, no mega-broadcast — the shape a
      single-node engine's planner picks, and the right one when the
      retained column set is narrow).

    ``repartition_count`` (small-table path only) spreads the ids-only join
    output before the junction so a fuzzy-metric stage keeps full
    parallelism under AQE coalescing. ``link_type`` overrides the
    settings' link type for the pair filter.
    """
    s = settings
    block = dict(
        link_type=link_type or s.link_type,
        unique_id_column_name=s.unique_id_column_name,
        source_dataset_column_name=(
            s.source_dataset_column_name if s.needs_source_dataset else None
        ),
        nodes_right=nodes_right,
    )
    can_carry = not any(r.exploded_columns for r in rules)
    if can_carry and row_count(nodes) > BROADCAST_NODES_MAX_ROWS:
        return block_using_rules(
            nodes, rules, output_columns=_needed_columns(s, nodes), **block
        )
    pairs = block_using_rules(nodes, rules, **block)
    if repartition_count:
        pairs = pairs.repartition(repartition_count)
    return blocked_pairs_with_columns(
        pairs, nodes, s, concat_with_tf_right=nodes_right
    )


def compute_comparison_vectors(
    pairs_with_cols: DataFrame, settings: Settings
) -> DataFrame:
    """Append ``gamma_<comparison>`` columns (the F.when CASE ladders)."""
    gammas = [comp.gamma_column() for comp in settings.comparisons]
    return pairs_with_cols.select("*", *gammas)

