"""Comparison vectors: blocked pairs with their compared columns, and
per-comparison gamma values.

Reference: splink/internals/comparison_vector_values.py:41-132 — the junction
re-join (``blocked_id_pairs b JOIN concat_tf l ON uid_l = b.join_key_l JOIN
concat_tf r ...``, :98-115) followed by the gamma CASE ladders.

Records are blocked, id pairs are junction-joined. The blocking join carries
the compared columns through (``build_pairs_with_columns``), one join per
rule. The junction re-join (``blocked_pairs_with_columns``) attaches the
linker's records to pairs that arrive as ids: caller, labelled, registered,
chunked and cluster pair tables, exploding rules (whose pair dedup runs on
ids) and predict's re-join of its narrow core.

The id-pair contract: a pair table is ``(match_key, [source_dataset_l,
source_dataset_r,] join_key_l, join_key_r, *carried)``. The source-dataset
keys are present whenever the job has source datasets, because uids are only
unique per dataset (the reference's composite ids, unique_id_concat.py).
Ids-only blocking emits this shape, and ``id_pairs`` builds it from any
other table of pairs (labels, cluster members). Carried columns ride through
the junction join onto the scored rows.
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
    """Columns the comparisons actually touch (narrow shuffle width); all of
    them when no comparison declares its inputs (custom SQL levels)."""
    s = settings
    inputs = [c for comp in s.comparisons for c in (getattr(comp, "input_columns", None) or [])]
    if not inputs:
        return list(concat_with_tf.columns)
    wanted = [s.unique_id_column_name, s.source_dataset_column_name, *inputs,
              *(getattr(s, "additional_columns_to_retain", None) or []),
              *(tf_column_name(s, c) for c in s.tf_columns)]
    return [c for c in dict.fromkeys(wanted) if c in concat_with_tf.columns]


# node tables at or below this row count are broadcast into the join that
# attaches their columns (the blocking join, or the junction re-join); larger
# tables are shuffled on the join keys instead. 200k rows of a narrow
# projection is ~10-30 MB serialized — comfortably broadcastable; beyond that
# the per-task hash-build cost of a forced broadcast exceeds the shuffle it
# saves (measured: a 1M-row forced broadcast junction ran ~3x slower than a
# shuffled carry-through join on the 1M-row dedupe bench).
BROADCAST_NODES_MAX_ROWS = 200_000


def _broadcast_side(nodes: DataFrame, nodes_right: DataFrame) -> Optional[DataFrame]:
    """The side of a join between two record sets to broadcast: sides with
    a memoised count first, the smaller first, then the left. A side is
    counted only when no side before it is small, so a one-record side
    costs no count job, nor does a new batch against a small base."""
    def known(side):
        n = getattr(side, "_splink_row_count", None)
        return float("inf") if n is None else n

    order = sorted((nodes, nodes_right), key=known)
    return next((s for s in order if row_count(s) <= BROADCAST_NODES_MAX_ROWS), None)


def id_pairs(
    df: DataFrame,
    settings: Settings,
    match_key: Union[str, Column],
    uid: tuple[str, str] = ("unique_id_l", "unique_id_r"),
    source_dataset: tuple[str, str] = ("source_dataset_l", "source_dataset_r"),
    carry: Sequence[Union[str, Column]] = (),
    lower_id_on_lhs: bool = False,
) -> DataFrame:
    """A pair table in the id-pair contract, read from ``df``.

    ``uid`` and ``source_dataset`` name the (left, right) key columns of
    ``df``; the defaults are the labels-table names. The source-dataset keys
    are carried whenever the job has source datasets. ``carry`` columns are
    kept as pair columns. ``match_key`` is a literal, or a column of ``df``.

    ``lower_id_on_lhs`` orients each pair with the lower ``(source_dataset,
    uid)`` on the left and keeps one row per pair (the reference's
    lower_id_on_lhs.py, as its labels join does).
    """
    uid_l, uid_r = (F.col(c) for c in uid)
    keys = {"join_key": (uid_l, uid_r)}
    swap = uid_l > uid_r
    if settings.needs_source_dataset:
        missing = [c for c in source_dataset if c not in df.columns]
        if missing:
            raise ValueError(
                f"a {settings.link_type} job keys its pairs by (source dataset, "
                f"unique id): missing {missing} (got {df.columns})"
            )
        sd_l, sd_r = (F.col(c) for c in source_dataset)
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

    Join-strategy note: |pairs| >> |nodes| in any blocked workload, so each
    narrow node side that is small enough to broadcast is hinted explicitly
    — otherwise Catalyst sort-merge-joins and shuffles the (much larger) pair
    table twice. At billions of nodes the hint is skipped and SMJ is correct.
    """
    uid = settings.unique_id_column_name
    cols = _needed_columns(settings, concat_with_tf)
    right_src = concat_with_tf_right if concat_with_tf_right is not None else concat_with_tf

    def narrow(nodes, side):
        out = nodes.select(*cols).toDF(*[f"{c}_{side}" for c in cols])
        return F.broadcast(out) if row_count(nodes) <= BROADCAST_NODES_MAX_ROWS else out

    narrow_l, narrow_r = narrow(concat_with_tf, "l"), narrow(right_src, "r")

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
    link_type: Optional[str] = None,
) -> DataFrame:
    """Blocked pairs WITH their compared columns: the blocking join carries
    the columns the comparisons read (``_needed_columns``) straight through,
    one join per rule and no junction. A side with at most
    ``BROADCAST_NODES_MAX_ROWS`` rows is broadcast (``_broadcast_side``), so
    the join runs on the other side's partitions; when neither is, it
    shuffles on the blocking keys.

    Exploding rules dedup their pairs on ids, so they block ids-only and
    junction-join the columns (``blocked_pairs_with_columns``).
    ``link_type`` overrides the settings' link type for the pair filter.
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
    if any(r.exploded_columns for r in rules):
        return blocked_pairs_with_columns(
            block_using_rules(nodes, rules, **block), nodes, s,
            concat_with_tf_right=nodes_right,
        )
    right = nodes if nodes_right is None else nodes_right
    side = _broadcast_side(nodes, right)
    if side is nodes and side is not right:
        nodes = F.broadcast(nodes)
    return block_using_rules(
        nodes, rules, output_columns=_needed_columns(s, nodes),
        broadcast_right=side is right, **block,
    )


def compute_comparison_vectors(
    pairs_with_cols: DataFrame, settings: Settings
) -> DataFrame:
    """Append ``gamma_<comparison>`` columns (the F.when CASE ladders)."""
    gammas = [comp.gamma_column() for comp in settings.comparisons]
    return pairs_with_cols.select("*", *gammas)

