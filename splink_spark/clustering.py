"""Standalone clustering — mirrors ``splink.clustering`` (reference
splink/clustering.py → internals/clustering.py:44-180
``cluster_pairwise_predictions_at_threshold``): cluster arbitrary node/edge
tables without a Linker. It runs the linker's own threshold → solve →
attach core (``connected_components.cluster_at_threshold``): at most one of
the two thresholds, a match weight read as its probability, and every edge a
match when neither is given.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from .internals.connected_components import cluster_at_threshold

__all__ = ["cluster_pairwise_predictions_at_threshold"]


def cluster_pairwise_predictions_at_threshold(
    nodes: DataFrame,
    edges: DataFrame,
    node_id_column_name: str = "unique_id",
    edge_id_column_name_left: Optional[str] = None,
    edge_id_column_name_right: Optional[str] = None,
    threshold_match_probability: Optional[float] = None,
    threshold_match_weight: Optional[float] = None,
) -> DataFrame:
    """Connected components over the thresholded edge list; returns the node
    table with ``cluster_id`` = the minimum node id in each component.

    Column-name conventions follow the reference: the edge endpoint columns
    default to ``{node_id_column_name}_l`` / ``_r``."""
    return cluster_at_threshold(
        nodes,
        edges,
        node_id_column_name,
        edge_id_column_name_left or f"{node_id_column_name}_l",
        edge_id_column_name_right or f"{node_id_column_name}_r",
        threshold_match_probability,
        threshold_match_weight,
    )
