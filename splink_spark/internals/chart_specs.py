"""Vega-Lite v5 spec emission for the chart-data layer.

The reference ships ready-to-render chart specs (reference
splink/internals/charts.py:1-745 loads per-chart Vega-Lite JSON from
files/chart_defs/ and inserts ``data.values``; ``altair_or_json`` returns
either an Altair chart or the raw dict). This engine has no Altair
dependency, so every builder here returns the raw Vega-Lite dict — the
same thing the reference's ``as_dict=True`` path yields, and what
``altair.Chart.from_dict`` / any Vega-Lite renderer consumes. The specs
are authored from scratch for this engine's chart-data record shapes
(internals/chart_data.py); they mirror the reference charts' ENCODING
SEMANTICS (what is on each axis, what is faceted, what the tooltip
carries), not its spec files byte-for-byte.

Every builder takes already-collected records (lists of dicts — chart
data is small by construction: per-level parameters, binned histograms,
top-n TF values), so nothing here touches Spark.
"""

from __future__ import annotations

import json
from typing import Any, Mapping, Optional, Sequence

from .misc import match_weight_to_prob

VEGA_LITE_SCHEMA = "https://vega.github.io/schema/vega-lite/v5.json"

# match the reference's rendered palette: red for evidence against a match,
# green for evidence for (reference chart_defs use the same semantic pair)
_COLOR_AGAINST = "#c70d0d"
_COLOR_FOR = "#1b7837"
_COLOR_NEUTRAL = "#888888"


class ChartSpec(dict):
    """A Vega-Lite spec dict that notebooks render natively.

    Subclasses ``dict`` so it stays JSON-serializable, ``==``-comparable
    with plain dicts, and directly consumable by ``altair.Chart.from_dict``
    where Altair is installed."""

    def _repr_mimebundle_(self, *_, **__):
        return {
            "application/vnd.vegalite.v5+json": dict(self),
            "text/plain": f"ChartSpec({self.get('description', 'vega-lite')})",
        }

    def to_json(self, **kw) -> str:
        return json.dumps(self, **kw)

    def save_offline_chart(
        self, filename: str = "my_chart.html", overwrite: bool = False,
        print_msg: bool = True, inline_js: "Optional[str]" = None,
    ) -> None:
        """Write a standalone HTML page rendering this chart (reference
        SplinkChart.save_offline_chart). The reference embeds vendored
        vega/vega-lite/vega-embed sources so the file works with no network;
        by default this page loads them from the public jsdelivr CDN (needs
        network on first render). Pass ``inline_js="/dir/with/bundles"`` to
        embed local bundle files and match the reference's fully-offline
        behavior (see splink_spark.internals.vega_assets)."""
        import os

        if os.path.isfile(filename) and not overwrite:
            raise ValueError(
                f"The path {filename} already exists. Please provide a "
                "different path, or set overwrite=True to overwrite."
            )
        from .vega_assets import vega_script_tags

        html = _HTML_TEMPLATE.replace("__SPEC__", json.dumps(self)).replace(
            "__SCRIPTTAGS__",
            vega_script_tags(("vega", "vega-lite", "vega-embed"), inline_js),
        )
        with open(filename, "w", encoding="utf-8") as f:
            f.write(html)
        if print_msg:
            print(f"Chart saved to {filename}")


_HTML_TEMPLATE = """<!DOCTYPE html>
<html>
<head>
  <meta charset="utf-8"/>
  __SCRIPTTAGS__
</head>
<body>
  <div id="vis"></div>
  <script>vegaEmbed("#vis", __SPEC__);</script>
</body>
</html>
"""


def _base(description: str, values: Sequence[Mapping[str, Any]]) -> dict:
    return {
        "$schema": VEGA_LITE_SCHEMA,
        "description": description,
        "data": {"values": [dict(v) for v in values]},
    }


def _sign_color(field: str = "log2_bayes_factor") -> dict:
    """Red-below-zero / green-above-zero conditional fill the reference's
    match-weight bars use."""
    return {
        "condition": {"test": f"datum.{field} < 0", "value": _COLOR_AGAINST},
        "value": _COLOR_FOR,
    }


_MW_TOOLTIP = [
    {"field": "comparison_name", "type": "nominal", "title": "Comparison"},
    {"field": "label_for_charts", "type": "nominal", "title": "Level"},
    {"field": "m_probability", "type": "quantitative", "title": "m", "format": ".4f"},
    {"field": "u_probability", "type": "quantitative", "title": "u", "format": ".4f"},
    {"field": "bayes_factor", "type": "quantitative", "title": "Bayes factor",
     "format": ".4f"},
    {"field": "log2_bayes_factor", "type": "quantitative",
     "title": "Match weight", "format": ".4f"},
]


def match_weights_chart_spec(records: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Final model match weights, one bar per comparison level, faceted by
    comparison with the prior row first (reference MatchWeightsChart)."""
    order = []
    for r in records:
        if r["comparison_name"] not in order:
            order.append(r["comparison_name"])
    spec = _base("Model match weights per comparison level", records)
    spec.update(
        {
            "facet": {
                "row": {
                    "field": "comparison_name",
                    "type": "nominal",
                    "sort": order,
                    "header": {"labelAngle": 0, "labelAlign": "left"},
                    "title": None,
                }
            },
            "spec": {
                "mark": "bar",
                "height": {"step": 12},
                "width": 400,
                "encoding": {
                    "x": {
                        "field": "log2_bayes_factor",
                        "type": "quantitative",
                        "title": "Match weight (log2 Bayes factor)",
                    },
                    "y": {
                        "field": "label_for_charts",
                        "type": "nominal",
                        "sort": {"field": "comparison_vector_value",
                                 "order": "descending"},
                        "title": None,
                    },
                    "color": _sign_color(),
                    "tooltip": list(_MW_TOOLTIP),
                },
            },
            "resolve": {"scale": {"y": "independent"}},
        }
    )
    return ChartSpec(spec)


def m_u_parameters_chart_spec(records: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """m and u per comparison level, side-by-side columns, faceted by
    comparison (reference MUParametersChart)."""
    spec = _base("m and u probabilities per comparison level", records)
    spec.update(
        {
            "facet": {
                "row": {"field": "comparison_name", "type": "nominal",
                        "title": None,
                        "header": {"labelAngle": 0, "labelAlign": "left"}},
                "column": {"field": "probability_type", "type": "nominal",
                           "title": None},
            },
            "spec": {
                "mark": "bar",
                "height": {"step": 12},
                "width": 250,
                "encoding": {
                    "x": {"field": "probability", "type": "quantitative",
                          "scale": {"domain": [0, 1]},
                          "title": "Probability"},
                    "y": {"field": "label_for_charts", "type": "nominal",
                          "sort": {"field": "comparison_vector_value",
                                   "order": "descending"},
                          "title": None},
                    "color": {"field": "probability_type", "type": "nominal",
                              "legend": None},
                    "tooltip": [
                        {"field": "comparison_name", "type": "nominal"},
                        {"field": "label_for_charts", "type": "nominal"},
                        {"field": "probability_type", "type": "nominal"},
                        {"field": "probability", "type": "quantitative",
                         "format": ".6f"},
                    ],
                },
            },
            "resolve": {"scale": {"y": "independent"}},
        }
    )
    return ChartSpec(spec)


def parameter_estimate_comparisons_chart_spec(
    records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Per-training-session m/u estimates so divergent sessions are visible
    (reference ParameterEstimateComparisonsChart): one tick per estimate."""
    spec = _base("Parameter estimates across training sessions", records)
    spec.update(
        {
            "facet": {
                "row": {"field": "comparison", "type": "nominal", "title": None,
                        "header": {"labelAngle": 0, "labelAlign": "left"}},
                "column": {"field": "parameter", "type": "nominal",
                           "title": None},
            },
            "spec": {
                "mark": {"type": "tick", "thickness": 2},
                "height": {"step": 14},
                "width": 250,
                "encoding": {
                    "x": {"field": "estimated_value", "type": "quantitative",
                          "scale": {"domain": [0, 1]}, "title": "Estimate"},
                    "y": {"field": "label", "type": "nominal", "title": None},
                    "color": {"field": "estimate_number", "type": "nominal",
                              "title": "Session"},
                    "tooltip": [
                        {"field": "comparison", "type": "nominal"},
                        {"field": "label", "type": "nominal"},
                        {"field": "parameter", "type": "nominal"},
                        {"field": "estimate_number", "type": "nominal"},
                        {"field": "estimated_value", "type": "quantitative",
                         "format": ".6f"},
                    ],
                },
            },
            "resolve": {"scale": {"y": "independent"}},
        }
    )
    return ChartSpec(spec)


def match_weights_histogram_spec(rows: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Histogram of predicted match weights over pre-binned counts
    (reference MatchWeightsHistogramChart — data arrives binned, so the bars
    carry explicit bin bounds)."""
    spec = _base("Histogram of match weights", rows)
    spec.update(
        {
            "mark": {"type": "bar", "tooltip": True},
            "width": 600,
            "height": 250,
            "encoding": {
                "x": {"field": "splink_score_bin_low", "type": "quantitative",
                      "bin": "binned", "title": "Match weight"},
                "x2": {"field": "splink_score_bin_high"},
                "y": {"field": "count_rows", "type": "quantitative",
                      "scale": {"type": "symlog"},
                      "title": "Count of pairwise comparisons"},
            },
        }
    )
    return ChartSpec(spec)


def waterfall_chart_spec(records: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Waterfall of per-comparison match-weight contributions for scored
    records (reference WaterfallChart): each bar spans the cumulative weight
    before → after its comparison; the final bar restates the total. Where
    several scored records are passed, a record selector binds to
    ``record_number`` via a Vega-Lite param."""
    # derive the cumulative span per bar (the reference's spec does this
    # with vega window transforms; plain python is clearer and the data is
    # already collected)
    values: list[dict] = []
    running: dict[int, float] = {}
    for rec in records:
        r = dict(rec)
        rn = r["record_number"]
        if r["column_name"] == "Final score":
            r["y_start"], r["y_end"] = 0.0, r["log2_bayes_factor"]
        else:
            prev = running.get(rn, 0.0) if r["column_name"] != "Prior" else 0.0
            r["y_start"] = prev
            r["y_end"] = prev + r["log2_bayes_factor"]
            running[rn] = r["y_end"]
        values.append(r)
    n_records = len(running) or 1
    spec = _base("Match-weight waterfall for scored record pairs", values)
    spec.update(
        {
            "params": [
                {
                    "name": "record_number",
                    "value": 0,
                    "bind": {"input": "range", "min": 0,
                             "max": n_records - 1, "step": 1},
                }
            ],
            "transform": [{"filter": "datum.record_number == record_number"}],
            "mark": {"type": "bar", "tooltip": True},
            "width": 600,
            "height": 300,
            "encoding": {
                "x": {"field": "column_name", "type": "nominal",
                      "sort": {"field": "bar_sort_order"},
                      "title": "Comparison"},
                "y": {"field": "y_start", "type": "quantitative",
                      "title": "Match weight (log2 Bayes factor)"},
                "y2": {"field": "y_end"},
                "color": {
                    "condition": [
                        {"test": "datum.column_name == 'Final score'",
                         "value": _COLOR_NEUTRAL},
                        {"test": "datum.log2_bayes_factor < 0",
                         "value": _COLOR_AGAINST},
                    ],
                    "value": _COLOR_FOR,
                },
                "tooltip": [
                    {"field": "column_name", "type": "nominal",
                     "title": "Comparison"},
                    {"field": "label_for_charts", "type": "nominal",
                     "title": "Level"},
                    {"field": "log2_bayes_factor", "type": "quantitative",
                     "title": "Match weight", "format": ".4f"},
                    {"field": "bayes_factor", "type": "quantitative",
                     "title": "Bayes factor", "format": ".4f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def tf_adjustment_chart_spec(
    rows: Sequence[Mapping[str, Any]], output_column_name: str = ""
) -> ChartSpec:
    """TF-adjusted match weight per column value (reference
    TFAdjustmentChart): circles at the final (level + TF) weight per value,
    with a rule at the unadjusted level weight."""
    spec = _base(
        f"Term-frequency adjusted match weights for {output_column_name or 'column'}",
        rows,
    )
    spec.update(
        {
            "width": 600,
            "height": 300,
            "layer": [
                {
                    "mark": {"type": "circle", "size": 60, "tooltip": True},
                    "encoding": {
                        "x": {"field": "value", "type": "nominal",
                              "sort": {"field": "log2_bf_final",
                                       "order": "descending"},
                              "title": "Value"},
                        "y": {"field": "log2_bf_final", "type": "quantitative",
                              "title": "Match weight (log2 Bayes factor)"},
                        "color": {"field": "gamma", "type": "nominal",
                                  "title": "Comparison vector value"},
                        "tooltip": [
                            {"field": "value", "type": "nominal"},
                            {"field": "tf", "type": "quantitative",
                             "title": "Term frequency", "format": ".6f"},
                            {"field": "log2_bf", "type": "quantitative",
                             "title": "Level match weight", "format": ".4f"},
                            {"field": "log2_bf_tf", "type": "quantitative",
                             "title": "TF adjustment", "format": ".4f"},
                            {"field": "log2_bf_final", "type": "quantitative",
                             "title": "Final match weight", "format": ".4f"},
                        ],
                    },
                },
                {
                    "mark": {"type": "rule", "strokeDash": [4, 4]},
                    "encoding": {
                        "y": {"field": "log2_bf", "type": "quantitative"},
                        "color": {"field": "gamma", "type": "nominal"},
                    },
                },
            ],
        }
    )
    return ChartSpec(spec)


def comparison_vector_distribution_spec(
    rows: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Count of scored pairs per distinct gamma pattern, ordered by
    similarity (the data half of the reference's comparison viewer
    dashboard)."""
    spec = _base("Distribution of comparison vector patterns", rows)
    spec.update(
        {
            "mark": {"type": "bar", "tooltip": True},
            "width": 600,
            "height": 250,
            "encoding": {
                "x": {"field": "gam_concat", "type": "nominal",
                      "sort": {"field": "sum_gam"},
                      "title": "Comparison vector pattern"},
                "y": {"field": "count_rows_in_comparison_vector_group",
                      "type": "quantitative", "scale": {"type": "symlog"},
                      "title": "Count"},
                "color": {"field": "sum_gam", "type": "quantitative",
                          "title": "Similarity order"},
                "tooltip": [
                    {"field": "gam_concat", "type": "nominal"},
                    {"field": "count_rows_in_comparison_vector_group",
                     "type": "quantitative"},
                    {"field": "proportion_of_comparisons",
                     "type": "quantitative", "format": ".6f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def unlinkables_chart_spec(rows: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Cumulative proportion of records unlinkable below each self-match
    weight threshold (reference UnlinkablesChart). Input rows are the
    (match_weight, count) self-link distribution; the cumulative proportion
    is derived here."""
    total = sum(r["count"] for r in rows) or 1
    values, cum = [], 0
    for r in sorted(rows, key=lambda r: r["match_weight"]):
        cum += r["count"]
        values.append(
            {
                "match_weight": r["match_weight"],
                "count": r["count"],
                "cum_proportion": cum / total,
            }
        )
    spec = _base("Proportion of records unlinkable by threshold", values)
    spec.update(
        {
            "mark": {"type": "line", "interpolate": "step-after",
                     "point": True, "tooltip": True},
            "width": 600,
            "height": 250,
            "encoding": {
                "x": {"field": "match_weight", "type": "quantitative",
                      "title": "Self-match weight threshold"},
                "y": {"field": "cum_proportion", "type": "quantitative",
                      "axis": {"format": ".0%"},
                      "title": "Proportion of unlinkable records"},
                "tooltip": [
                    {"field": "match_weight", "type": "quantitative"},
                    {"field": "count", "type": "quantitative"},
                    {"field": "cum_proportion", "type": "quantitative",
                     "format": ".4%"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def completeness_chart_spec(rows: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Non-null share per column (reference CompletenessChart); with
    multiple input tables, bars are grouped and coloured by source."""
    spec = _base("Column completeness", rows)
    by_source = any("source_dataset" in r for r in rows)
    encoding: dict = {
        "x": {"field": "completeness", "type": "quantitative",
              "scale": {"domain": [0, 1]}, "axis": {"format": ".0%"},
              "title": "Completeness"},
        "y": {"field": "column", "type": "nominal",
              "sort": "-x", "title": None},
        "tooltip": [
            {"field": "column", "type": "nominal"},
            {"field": "completeness", "type": "quantitative",
             "format": ".4%"},
        ],
    }
    if by_source:
        encoding["color"] = {"field": "source_dataset", "type": "nominal",
                             "title": "Input table"}
        encoding["yOffset"] = {"field": "source_dataset"}
        encoding["tooltip"].insert(
            0, {"field": "source_dataset", "type": "nominal"}
        )
    spec.update(
        {
            "mark": {"type": "bar", "tooltip": True},
            "width": 450,
            "height": {"step": 18},
            "encoding": encoding,
        }
    )
    return ChartSpec(spec)


def cumulative_comparisons_chart_spec(
    records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Marginal comparisons generated per blocking rule, stacked in rule
    order (reference CumulativeBlockingRuleComparisonsGeneratedChart)."""
    spec = _base("Comparisons generated by blocking rule", records)
    spec.update(
        {
            "mark": {"type": "bar", "tooltip": True},
            "width": 600,
            "height": {"step": 22},
            "encoding": {
                "x": {"field": "marginal_comparison_count",
                      "type": "quantitative",
                      "title": "Comparisons generated"},
                "y": {"field": "rule", "type": "nominal", "sort": None,
                      "title": None},
                "tooltip": [
                    {"field": "rule", "type": "nominal"},
                    {"field": "marginal_comparison_count",
                     "type": "quantitative",
                     "title": "Marginal comparisons"},
                    {"field": "cumulative_comparison_count",
                     "type": "quantitative",
                     "title": "Cumulative comparisons"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def _truth_space_base(
    rows: Sequence[Mapping[str, Any]], description: str
) -> dict:
    return _base(description, rows)


def roc_chart_spec(rows: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """ROC curve from the truth-space table (reference ROCChart): false
    positive rate (1 - specificity) vs true positive rate (recall)."""
    # derive the rates from the confusion counts rather than the ratio
    # columns: a label set with no true negatives has specificity NULL in
    # every row, which would empty the chart — fpr is vacuously 0 there
    # (no negatives to falsely accept), tpr likewise when no positives
    values = []
    for r in rows:
        d = dict(r)
        fp, tn = r.get("fp", 0) or 0, r.get("tn", 0) or 0
        tp, fn = r.get("tp", 0) or 0, r.get("fn", 0) or 0
        d["fpr"] = fp / (fp + tn) if (fp + tn) else 0.0
        d["tpr"] = tp / (tp + fn) if (tp + fn) else 0.0
        values.append(d)
    spec = _truth_space_base(values, "ROC curve")
    spec.update(
        {
            "mark": {"type": "line", "point": True, "tooltip": True},
            "width": 400,
            "height": 400,
            "encoding": {
                "x": {"field": "fpr", "type": "quantitative",
                      "title": "False positive rate"},
                "y": {"field": "tpr", "type": "quantitative",
                      "title": "True positive rate"},
                "order": {"field": "truth_threshold"},
                "tooltip": [
                    {"field": "truth_threshold", "type": "quantitative",
                     "format": ".4f"},
                    {"field": "fpr", "type": "quantitative", "format": ".4f"},
                    {"field": "tpr", "type": "quantitative", "format": ".4f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def precision_recall_chart_spec(rows: Sequence[Mapping[str, Any]]) -> ChartSpec:
    """Precision-recall curve from the truth-space table (reference
    PrecisionRecallChart)."""
    values = [
        dict(r) for r in rows
        if r.get("precision") is not None and r.get("recall") is not None
    ]
    spec = _truth_space_base(values, "Precision-recall curve")
    spec.update(
        {
            "mark": {"type": "line", "point": True, "tooltip": True},
            "width": 400,
            "height": 400,
            "encoding": {
                "x": {"field": "recall", "type": "quantitative",
                      "title": "Recall"},
                "y": {"field": "precision", "type": "quantitative",
                      "title": "Precision"},
                "order": {"field": "truth_threshold"},
                "tooltip": [
                    {"field": "truth_threshold", "type": "quantitative",
                     "format": ".4f"},
                    {"field": "precision", "type": "quantitative",
                     "format": ".4f"},
                    {"field": "recall", "type": "quantitative",
                     "format": ".4f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


_ACCURACY_METRICS = ("precision", "recall", "specificity", "f1", "accuracy")


def accuracy_chart_spec(
    rows: Sequence[Mapping[str, Any]],
    metrics: Sequence[str] = _ACCURACY_METRICS,
) -> ChartSpec:
    """Accuracy metrics vs match-weight threshold (reference AccuracyChart /
    threshold selection tool's top panel): one line per metric, long-form."""
    values = []
    for r in rows:
        for m in metrics:
            if r.get(m) is not None:
                values.append(
                    {
                        "truth_threshold": r["truth_threshold"],
                        "metric": m,
                        "value": r[m],
                    }
                )
    spec = _truth_space_base(values, "Accuracy metrics by threshold")
    spec.update(
        {
            "mark": {"type": "line", "interpolate": "step-after",
                     "tooltip": True},
            "width": 600,
            "height": 300,
            "encoding": {
                "x": {"field": "truth_threshold", "type": "quantitative",
                      "title": "Match weight threshold"},
                "y": {"field": "value", "type": "quantitative",
                      "scale": {"domain": [0, 1]}, "title": "Metric value"},
                "color": {"field": "metric", "type": "nominal",
                          "title": "Metric"},
                "tooltip": [
                    {"field": "truth_threshold", "type": "quantitative",
                     "format": ".4f"},
                    {"field": "metric", "type": "nominal"},
                    {"field": "value", "type": "quantitative",
                     "format": ".4f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


# ---------------------------------------------------------------------------
# Similarity-analysis heatmaps (reference charts.py:707-752 — the three
# exploratory comparator charts; encodings mirrored, spec authored here)
# ---------------------------------------------------------------------------


def _comparator_heatmap(
    values: Sequence[Mapping[str, Any]],
    title: str,
    color: dict,
    text: dict,
) -> dict:
    return {
        "title": title,
        "data": {"values": [dict(v) for v in values]},
        "layer": [
            {
                "mark": {"type": "rect"},
                "encoding": {
                    "color": color,
                    "x": {"field": "comparator", "type": "ordinal", "title": None},
                    "y": {"field": "strings_to_compare", "type": "ordinal",
                          "title": "String comparison"},
                },
            },
            {
                "mark": {"type": "text", "baseline": "middle"},
                "encoding": {
                    "text": text,
                    "x": {"field": "comparator", "type": "ordinal"},
                    "y": {"field": "strings_to_compare", "type": "ordinal"},
                },
            },
        ],
    }


def comparator_score_chart_spec(
    similarity_records: Sequence[Mapping[str, Any]],
    distance_records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Side-by-side similarity (0-1, green-blue) and distance (reversed
    yellow-orange-red) heatmaps (reference _comparator_score_chart)."""
    return ChartSpec(
        {
            "$schema": VEGA_LITE_SCHEMA,
            "title": {"text": "Heatmaps of string comparison metrics",
                      "anchor": "middle", "fontSize": 16},
            "hconcat": [
                _comparator_heatmap(
                    similarity_records,
                    "Similarity",
                    {"field": "score", "type": "quantitative", "legend": None,
                     "scale": {"domain": [0, 1], "scheme": "greenblue"}},
                    {"field": "score", "type": "quantitative", "format": ".2f"},
                ),
                _comparator_heatmap(
                    distance_records,
                    "Distance",
                    {"field": "score", "type": "quantitative", "legend": None,
                     "scale": {"scheme": "yelloworangered", "reverse": True}},
                    {"field": "score", "type": "quantitative"},
                ),
            ],
            "resolve": {"scale": {"color": "independent", "y": "shared"}},
        }
    )


def comparator_score_threshold_chart_spec(
    similarity_records: Sequence[Mapping[str, Any]],
    distance_records: Sequence[Mapping[str, Any]],
    similarity_threshold: Optional[float] = None,
    distance_threshold: Optional[float] = None,
) -> ChartSpec:
    """Binary pass/fail heatmaps at the chosen thresholds (reference
    _comparator_score_threshold_chart: params carry the thresholds, the
    subtitle states them, the rect color is a threshold test)."""
    sim_t = 0.0 if similarity_threshold is None else float(similarity_threshold)
    dist_t = float("inf") if distance_threshold is None else float(distance_threshold)
    sim = _comparator_heatmap(
        similarity_records,
        {"text": "Similarity", "subtitle": f">= {similarity_threshold}"},
        {
            "condition": {"test": f"datum.score >= {sim_t}", "value": _COLOR_FOR},
            "value": _COLOR_AGAINST,
        },
        {"field": "score", "type": "quantitative", "format": ".2f"},
    )
    dist = _comparator_heatmap(
        distance_records,
        {"text": "Distance", "subtitle": f"<= {distance_threshold}"},
        {
            "condition": {
                "test": "datum.score <= "
                + ("1e400" if dist_t == float("inf") else str(dist_t)),
                "value": _COLOR_FOR,
            },
            "value": _COLOR_AGAINST,
        },
        {"field": "score", "type": "quantitative"},
    )
    return ChartSpec(
        {
            "$schema": VEGA_LITE_SCHEMA,
            "title": {"text": "String comparators at chosen thresholds",
                      "anchor": "middle", "fontSize": 16},
            "params": [
                {"name": "similarity_threshold", "value": similarity_threshold},
                {"name": "distance_threshold", "value": distance_threshold},
            ],
            "hconcat": [sim, dist],
            "resolve": {"scale": {"color": "independent", "y": "shared"}},
        }
    )


def phonetic_match_chart_spec(
    records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Phonetic-agreement heatmap: green where the two strings share a code
    under each transform (reference _phonetic_match_chart)."""
    return ChartSpec(
        {
            "$schema": VEGA_LITE_SCHEMA,
            "title": {"text": "Phonetic matches", "anchor": "middle",
                      "fontSize": 16},
            "data": {"values": [dict(v) for v in records]},
            "layer": [
                {
                    "mark": {"type": "rect"},
                    "encoding": {
                        "color": {
                            "condition": {"test": "datum.match === true",
                                          "value": _COLOR_FOR},
                            "value": _COLOR_AGAINST,
                        },
                        "x": {"field": "phonetic", "type": "ordinal",
                              "title": None},
                        "y": {"field": "strings_to_compare", "type": "ordinal",
                              "title": "String comparison"},
                    },
                },
                {
                    "mark": {"type": "text", "baseline": "middle",
                             "fontSize": 9},
                    "encoding": {
                        "text": {"field": "transform", "type": "nominal"},
                        "x": {"field": "phonetic", "type": "ordinal"},
                        "y": {"field": "strings_to_compare", "type": "ordinal"},
                    },
                },
            ],
        }
    )


# ---------------------------------------------------------------------------
# EM training-session iteration-history charts (reference
# em_training_session.py:432-468 + chart_defs
# {match_weights,m_u_parameters}_interactive_history.json and
# probability_two_random_records_match_iteration.json)
# ---------------------------------------------------------------------------


def _iteration_slider(max_iteration: int) -> list:
    return [
        {
            "name": "iteration_number",
            "value": 0,
            "bind": {"input": "range", "min": 0, "max": max_iteration, "step": 1},
        }
    ]


_ITERATION_FILTER = [{"filter": "datum.iteration == iteration_number"}]


def match_weights_interactive_history_spec(
    records: Sequence[Mapping[str, Any]],
    blocking_rule_text: str = "",
) -> ChartSpec:
    """Match weights per level with an iteration slider (reference
    MatchWeightsInteractiveHistoryChart): the per-iteration records carry an
    ``iteration`` field; a range param filters to the selected iteration."""
    max_it = max((r.get("iteration", 0) for r in records), default=0)
    spec = match_weights_chart_spec(records)
    spec["params"] = _iteration_slider(max_it)
    spec["transform"] = list(_ITERATION_FILTER)
    spec["title"] = {
        "text": "Match weight iteration history",
        "subtitle": f"Training session blocked on {blocking_rule_text}"
        if blocking_rule_text
        else "",
    }
    return spec


def m_u_parameters_interactive_history_spec(
    records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """m/u per level with an iteration slider (reference
    MUParametersInteractiveHistoryChart).  Takes the same wide per-iteration
    records as the match-weights history chart and melts them into the long
    probability_type/probability format the m/u encoding reads."""
    max_it = max((r.get("iteration", 0) for r in records), default=0)
    long_records = []
    for r in records:
        for kind in ("m_probability", "u_probability"):
            long_records.append(
                {
                    "iteration": r.get("iteration", 0),
                    "comparison_name": r["comparison_name"],
                    "label_for_charts": r["label_for_charts"],
                    "comparison_vector_value": r.get("comparison_vector_value"),
                    "probability_type": kind,
                    "probability": r.get(kind),
                }
            )
    spec = m_u_parameters_chart_spec(long_records)
    spec["params"] = _iteration_slider(max_it)
    spec["transform"] = list(_ITERATION_FILTER)
    spec["title"] = {"text": "m and u parameter iteration history"}
    return spec


def probability_two_random_records_match_iteration_spec(
    records: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Lambda per EM iteration (reference
    ProbabilityTwoRandomRecordsMatchIterationChart): a step line over the
    iteration axis."""
    spec = _base(
        "Probability two random records match, by EM iteration", records
    )
    spec.update(
        {
            "title": {
                "text": "Probability two random records match — iteration history"
            },
            "mark": {"type": "line", "interpolate": "step-after", "point": True,
                     "tooltip": True},
            "width": 400,
            "height": 200,
            "encoding": {
                "x": {"field": "iteration", "type": "quantitative",
                      "axis": {"tickMinStep": 1}, "title": "Iteration"},
                "y": {"field": "probability_two_random_records_match",
                      "type": "quantitative",
                      "title": "probability_two_random_records_match"},
                "tooltip": [
                    {"field": "iteration", "type": "quantitative"},
                    {"field": "probability_two_random_records_match",
                     "type": "quantitative", "format": ".6f"},
                    {"field": "probability_two_random_records_match_reciprocal",
                     "type": "quantitative", "format": ".2f"},
                ],
            },
        }
    )
    return ChartSpec(spec)


def threshold_selection_tool_spec(
    rows: Sequence[Mapping[str, Any]],
) -> ChartSpec:
    """Interactive threshold-selection tool (reference chart_defs/
    threshold_selection_tool.json + accuracy.py): hover a threshold on the
    metric-lines panel and the confusion-count panel follows.  One record
    per distinct score threshold; ``match_probability`` derived from the
    match-weight threshold (p = 2^t / (1 + 2^t))."""
    recs = []
    for i, r in enumerate(
        sorted((dict(r) for r in rows), key=lambda r: r["truth_threshold"])
    ):
        t = float(r["truth_threshold"])
        if t > 1000:
            p = 1.0
        elif t < -1000:
            p = 0.0
        else:
            p = match_weight_to_prob(t)
        recs.append({**r, "score_index": i, "match_probability": p})
    init = recs[len(recs) // 2]["truth_threshold"] if recs else 0.0

    point_select = {
        "name": "threshold",
        "select": {
            "type": "point",
            "encodings": ["x"],
            "fields": ["truth_threshold"],
            "nearest": True,
            "on": "mouseover",
            "toggle": False,
        },
        "value": [{"truth_threshold": init}],
    }
    tooltip = [
        {"field": "truth_threshold", "type": "quantitative", "format": ".3f",
         "title": "Match weight threshold"},
        {"field": "match_probability", "type": "quantitative", "format": ".3%",
         "title": "Match probability threshold"},
        {"field": "precision", "type": "quantitative", "format": ".4f"},
        {"field": "recall", "type": "quantitative", "format": ".4f"},
        {"field": "f1", "type": "quantitative", "format": ".4f"},
        {"field": "accuracy", "type": "quantitative", "format": ".4f"},
    ]
    metrics_panel = {
        "width": 450,
        "height": 300,
        "description": "Accuracy metrics by threshold (hover to select)",
        "layer": [
            {
                # invisible full-height selection targets + hover rule
                "mark": {"type": "point", "size": 100},
                "params": [point_select],
                "encoding": {
                    "x": {"field": "truth_threshold", "type": "quantitative",
                          "title": "Match weight threshold"},
                    "opacity": {
                        "condition": {"param": "threshold", "value": 1,
                                      "empty": False},
                        "value": 0,
                    },
                    "tooltip": tooltip,
                },
            },
            {
                "mark": {"type": "rule", "color": _COLOR_NEUTRAL},
                "encoding": {
                    "x": {"field": "truth_threshold", "type": "quantitative"},
                    "opacity": {
                        "condition": {"param": "threshold", "value": 0.4,
                                      "empty": False},
                        "value": 0,
                    },
                },
            },
            {
                "transform": [
                    {"fold": ["precision", "recall", "f1", "accuracy"],
                     "as": ["metric", "value"]}
                ],
                "mark": {"type": "line", "interpolate": "step-after"},
                "encoding": {
                    "x": {"field": "truth_threshold", "type": "quantitative"},
                    "y": {"field": "value", "type": "quantitative",
                          "scale": {"domain": [0, 1]}, "title": "Metric value"},
                    "color": {"field": "metric", "type": "nominal",
                              "title": "Metric"},
                },
            },
        ],
    }
    confusion_panel = {
        "width": 200,
        "height": 300,
        "description": "Confusion counts at the selected threshold",
        "transform": [
            {"filter": {"param": "threshold", "empty": False}},
            {"fold": ["tp", "fn", "fp", "tn"],
             "as": ["confusion_label", "count"]},
        ],
        "layer": [
            {
                "mark": "bar",
                "encoding": {
                    "x": {"field": "count", "type": "quantitative",
                          "title": "Record pairs"},
                    "y": {"field": "confusion_label", "type": "nominal",
                          "sort": ["tp", "fn", "fp", "tn"], "title": None},
                    "color": {
                        "condition": {
                            "test": "datum.confusion_label === 'tp' || "
                                    "datum.confusion_label === 'tn'",
                            "value": _COLOR_FOR,
                        },
                        "value": _COLOR_AGAINST,
                    },
                    "tooltip": [
                        {"field": "confusion_label", "type": "nominal"},
                        {"field": "count", "type": "quantitative"},
                    ],
                },
            },
            {
                "mark": {"type": "text", "align": "left", "dx": 3},
                "encoding": {
                    "x": {"field": "count", "type": "quantitative"},
                    "y": {"field": "confusion_label", "type": "nominal",
                          "sort": ["tp", "fn", "fp", "tn"]},
                    "text": {"field": "count", "type": "quantitative"},
                },
            },
        ],
    }
    return ChartSpec(
        {
            "$schema": VEGA_LITE_SCHEMA,
            "title": {"text": "Threshold selection tool", "anchor": "middle"},
            "data": {"values": recs},
            "hconcat": [metrics_panel, confusion_panel],
            "resolve": {"scale": {"color": "independent"}},
        }
    )
