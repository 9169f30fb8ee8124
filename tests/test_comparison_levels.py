"""Literal-driven level tests, mirroring the reference's
run_comparison_vector_value_tests harness (tests/literal_utils.py): feed
literal record pairs through a single Comparison and assert which gamma each
lands in."""

from __future__ import annotations

import pytest

import splink_spark.internals.comparison_level_library as cll
from splink_spark.internals.column_expression import ColumnExpression
from splink_spark.internals.comparison import Comparison
from splink_spark.internals.comparison_vectors import compute_comparison_vectors
from splink_spark.internals.settings import SettingsCreator


def run_gamma_tests(spark, comparison, col_types, cases):
    """cases: list of (value_l, value_r, expected_gamma). Values are dicts if
    the comparison reads several columns."""
    rows = []
    for i, (vl, vr, expected) in enumerate(cases):
        row = {"pair_id": i, "expected": expected}
        if not isinstance(vl, dict):
            vl, vr = {"c": vl}, {"c": vr}
        for k, v in vl.items():
            row[f"{k}_l"] = v
        for k, v in vr.items():
            row[f"{k}_r"] = v
        rows.append(row)
    schema_parts = ["pair_id bigint", "expected int"]
    for name, typ in col_types.items():
        schema_parts += [f"{name}_l {typ}", f"{name}_r {typ}"]
    df = spark.createDataFrame(rows, schema=", ".join(schema_parts))
    out = df.select("pair_id", "expected", comparison.gamma_column())
    for r in out.collect():
        assert r[comparison.gamma_column_name] == r["expected"], (
            f"case {r['pair_id']}: got gamma {r[comparison.gamma_column_name]}, "
            f"want {r['expected']}"
        )


def _comp(levels, name="c"):
    return Comparison(name, levels)


def test_exact_and_null_levels(spark):
    comp = _comp([cll.NullLevel("c"), cll.ExactMatchLevel("c"), cll.ElseLevel()])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("a", "a", 1),
        ("a", "b", 0),
        (None, "a", -1),
        ("a", None, -1),
        (None, None, -1),
        ("", "", 1),
    ])


def test_levenshtein_ladder(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.ExactMatchLevel("c"),
        cll.LevenshteinLevel("c", 1), cll.LevenshteinLevel("c", 2), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("martha", "martha", 3),
        ("martha", "martho", 2),   # 1 sub
        ("martha", "marthat", 2),  # 1 insert
        ("martha", "mortho", 1),   # 2 subs
        ("martha", "xxxxxx", 0),
    ])


def test_damerau_levenshtein_counts_transposition(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.DamerauLevenshteinLevel("c", 1), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("martha", "marhta", 1),  # adjacent transposition = 1
        ("martha", "mathra", 0),  # non-adjacent = 2
        ("ab", "ba", 1),
    ])


def test_jaro_winkler_level(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.JaroWinklerLevel("c", 0.9),
        cll.JaroWinklerLevel("c", 0.7), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("martha", "marhta", 2),     # JW ~0.961
        ("dixon", "dicksonx", 1),    # JW ~0.813
        ("abc", "xyz", 0),
    ])


def test_jaccard_level(spark):
    comp = _comp([cll.NullLevel("c"), cll.JaccardLevel("c", 0.7), cll.ElseLevel()])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("abc", "bca", 1),     # same char set
        ("abcd", "abce", 0),   # 3/5 = 0.6
        ("abcde", "abcdf", 0),  # 4/6
        ("aab", "ab", 1),
    ])


def test_columns_reversed(spark):
    comp = Comparison("fs", [
        cll.NullLevel("f"),
        cll.And(cll.ExactMatchLevel("f"), cll.ExactMatchLevel("s")),
        cll.ColumnsReversedLevel("f", "s", symmetrical=True),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"f": "string", "s": "string"}, [
        ({"f": "john", "s": "smith"}, {"f": "john", "s": "smith"}, 2),
        ({"f": "john", "s": "smith"}, {"f": "smith", "s": "john"}, 1),
        ({"f": "john", "s": "smith"}, {"f": "john", "s": "jones"}, 0),
    ])


def test_absolute_difference_and_percentage(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.AbsoluteDifferenceLevel("c", 5),
        cll.PercentageDifferenceLevel("c", 0.1), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "double"}, [
        (100.0, 103.0, 2),
        (100.0, 109.0, 1),   # 9% of 109
        (100.0, 150.0, 0),
        (None, 100.0, -1),
    ])


def test_date_difference_levels(spark):
    ce = ColumnExpression("c").try_parse_date("yyyy-MM-dd")
    comp = Comparison("c", [
        cll.NullLevel(ce),
        cll.ExactMatchLevel("c"),
        cll.AbsoluteDateDifferenceLevel(ce, 30, "day"),
        cll.AbsoluteDateDifferenceLevel(ce, 1, "year"),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("2020-01-01", "2020-01-01", 3),
        ("2020-01-01", "2020-01-20", 2),
        ("2020-01-01", "2020-06-01", 1),
        ("2020-01-01", "2025-01-01", 0),
        ("2020-01-01", "not-a-date", -1),  # unparseable → null level
        ("2011-02-30", "2020-01-01", -1),  # invalid date
    ])


def test_array_intersect_and_subset(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.ArraySubsetLevel("c"),
        cll.ArrayIntersectLevel("c", 2), cll.ArrayIntersectLevel("c", 1), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["a", "b"], ["a", "b", "c"], 3),       # subset
        (["a", "b", "x"], ["a", "b", "c"], 2),  # 2 common
        (["a", "y", "x"], ["a", "b", "c"], 1),  # 1 common
        (["z", "y", "x"], ["a", "b", "c"], 0),
        ([], ["a"], 0),                          # empty not subset by default
        (None, ["a"], -1),
    ])


def test_array_subset_empty_is_subset_reference_cases(spark):
    """reference test_array_columns.py::test_array_subset — with
    empty_is_subset=True an empty side counts as a subset (incl. both
    empty); the default treats empties as non-subsets."""
    comp = _comp([
        cll.NullLevel("c"),
        cll.ArraySubsetLevel("c", empty_is_subset=True),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["a", "b", "c", "d"], ["a", "b", "c", "d"], 1),
        (["a", "b", "c", "d"], ["a", "b", "c", "z"], 0),
        (["a", "b"], ["a", "b", "c", "d"], 1),
        ([], ["x", "y", "z"], 1),   # empty IS subset here
        ([], [], 1),
    ])


def test_array_intersect_at_sizes_rejects_non_positive(spark):
    """reference test_array_columns.py: ArrayIntersectAtSizes([-1, 2])
    raises — a size >= 0 level is vacuously true."""
    import splink_spark.internals.comparison_library as cl
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cl.ArrayIntersectAtSizes("c", [-1, 2])
    with _pytest.raises(ValueError):
        cl.ArrayIntersectAtSizes("c", [0])


def test_alternative_date_format_reference_cases(spark):
    """reference test_date_levels_and_comparisons.py::test_alternative_date_format
    — strptime-style datetime_format (%Y/%m/%d) parses before comparing;
    unparseable dates hit the null level. Ladder: exact(3), 3-day(2),
    2-month(1), else(0)."""
    import splink_spark.internals.comparison_library as cl

    comp = cl.AbsoluteDateDifferenceAtThresholds(
        "c", thresholds=[3, 2], metrics=["day", "month"],
        input_is_string=True, datetime_format="%Y/%m/%d",
    )
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("2000/01/01", "2020/01/01", 0),
        ("2000/01/01", "2000/01/15", 1),   # <= 2 months
        ("2000/01/01", "2000/01/02", 2),   # <= 3 days
        ("2000/ab/cd", "2000/01/28", -1),  # unparseable -> null
    ])


def test_time_difference_iso_string_inputs(spark):
    """reference ::test_absolute_time_difference_levels — ISO strings parse
    by default when input_is_string=True (minute metric, threshold 1)."""
    comp = _comp([
        cll.NullLevel(
            __import__("splink_spark.internals.column_expression",
                       fromlist=["ColumnExpression"])
            .ColumnExpression("c").try_parse_iso_timestamp()
        ),
        cll.AbsoluteTimeDifferenceLevel("c", 1, "minute", input_is_string=True),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("2023-02-07T14:45:00Z", "2023-02-07T14:45:59Z", 1),
        ("2023-02-07T14:45:00Z", "2023-02-07T14:46:01Z", 0),
        ("2023-02-07 14:45:00", "2023-02-07 14:45:30", 1),
        ("not a time", "2023-02-07T14:46:01Z", -1),
    ])


def test_time_difference_error_logger_reference_cases():
    """reference ::test_time_difference_error_logger — mismatched lengths,
    empty lists, negative thresholds, and unknown metrics all raise at
    construction."""
    import pytest as _pytest

    import splink_spark.internals.comparison_library as cl

    with _pytest.raises(ValueError):
        cl.AbsoluteDateDifferenceAtThresholds(
            "dob", thresholds=[1], metrics=["day", "month", "year", "year"],
            input_is_string=True)
    with _pytest.raises(ValueError):
        cl.AbsoluteDateDifferenceAtThresholds(
            "dob", thresholds=[-1], metrics=["day"], input_is_string=True)
    with _pytest.raises(ValueError):
        cl.AbsoluteDateDifferenceAtThresholds(
            "dob", thresholds=[1], metrics=["dy"], input_is_string=True)
    with _pytest.raises(ValueError):
        cl.AbsoluteDateDifferenceAtThresholds(
            "dob", thresholds=[], metrics=["dy"], input_is_string=True)
    with _pytest.raises(ValueError):
        cl.AbsoluteDateDifferenceAtThresholds(
            "dob", thresholds=[1], metrics=[], input_is_string=True)


def test_cosine_similarity_level(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.CosineSimilarityLevel("c", 0.99),
        cll.CosineSimilarityLevel("c", 0.5), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "array<double>"}, [
        ([1.0, 0.0], [2.0, 0.0], 2),
        ([1.0, 0.0], [1.0, 1.0], 1),   # cos = 0.707
        ([1.0, 0.0], [0.0, 1.0], 0),   # orthogonal
        ([1.0, 0.0], [-1.0, 0.0], 0),
    ])


def test_distance_in_km_level(spark):
    comp = Comparison("geo", [
        cll.Or(cll.NullLevel("lat"), cll.NullLevel("lon")),
        cll.DistanceInKMLevel("lat", "lon", 10),
        cll.DistanceInKMLevel("lat", "lon", 300),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"lat": "double", "lon": "double"}, [
        # London ~ London
        ({"lat": 51.5074, "lon": -0.1278}, {"lat": 51.51, "lon": -0.13}, 2),
        # London ~ Birmingham ~163km
        ({"lat": 51.5074, "lon": -0.1278}, {"lat": 52.4862, "lon": -1.8904}, 1),
        # London ~ Edinburgh ~534km
        ({"lat": 51.5074, "lon": -0.1278}, {"lat": 55.9533, "lon": -3.1883}, 0),
        ({"lat": None, "lon": -0.1278}, {"lat": 51.0, "lon": -0.13}, -1),
    ])


def test_literal_match_level(spark):
    comp = _comp([
        cll.NullLevel("c"), cll.LiteralMatchLevel("c", "london"), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("london", "london", 1),
        ("london", "leeds", 0),
        ("leeds", "leeds", 0),
    ])


def test_custom_level_sql(spark):
    comp = _comp([
        cll.NullLevel("c"),
        cll.CustomLevel("substring(c_l, 1, 3) = substring(c_r, 1, 3)"),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("abcdef", "abcxyz", 1),
        ("abcdef", "abx", 0),
    ])


def test_pairwise_levenshtein_arrays(spark):
    from splink_spark.internals.comparison_library import (
        PairwiseStringDistanceFunctionAtThresholds,
    )

    comp = PairwiseStringDistanceFunctionAtThresholds("c", "levenshtein", [1])
    # ladder: null=-1, else=0, lev<=1 → 1, array-intersect → 2
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["rob", "bob"], ["robert", "bobby"], 0),
        (["rob", "bob"], ["rab", "x"], 1),     # rob~rab = 1
        (["rob"], ["rob"], 2),                  # shared element → intersect level
    ])


def test_pairwise_damerau_levenshtein_arrays_reference_cases(spark):
    """Mirrors reference tests/test_comparison_lib.py:73-118 (thresholds
    [1, 2]): gamma 3 = array intersect, 2 = min dl <= 1, 1 = min dl <= 2."""
    from splink_spark.internals.comparison_library import (
        PairwiseStringDistanceFunctionAtThresholds,
    )

    comp = PairwiseStringDistanceFunctionAtThresholds(
        "c", "damerau_levenshtein", [1, 2]
    )
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["Cally", "Sally"], ["Cally"], 3),
        (["Geof"], ["Geoff"], 2),
        (["Saly", "Barey"], ["Sally", "Barry"], 2),
        (["Carry", "Different"], ["Barry", "Completely"], 2),
        (["Carry", "Sabby"], ["Cally"], 1),
        (["Completely", "Different"], ["Something", "Else"], 0),
        (None, ["x"], -1),
    ])


def test_pairwise_jaro_winkler_arrays(spark):
    from splink_spark.internals.comparison_library import (
        PairwiseStringDistanceFunctionAtThresholds,
    )

    comp = PairwiseStringDistanceFunctionAtThresholds("c", "jaro_winkler", [0.9, 0.7])
    # gamma 3 = intersect, 2 = max jw >= 0.9, 1 = max jw >= 0.7
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["martha", "zzz"], ["qqq", "martha"], 3),
        (["martha"], ["marhta"], 2),            # jw ~0.961
        (["dixon", "zzz"], ["dicksonx"], 1),    # jw ~0.813
        (["abc"], ["xyz"], 0),
    ])


def test_pairwise_jaccard_arrays(spark):
    from splink_spark.internals.comparison_library import (
        PairwiseStringDistanceFunctionAtThresholds,
    )

    comp = PairwiseStringDistanceFunctionAtThresholds("c", "jaccard", [0.7])
    run_gamma_tests(spark, comp, {"c": "array<string>"}, [
        (["abc"], ["abc", "qqq"], 2),   # shared element → intersect level
        (["abc"], ["bca", "qqq"], 1),   # char-set jaccard("abc","bca") = 1.0
        (["abcd"], ["abce"], 0),        # 3/5 = 0.6 < 0.7
    ])


def test_column_expression_transforms(spark):
    lower = ColumnExpression("c").lower()
    comp = Comparison("c", [
        cll.NullLevel("c"), cll.ExactMatchLevel(lower), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"c": "string"}, [
        ("LONDON", "london", 1),
        ("LONDON", "leeds", 0),
    ])
    # regex_extract: domain part of email
    domain = ColumnExpression("c").regex_extract("@(.+)$", 1)
    comp2 = Comparison("c", [
        cll.NullLevel("c"), cll.ExactMatchLevel(domain), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp2, {"c": "string"}, [
        ("a@x.com", "b@x.com", 1),
        ("a@x.com", "a@y.com", 0),
    ])
    # array element access
    first = ColumnExpression("c").access_extreme_array_element("first")
    comp3 = Comparison("c", [
        cll.NullLevel("c"), cll.ExactMatchLevel(first), cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp3, {"c": "array<string>"}, [
        (["a", "b"], ["a", "z"], 1),
        (["a", "b"], ["z", "b"], 0),
    ])


def test_composite_templates_run(spark):
    """Smoke: every composite template produces a valid gamma on a tiny pair."""
    import splink_spark.internals.comparison_library as cl

    email = cl.EmailComparison("c")
    run_gamma_tests(spark, email, {"c": "string"}, [
        ("john@x.com", "john@x.com", 4),
        ("john@x.com", "john@y.com", 3),   # username exact
        ("john@x.com", "jhon@x.com", 2),   # JW full >= 0.88
        (None, "a@b.com", -1),
    ])

    name = cl.NameComparison("c")
    run_gamma_tests(spark, name, {"c": "string"}, [
        ("stephen", "stephen", 4),
        ("stephen", "stephan", 3),   # JW >= 0.92
        ("stephen", "zzz", 0),
    ])

    pc = cl.PostcodeComparison("c")
    run_gamma_tests(spark, pc, {"c": "string"}, [
        ("SE1P 0NY", "SE1P 0NY", 4),
        ("SE1P 0NY", "SE1P 0AB", 3),   # same sector (SE1P 0)
        ("SE1P 0NY", "SE1P 4UX", 2),   # same district (SE1P)
        ("SE1P 0NY", "SE2P 0NY", 1),   # same area only
        ("SE1P 0NY", "NW1 8YL", 0),
        ("bad", "SE1P 0NY", -1),       # invalid postcode → null
    ])


def test_jvm_similarity_pack_matches_python_kernels(spark):
    """The compiled Similarity jar must agree bit-for-bit with the pandas
    kernels (both pinned to DuckDB's definitions) — otherwise gate-query
    hashes would depend on whether javac was available."""
    import random
    import string

    from splink_spark.internals.functions import (
        _damerau_levenshtein,
        _jaccard_charset,
        _jaro,
        _jaro_winkler,
        _jvm_active,
        register_udfs,
    )

    register_udfs(spark)
    if not _jvm_active():
        import pytest

        pytest.skip("JVM similarity pack unavailable on this host")
    rng = random.Random(99)
    # include non-BMP characters (surrogate pairs in UTF-16): the JVM
    # kernels must count CODE POINTS like Python, not UTF-16 code units
    alphabet = string.ascii_lowercase + "éü '-" + "\U0001d538\U0001f600"
    pairs = [
        (
            "".join(rng.choices(alphabet, k=rng.randrange(0, 12))),
            "".join(rng.choices(alphabet, k=rng.randrange(0, 12))),
        )
        for _ in range(500)
    ]
    # the kernels' fast paths: Jaccard's two 64-bit ASCII mask halves
    # (characters 0, 63, 64, 127) and the code-point path above them (128,
    # 255), repeated characters, empty strings, non-BMP code points, strings
    # longer than 64 characters, and pairs mixing ASCII with non-ASCII
    edges = "\x00?@\x7f\x80\xff"
    long_ascii = "".join(rng.choices("ab?@\x00\x7f", k=70))
    words = ["", "a", "aaaa", "abab", "baba", edges, edges[:4], edges[4:] * 2,
             "\x00\x00?", "@\x7f@", "ab\U0001f600ab", "\U0001f600\U0001f600x",
             long_ascii, long_ascii[::-1], long_ascii + "\xe9", "x" * 80, "na\xefve", "naive"]
    pairs += [(a, b) for a in words for b in words]
    for alpha, k in ((edges + "ab", 12), (edges + "ab\U0001f600", 90)):
        pairs += [
            (
                "".join(rng.choices(alpha, k=rng.randrange(0, k))),
                "".join(rng.choices(alpha, k=rng.randrange(0, k))),
            )
            for _ in range(150)
        ]
    df = spark.createDataFrame(pairs, ["a", "b"])
    got = spark.sql(
        "SELECT a, b, jaro_winkler(a,b) jw, jaro_sim(a,b) j, jaccard(a,b) jc, "
        "damerau_levenshtein(a,b) dl FROM {df}",
        df=df,
    ).collect()
    for r in got:
        assert r["jw"] == _jaro_winkler(r["a"], r["b"])
        assert r["j"] == _jaro(r["a"], r["b"])
        assert r["jc"] == _jaccard_charset(r["a"], r["b"])
        assert r["dl"] == float(_damerau_levenshtein(r["a"], r["b"]))


def test_committed_similarity_jar_matches_its_source():
    """The committed jar's manifest records the sha256 of the Similarity.java
    it was compiled from. The jar is used whenever it exists, so a source
    edit without a rebuild would otherwise ship the old classes silently;
    rebuild with ``functions._build_similarity_jar``."""
    import hashlib
    import os
    import zipfile

    import splink_spark

    pkg = os.path.dirname(splink_spark.__file__)
    with zipfile.ZipFile(os.path.join(pkg, "jars", "splink-similarity.jar")) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    # manifest lines wrap at 72 bytes; a continuation starts with a space
    fields = manifest.replace("\r\n", "\n").replace("\n ", "").splitlines()
    with open(os.path.join(pkg, "java", "Similarity.java"), "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    assert f"Source-SHA256: {digest}" in fields, fields


def test_else_level_must_be_last():
    from splink_spark import Comparison
    import splink_spark.internals.comparison_level_library as cll_

    with pytest.raises(ValueError, match="else level"):
        Comparison(
            "c",
            [
                cll_.NullLevel("x"),
                cll_.ExactMatchLevel("x"),
                cll_.ElseLevel(),
                cll_.LevenshteinLevel("x", 2),
            ],
        )


def test_tf_u_exact_matches_level_column():
    """Multi-column comparison with two TF-adjusted exact levels: each TF
    adjustment must use the exact-match u of ITS OWN column."""
    from splink_spark import Comparison
    import splink_spark.internals.comparison_level_library as cll_

    fore = cll_.ExactMatchLevel("forename", term_frequency_adjustments=True)
    sur = cll_.ExactMatchLevel("surname", term_frequency_adjustments=True)
    comp = Comparison("name", [cll_.NullLevel("forename"), fore, sur, cll_.ElseLevel()])
    fore.m_probability, fore.u_probability = 0.9, 0.02
    sur.m_probability, sur.u_probability = 0.8, 0.05
    for lv in comp.comparison_levels:
        if not lv.is_null_level and lv.m_probability is None:
            lv.m_probability, lv.u_probability = 0.1, 0.9
    assert comp._u_probability_for_exact_match(fore) == 0.02
    assert comp._u_probability_for_exact_match(sur) == 0.05


def test_disable_tf_exact_match_detection():
    """reference comparison_level.py:623-634 + tests/
    test_disable_tf_exact_match_detection.py: with the flag set, the TF
    adjustment anchors on the level's OWN u_probability instead of the
    exact-match level's; unset, both TF-adjusted levels anchor on exact's u."""
    import pytest
    from splink_spark import Comparison
    from splink_spark.internals.comparison_level_library import level_from_spec_dict

    def build(disable):
        lev_dict = {
            "sql_condition": "levenshtein(my_col_l, my_col_r) <= 1",
            "label_for_charts": "lev<=1",
            "tf_adjustment_column": "my_col",
            "u_probability": 0.234,
            "m_probability": 0.2,
        }
        if disable:
            lev_dict["disable_tf_exact_match_detection"] = True
        exact = {
            "sql_condition": "my_col_l = my_col_r",
            "label_for_charts": "Exact",
            "tf_adjustment_column": "my_col",
            "u_probability": 0.123,
            "m_probability": 0.7,
        }
        levels = [
            level_from_spec_dict({"sql_condition": "my_col_l IS NULL", "is_null_level": True, "label_for_charts": "null"}),
            level_from_spec_dict(exact),
            level_from_spec_dict(lev_dict),
            level_from_spec_dict({"sql_condition": "ELSE", "label_for_charts": "else"}),
        ]
        for lv in levels:
            if not lv.is_null_level and lv.m_probability is None:
                lv.m_probability, lv.u_probability = 0.1, 0.643
        return Comparison("my_col", levels)

    comp = build(disable=False)
    exact_lv, lev_lv = comp.comparison_levels[1], comp.comparison_levels[2]
    assert comp._u_probability_for_exact_match(exact_lv) == 0.123
    assert comp._u_probability_for_exact_match(lev_lv) == 0.123  # anchored on exact

    comp = build(disable=True)
    lev_lv = comp.comparison_levels[2]
    assert comp._u_probability_for_exact_match(lev_lv) == 0.234  # own u
    # round-trips through the dict form
    assert lev_lv.as_dict()["disable_tf_exact_match_detection"] is True
    # flag set but no u -> the reference's ValueError
    lev_lv.u_probability = None
    with pytest.raises(ValueError, match="disable_tf_exact_match_detection"):
        comp._u_probability_for_exact_match(lev_lv)


def test_comparison_configure_and_extreme_match_weights(spark):
    """reference tests/test_extreme_match_weights.py: 5 exact-match columns
    with BF ~ 1e300 each must not overflow — match_probability lands exactly
    at 1.0 (and 0.0 for the all-different case). Also exercises the
    Comparison-level configure(m_probabilities=, u_probabilities=) list API
    and the '1=1' full-block blocking rule."""
    import math

    from splink_spark import Linker, SettingsCreator
    import splink_spark.internals.comparison_library as cl_

    rows_same = [(1, "a", "a", "a", "a", "a"), (2, "a", "a", "a", "a", "a")]
    df = spark.createDataFrame(rows_same, ["unique_id", "c1", "c2", "c3", "c4", "c5"])
    comps = [
        cl_.ExactMatch(f"c{i}").configure(
            m_probabilities=[0.999, 1e-300], u_probabilities=[1e-300, 0.999]
        )
        for i in range(1, 6)
    ]
    settings = SettingsCreator(
        link_type="dedupe_only",
        blocking_rules_to_generate_predictions=["1=1"],
        comparisons=comps,
        probability_two_random_records_match=0.5,
    )
    preds = Linker(df, settings).inference.predict().collect()
    assert len(preds) == 1
    assert preds[0]["match_probability"] == 1.0
    assert math.isfinite(preds[0]["match_weight"])

    rows_diff = [(1, "a", "a", "a", "a", "a"), (2, "b", "b", "b", "b", "b")]
    df2 = spark.createDataFrame(rows_diff, ["unique_id", "c1", "c2", "c3", "c4", "c5"])
    preds2 = Linker(df2, settings).inference.predict().collect()
    assert len(preds2) == 1
    assert preds2[0]["match_probability"] == 0.0
    assert math.isfinite(preds2[0]["match_weight"])

    # configure(term_frequency_adjustments=) switches TF on exact levels
    c = cl_.ExactMatch("c1").configure(term_frequency_adjustments=True)
    tf_levels = [lv for lv in c.comparison_levels if lv.has_tf_adjustment]
    assert [lv.tf_adjustment_column for lv in tf_levels] == ["c1"]
    c.configure(term_frequency_adjustments=False)
    assert not any(lv.has_tf_adjustment for lv in c.comparison_levels)


def test_level_configure_chaining():
    """reference comparison_level_creator.py:72-160 configure(): only
    supplied options change, repeated calls don't reset earlier ones."""
    import splink_spark.internals.comparison_level_library as cll_

    lv = cll_.ExactMatchLevel("email").configure(
        tf_adjustment_column="email", tf_adjustment_weight=0.5
    )
    lv.configure(u_probability=0.01)
    assert lv.tf_adjustment_column == "email"
    assert lv.tf_adjustment_weight == 0.5
    assert lv.u_probability == 0.01
    lv.configure(disable_tf_exact_match_detection=True)
    assert lv.disable_tf_exact_match_detection
    assert lv.tf_adjustment_column == "email"


def test_reference_template_literal_cases(spark):
    """Gamma values pinned to the reference's literal expectations
    (tests/test_comparison_template_lib.py) for the five real-world
    templates: Email, DateOfBirth, Postcode, Name, ForenameSurname."""
    import splink_spark.internals.comparison_library as cl_

    run_gamma_tests(spark, cl_.EmailComparison("email"), {"email": "string"}, [
        ({"email": "john@smith.com"}, {"email": "john@smith.com"}, 4),
        ({"email": "rebecca@company.com"}, {"email": "rebecca@smith.com"}, 3),
        ({"email": "rebecca@company.com"}, {"email": "rebbecca@company.com"}, 2),
        ({"email": "rebecca@company.com"}, {"email": "rebbecca@xyz.com"}, 1),
        ({"email": "john@smith.com"}, {"email": "rebbecca@xyz.com"}, 0),
    ])

    run_gamma_tests(
        spark,
        cl_.DateOfBirthComparison("date_of_birth", input_is_string=True),
        {"date_of_birth": "string"},
        [
            ({"date_of_birth": "1990-05-20"}, {"date_of_birth": "1990-05-20"}, 5),
            ({"date_of_birth": "1990-05-01"}, {"date_of_birth": "1990-05-11"}, 4),
            ({"date_of_birth": "1990-05-20"}, {"date_of_birth": "1990-06-19"}, 3),
            ({"date_of_birth": "1990-05-20"}, {"date_of_birth": "1991-04-21"}, 2),
            ({"date_of_birth": "1990-05-20"}, {"date_of_birth": "1999-02-20"}, 1),
            ({"date_of_birth": "1990-05-20"}, {"date_of_birth": "2010-01-17"}, 0),
        ],
    )

    run_gamma_tests(spark, cl_.PostcodeComparison("postcode"), {"postcode": "string"}, [
        ({"postcode": "SW1A 1AA"}, {"postcode": "SW1A 1AA"}, 4),
        ({"postcode": "SW1A 1AA"}, {"postcode": "SW1A 1AB"}, 3),
        ({"postcode": "SW1A 1AA"}, {"postcode": "SW1A 2AA"}, 2),
        ({"postcode": "SW1A 1AA"}, {"postcode": "SW2A 1AA"}, 1),
        ({"postcode": "SW1A 1AA"}, {"postcode": "NW1A 1AA"}, 0),
    ])

    run_gamma_tests(spark, cl_.NameComparison("name"), {"name": "string"}, [
        ({"name": "John"}, {"name": "John"}, 4),
        ({"name": "Stephen"}, {"name": "Stephan"}, 3),
        ({"name": "Stephen"}, {"name": "Steven"}, 2),
        ({"name": "Stephen"}, {"name": "Steve"}, 1),
        ({"name": "Alice"}, {"name": "Bob"}, 0),
    ])

    fs = cl_.ForenameSurnameComparison("forename", "surname")
    run_gamma_tests(
        spark, fs, {"forename": "string", "surname": "string"},
        [
            ({"forename": "John", "surname": "Smith"},
             {"forename": "John", "surname": "Smith"}, 6),
            ({"forename": "James", "surname": "Smith"},
             {"forename": "Smith", "surname": "James"}, 5),
            ({"forename": "Stephen", "surname": "Smith"},
             {"forename": "Stephan", "surname": "Smith"}, 4),
            ({"forename": "Stephen", "surname": "Smith"},
             {"forename": "Steven", "surname": "Smith"}, 3),
            ({"forename": "John", "surname": "Doe"},
             {"forename": "John", "surname": "Smith"}, 1),
            ({"forename": "Alice", "surname": "Jones"},
             {"forename": "Bob", "surname": "Smith"}, 0),
        ],
    )


def test_regex_fall_through_and_null_pattern(spark):
    """reference tests/test_new_comparison_levels.py:176-231: a regex_extract
    matching nothing yields NULL on both sides, and NULL = NULL must NOT fire
    the exact level (fall through to else, gamma 0 — not null, not a match);
    a valid_string_pattern matching nothing routes to the null level (-1)."""
    comp = Comparison("name", [
        cll.NullLevel("name"),
        cll.ExactMatchLevel(ColumnExpression("name").regex_extract("^wr.*")),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp, {"name": "string"},
                    [({"name": "groat"}, {"name": "float"}, 0)])

    comp2 = Comparison("name", [
        cll.NullLevel("name", valid_string_pattern=".*ook"),
        cll.ExactMatchLevel("name"),
        cll.ElseLevel(),
    ])
    run_gamma_tests(spark, comp2, {"name": "string"},
                    [({"name": "groat"}, {"name": "float"}, -1)])


def test_composition_outputs_reference_matrix(spark):
    """Reference tests/test_comparison_level_composition.py::
    test_composition_outputs — the 5-record forename/surname matrix with a
    [Or(null,null), And(exact,exact), Or(exact,exact), Not(And), Else]
    ladder, plus the null-level propagation and empty-args rules."""
    dbl_null = cll.Or(cll.NullLevel("f"), cll.NullLevel("s"))
    both = cll.And(cll.ExactMatchLevel("f"), cll.ExactMatchLevel("s"))
    either = cll.Or(cll.ExactMatchLevel("f"), cll.ExactMatchLevel("s"))
    comp = Comparison(
        "full_name", [dbl_null, both, either, cll.Not(both), cll.ElseLevel()]
    )
    people = {
        1: {"f": "Tom", "s": "Tim"},
        2: {"f": "Tom", "s": "Tim"},
        3: {"f": "Tom", "s": "Timothee"},
        4: {"f": "Sam", "s": "Tarly"},
        5: {"f": "Sam", "s": "Tim"},
    }
    expected = {
        3: [(1, 2)],
        2: [(1, 3), (1, 5), (2, 3), (2, 5), (4, 5)],
        1: [(1, 4), (2, 4), (3, 4), (3, 5)],
    }
    cases = [
        (people[a], people[b], gamma)
        for gamma, pairs in expected.items()
        for a, b in pairs
    ]
    cases.append(({"f": None, "s": "Tim"}, people[1], -1))
    run_gamma_tests(spark, comp, {"f": "string", "s": "string"}, cases)


def test_composition_null_flags_and_arity():
    import pytest

    assert cll.And(cll.NullLevel("a"), cll.NullLevel("b")).is_null_level
    assert cll.Or(cll.NullLevel("a"), cll.NullLevel("b")).is_null_level
    assert not cll.And(cll.NullLevel("a"), cll.ExactMatchLevel("b")).is_null_level
    # reference: .configure(is_null_level=True) forces the flag on a mix
    assert (
        cll.And(cll.NullLevel("a"), cll.ExactMatchLevel("b"))
        .configure(is_null_level=True)
        .is_null_level
    )
    with pytest.raises(ValueError):
        cll.And()
    with pytest.raises(ValueError):
        cll.Or()
    with pytest.raises(ValueError):
        cll.Not(cll.NullLevel("a"))


def test_compound_exact_match_detection(spark):
    """Reference tests/test_compound_comparison_levels.py: a dict level whose
    sql_condition is a conjunction of equalities is detected as an
    exact-match level with the right colnames, and EM runs over the ladder."""
    from splink_spark import Linker

    def m(col):
        return f"({col}_l = {col}_r)"

    two_of_three = (
        f"({m('first_name')} AND {m('middle_name')}) OR "
        f"({m('middle_name')} AND {m('surname')}) OR "
        f"({m('surname')} AND {m('first_name')})"
    )
    settings = {
        "link_type": "dedupe_only",
        "comparisons": [
            {
                "output_column_name": "city",
                "comparison_levels": [
                    {"sql_condition": "city_l IS NULL OR city_r IS NULL",
                     "label_for_charts": "Null", "is_null_level": True},
                    {"sql_condition": "city_l = city_r", "label_for_charts": "Exact"},
                    {"sql_condition": "ELSE", "label_for_charts": "else"},
                ],
            },
            {
                "output_column_name": "company_comparison",
                "comparison_levels": [
                    {"sql_condition": (
                        "(first_name_l IS NULL OR first_name_r IS NULL) AND "
                        "(middle_name_l IS NULL OR middle_name_r IS NULL)"),
                     "label_for_charts": "NULL", "is_null_level": True},
                    {"sql_condition": (
                        f"{m('first_name')} AND {m('middle_name')} AND {m('surname')}"),
                     "label_for_charts": "All three match"},
                    {"sql_condition": two_of_three,
                     "label_for_charts": "2 out of 3 columns match"},
                    {"sql_condition": "first_name_l = first_name_r",
                     "label_for_charts": "Exact first"},
                    {"sql_condition": "ELSE", "label_for_charts": "else"},
                ],
            },
        ],
    }
    people = [
        (1, "John", "James", "Smith", "Brighton"),
        (2, "Mary", "Harriet", "Jones", "Brighton"),
        (3, "Jane", "Joan", "Taylor", "Brighton"),
        (4, "John", "Blake", "Jones", "Brighton"),
        (5, "Jane", "Joan", "Taylor", "Brighton"),
        (6, "Gill", "Harriet", "Greene", "Brighton"),
        (7, "Owen", "James", "Smith", "Brighton"),
        (8, "Sarah", "Simone", "Williams", "Brighton"),
    ]
    df = spark.createDataFrame(
        people, "unique_id bigint, first_name string, middle_name string, "
        "surname string, city string")
    linker = Linker(df, settings)
    comp = linker.settings.comparisons[1]
    all_three = comp.comparison_levels[1]
    assert all_three.is_exact_match_level
    assert set(all_three.exact_match_colnames) == {
        "first_name", "middle_name", "surname"}
    two_of_three_lv = comp.comparison_levels[2]
    assert not two_of_three_lv.is_exact_match_level
    single = comp.comparison_levels[3]
    assert single.is_exact_match_level
    assert single.exact_match_colnames == ["first_name"]
    linker.training.estimate_parameters_using_expectation_maximisation(
        "l.city = r.city")


def test_sql_literals_round_trip_through_spark(spark, count_jobs):
    """Every value ``sql_literal`` writes and every name ``sql_ident``
    quotes parses back to itself through ``F.expr``: doubles bit for bit
    (subnormals, signed zeros, infinities, NaN, the extremes), strings with
    quotes, backslashes, newlines, non-BMP characters and regex
    metacharacters, names with spaces, dots and backticks. One Spark job
    evaluates every case."""
    import math
    import random
    import struct

    from pyspark.sql import functions as F

    from splink_spark.internals.column_expression import sql_ident, sql_literal

    rng = random.Random(14)
    doubles = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072009e-308, 1.7976931348623157e308,
               -1.7976931348623157e308, math.inf, -math.inf, math.nan, 0.1, 1e16, 1e-300]
    doubles += [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0] for _ in range(200)]
    pool = "ab'\\\n\t\"`.*+?^$()[]{}|é😀𝄞 %_"
    strings = ["", "'", "\\", "\\'", "a\nb", "😀𝄞", r"^\d+(\.\d*)?$", "\\u0041", "''", "--x"]
    strings += ["".join(rng.choice(pool) for _ in range(rng.randint(1, 12))) for _ in range(100)]
    values = doubles + strings + [None, True, False, 0, -1, 2**40]
    names = ["first name", "a`b", "`", "x.y", "naïve 😀", "--", "a'b"]
    names += ["".join(rng.choice(pool) for _ in range(rng.randint(1, 8))) for _ in range(40)]
    names = list({n.lower(): n for n in names}.values())

    frame = spark.range(1).select(*[F.lit(i).alias(n) for i, n in enumerate(names)])
    out = frame.select(
        *[F.expr(sql_literal(v)).alias(f"v{i}") for i, v in enumerate(values)],
        *[F.expr(sql_ident(n)).alias(f"n{i}") for i, n in enumerate(names)],
    )
    rows = []
    assert count_jobs(lambda: rows.extend(out.collect())) == 1
    row = rows[0]
    for i, v in enumerate(values):
        got = row[f"v{i}"]
        if isinstance(v, float):
            same = (math.isnan(v) and math.isnan(got)) or struct.pack("<d", v) == struct.pack("<d", got)
        else:
            same = got == v and type(got) is type(v)
        assert same, (v, sql_literal(v), got)
    assert [row[f"n{i}"] for i in range(len(names))] == list(range(len(names)))
