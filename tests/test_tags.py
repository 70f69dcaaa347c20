"""Table-driven unit tests for F1-F8 / P1-P5 / P8-P9 against hand-computed
expectations from /root/reference/src/tagcheck.hpp."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from osmi_water_spark.functions import tags as TG


def _run(spark, rows, colfn):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "i int, tags map<string,string>"
    )
    out = df.select("i", colfn("tags").alias("v")).orderBy("i").collect()
    return [r.v for r in out]


def test_is_waterway_way(spark):
    rows = [
        {"waterway": "river"},
        {"waterway": "riverbank"},          # rejected (tagcheck.hpp:41-44)
        {"type": "multipolygon", "waterway": "river"},  # rejected (:37-39)
        {"natural": "coastline"},            # way-only accept (:53-58)
        {"natural": "water"},
        {},
        {"waterway": "xyz"},
    ]
    assert _run(spark, rows, lambda t: TG.is_waterway(t, False)) == [
        True, False, False, True, False, False, True,
    ]


def test_is_waterway_relation(spark):
    rows = [
        {"type": "waterway"},
        {"type": "waterway", "waterway": "riverbank"},  # riverbank check first
        {"natural": "coastline"},  # coastline NOT accepted for relations
        {"waterway": "canal"},
        {"type": "multipolygon"},
    ]
    assert _run(spark, rows, lambda t: TG.is_waterway(t, True)) == [
        True, False, False, True, False,
    ]


def test_waterpolygon_filter(spark):
    rows = [
        {"natural": "water"},
        {"waterway": "riverbank"},
        {"landuse": "reservoir"},
        {"landuse": "basin"},
        {"landuse": "farm"},
        {"natural": "wood"},
        {},
    ]
    assert _run(spark, rows, TG.waterpolygon_filter) == [
        True, True, True, True, False, False, False,
    ]


def test_is_way_to_analyse(spark):
    rows = [
        {"waterway": "anything"},
        {"natural": "coastline"},
        {"natural": "water"},
        {"landuse": "reservoir"},
        {"landuse": "basin"},
        {"landuse": "forest"},
        {},
    ]
    assert _run(spark, rows, TG.is_way_to_analyse) == [
        True, True, True, True, True, False, False,
    ]


def test_is_area_to_analyse(spark):
    rows = [
        {"natural": "water"},                      # True (no exclusion)
        {"waterway": "riverbank"},                 # excluded
        {"waterway": "river"},                     # excluded
        {"natural": "water", "water": "river"},    # excluded via water tag
        {"natural": "water", "water": "lake"},     # lake passes
        {"waterway": "lock"},                      # not in exclude list
        {},
    ]
    assert _run(spark, rows, TG.is_area_to_analyse) == [
        True, False, False, False, True, True, True,
    ]


def test_is_riverbank_or_coastline_and_water_area(spark):
    rows = [
        {"waterway": "riverbank"},
        {"natural": "coastline"},
        {"waterway": "river"},
        {},
    ]
    assert _run(spark, rows, TG.is_riverbank_or_coastline) == [True, True, False, False]
    rows2 = [{"natural": "water"}, {"landuse": "basin"}, {"waterway": "x"}, {"landuse": "farm"}]
    assert _run(spark, rows2, TG.is_water_area) == [True, True, True, False]


def test_get_way_type_and_category(spark):
    rows = [
        {"waterway": "river"},
        {"waterway": "weir"},       # -> "other"
        {"natural": "coastline"},   # -> "coastline"
        {},                          # -> ""
        {"waterway": "brook"},
    ]
    assert _run(spark, rows, TG.get_way_type) == ["river", "other", "coastline", "", "brook"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(rows)], "i int, tags map<string,string>")
    cats = (
        df.select("i", TG.get_way_type("tags").alias("wt"))
        .select("i", TG.get_waterway_category("wt").alias("v"))
        .orderBy("i").collect()
    )
    assert [r.v for r in cats] == ["C", "?", "?", "?", "A"]


def test_get_polygon_type_quirk(spark):
    # tagcheck.hpp:166-175: waterway-tagged areas -> "" (the quirk);
    # landuse fallback only when no waterway type.
    rows = [
        {"natural": "coastline"},
        {"waterway": "riverbank"},                 # -> "" (!)
        {"natural": "water"},                      # -> "" (landuse default)
        {"landuse": "reservoir"},                  # -> "reservoir"
        {"waterway": "weir", "landuse": "basin"},  # waterway type "other" -> ""
        {},
    ]
    assert _run(spark, rows, TG.get_polygon_type) == [
        "coastline", "", "", "reservoir", "", "",
    ]


def test_width_tag_and_construction(spark):
    rows = [
        {"width": "3", "est_width": "9"},
        {"est_width": "9"},
        {},
        {"bridge": "yes"},
        {"tunnel": "culvert"},
        {"bridge": "no", "tunnel": "yes"},  # bridge key presence wins
    ]
    assert _run(spark, rows, TG.get_width_tag) == ["3", "9", None, None, None, None]
    assert _run(spark, rows, TG.get_construction) == ["", "", "", "bridge", "tunnel", "bridge"]


def test_format_lastchange(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2015, 7, 6, 12, 34, 56),)], "ts timestamp"
    )
    assert (
        df.select(TG.format_lastchange("ts").alias("v")).first().v
        == "2015-07-06 12:34:56"
    )


# (type, sum(xxhash64), count(distinct), null count) per expression over the
# 3,000 _tags_from_key rows below, captured from the Column-API builders
# that these SQL-text bodies replaced (the values they held equal).
PINNED_TAGS_ERRORS = {
    "is_waterway_way": ("boolean", -13722243410781091678692, 2, 0),
    "is_waterway_rel": ("boolean", -13227203926619023692804, 2, 0),
    "waterpolygon_filter": ("boolean", -17692872606664345315502, 2, 0),
    "has_waterway_tag": ("boolean", -16661540347993370344902, 2, 0),
    "is_way_to_analyse": ("boolean", -18105405510132735303742, 2, 0),
    "is_area_to_analyse": ("boolean", 974241275280301652358, 2, 0),
    "is_riverbank_or_coastline": ("boolean", 3470065341264061081210, 2, 0),
    "is_water_area": ("boolean", -17692872606664345315502, 2, 0),
    "get_waterway_type": ("string", 13863988204765374825930, 5, 0),
    "get_way_type": ("string", 8342330245925340937256, 10, 0),
    "get_polygon_type": ("string", -18911200343729912393203, 5, 0),
    "get_waterway_category": ("string", 5373794115860037894102, 4, 0),
    "get_width_tag": ("string", -4066142314835108907135, 14, 143),
    "get_construction": ("string", -21499402146416218171029, 3, 0),
    "format_lastchange": ("string", 161558484110421624501, 3000, 0),
    "name_or_empty": ("string", -5243944572646632276480, 41, 0),
    "has_river": ("boolean", 283248661970748422056, 2, 0),
    "switch_poss": ("int", -929532489339656329198, 2360, 0),
    "node_specific": ("string", -10882860688214998106744, 3, 0),
    "node_direction_error": ("string", 19105959626340706702500, 2, 0),
    "node_name_error": ("string", 19105959626340706702500, 2, 0),
    "node_type_error": ("string", 19105959626340706702500, 2, 0),
    "node_spring_error": ("string", 19108200685906288935056, 2, 0),
    "node_end_error": ("string", 19108200685906288935056, 2, 0),
    "node_way_error": ("string", 19412984786825472562672, 2, 0),
}


def test_tag_and_error_expressions_match_pinned_digests(spark, digest):
    """Every tags.py / errors.py builder reproduces the pinned type and
    value digest across all predicate branches."""
    from osmi_water_spark.functions import errors as E
    from osmi_water_spark.plans.testdata_queries import _tags_from_key

    df = spark.range(0, 3000).select(
        _tags_from_key(F.col("id")).alias("tags"),
        F.timestamp_seconds(F.col("id") * 977 % 2_000_000_000).alias("ts"),
        (F.col("id") % 4096).cast("int").alias("mask"),
        F.element_at(
            F.array(*[F.lit(v) for v in
                      ["river", "stream", "drain", "weir", "", "coastline", None]]),
            (F.col("id") % 7 + 1).cast("int"),
        ).alias("wt"),
    )
    exprs = {
        "is_waterway_way": TG.is_waterway("tags", False),
        "is_waterway_rel": TG.is_waterway("tags", True),
        "waterpolygon_filter": TG.waterpolygon_filter("tags"),
        "has_waterway_tag": TG.has_waterway_tag("tags"),
        "is_way_to_analyse": TG.is_way_to_analyse("tags"),
        "is_area_to_analyse": TG.is_area_to_analyse("tags"),
        "is_riverbank_or_coastline": TG.is_riverbank_or_coastline("tags"),
        "is_water_area": TG.is_water_area("tags"),
        "get_waterway_type": TG.get_waterway_type("wt"),
        "get_way_type": TG.get_way_type("tags"),
        "get_polygon_type": TG.get_polygon_type("tags"),
        "get_waterway_category": TG.get_waterway_category("wt"),
        "get_width_tag": TG.get_width_tag("tags"),
        "get_construction": TG.get_construction("tags"),
        "format_lastchange": TG.format_lastchange("ts"),
        "name_or_empty": TG.name_or_empty("tags"),
        "has_river": E.has("mask", E.RIVER),
        "switch_poss": E.switch_poss("mask"),
    }
    exprs.update({f"node_{k}": v for k, v in E.node_output_columns("mask").items()})
    got = digest(df.select(*[v.alias(k) for k, v in exprs.items()]))
    assert got == PINNED_TAGS_ERRORS
