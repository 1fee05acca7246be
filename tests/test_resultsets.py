"""resultsets() is one SQL statement; these tests pin it to the
Column-API spelling it replaced (kept here only as the reference)."""

from pyspark.sql import functions as F

from heatmap_spark.functions.tiles import tile_id_from_zrc
from heatmap_spark.operators import pyramid as P
from heatmap_spark.sources.locations import load_locations


def _column_api_resultsets(pyramid, delta=5):
    rs = pyramid.select(
        "user_group",
        "timespan",
        (F.col("zoom") - delta).alias("rs_zoom"),
        F.shiftright("row", delta).alias("rs_row"),
        F.shiftright("col", delta).alias("rs_col"),
        F.struct("row", "col", "visits").alias("entry"),
    )
    detail_key = lambda s: tile_id_from_zrc(F.col("rs_zoom") + delta, s["row"], s["col"])
    return (
        rs.groupBy("user_group", "timespan", "rs_zoom", "rs_row", "rs_col")
        .agg(F.array_sort(F.collect_list("entry")).alias("entries"))
        .select(
            "user_group",
            "timespan",
            "rs_zoom",
            "rs_row",
            "rs_col",
            F.map_from_entries(
                F.transform(
                    "entries",
                    lambda s: F.struct(
                        detail_key(s).alias("tile_id"), s["visits"].alias("visits")
                    ),
                )
            ).alias("heatmap"),
            tile_id_from_zrc(F.col("rs_zoom"), F.col("rs_row"), F.col("rs_col")).alias(
                "rs_tile_id"
            ),
        )
    )


def _rows(df):
    return sorted(
        df.select(
            "user_group",
            "timespan",
            "rs_zoom",
            "rs_row",
            "rs_col",
            "rs_tile_id",
            F.to_json("heatmap").alias("json"),
        ).collect()
    )


def test_resultsets_statement_matches_column_api(spark, sf_smoke):
    """Same schema (nullability included), same rows, same JSON bytes
    as the Column-API spelling, on the smoke fixture."""
    pyr = P.build_pyramid(
        load_locations(spark, sf_smoke), mode="explode", timespans=("alltime", "month")
    ).localCheckpoint()
    got, want = P.resultsets(pyr), _column_api_resultsets(pyr)
    assert got.schema == want.schema
    g, w = _rows(got), _rows(want)
    assert len(g) > 100
    assert g == w


def _floor_power_explode(expanded, min_zoom, max_zoom):
    """pyramid_explode as it computed ancestors before the integer
    shift: FLOOR(row / POWER(2.0, delta)) in doubles."""
    delta = (F.lit(max_zoom) - F.col("zoom")).cast("int")
    pref = P._pref_cols(expanded)
    leveled = expanded.select(
        "user_group",
        "timespan",
        F.explode(F.sequence(F.lit(min_zoom), F.lit(max_zoom))).alias("zoom"),
        "row",
        "col",
        "weight",
        *pref,
    ).select(
        "user_group",
        "timespan",
        "zoom",
        F.floor(F.col("row") / F.pow(F.lit(2.0), delta)).alias("row"),
        F.floor(F.col("col") / F.pow(F.lit(2.0), delta)).alias("col"),
        "weight",
        *pref,
    )
    return P._level_agg(leveled).select(*P.PYRAMID_COLS)


def test_pyramid_ancestors_are_integer_shifts(spark, sf_smoke):
    """Both pyramid modes shift ancestors in integers (no POWER in the
    plan) and give the same schema, rows and result-set JSON bytes as
    the FLOOR/POWER spelling."""
    lo, hi = P.MIN_PYRAMID_ZOOM, P.DETAIL_MAX_ZOOM
    expanded = P.expand_groups_and_timespans(
        P.ingest_locations(load_locations(spark, sf_smoke), hi, partition_prefix_zoom=lo),
        ("alltime", "month"),
    ).localCheckpoint()
    want = _floor_power_explode(expanded, lo, hi)
    want_rows, want_rs = sorted(want.collect()), _rows(P.resultsets(want))
    for got in (P.pyramid_explode(expanded, lo, hi), P.pyramid_cascade(expanded, lo, hi)):
        assert "POWER" not in got._jdf.queryExecution().executedPlan().toString().upper()
        assert got.schema == want.schema
        assert sorted(got.collect()) == want_rows
        assert _rows(P.resultsets(got)) == want_rs
