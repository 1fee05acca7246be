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

