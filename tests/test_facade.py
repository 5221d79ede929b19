"""WhiteboxSpark facade: reference-shaped snake_case access to every
registered tool, smoke-run across toolbox families."""

import pytest
from pyspark.sql import DataFrame, functions as F

from whitebox_tools_spark.facade import WhiteboxSpark, to_snakecase, _SNAKE_TO_TOOL
from whitebox_tools_spark.registry import TOOLS

SF_DIR = "/root/testdata/sf0.001"


def test_snake_names_are_unique_and_total():
    assert len(_SNAKE_TO_TOOL) == len(TOOLS)
    assert to_snakecase("FD8FlowAccumulation") == "fd8_flow_accumulation"
    assert to_snakecase("D8Pointer") == "d8_pointer"
    assert to_snakecase("RgbToIhs") == "rgb_to_ihs"


def test_every_oracle_backed_tool_resolves_or_names_machinery(spark):
    wbt = WhiteboxSpark(spark)
    unresolved = []
    for tool, row in TOOLS.items():
        if row["status"] not in ("exact", "deviating"):
            continue
        try:
            fn = wbt.tool(to_snakecase(tool))
            assert callable(fn)
        except NotImplementedError:
            unresolved.append(tool)
    # round 3: every oracle-backed tool resolves to an operator function
    assert unresolved == [], unresolved


def test_tool_info_and_unknown(spark):
    wbt = WhiteboxSpark(spark)
    info = wbt.tool_info("slope")
    assert info["tool"] == "Slope"
    assert info["status"] in ("exact", "deviating", "engine", "expr")
    with pytest.raises(AttributeError):
        wbt.not_a_tool_at_all
    assert "slope" in wbt.list_tools("slope")


class TestFamilySmoke:
    """One facade call per toolbox family, on the sf0.001 fixtures."""

    @pytest.fixture(scope="class")
    def geo(self, spark):
        from whitebox_tools_spark import derive
        from whitebox_tools_spark.sources.tables import documents

        geo = derive.with_geometry(documents(spark, SF_DIR), "doc_id").cache()
        yield geo
        geo.unpersist()

    @pytest.fixture(scope="class")
    def z(self, spark):
        from whitebox_tools_spark import catalog_cache as cc

        return cc.z_last(spark, SF_DIR)

    def _grid(self):
        from whitebox_tools_spark.catalog_grid import GRID

        return GRID

    def test_gis_analysis_buffer_vector(self, spark, geo):
        wbt = WhiteboxSpark(spark)
        out = wbt.buffer_vector  # GIS Analysis family
        assert callable(out)

    def test_terrain_slope(self, spark, z):
        out = WhiteboxSpark(spark).slope(z, self._grid())
        assert isinstance(out, DataFrame) and out.count() > 0

    def test_hydro_d8_pointer(self, spark, z):
        out = WhiteboxSpark(spark).d8_pointer(z, self._grid())
        assert isinstance(out, DataFrame) and out.count() > 0

    def test_image_gaussian_filter(self, spark, z):
        out = WhiteboxSpark(spark).gaussian_filter(z, self._grid())
        assert isinstance(out, DataFrame) and out.count() > 0

    def test_lidar_block_maximum(self, spark, geo):
        out = WhiteboxSpark(spark).lidar_block_maximum(
            geo.select(F.col("x"), F.col("y"), F.col("z")), self._grid()
        )
        assert isinstance(out, DataFrame)

    def test_math_stats_zonal(self, spark, z):
        fn = WhiteboxSpark(spark).zonal_statistics
        assert callable(fn)

    def test_stream_network_resolves(self, spark):
        assert callable(WhiteboxSpark(spark).strahler_stream_order)

    def test_data_tools_join(self, spark):
        assert callable(WhiteboxSpark(spark).join_tables)
