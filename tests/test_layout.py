"""Oracle-parity + bit-level replay for the Z-order layout audit."""

from bigdata_group4_app_spark.operators import layout

from .conftest import SF_CORRECT, check_registered


def test_zorder_oracle_parity(spark):
    check_registered(spark, "zorder_tile_stats", SF_CORRECT)


def _z(x: int, y: int) -> int:
    z = 0
    for i in range(layout.Z_BITS):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_interleave_replay(spark):
    """Tile assignment replayed bit-by-bit in Python over collected events."""
    ev = layout.load_table(spark, SF_CORRECT, "events").collect()
    from collections import defaultdict

    want = defaultdict(int)
    for r in ev:
        ub = r["user_id"] % 256
        db = (r["ts"].timestamp() * 1_000_000) // 86_400_000_000 % 256
        want[_z(int(ub), int(db)) >> layout.Z_TILE_SHIFT] += 1
    got = {
        r["z_tile"]: r["n_rows"]
        for r in layout.zorder_tile_stats(spark, SF_CORRECT).collect()
    }
    assert got == dict(want)


def test_zorder_tiles_tighten_zone_maps(spark):
    """The point of Z-clustering: within a coarse tile, BOTH dimensions
    must span far less than their global range (tight zone maps)."""
    rows = layout.zorder_tile_stats(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["max_user_bucket"] - r["min_user_bucket"] < 256 / 2


def test_layout_skipping_parity(spark):
    check_registered(spark, "layout_skipping_compare", SF_CORRECT)


def test_zorder_reads_fewest_files(spark):
    """The claim the module exists for: under 2-D range probes, Z-order
    must beat the single-dimension sort, which must beat insertion
    order."""
    rows = {
        r["layout"]: r["files_read"]
        for r in layout.layout_skipping_compare(spark, SF_CORRECT).collect()
    }
    assert rows["c_zorder"] < rows["b_user_sorted"] < rows["a_insertion"]
