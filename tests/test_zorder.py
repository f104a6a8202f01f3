"""Z-order (Morton) key construction."""

from __future__ import annotations

from re_data_pipeline_spark.functions.zorder import morton_key


def test_morton_key_reference_values(spark):
    # spot-check against hand-interleaved values
    df = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023)], "x long, y long")
    got = {(r["x"], r["y"]): r["zkey"] for r in df.select("x", "y", morton_key("x", "y")).collect()}

    def interleave(x: int, y: int) -> int:
        out = 0
        for b in range(16):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    for (x, y), z in got.items():
        assert z == interleave(x, y)
