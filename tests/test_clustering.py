"""Z-order clustering (operators/clustering.py + zorder_by sink layout):
per-file parquet footer min/max ranges must be tight on BOTH clustered
columns — the property that makes predicates on either column skip files."""

import glob

import pyarrow.parquet as pq

from etl_load_spark.sources.writers import write_file


def _avg_range_fraction(path: str, col: str, global_span: float) -> float:
    """Mean (max-min)/global_span of ``col`` across the data files."""
    fracs = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(
                [md.schema.column(i).name
                 for i in range(md.num_columns)].index(col)).statistics
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        fracs.append((hi - lo) / global_span)
    assert fracs, "no data files written"
    return sum(fracs) / len(fracs)


def test_zorder_tightens_both_columns(spark, tmp_path):
    n = 40_000
    side = 200  # x in [0,200), y in [0,200), uncorrelated
    df = (spark.range(n)
          .selectExpr(f"CAST(id % {side} AS LONG) AS x",
                      f"CAST(CAST(id / {side} AS LONG) % {side} AS LONG) AS y",
                      "id AS payload"))
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zord")
    write_file(df, {"path": naive, "repartition": 16}, "parquet")
    write_file(df, {"path": zord, "repartition": 16,
                    "zorder_by": ["x", "y"]}, "parquet")

    span = float(side - 1)
    naive_x = _avg_range_fraction(naive, "x", span)
    naive_y = _avg_range_fraction(naive, "y", span)
    z_x = _avg_range_fraction(zord, "x", span)
    z_y = _avg_range_fraction(zord, "y", span)
    # round-robin layout leaves each file spanning ~the full domain
    assert naive_x > 0.9 and naive_y > 0.9
    # z-order must tighten BOTH dimensions substantially (16 files over a
    # 2D grid → each covers ~1/4 of each side for a perfect curve; allow
    # slack for range-partitioner sampling)
    assert z_x < 0.5, f"x not clustered: {z_x}"
    assert z_y < 0.5, f"y not clustered: {z_y}"
    # content unchanged
    assert spark.read.parquet(zord).count() == n


def test_single_key_range_by_still_tighter_on_its_key(spark, tmp_path):
    """Contrast: range_by clusters ONE key perfectly but leaves the other
    dimension unclustered — the gap zorder_by closes."""
    n = 40_000
    side = 200
    df = (spark.range(n)
          .selectExpr(f"CAST(id % {side} AS LONG) AS x",
                      f"CAST(CAST(id / {side} AS LONG) % {side} AS LONG) AS y"))
    rng = str(tmp_path / "ranged")
    write_file(df, {"path": rng, "repartition": 16, "range_by": ["x"]},
               "parquet")
    span = float(side - 1)
    assert _avg_range_fraction(rng, "x", span) < 0.15
    assert _avg_range_fraction(rng, "y", span) > 0.9


def test_rank_zorder_handles_skew(spark, tmp_path):
    """Power-law column: linear bucketing collapses most rows into one
    bucket (files span nearly the full domain of the OTHER column too,
    because the code carries no information); rank bucketing spreads by
    frequency and keeps both dimensions clustered."""
    n = 40_000
    df = (spark.range(n)
          .selectExpr(
              # x: heavy skew — 90% of rows in [0,10), long tail to 10k
              "CAST(CASE WHEN id % 10 < 9 THEN id % 10 "
              "     ELSE 10 + (id * 37) % 9990 END AS LONG) AS x",
              "CAST((id * 13) % 200 AS LONG) AS y"))
    ranked = str(tmp_path / "ranked")
    write_file(df, {"path": ranked, "repartition": 16,
                    "zorder_by": ["x", "y"], "zorder_bits": 6,
                    "zorder_method": "rank"}, "parquet")
    # y is uniform [0,200): rank-coded files must still cluster it
    assert _avg_range_fraction(ranked, "y", 199.0) < 0.6
    assert spark.read.parquet(ranked).count() == n
