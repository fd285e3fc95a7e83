"""Exact ppm arithmetic at corpus scale (datapipe.textstats._ppm_wide,
which ``collocations`` uses for its Dice ppm): checked against exact
Fraction round-half-up, against ``_ppm`` and against its DuckDB twin."""

from __future__ import annotations


def test_ppm_wide_exact_at_corpus_scale(spark):
    """_ppm_wide must stay exact where _ppm's formulation breaks:
    past double-exactness (num ~4.5e9) and past the int64 wrap of the
    2*num*1e6 intermediate (num ~4.6e12) — up to den ~4.6e15 (~18 PB
    of text). Checked against exact Fraction round-half-up, against
    _ppm on per-doc magnitudes, and against the DuckDB twin."""
    from fractions import Fraction

    import duckdb

    from openie_spark.datapipe.textstats import _ppm, _ppm_wide

    def _ppm_wide_sql(num: str, den: str) -> str:
        # DuckDB twin of _ppm_wide: the same BIGINT decomposition
        a = f"((({num}) * 1000) // ({den}))"
        ra = f"((({num}) * 1000) % ({den}))"
        return f"{a} * 1000 + (2 * {ra} * 1000 + ({den})) // (2 * ({den}))"

    cases = [
        # (num, den): small / per-doc magnitudes (must equal _ppm too)
        (0, 1), (1, 3), (2, 3), (1, 2), (499, 1000), (7, 7),
        (123_456, 1_000_000),
        # exact .5-ppm boundary at corpus scale: num*1e6/den = k + 1/2
        # with den = 4e15, num = (2k+1)*2e9, k = 123456 -> 123457
        ((2 * 123_456 + 1) * 2_000_000_000, 4_000_000_000_000_000),
        # past _ppm's double-exactness bound
        (5_000_000_000, 12_345_678_901),
        # past _ppm's int64 intermediate (2*num*1e6 wraps)
        (4_600_000_000_123, 9_200_000_000_246),
        # 100 TB design point: ~2.5e13-token corpus, dominant stratum
        (5_000_000_000_000, 25_000_000_000_000),
        (24_999_999_999_999, 25_000_000_000_000),
        # upper bound of the documented range
        (4_600_000_000_000_000, 4_600_000_000_000_000),
        (1, 4_600_000_000_000_000),
    ]

    def half_up(num, den):
        q = Fraction(num * 1_000_000, den)
        fl = q.numerator // q.denominator
        return fl + 1 if (q - fl) * 2 >= 1 else fl

    df = spark.createDataFrame(cases, "num long, den long")
    got = {(r.num, r.den): r.ppm for r in df.select(
        "num", "den", _ppm_wide("num", "den").alias("ppm")).collect()}
    for num, den in cases:
        assert got[(num, den)] == half_up(num, den), (num, den)

    # _ppm agreement on per-doc magnitudes (its documented safe range)
    import pyspark.sql.functions as F
    small = [(n, d) for n, d in cases if 2 * n * 1_000_000 + d < 2**53]
    sdf = spark.createDataFrame(small, "num long, den long")
    for r in sdf.select("num", "den",
                        _ppm(F.col("num"), F.col("den")).alias("a"),
                        _ppm_wide("num", "den").alias("b")).collect():
        assert r.a == r.b, (r.num, r.den)

    # DuckDB twin: same decomposition, same values
    con = duckdb.connect()
    for num, den in cases:
        (dk,) = con.execute(
            f"SELECT {_ppm_wide_sql(str(num), str(den))}").fetchone()
        assert int(dk) == half_up(num, den), (num, den)
