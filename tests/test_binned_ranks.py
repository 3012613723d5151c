"""``binned_ranks`` (operators/aggregates.py) against a pure-Python sort.

The exact median, quantile, trimmed-mean, VaR, IQR and NTILE queries all
rank through this one kernel, so its ranks must equal the positions of a
plain sort for any group shape: ties, a constant group (zero value
span), a one-row group, groups of unequal size, and the first and last
rank of a group.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sigma_rx7_spark.operators.aggregates import binned_ranks

_SETTINGS = settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)

# A few repeated values force ties inside one bin; wide floats spread a
# group over many bins. ``+ 0.0`` folds -0.0 into 0.0.
_VALUE = st.one_of(
    st.sampled_from([-2.5, 0.0, 1.0, 3.25, 1e6]),
    st.floats(-100, 100, allow_nan=False, allow_subnormal=False)
    .map(lambda x: x + 0.0))
_GROUPS = st.dictionaries(st.sampled_from("abcd"),
                          st.lists(_VALUE, min_size=1, max_size=12),
                          min_size=1, max_size=4)


@_SETTINGS
@given(groups=_GROUPS)
@example(groups={"const": [2.0, 2.0, 2.0], "one": [5.0],
                 "ties": [1.0, 3.0, 1.0, 3.0, 1.0, 2.0, 9.0]})
def test_binned_ranks_match_python_sort(spark, groups):
    rows = [(g, v, i) for i, (g, v) in enumerate(
        (g, v) for g, vals in sorted(groups.items()) for v in vals)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    by_group: dict = {}
    for g, v, i in rows:
        by_group.setdefault(g, []).append((v, i))
    for g in by_group:
        by_group[g].sort()

    # every row: rank under (value, tiebreak) within its group
    got = {r.id: (r.rk, r.n) for r in binned_ranks(
        df, ["g"], "v", tiebreak="id").collect()}
    want = {i: (pos + 1, len(srt)) for srt in by_group.values()
            for pos, (_, i) in enumerate(srt)}
    assert got == want

    # rank select: ranks 1, n and the lower median, one row per target
    # even when targets coincide (n = 1, 2) or share a bin
    hits = binned_ranks(df, ["g"], "v", [
        F.lit(1), F.col("n"), F.expr("(n + 1) div 2")]).collect()
    got = sorted((r.g, r.t, r.v, r.n) for r in hits)
    want = sorted((g, t, srt[rk - 1][0], len(srt))
                  for g, srt in by_group.items()
                  for t, rk in enumerate(
                      [1, len(srt), (len(srt) + 1) // 2]))
    assert got == want
