"""Property-based equivalence (hypothesis) of the two forms of the
spatial predicate builders: given column names, ``in_range``,
``in_circle_range`` and ``dist2`` parse one SQL expression; given
Columns, they chain Column ops. Both must select the same rows and yield
the same doubles, bit for bit, on extreme and special doubles (±inf,
NaN, -0.0, subnormals, the largest finite double), null coordinates and
names that only work backquoted."""

import math

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simba_spark.functions import _sql_names, dist2, in_circle_range, in_range

SPECIAL = [0.0, -0.0, 1.0, -1.5, math.inf, -math.inf, math.nan, 5e-324,
           -5e-324, 2.2250738585072014e-308, 1e-300, 1e300,
           1.7976931348623157e308, -1.7976931348623157e308]
# plus same-magnitude values with full mantissas (hypothesis favours
# round floats, whose sums are exact), where a sum's association shows
dbl = st.one_of(st.sampled_from(SPECIAL), st.floats(),
                st.integers(-10**6, 10**6).map(lambda i: i / 997))
coord = st.one_of(st.none(), dbl)
point = st.tuples(dbl, dbl, dbl)
rows = st.lists(st.tuples(coord, coord, coord), min_size=1, max_size=12)
# names a bare SQL identifier could not carry: a space, a keyword, a
# leading digit, a comma, a hyphen, non-ASCII
names = st.sampled_from([("x", "y", "z"), ("x y", "select", "2nd"),
                         ("a,b", "ü-1", "from")])

SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SETTINGS
@given(rows, names, st.integers(min_value=2, max_value=3), point, point,
       point, dbl)
def test_sql_text_builders_match_column_builders(spark, pts, cols, d, lo,
                                                 hi, center, radius):
    """d = 3 pins the left fold of dist2: a different association of
    its three terms rounds differently."""
    data = {"id": list(range(len(pts)))}
    for i, c in enumerate(cols):
        data[c] = [p[i] for p in pts]
    df = spark.createDataFrame(pa.table(data))
    named = list(cols[:d])
    as_cols = [F.col(c) for c in named]
    lo, hi, center = lo[:d], hi[:d], center[:d]
    assert _sql_names(named) is not None and _sql_names(as_cols) is None
    out = df.select(
        "id",
        in_range(named, lo, hi).alias("r_sql"),
        in_range(as_cols, lo, hi).alias("r_col"),
        in_circle_range(named, center, radius).alias("c_sql"),
        in_circle_range(as_cols, center, radius).alias("c_col"),
        dist2(named, center).alias("d_sql"),
        dist2(as_cols, center).alias("d_col"),
    ).collect()
    # repr is a value's exact identity here: it tells -0.0 from 0.0 and
    # NaN from everything, and keeps None and booleans apart
    for r in out:
        for a, b in (("r_sql", "r_col"), ("c_sql", "c_col"),
                     ("d_sql", "d_col")):
            assert repr(r[a]) == repr(r[b]), (r, a)
    # and as filters: the same rows survive
    for sql_pred, col_pred in (
        (in_range(named, lo, hi), in_range(as_cols, lo, hi)),
        (in_circle_range(named, center, radius),
         in_circle_range(as_cols, center, radius)),
    ):
        assert sorted(r.id for r in df.filter(sql_pred).collect()) == \
            sorted(r.id for r in df.filter(col_pred).collect())


def test_names_parsed_as_paths_keep_the_column_path():
    """``F.col`` reads a dot as a struct path and backquotes as quoting;
    such names keep the Column builders, whose meaning they already had."""
    assert _sql_names(["a.b", "y"]) is None
    assert _sql_names(["`x`", "y"]) is None
    assert _sql_names(["x", "y"]) == ["`x`", "`y`"]
