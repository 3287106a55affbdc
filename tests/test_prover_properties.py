"""Property-based soundness gate for the stats prover
(``sources/stats_prover.py``): for randomly generated predicates over
random row sets, the prover's verdicts must agree with SPARK'S OWN
evaluation —

- ``disjoint(ir, stats)``  ⟹  ``df.filter(expr)`` matches ZERO rows (a
  wrong prune is the data-loss class);
- ``proven(ir, stats)``  ⟹  ``(expr) IS FALSE`` matches zero rows (a
  wrong proof silently skips CHECK verification).

The prover may always answer inconclusive — only claims are checked,
exactly the one-sided soundness contract. Envelopes are built the way
``_file_stats`` builds them (min/max over non-null values, ISO strings
for time columns, ``__num_rows__``). The generator covers AND/OR/NOT
trees, BETWEEN, IN lists with and without NULL, backticked identifiers,
``--`` and ``/* */`` comments, string literals with embedded AND/OR
words and doubled-quote escapes, and timestamp / timestamp_ntz / date
columns compared with string literals. One example set runs under a
non-UTC session zone.

Examples are kept modest (Spark round trip per example); the generator
seeds are deterministic under hypothesis' derandomize so CI is stable.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nyc_taxi_data_pipeline_elt_spark.sources import stats_prover
from nyc_taxi_data_pipeline_elt_spark.sources.stats_prover import _stat_key

_SCHEMA = "v INT, s STRING, w INT, ts TIMESTAMP, tn TIMESTAMP_NTZ, d DATE"
_INTS = st.integers(min_value=-50, max_value=50)
_WORDS = st.sampled_from(
    ["a", "zz", "m", "AND", "OR", "x AND y", "n''t", "-- hmm", "it''s"]
)
_DAYS = st.integers(min_value=1, max_value=9)
_HOURS = st.sampled_from([0, 12, 23])
_OPS = st.sampled_from([">", ">=", "<", "<=", "="])


@st.composite
def _time_lit(draw):
    day = draw(_DAYS)
    if draw(st.booleans()):
        return f"'2023-01-0{day}'"
    return f"'2023-01-0{day} {draw(_HOURS):02d}:00:00'"


@st.composite
def _leaf(draw):
    col = draw(st.sampled_from(["v", "s", "w", "ts", "tn", "d"]))
    ref = f"`{col}`" if draw(st.booleans()) else col
    shape = draw(st.sampled_from(["cmp", "between", "in"]))
    if col == "s":
        lit = st.builds(lambda w: f"'{w}'", _WORDS)
    elif col in ("ts", "tn", "d"):
        lit = _time_lit()
    else:
        lit = st.builds(str, _INTS)
    if shape == "between":
        a, b = draw(lit), draw(lit)
        return f"{ref} BETWEEN {a} AND {b}"
    if shape == "in":
        items = draw(st.lists(lit, min_size=1, max_size=3))
        if draw(st.integers(0, 3)) == 0:
            items.append("NULL")
        neg = "NOT " if draw(st.booleans()) else ""
        return f"{ref} {neg}IN ({', '.join(items)})"
    return f"{ref} {draw(_OPS)} {draw(lit)}"


@st.composite
def _tree(draw, depth=0):
    if depth >= 3 or draw(st.integers(0, 2)) == 0:
        e = draw(_leaf())
    else:
        a = draw(_tree(depth=depth + 1))
        b = draw(_tree(depth=depth + 1))
        kw = draw(st.sampled_from(["AND", "OR", "and /* c */", "OR"]))
        e = f"({a}) {kw} ({b})" if draw(st.booleans()) else f"{a} {kw} {b}"
    if draw(st.integers(0, 4)) == 0:
        e = f"NOT ({e})"
    return e


@st.composite
def _expr(draw):
    e = draw(_tree())
    # a trailing line comment ends at its newline, so callers can still
    # wrap the expression
    return e + " -- end\n" if draw(st.booleans()) else e


_ROW = st.tuples(
    st.one_of(st.none(), _INTS),
    st.one_of(st.none(), _WORDS),
    st.one_of(st.none(), st.tuples(_DAYS, _HOURS)),
)
_ROWS = st.lists(_ROW, min_size=0, max_size=5)


def _typed(rows):
    """Generated rows -> (v, s, w, ts, tn, d) tuples: ts as an aware UTC
    instant, tn as the same wall time, d as its date."""
    out = []
    for v, s, t in rows:
        wall = None if t is None else dt.datetime(2023, 1, t[0], t[1])
        out.append((
            v,
            s,
            None,
            None if wall is None else wall.replace(tzinfo=dt.timezone.utc),
            wall,
            None if wall is None else wall.date(),
        ))
    return out


def _stats_of(typed):
    out = {"__num_rows__": len(typed)}
    for i, name, key in (
        (0, "v", None),
        (1, "s", None),
        (3, "ts", _stat_key),
        (4, "tn", dt.datetime.isoformat),
        (5, "d", dt.date.isoformat),
    ):
        vals = [r[i] for r in typed if r[i] is not None]
        if vals:
            lo, hi = min(vals), max(vals)
            out[name] = [key(lo), key(hi)] if key else [lo, hi]
    return out


def _check(spark, rows, expr):
    typed = _typed(rows)
    fstats = _stats_of(typed)
    ir = stats_prover.resolve(spark, expr, _SCHEMA)
    disjoint = stats_prover.disjoint(ir, fstats)
    proven = stats_prover.proven(ir, fstats)
    if not disjoint and not proven:
        return  # inconclusive both ways: nothing claimed, nothing to check
    # w is an all-NULL column: the "evolution-added column no file
    # holds" case — predicates on it resolve to NULL and it never gets
    # a stats envelope
    df = spark.createDataFrame(typed or [(None,) * 6], _SCHEMA)
    if not typed:
        df = df.limit(0)
    if disjoint:
        n = df.filter(expr).count()
        assert n == 0, (
            f"UNSOUND PRUNE: {expr!r} claimed disjoint from {fstats} "
            f"but matches {n} of {typed}"
        )
    if proven:
        n = df.filter(f"({expr}) IS FALSE").count()
        assert n == 0, (
            f"UNSOUND PROOF: {expr!r} claimed proven over {fstats} "
            f"but is FALSE for {n} of {typed}"
        )


_SETTINGS = dict(
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


@settings(max_examples=60, **_SETTINGS)
@given(rows=_ROWS, expr=_expr())
def test_prover_claims_agree_with_spark(spark, rows, expr):
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    _check(spark, rows, expr)


@settings(max_examples=25, **_SETTINGS)
@given(rows=_ROWS, expr=_expr())
def test_prover_claims_agree_with_spark_non_utc(spark, rows, expr):
    """The same contract under America/New_York, where Catalyst coerces
    the time literals in the session zone (conf restored per example)."""
    from nyc_taxi_data_pipeline_elt_spark.session import tune

    tune(spark)
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        _check(spark, rows, expr)
    finally:
        spark.conf.set(key, old)
