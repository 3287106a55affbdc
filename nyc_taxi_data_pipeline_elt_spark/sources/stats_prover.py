"""File skipping from manifest stats, with Catalyst as the only parser.

- :func:`resolve` hands a predicate (SQL text or the ``Column`` the
  row-level path filters with) to Catalyst once and turns the optimized
  expression into a tiny IR; :func:`probe_ir` builds the same IR from
  Python-valued conjuncts (merge key range, Data Source pushed filters).
- :func:`outcomes` evaluates the IR over one file's ``[min, max]``
  envelopes: the SQL truth values its rows could take, a subset of
  ``{True, False, None}``. A file is *disjoint* when TRUE is impossible
  and a CHECK is *proven* when FALSE is impossible (NULL passes a
  CHECK). A node outside the IR is unknown: all three are possible.
- :func:`env_key` puts envelopes and Python probes in the comparison
  domain of the column's Spark type (timestamps as epoch micros, dates
  as epoch days), the domain Catalyst's literals arrive in.

Everything but :func:`resolve` runs without a session: the Data Source
evaluates pushed filters in a Python worker.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import struct

_ANY = frozenset((True, False, None))
UNKNOWN = ("unknown",)

#: IR depth past which a subtree is read as UNKNOWN, so a pathological
#: predicate is inconclusive instead of a RecursionError in DML planning
MAX_DEPTH = 64

_INTEGRAL = frozenset("byte tinyint short smallint integer int long bigint".split())
_EPOCH = _dt.datetime(1970, 1, 1)
_MICRO = _dt.timedelta(microseconds=1)
_CMP = dict(LessThan="<", LessThanOrEqual="<=", EqualTo="=",
            GreaterThanOrEqual=">=", GreaterThan=">")
_FLIP = {"<": ">", "<=": ">=", "=": "=", ">=": "<=", ">": "<"}
_DATETIME = frozenset(("date", "timestamp", "timestamp_ntz"))
_KINDS = {"double": (int, float), "float": (int, float), "string": (str,),
          "boolean": (bool,)}
#: JSON literal text -> Python value, per Catalyst type name
_PARSE = {**dict.fromkeys(_INTEGRAL, int), "double": float, "float": float,
          "boolean": lambda t: t == "true", "string": str}


class _AmbiguousLocalTime(TypeError):
    """A naive datetime in a DST-ambiguous or nonexistent OS-local hour:
    its two fold readings are different instants and pyspark may pick
    either. A TypeError, so key conversion reads it as unknown."""


def _stat_key(v):
    """A Python value in the manifest's envelope form: datetimes and
    dates as ISO-8601 strings (instants UTC-naive), the rest as is.
    NAIVE datetimes are OS-local wall time, pyspark's collect/lit
    contract for TimestampType whatever the session zone."""
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            a = v.replace(fold=0).astimezone(_dt.timezone.utc)
            b = v.replace(fold=1).astimezone(_dt.timezone.utc)
            if a != b:
                raise _AmbiguousLocalTime(
                    f"naive datetime {v.isoformat()} falls in a "
                    "DST-ambiguous or nonexistent OS-local hour"
                )
            v = a
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def _probe_key(v, ntz: bool):
    """:func:`_stat_key` for a column with the given timestamp
    semantics, None for a DST-ambiguous zoned probe. NTZ values are WALL
    times: an aware one (the pushdown worker tags NTZ literals with the
    session zone) drops its tag, keeping the wall reading."""
    if ntz and isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    try:
        return _stat_key(v)
    except _AmbiguousLocalTime:
        return None


def env_key(dtype: str, v):
    """``v`` (envelope bound, legacy footer value or Python probe) as a
    key for a column of Spark type ``dtype`` — from the schema, never
    guessed from the value. TypeError/ValueError when there is none
    (wrong family, NaN, ambiguous local time): callers read unknown."""
    if dtype in ("timestamp", "timestamp_ntz"):
        d = _dt.datetime.fromisoformat(_probe_key(v, dtype == "timestamp_ntz"))
        if d.tzinfo is not None:
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (d - _EPOCH) // _MICRO
    if dtype == "date":
        if isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        if type(v) is not _dt.date:
            raise TypeError(f"not a date: {v!r}")
        return (v - _EPOCH.date()).days
    kinds = _KINDS.get(dtype, (int,) if dtype in _INTEGRAL else ())
    if type(v) not in kinds:
        raise TypeError(f"no {dtype} stats key for {v!r}")
    if v != v:
        raise ValueError("NaN has no envelope order")
    if dtype == "float":  # Spark compares FLOAT columns in float32
        return struct.unpack("f", struct.pack("f", v))[0]
    return v


# ------------------------------------------------------------------ IR


def resolve(spark, predicate, schema) -> tuple:
    """IR of ``predicate`` resolved by Catalyst against ``schema`` (DDL
    or StructType). A projection over an empty frame, not a filter: a
    Filter gains inferred ``isnotnull`` conjuncts, wrong for a CHECK.
    Analysis and cast errors propagate, as from the row-level filter."""
    from pyspark.sql import Column
    from pyspark.sql.functions import expr

    col = predicate if isinstance(predicate, Column) else expr(predicate)
    plan = (
        _empty_frame(spark, schema)
        .select(col.alias("c"))
        ._jdf.queryExecution()
        .optimizedPlan()
    )
    nodes = json.loads(plan.toJSON())[0]["projectList"][0]  # [Alias, ...]
    return _Reader(spark, nodes, plan.expressions().apply(0)).ir(1, (0,), 0)


@functools.lru_cache(maxsize=16)
def _empty_frame(spark, schema):
    """An empty frame of ``schema``, reused across resolves: building it
    costs more than resolving over it. Each ``select`` is analyzed anew,
    so literals still coerce under the session's current zone."""
    return spark.createDataFrame([], schema)


def _kind(node: dict) -> str:
    return node["class"].rsplit(".", 1)[1]


def _skip(nodes: list, i: int) -> int:
    """Index just past the pre-order subtree rooted at ``nodes[i]``."""
    need = 1
    while need:
        need += nodes[i]["num-children"] - 1
        i += 1
    return i


class _Reader:
    """An optimized expression's pre-order JSON nodes -> IR. The JVM
    tree (``jroot``) is read only where the JSON is inexact: datetime
    literals (a zoned timestamp renders as a session-zone wall string)
    and InSet members (not rendered)."""

    def __init__(self, spark, nodes: list, jroot):
        self.spark, self.nodes, self.jroot = spark, nodes, jroot

    def _java(self, path: tuple):
        j = self.jroot
        for k in path:
            j = j.children().apply(k)
        return j

    def _attr(self, i: int):
        node = self.nodes[i]
        if _kind(node) != "AttributeReference":
            return None
        return node["name"], node["dataType"]

    def _lit(self, i: int, path: tuple):
        node = self.nodes[i]
        if _kind(node) != "Literal":
            raise TypeError("not a literal")
        if node["value"] is None:
            return None
        if node["dataType"] in _DATETIME:
            return self._java(path).value()  # epoch days / micros
        return env_key(node["dataType"], _PARSE[node["dataType"]](node["value"]))

    def ir(self, i: int, path: tuple, depth: int) -> tuple:
        if depth > MAX_DEPTH:
            return UNKNOWN
        node, kind = self.nodes[i], _kind(self.nodes[i])
        kids, j = [], i + 1
        for _ in range(node["num-children"]):
            kids.append(j)
            j = _skip(self.nodes, j)
        if kind in ("And", "Or", "Not"):
            return (kind.lower(),) + tuple(
                self.ir(k, path + (n,), depth + 1) for n, k in enumerate(kids)
            )
        try:
            if kind == "Literal" and node["dataType"] == "boolean":
                return ("const", self._lit(i, path))
            if kind == "AttributeReference" and node["dataType"] == "boolean":
                return ("cmp", "=", node["name"], "boolean", True)
            if kind in _CMP:
                (a, b), op, pos = kids, _CMP[kind], 1
                if self._attr(b) and not self._attr(a):
                    a, b, op, pos = b, a, _FLIP[op], 0
                return ("cmp", op) + self._attr(a) + (self._lit(b, path + (pos,)),)
            if kind == "In":
                keys = [self._lit(k, path + (n,)) for n, k in enumerate(kids[1:], 1)]
                return ("cmp", "in") + self._attr(kids[0]) + (tuple(keys),)
            if kind == "InSet":
                name, dtype = self._attr(kids[0])
                conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
                keys = [  # Catalyst's internal values: days, micros, UTF8String
                    v if v is None or dtype in _DATETIME
                    else env_key(dtype, str(v) if dtype == "string" else v)
                    for v in conv.asJava(self._java(path).hset())
                ]
                return ("cmp", "in", name, dtype, tuple(keys))
        except (TypeError, ValueError, KeyError):
            pass  # a Cast operand, an unsupported type, NaN: unknown
        return UNKNOWN


def probe_ir(conjuncts) -> tuple:
    """IR of a conjunction of Python-valued ``(col, op, value, dtype)``
    filters, ``op`` one of ``< <= = >= > in``. A value with no key or a
    None ``dtype`` makes its conjunct unknown."""

    def leaf(col, op, value, dtype):
        try:
            key = (
                tuple(env_key(dtype, v) for v in value)
                if op == "in"
                else env_key(dtype, value)
            )
        except (TypeError, ValueError):
            return UNKNOWN
        return ("cmp", op, col, dtype, key)

    return ("and",) + tuple(leaf(*c) for c in conjuncts)


# ----------------------------------------------------------- evaluation

#: SQL truth order: AND is the min, OR the max, NOT the mirror
_RANK = {False: 0, None: 1, True: 2}.__getitem__


def _leaf(op: str, col: str, dtype: str, k, fstats: dict) -> frozenset:
    """Truth values ``col op k`` can take over the file's envelope.
    NULL is always possible: the manifest records no null counts. A
    string equality is never proven: Parquet may truncate string
    bounds, so ``lo == hi`` does not pin every value."""
    if k is None:
        return frozenset((None,))
    env = fstats.get(col)
    try:
        lo, hi = env_key(dtype, env[0]), env_key(dtype, env[1])
    except (TypeError, ValueError, IndexError, KeyError):
        return _ANY  # no envelope, or not of this type
    exact = dtype != "string" and lo == hi
    if op == "in":
        vals = [v for v in k if v is not None]
        t = any(lo <= v <= hi for v in vals)
        f = len(vals) == len(k) and not (exact and lo in vals)
    else:
        t, f = {
            "<": (lo < k, hi >= k),
            "<=": (lo <= k, hi > k),
            ">": (hi > k, lo <= k),
            ">=": (hi >= k, lo < k),
            "=": (lo <= k <= hi, not (exact and lo == k)),
        }[op]
    return frozenset(v for v, ok in ((True, t), (False, f), (None, True)) if ok)


def _eval(ir: tuple, fstats: dict) -> frozenset:
    kind = ir[0]
    if kind in ("and", "or"):
        comb = min if kind == "and" else max
        acc = frozenset((kind == "and",))
        for sub in ir[1:]:
            s = _eval(sub, fstats)
            acc = frozenset(comb(a, b, key=_RANK) for a in acc for b in s)
        return acc
    if kind == "not":
        return frozenset(None if v is None else not v for v in _eval(ir[1], fstats))
    if kind == "const":
        return frozenset((ir[1],))
    if kind == "cmp":
        return _leaf(*ir[1:], fstats)
    return _ANY


def outcomes(ir: tuple, fstats: dict) -> frozenset:
    """The SQL truth values ``ir`` can take on the rows of a file with
    manifest stats ``fstats``. A zero-row file takes none."""
    if fstats.get("__num_rows__") == 0:
        return frozenset()
    return _eval(ir, fstats)


def disjoint(ir: tuple, fstats: dict) -> bool:
    """No row of the file can match ``ir`` (TRUE is impossible)."""
    return True not in outcomes(ir, fstats)


def proven(ir: tuple, fstats: dict) -> bool:
    """Every row of the file passes CHECK ``ir`` (FALSE is impossible)."""
    return False not in outcomes(ir, fstats)
