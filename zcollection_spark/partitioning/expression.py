"""Partition-filter expression language.

Same grammar as the reference (``/root/reference/zcollection/partitioning/
expression.py:27-84,166-184``): a typed ``ast`` subset — ``== != < <= > >=
in not-in and or not``, chained comparisons, int/str literals,
tuple/list/set literals, bare key names.  Everything else (arithmetic,
calls, attributes) is rejected at compile time with ``ExpressionError``.

Compilation emits TWO artifacts from one walk:

- a Python closure over a ``{key: value}`` dict for driver-side catalog
  pruning (evaluating the predicate against decoded partition paths before
  Spark ever lists data files — the reference's plan, re-used as a
  listing-time optimization);
- a ``pyspark.sql.Column`` so the same predicate is ALSO applied in the
  DataFrame plan, letting Catalyst prune at the source when the catalog is
  absent, and keeping correctness independent of the driver-side fast path.

Quirk Q7 preserved: an unknown key name raises ``ExpressionError`` only when
the predicate is first *evaluated*, not at compile time.
"""

from __future__ import annotations

import ast
import operator
from typing import Any, Callable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import ExpressionError

_CMP_OPS: dict[type, Callable[[Any, Any], bool]] = {
    ast.Eq: operator.eq, ast.NotEq: operator.ne,
    ast.Lt: operator.lt, ast.LtE: operator.le,
    ast.Gt: operator.gt, ast.GtE: operator.ge,
}


class Predicate:
    """A compiled partition predicate."""

    def __init__(self, expr: str | None, fn: Callable[[Mapping[str, Any]], bool],
                 column_factory: Callable[[], Column], names: frozenset[str]):
        self.expr = expr
        self._fn = fn
        self._column_factory = column_factory
        #: key names referenced by the expression
        self.names = names

    def evaluate(self, key: Mapping[str, Any]) -> bool:
        """Evaluate against a decoded partition-key dict."""
        return self._fn(key)

    def to_column(self) -> Column:
        """The same predicate as a Catalyst expression."""
        return self._column_factory()

    def __repr__(self) -> str:
        return f"Predicate({self.expr!r})"


def _tautology() -> Predicate:
    return Predicate(None, lambda key: True, lambda: F.lit(True),
                     frozenset())


def _literal(node: ast.expr, allow_float: bool = False) -> Any:
    """Int/str scalar literals plus tuple/list/set containers thereof.
    ``allow_float`` admits float scalars — used by the data-column
    ``where`` grammar only; partition filters keep the reference's
    int/str rule (rejection of ``month == 1.5`` is a pinned quirk)."""
    types = (int, float, str) if allow_float else (int, str)
    if isinstance(node, ast.Constant) and isinstance(node.value, types) \
            and not isinstance(node.value, bool):
        return node.value
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return tuple(_literal(elt, allow_float) for elt in node.elts)
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub) \
            and isinstance(node.operand, ast.Constant) \
            and isinstance(node.operand.value, types) \
            and not isinstance(node.operand.value, str):
        return -node.operand.value
    raise ExpressionError(
        f"unsupported literal at line {node.lineno}: only int/str scalars "
        f"and tuple/list/set containers are allowed")


def _operand(node: ast.expr, allow_float: bool = False):
    """Returns (eval_fn(key)->value, column_fn()->Column)."""
    if isinstance(node, ast.Name):
        name = node.id

        def ev(key: Mapping[str, Any], _name=name) -> Any:
            try:
                return key[_name]
            except KeyError:
                raise ExpressionError(
                    f"unknown partition key {_name!r}") from None
        return ev, lambda _name=name: F.col(_name)
    value = _literal(node, allow_float)

    def ev_lit(key: Mapping[str, Any], _v=value) -> Any:
        return _v
    # a literal stays a Python value: a Column operator lifts it on the
    # JVM side, one round trip fewer per comparison than F.lit
    return ev_lit, lambda _v=value: _v


def _as_column(value: Any) -> Column:
    return value if isinstance(value, Column) else F.lit(value)


def _compare(node: ast.Compare, allow_float: bool = False):
    """Chained comparison a < b <= c → (a<b) and (b<=c); in / not in."""
    operands = [node.left, *node.comparators]
    parts_fn: list[Callable[[Mapping[str, Any]], bool]] = []
    parts_col: list[Callable[[], Column]] = []
    for left, op, right in zip(operands, node.ops, operands[1:]):
        lf, lc = _operand(left, allow_float)
        if isinstance(op, (ast.In, ast.NotIn)):
            container = _literal(right, allow_float)
            if not isinstance(container, tuple):
                raise ExpressionError(
                    "right side of 'in' must be a tuple/list/set literal")
            negate = isinstance(op, ast.NotIn)

            def ev(key, _lf=lf, _c=container, _n=negate):
                return (_lf(key) not in _c) if _n else (_lf(key) in _c)

            def col(_lc=lc, _c=container, _n=negate):
                expr = _as_column(_lc()).isin(*_c)
                return ~expr if _n else expr
            parts_fn.append(ev)
            parts_col.append(col)
            continue
        op_type = type(op)
        if op_type not in _CMP_OPS:
            raise ExpressionError(
                f"unsupported comparison operator {op_type.__name__}")
        rf, rc = _operand(right, allow_float)
        py_op = _CMP_OPS[op_type]

        def ev(key, _lf=lf, _rf=rf, _op=py_op):
            return _op(_lf(key), _rf(key))

        def col(_lc=lc, _rc=rc, _op=py_op):
            # Column overloads the comparison operators: build only the
            # one asked for (each is a JVM round trip)
            return _op(_as_column(_lc()), _rc())
        parts_fn.append(ev)
        parts_col.append(col)

    def ev_all(key, _parts=tuple(parts_fn)):
        return all(p(key) for p in _parts)

    def col_all(_parts=tuple(parts_col)):
        out = _parts[0]()
        for p in _parts[1:]:
            out = out & p()
        return out
    return ev_all, col_all


def _walk(node: ast.expr, allow_float: bool = False):
    if isinstance(node, ast.BoolOp):
        parts = [_walk(v, allow_float) for v in node.values]
        if isinstance(node.op, ast.And):
            def ev(key, _p=tuple(parts)):
                return all(f(key) for f, _ in _p)

            def col(_p=tuple(parts)):
                out = _p[0][1]()
                for _, c in _p[1:]:
                    out = out & c()
                return out
        else:
            def ev(key, _p=tuple(parts)):
                return any(f(key) for f, _ in _p)

            def col(_p=tuple(parts)):
                out = _p[0][1]()
                for _, c in _p[1:]:
                    out = out | c()
                return out
        return ev, col
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not):
        inner_fn, inner_col = _walk(node.operand, allow_float)
        return (lambda key, _f=inner_fn: not _f(key)), \
               (lambda _c=inner_col: ~_c())
    if isinstance(node, ast.Compare):
        return _compare(node, allow_float)
    if isinstance(node, ast.Constant) and isinstance(node.value, bool):
        val = node.value
        return (lambda key, _v=val: _v), (lambda _v=val: F.lit(_v))
    raise ExpressionError(
        f"unsupported expression node {type(node).__name__} — the filter "
        f"language allows comparisons, in/not-in, and/or/not only")


def _collect_names(tree: ast.AST) -> frozenset[str]:
    return frozenset(n.id for n in ast.walk(tree)
                     if isinstance(n, ast.Name))


def compile_filter(expr: str | None, *,
                   allow_float: bool = False) -> Predicate:
    """Compile a filter string, or return a tautology for ``None``.

    ``allow_float=True`` is the data-column (``where``) dialect; the
    partition-key dialect stays int/str-only for reference parity."""
    if expr is None or expr.strip() == "":
        return _tautology()
    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as exc:
        raise ExpressionError(f"invalid filter syntax: {exc}") from None
    fn, col = _walk(tree.body, allow_float)
    return Predicate(expr, fn, col, _collect_names(tree))
