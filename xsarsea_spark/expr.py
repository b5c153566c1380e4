"""Dual-compile symbolic expressions.

The engine's scientific functions (GMFs, angle conventions, cost
functions) are defined ONCE as small symbolic trees, then compiled to:

- a Spark SQL expression string (``Expr.sql()``) usable with
  ``F.expr(...)`` — stays JVM-side inside whole-stage codegen (the fast
  path: no Python UDF for any analytic formula);
- the *same* SQL string runnable by DuckDB (the correctness oracle);
- a NumPy evaluation (``Expr.ev(env)``) for LUT materialization and for
  the Arrow/pandas kernels of operators that genuinely need them
  (per-pixel LUT argmin inversion).

Only functions with identical names and semantics in Spark SQL *and*
DuckDB are emitted: ``power exp ln log10 sqrt tanh sin cos atan2
radians degrees abs floor ceil least greatest round`` plus arithmetic
and ``CASE WHEN``. Float literals are always emitted in scientific
notation (``4e-3``): both Spark and DuckDB parse bare decimal literals
(``0.004``) as DECIMAL, which would silently switch the arithmetic to
decimal; exponent notation forces DOUBLE in both engines.

Reference parity note: this replaces the reference's
numba-JIT-of-scalar-Python approach (xsarsea ``windspeed/gmfs.py:174-264``)
with Catalyst whole-stage codegen over the same mathematical content.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "Expr",
    "var",
    "lit",
    "double_lit",
    "spark_str_lit",
    "where",
    "exp",
    "ln",
    "log10",
    "power",
    "sqrt",
    "tanh",
    "sin",
    "cos",
    "atan2",
    "radians",
    "degrees",
    "floor",
    "least",
    "greatest",
]


def double_lit(v: float) -> str:
    """SQL text for ``v`` that both Spark and DuckDB parse as DOUBLE.

    Finite values keep ``repr``'s shortest round-trip digits in exponent
    form (``0.004`` -> ``0.004e0``); NaN and +-inf get the forms that
    both engines evaluate without an ANSI-mode error."""
    if v != v:  # NaN (CAST form: 0e0/0e0 throws under Spark ANSI mode)
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "(1e308*10)" if v > 0 else "(-1e308*10)"
    r = repr(float(v))
    if "e" in r or "E" in r:
        return r
    # '0.004' -> '0.004e0', '40.0' -> '40.0e0' : exponent => DOUBLE in both
    return r + "e0"


def spark_str_lit(s: str) -> str:
    """Spark SQL string literal holding exactly ``s``.

    Spark's parser reads backslash escapes (``\\b``, ``\\n``,
    ``\\u0041``) inside quotes, so ``\\`` is doubled before ``'`` is.
    Spark-only: DuckDB reads backslashes literally, so its literals
    double ``'`` alone."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _as_expr(x) -> "Expr":
    if isinstance(x, Expr):
        return x
    if isinstance(x, bool):
        raise TypeError("use comparison nodes, not python bools")
    if isinstance(x, (int, np.integer)):
        return Lit(int(x), is_int=True)
    if isinstance(x, (float, np.floating)):
        return Lit(float(x), is_int=False)
    raise TypeError(f"cannot lift {type(x)} into Expr")


class Expr:
    """Base symbolic node. Immutable; supports operator overloading."""

    def sql(self) -> str:
        raise NotImplementedError

    def ev(self, env: dict):
        """Evaluate with NumPy over a dict of input arrays/scalars."""
        raise NotImplementedError

    # arithmetic -----------------------------------------------------
    def __add__(self, o):
        return Bin("+", self, _as_expr(o))

    def __radd__(self, o):
        return Bin("+", _as_expr(o), self)

    def __sub__(self, o):
        return Bin("-", self, _as_expr(o))

    def __rsub__(self, o):
        return Bin("-", _as_expr(o), self)

    def __mul__(self, o):
        return Bin("*", self, _as_expr(o))

    def __rmul__(self, o):
        return Bin("*", _as_expr(o), self)

    def __truediv__(self, o):
        return Bin("/", self, _as_expr(o))

    def __rtruediv__(self, o):
        return Bin("/", _as_expr(o), self)

    def __pow__(self, o):
        return Call("power", [self, _as_expr(o)])

    def __rpow__(self, o):
        return Call("power", [_as_expr(o), self])

    def __neg__(self):
        return Bin("-", Lit(0.0), self)

    # comparisons (return boolean nodes usable in where()) -----------
    def __lt__(self, o):
        return Cmp("<", self, _as_expr(o))

    def __le__(self, o):
        return Cmp("<=", self, _as_expr(o))

    def __gt__(self, o):
        return Cmp(">", self, _as_expr(o))

    def __ge__(self, o):
        return Cmp(">=", self, _as_expr(o))


class Lit(Expr):
    def __init__(self, v, is_int: bool = False):
        self.v = v
        self.is_int = is_int

    def sql(self) -> str:
        return str(self.v) if self.is_int else double_lit(self.v)

    def ev(self, env):
        return self.v


class Var(Expr):
    def __init__(self, name: str):
        self.name = name

    def sql(self) -> str:
        return self.name

    def ev(self, env):
        return env[self.name]


class Bin(Expr):
    def __init__(self, op: str, a: Expr, b: Expr):
        self.op, self.a, self.b = op, a, b

    def sql(self) -> str:
        return f"({self.a.sql()} {self.op} {self.b.sql()})"

    def ev(self, env):
        a, b = self.a.ev(env), self.b.ev(env)
        if self.op == "+":
            return a + b
        if self.op == "-":
            return a - b
        if self.op == "*":
            return a * b
        if self.op == "/":
            return a / b
        raise ValueError(self.op)


def _tanh_formula(x):
    # tanh via 1 - 2/(exp(2x)+1): same closed form is emitted as SQL for
    # both Spark and DuckDB (DuckDB 1.0 has no tanh builtin); saturates
    # cleanly to +/-1 instead of inf/inf -> NaN at extreme arguments.
    return 1.0 - 2.0 / (np.exp(2.0 * x) + 1.0)


_NP_FUNCS = {
    "power": np.power,
    "exp": np.exp,
    "ln": np.log,
    "log10": np.log10,
    "sqrt": np.sqrt,
    "tanh": _tanh_formula,
    "sin": np.sin,
    "cos": np.cos,
    "atan2": np.arctan2,
    # radians/degrees as literal multiplications: JVM Math.toRadians is
    # x/180*pi while DuckDB/NumPy differ in association — a fixed
    # precomputed factor keeps all backends bit-identical.
    "radians": lambda x: x * 0.017453292519943295,
    "degrees": lambda x: x * 57.29577951308232,
    "abs": np.abs,
    "floor": np.floor,
    "ceil": np.ceil,
    "least": np.minimum,
    "greatest": np.maximum,
}


class Call(Expr):
    def __init__(self, fn: str, args: list):
        self.fn = fn
        self.args = [_as_expr(a) for a in args]

    def sql(self) -> str:
        if self.fn == "tanh":
            x = self.args[0].sql()
            return f"(1.0e0 - (2.0e0 / (exp((2.0e0 * {x})) + 1.0e0)))"
        if self.fn == "radians":
            return f"({self.args[0].sql()} * 0.017453292519943295e0)"
        if self.fn == "degrees":
            return f"({self.args[0].sql()} * 57.29577951308232e0)"
        return f"{self.fn}({', '.join(a.sql() for a in self.args)})"

    def ev(self, env):
        return _NP_FUNCS[self.fn](*[a.ev(env) for a in self.args])


class Cmp(Expr):
    def __init__(self, op: str, a: Expr, b: Expr):
        self.op, self.a, self.b = op, a, b

    def sql(self) -> str:
        return f"({self.a.sql()} {self.op} {self.b.sql()})"

    def ev(self, env):
        a, b = self.a.ev(env), self.b.ev(env)
        if self.op == "<":
            return a < b
        if self.op == "<=":
            return a <= b
        if self.op == ">":
            return a > b
        if self.op == ">=":
            return a >= b
        raise ValueError(self.op)


class Where(Expr):
    """CASE WHEN cond THEN a ELSE b END — lazy in SQL, np.where in NumPy."""

    def __init__(self, cond: Expr, a: Expr, b: Expr):
        self.cond, self.a, self.b = cond, _as_expr(a), _as_expr(b)

    def sql(self) -> str:
        return (
            f"(CASE WHEN {self.cond.sql()} THEN {self.a.sql()} "
            f"ELSE {self.b.sql()} END)"
        )

    def ev(self, env):
        with np.errstate(all="ignore"):
            return np.where(self.cond.ev(env), self.a.ev(env), self.b.ev(env))


# public constructors ---------------------------------------------------
def fmod_floor(a, b):
    """Floored modulo (sign of divisor), as the same closed form in every
    backend: ``a - floor(a/b)*b``. SQL ``%`` is truncated modulo in both
    Spark and DuckDB while NumPy's ``%`` is floored — emitting the explicit
    formula keeps all three bit-identical."""
    a, b = _as_expr(a), _as_expr(b)
    return a - Call("floor", [a / b]) * b


def var(name: str) -> Var:
    return Var(name)


def lit(v) -> Expr:
    return _as_expr(v)


def where(cond, a, b) -> Where:
    return Where(cond, a, b)


def exp(x):
    return Call("exp", [x])


def ln(x):
    return Call("ln", [x])


def log10(x):
    return Call("log10", [x])


def power(a, b):
    return Call("power", [a, b])


def sqrt(x):
    return Call("sqrt", [x])


def tanh(x):
    return Call("tanh", [x])


def sin(x):
    return Call("sin", [x])


def cos(x):
    return Call("cos", [x])


def atan2(a, b):
    return Call("atan2", [a, b])


def radians(x):
    return Call("radians", [x])


def degrees(x):
    return Call("degrees", [x])


def floor(x):
    return Call("floor", [x])


def least(a, b):
    return Call("least", [a, b])


def greatest(a, b):
    return Call("greatest", [a, b])
