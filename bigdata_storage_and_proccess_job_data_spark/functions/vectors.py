"""Vector expressions over array<float|double> embedding columns.

Native zip_with/aggregate folds (JVM-side, sequential order -- which
makes results bit-reproducible across engines computing the same fold).
For very wide vectors or heavy batch scoring, a Pandas-UDF path would be
the upgrade; at 64-dim the codegen fold wins by avoiding Arrow transfer.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the SAME sequential fold ``dot`` builds -- for
    composing larger single-parse expressions (see sql_of). Parsing
    this yields the identical catalyst tree (zip_with + aggregate,
    double-literal init, same fold order), so values are bit-equal to
    the Column form."""
    # lambda vars chosen to avoid shadowing when composed inside outer
    # folds (names never affect values, only parse-time scoping)
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "cast(0.0 as double), (s, v) -> s + v)"
    )


def norm_sql(a_sql: str) -> str:
    """SQL text of the SAME fold ``norm`` builds (bit-equal values)."""
    return (
        f"sqrt(aggregate({a_sql}, cast(0.0 as double), "
        "(s, v) -> s + v * v))"
    )


def cosine_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the SAME expression ``cosine`` builds: null when
    either norm is 0, else dot/(na*nb). The norms appear twice (guard
    + denominator) exactly as in the Column form; codegen's
    subexpression elimination treats both identically, so values are
    bit-equal."""
    d = dot_sql(a_sql, b_sql)
    na, nb = norm_sql(a_sql), norm_sql(b_sql)
    return (
        f"case when {na} > 0 and {nb} > 0 "
        f"then {d} / ({na} * {nb}) end"
    )


def cosine_expr(a: Column | str, b: Column | str) -> Column:
    """cosine() built as ONE parsed SQL string -- same values, none of
    the per-call py4j round-trips of the three lambda-HOF folds (the
    construction cost matters in latency-sensitive query paths)."""
    return F.expr(cosine_sql(sql_of(a), sql_of(b)))


# Lambda variable names used anywhere in the composed-SQL builders
# (vectors.dot_sql/norm_sql + similarity's _cell_sims/_sig_fold_sql/
# _probe_buckets/PQ folds). Spark lambda parameters SHADOW column
# references of the same name -- backquotes do not protect them -- so a
# user column named e.g. `v` embedded inside `(acc, v) -> ...` would be
# captured and silently compute garbage. sql_of rejects these up front.
_RESERVED_LAMBDA_VARS = frozenset(
    {"x", "y", "s", "v", "acc", "p", "i", "t", "ds", "bb", "ord",
     "pq", "probe", "assign"}
)


def sql_of(col: Column | str) -> str:
    """SQL text of a column reference for embedding into a composed
    F.expr string. Plain names pass through quoted; Column objects
    round-trip through the JVM column node's own sql() (one py4j
    call; Spark 4 classic -- prefer passing names, which skips the
    internal API entirely). Composed-SQL builders accept
    `Column | str` via this seam.

    Names colliding with the builders' lambda variables are rejected:
    inside a higher-order-function lambda the parameter shadows any
    same-named column, silently producing wrong values.
    Alias such columns first (df.select(F.col(c).alias("_vec")))."""
    if isinstance(col, str):
        if col in _RESERVED_LAMBDA_VARS:
            raise ValueError(
                f"column name {col!r} collides with a lambda variable "
                "used by the composed vector SQL builders and would be "
                "captured by it; alias the column first (e.g. "
                f'.select(F.col("{col}").alias("_vec")))'
            )
        return f"`{col}`"
    sql = col._jc.node().sql()  # noqa: SLF001 -- classic-mode Column
    bare = sql.removeprefix("`").removesuffix("`")
    if bare in _RESERVED_LAMBDA_VARS and sql == f"`{bare}`":
        raise ValueError(
            f"column name {bare!r} collides with a lambda variable "
            "used by the composed vector SQL builders; alias it first"
        )
    return sql


def _finite_or_raise(x: float, what: str) -> float:
    if not math.isfinite(x):
        raise ValueError(f"{what} requires finite components")
    return float(x)


def matrix_sql(rows: "list[list[float]]") -> str:
    """SQL text yielding an array<array<double>> constant via
    ``from_json`` of ONE string literal. Why not array(array(...)) of
    per-element literals: the ANALYZER walks every plan node on every
    derived DataFrame, so a k x dim parameter matrix inlined as ~2k
    Literal nodes costs ~0.2 s of analysis PER SELECT (measured at
    8x4x64); the from_json form is 2 nodes, and the optimizer
    constant-folds it to a single Literal before execution (verified:
    JsonToStructs absent from the optimized plan), so per-row cost is
    zero. json.dumps uses repr (exact double round-trip) and Jackson
    parses via Double.parseDouble -- values are bit-equal to the
    unrolled form (asserted in tests). Finite values only."""
    import json

    for row in rows:
        for x in row:
            _finite_or_raise(x, "matrix_sql")
    payload = json.dumps(rows, separators=(",", ":"))
    return f"from_json('{payload}', 'array<array<double>>')"


def cube_sql(tables: "list[list[list[float]]]") -> str:
    """SQL text yielding an array<array<array<double>>> constant via
    ``from_json`` (see matrix_sql) -- for table-of-planes / codebook
    parameters. Finite values only."""
    import json

    for rows in tables:
        for row in rows:
            for x in row:
                _finite_or_raise(x, "cube_sql")
    payload = json.dumps(tables, separators=(",", ":"))
    return f"from_json('{payload}', 'array<array<array<double>>>')"
