"""Expression-level utilities shared across operators.

``let`` is the load-bearing one: Spark inlines a referenced Column
expression at EVERY use site — there is no common-subexpression
elimination across higher-order-function lambdas — so an expression
used inside a per-element ``transform`` lambda re-evaluates once PER
ELEMENT. For an O(len) input expression that turns a row-local O(len)
scan into O(len²) per row (measured: the 6-frame ORF scan 137 s → ~6 s
at sf0.1, winnowing 80 s → seconds). Binding the value through a
1-element array + ``transform`` lambda evaluates it exactly once and
hands the lambda a cheap variable reference — the relational ``let``.

``let_sql`` is the same binding with the body written as Spark SQL
text, so a whole expression tree costs one parse in the JVM instead of
one py4j round trip per ``Column`` node.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the lambda variable :func:`let_sql` binds
_LET_VAR = "__let"


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``let x = value in body(x)`` for Column expressions: ``value``
    evaluates once per row; ``body`` receives the bound variable."""
    return F.element_at(F.transform(F.array(value), body), 1)


def sql_ident(name: str) -> str:
    """``name`` as one backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(text: str) -> str:
    """``text`` as a Spark SQL string literal. The parser unescapes
    backslashes, so a regex ``\\s+`` must reach it as ``'\\\\s+'``."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def let_sql(value: Column | str, body: Callable[[str], str]) -> Column:
    """``let x = value in body(x)`` with ``body`` a SQL text template.

    ``body`` takes the SQL text of the bound value and returns the SQL
    text of the result. The whole tree reaches the JVM as one string,
    parsed there once: each ``Column`` node built through the Python
    API costs about 5-7 py4j round trips (the call, the JVM method
    lookups behind it, the finalizer delete of its handle), which made
    a warm ``fasta_stats`` build slower than the job it planned.

    A ``str`` names one column: the template reads it directly, as a
    backquoted identifier, and the expression keeps whole-stage
    codegen. A ``Column`` is bound like :func:`let`, through a
    1-element ``transform`` whose lambda variable is ``__let``, so it
    evaluates once however often the template reads it.

    Template rules: write ``0.5D`` (a bare ``0.5`` is DECIMAL) and
    ``CAST(… AS BIGINT)`` where a value must be bigint; pass string
    literals through :func:`sql_str`; name inner lambda variables with a
    ``__`` prefix that no input column uses, because a lambda variable
    shadows a column of the same name.
    """
    if isinstance(value, str):
        return F.expr(body(sql_ident(value)))
    fn = F.expr(f"{_LET_VAR} -> {body(_LET_VAR)}")
    return F.element_at(F.call_function("transform", F.array(value), fn), 1)
