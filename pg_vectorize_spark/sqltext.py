"""Python values as Spark SQL text — the one renderer.

The hot serving expressions (query-vector scores, RRF fusion, index
probe predicates) are built as ONE SQL string — a single ``F.expr`` /
``where`` / ``selectExpr`` parse, one py4j round-trip — instead of
nested Column constructors, which cost ~60–200 round-trips per query on
the serving critical path. This is the Spark analog of pg_vectorize
binding the query vector as ``$1::vector``. Python values enter that
text only through this module, so the Spark SQL literal format is
spelled once:

- identifiers: backtick-quoted, embedded backticks doubled. A name
  containing ``${`` is refused — backtick quoting has no escape, and
  the parser's variable substitution would rewrite it;
- strings: ``\\`` and ``'`` backslash-escaped, and ``${`` broken as
  ``$\\{``. With ``spark.sql.variable.substitute`` on (the default) the
  parser replaces ``${name}`` anywhere in the text, string literals
  included (an unknown name becomes the empty string); ``\\{`` unescapes
  to ``{``. Every other character, control and astral ones included,
  is literal inside quotes;
- doubles: ``repr(x)D``. ``repr`` is the shortest decimal that
  round-trips and the parser (``Double.parseDouble``) rounds correctly,
  so the literal is bit-identical to ``F.lit(x)``. ±inf and nan have no
  literal and render as ``CAST('Infinity' AS DOUBLE)``,
  ``CAST('-Infinity' AS DOUBLE)`` and ``CAST('NaN' AS DOUBLE)``;
- integers: decimal text (the parser widens out-of-int values to bigint,
  as ``F.lit`` does);
- vectors: ``array(d1,d2,...)`` of doubles; the empty vector is a typed
  ``array<double>``;
- ``IN`` lists: an empty list renders as ``false`` (``x IN ()`` does
  not parse).
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Iterable, Sequence


def ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    if "${" in name:
        raise ValueError(
            f"column name {name!r} contains '${{': Spark SQL variable "
            "substitution would rewrite it inside any SQL expression"
        )
    return "`" + name.replace("`", "``") + "`"


def string(s: str) -> str:
    """A string literal whose parsed value is exactly ``s``."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{body}'"


def double(x: float) -> str:
    """A double literal bit-identical to ``F.lit(float(x))``."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    sign = "" if x > 0 else "-"
    return f"CAST('{sign}Infinity' AS DOUBLE)"


def literal(v) -> str:
    """Dispatch on the Python type the way ``F.lit`` does: bool, integer,
    float and str."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return double(v)
    if isinstance(v, str):
        return string(v)
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def vector(vals: Sequence[float]) -> str:
    """An ``array<double>`` literal — the query vector bound into a plan."""
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ",".join(double(v) for v in vals) + ")"


def in_list(expr: str, values: Iterable) -> str:
    """``expr IN (v1,v2,...)``; ``false`` when ``values`` is empty."""
    lits = ",".join(literal(v) for v in values)
    return f"{expr} IN ({lits})" if lits else "false"
