"""Hive DDL renderer — the codegen layer.

Re-expresses the reference's exemplar→string printer
(``out``/``definition``/``table``, ``/root/reference/Schemer.scala:67-115``)
over our descriptor lattice.  Runs entirely on the driver: the distributed
part of the engine ends with one small schema descriptor.

Faithfulness notes (each a documented decision, SURVEY §7):

- Tab indentation, ``ARRAY<…>``/``STRUCT<…>`` multi-line layout, ``???`` for
  unknown, ``NUMERIC(p, s)`` spelling and the int/float ladder thresholds all
  match ``Schemer.scala:67-97``.
- Struct fields are comma-separated.  The reference's *code* omits the commas
  (``Schemer.scala:92-95`` joins with only ``\\n``) while its README golden
  output has them (``README.md:29-31``); commas are the valid Hive syntax, so
  we follow the README.
- VARCHAR bound: reference uses ``0 < n < 65356`` — a typo for Hive's 65535
  (``Schemer.scala:73``).  We use ``0 < n <= 65535`` (deviation noted).
- Numeric tiers use min *and* max bounds (reference keeps only the max and
  mis-tiers mixed-sign columns — SURVEY §1.4 bug, fixed).
"""

from __future__ import annotations

from typing import Tuple

from .lattice import MapOf, Arr, Bool, Descriptor, Num, Str, Struct, Top, Ts, Unknown

VARCHAR_MAX = 65535  # Hive's real bound; reference typo'd 65356 (Schemer.scala:73)

# Integer tiers by two's-complement width, narrowest first (Schemer.scala:77-81)
_INT_TIERS = (("TINYINT", 8), ("SMALLINT", 16), ("INT", 32), ("BIGINT", 64))


def _int_digits(x) -> int:
    """Digits in the integer part of ``|x|`` (0 for |x| < 1): Java
    ``BigDecimal.precision`` − scale for the values the reference renders
    (Schemer.scala:82,85)."""
    n = abs(int(x))
    return len(str(n)) if n else 0


def numeric_tier(num: Num) -> Tuple[str, int, int]:
    """The int-ladder/FLOAT/DOUBLE/NUMERIC decision tree
    (``Schemer.scala:77-85``), with min/max bounds instead of a max exemplar.

    Returns ``(name, precision, scale)``: ``name`` is a Hive type name
    (``NUMERIC`` takes the precision and scale), ``precision`` the decimal
    precision the worst bound needs at ``max_scale``.  The DDL renderer and
    the Spark bridge both read their tiers here.
    """
    s = num.max_scale
    p = max(1, max(_int_digits(num.lo), _int_digits(num.hi)) + s)
    if s == 0:
        lo, hi = int(num.lo), int(num.hi)
        for name, bits in _INT_TIERS:
            bound = 1 << (bits - 1)
            if -bound <= lo and hi < bound:
                return name, p, 0
        return "NUMERIC", p, 0
    if p <= 7:
        return "FLOAT", p, s
    if p <= 15:
        return "DOUBLE", p, s
    return "NUMERIC", p, s


def render_type(desc: Descriptor, indent: int = 0, key: str | None = None) -> str:
    """Render one descriptor as a Hive type string (``out``,
    ``Schemer.scala:67-97``): tab-indented, recursive, ``???`` for unknown."""
    pad = "\t" * indent
    prefix = pad + (key + " " if key else "")
    if isinstance(desc, Unknown):
        return prefix + "???"
    if isinstance(desc, Bool):
        return prefix + "BOOLEAN"
    if isinstance(desc, Ts):  # opt-in detect_dates deviation (lattice.Ts)
        return prefix + ("TIMESTAMP" if desc.has_time else "DATE")
    if isinstance(desc, Str):
        n = desc.max_len
        if 0 < n <= VARCHAR_MAX:
            return prefix + f"VARCHAR({n})"
        return prefix + "STRING"
    if isinstance(desc, Top):  # PERMISSIVE: the field's rows disagree on kind
        return prefix + "STRING"
    if isinstance(desc, Num):
        name, p, s = numeric_tier(desc)
        return prefix + (f"NUMERIC({p}, {s})" if name == "NUMERIC" else name)
    if isinstance(desc, Arr):
        return "\n".join(
            [prefix + "ARRAY<", render_type(desc.element, indent + 1), pad + ">"]
        )
    if isinstance(desc, MapOf):  # opt-in structs_to_maps deviation
        return "\n".join(
            [
                prefix + "MAP<STRING,",
                render_type(desc.value, indent + 1),
                pad + ">",
            ]
        )
    if isinstance(desc, Struct):
        lines = [prefix + "STRUCT<"]
        fields = list(desc.fields.items())
        for i, (k, v) in enumerate(fields):
            comma = "," if i < len(fields) - 1 else ""
            lines.append(render_type(v, indent + 1, key=k + ":") + comma)
        lines.append(pad + ">")
        return "\n".join(lines)
    raise TypeError(f"unrenderable descriptor: {desc!r}")


def render_definition(schema: Descriptor, indent: int = 0) -> str:
    """Top-level column list, ``name TYPE`` joined by ``,\\n``
    (``definition``, ``Schemer.scala:99-105``; non-struct ⇒ ``ERROR``)."""
    if not isinstance(schema, Struct):
        return "ERROR"
    return ",\n".join(
        render_type(v, indent, key=k) for k, v in schema.fields.items()
    )


def render_table(schema: Descriptor, name: str, file: str) -> str:
    """Full three-statement Hive script (``table``, ``Schemer.scala:107-115``):
    ``ADD JAR`` + ``CREATE TABLE … ROW FORMAT SERDE`` + ``LOAD DATA``."""
    return "\n".join(
        [
            "ADD JAR hive-json-serde-0.2.jar;",
            "",
            f"CREATE TABLE {name} (",
            render_definition(schema, 1),
            ") ROW FORMAT SERDE 'org.apache.hadoop.hive.contrib.serde2.JsonSerde';",
            "",
            f"LOAD DATA LOCAL INPATH '{file}' INTO TABLE {name};",
        ]
    )
