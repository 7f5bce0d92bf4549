"""Error channel of the inference engine.

The reference documents two user-facing exceptions with line numbers
(``/root/reference/Schemer.scala:16-30``; golden messages
``/root/reference/README.md:67-102``).  We reproduce both, fixing the
reference's missing-``s``-prefix interpolation bug in InconsistentArray
(Schemer.scala:29 prints a literal ``$lines`` — SURVEY §2, deviation noted)
and add a parse-error with a line number (the reference lets play-json's
raw exception escape, Schemer.scala:13).

Messages are rendered lazily (they need the DDL renderer, which imports the
lattice) to avoid an import cycle.
"""

from __future__ import annotations

import json
from typing import Any, Optional


class SchemaGenError(Exception):
    """Base class for all inference errors.

    Every subclass takes the keywords ``line``, the 1-based input line (None
    when unknown), and ``raw``, the parsed JSON row that raised, if known.
    Constructors hand their positional arguments to ``Exception.__init__``,
    so the default pickling rebuilds the error (executor → driver crossing)
    and restores its attributes, ``line``/``raw`` set later included.
    Messages start "On the line N" and end with :meth:`_detail`.
    """

    def __init__(self, *args: Any, line: Optional[int] = None, raw: Optional[Any] = None):
        super().__init__(*args)
        self.line = line
        self.raw = raw

    def with_line(self, line: Optional[int]) -> "SchemaGenError":
        self.line = line
        return self

    def __str__(self) -> str:
        return f"On the line {self.line if self.line is not None else '?'} " + self._detail()

    def _detail(self) -> str:
        raise NotImplementedError


class RowMismatch(SchemaGenError):
    """Cross-kind merge: a row is not consistent with the running schema.

    Mirrors ``Schemer.scala:16-25,61``; message format is the golden text at
    ``README.md:88-102`` (the running code says "with the corresponding
    schema", Schemer.scala:20 — we follow the code).
    """

    def __init__(self, a: Any, b: Any, **kw: Any):
        self.a = a  # descriptor: the running schema (or sub-schema)
        self.b = b  # descriptor: the offending value's schema
        super().__init__(a, b, **kw)

    def _detail(self) -> str:
        from .render import render_type

        parts = [
            "you attempted to insert this JSON:",
            json.dumps(self.raw, indent=2, default=str) if self.raw is not None else "(unknown)",
            "with the corresponding schema:",
            render_type(self.b),
            "into the schema with this signature:",
            render_type(self.a),
        ]
        return "\n".join(parts)


class InconsistentArray(SchemaGenError):
    """Mixed-kind array elements (``Schemer.scala:27-30,37-38``)."""

    def __init__(self, arr: Any, **kw: Any):
        self.arr = arr  # the array, or the two element descriptors that clash
        super().__init__(arr, **kw)

    def _detail(self) -> str:
        return "you have an array containing incompatible datatypes:" + json.dumps(
            self.arr, indent=2, default=str
        )


class BadJson(SchemaGenError):
    """A line failed to parse as JSON (extension beyond the reference,
    which lets the play-json exception escape raw, Schemer.scala:13)."""

    def __init__(self, text: str, cause: str, **kw: Any):
        self.text = text
        self.cause = cause
        super().__init__(text, cause, **kw)

    def _detail(self) -> str:
        snippet = self.text if len(self.text) <= 200 else self.text[:200] + "…"
        return f"the input is not valid JSON ({self.cause}): {snippet}"
