"""Programmatic parity API — the Spark twin of the reference's ``Schemer``
class (``/root/reference/Schemer.scala:7``): construct from a file, read
``.schema``/``.lines``, render ``.definition()``/``.table(name)``/``str()``.

A reference user's three entry points (SURVEY §3) map 1:1:

    new Schemer(file).table("data")   →  SchemaGen(file).table("data")
    schemer.definition(i)             →  SchemaGen(file).definition(i)
    schemer.merge / schemer.out       →  lattice.merge / render.render_type
                                         (module functions — stateless here)

As the reference's ``Generator`` is ``Schemer`` plus a print, the CLI
(``cli.main``) is ``SchemaGen`` plus a print: the choice between the local
fold and a Spark job is made here, once, for both.  A small plain local
file folds with no JVM; the session is started only when the file needs
Spark or ``.dataframe()`` is called.

Plus the Spark-native extras the reference cannot offer: ``.spark_schema()``
for typed reads and ``.dataframe()`` to load the file with the inferred
schema in one call.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..session import get_spark
from .infer import _check_ratio, _permissive, infer_local_file, infer_path
from .lattice import Descriptor, structs_to_maps
from .render import render_definition, render_table
from .spark_schema import to_spark_schema


class SchemaGen:
    """Infer on construction (like the reference's constructor ingest,
    ``Schemer.scala:7-14``), then render on demand.

    With no ``sampling_ratio``, a plain local file that
    :func:`infer_local_file` accepts folds on this host's cores with no
    JVM; a sample, and any other input, is :func:`infer_path`'s Spark job.
    ``spark`` is kept when given; otherwise ``get_spark`` starts one only
    for that job or for :meth:`dataframe`.  ``infer_maps`` rewrites
    key-as-data structs as maps after the fold (the CLI's ``--infer-maps``).
    """

    def __init__(
        self,
        file: str,
        spark: Optional[SparkSession] = None,
        mode: str = "FAILFAST",
        sampling_ratio: Optional[float] = None,
        infer_maps: Optional[int] = None,
        detect_dates: bool = False,
    ) -> None:
        # the arguments are checked before a session is started for them
        _permissive(mode)
        _check_ratio(sampling_ratio)
        self._spark = spark
        self.file = file
        # Spark's sampler has no local twin
        result = (infer_local_file(file, mode, detect_dates)
                  if sampling_ratio is None else None)
        if result is None:
            result = infer_path(
                self.spark, file, mode=mode, sampling_ratio=sampling_ratio,
                detect_dates=detect_dates,
            )
        if infer_maps is not None:
            result.schema = structs_to_maps(result.schema, infer_maps)
        self.schema: Descriptor = result.schema
        self.lines: int = result.lines
        self.errors = result.errors

    @property
    def spark(self) -> SparkSession:
        """The session given, or else ``get_spark``'s, started on first use."""
        if self._spark is None:
            self._spark = get_spark("SchemaGen")
        return self._spark

    def definition(self, indent: int = 0) -> str:
        return render_definition(self.schema, indent)

    def table(self, name: str) -> str:
        return render_table(self.schema, name, self.file)

    def spark_schema(self, for_read: bool = False):
        return to_spark_schema(self.schema, for_read)

    def dataframe(self) -> DataFrame:
        """Load the file typed with its own inferred schema."""
        return self.spark.read.schema(self.spark_schema(for_read=True)).json(
            self.file
        )

    def __str__(self) -> str:  # Schemer.toString ≡ table("data"), Schemer.scala:117
        return self.table("data")
