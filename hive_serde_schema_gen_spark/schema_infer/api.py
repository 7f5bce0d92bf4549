"""Programmatic parity API — the Spark twin of the reference's ``Schemer``
class (``/root/reference/Schemer.scala:7``): construct from a file, read
``.schema``/``.lines``, render ``.definition()``/``.table(name)``/``str()``.

A reference user's three entry points (SURVEY §3) map 1:1:

    new Schemer(file).table("data")   →  SchemaGen(file).table("data")
    schemer.definition(i)             →  SchemaGen(file).definition(i)
    schemer.merge / schemer.out       →  lattice.merge / render.render_type
                                         (module functions — stateless here)

Plus the Spark-native extras the reference cannot offer: ``.spark_schema()``
for typed reads and ``.dataframe()`` to load the file with the inferred
schema in one call.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .infer import InferenceResult, infer_path
from .lattice import Descriptor
from .render import render_definition, render_table
from .spark_schema import to_spark_schema


class SchemaGen:
    """Infer on construction (like the reference's constructor ingest,
    ``Schemer.scala:7-14``), then render on demand."""

    def __init__(
        self,
        file: str,
        spark: Optional[SparkSession] = None,
        mode: str = "FAILFAST",
        sampling_ratio: Optional[float] = None,
        infer_maps: Optional[int] = None,
    ) -> None:
        if spark is None:
            from ..session import get_spark

            spark = get_spark("SchemaGen")
        self.spark = spark
        self.file = file
        result: InferenceResult = infer_path(
            spark, file, mode=mode, sampling_ratio=sampling_ratio
        )
        if infer_maps is not None:
            from .lattice import structs_to_maps

            # CLI parity (--infer-maps): key-as-data structs -> MAP
            result.schema = structs_to_maps(result.schema, infer_maps)
        self.schema: Descriptor = result.schema
        self.lines: int = result.lines
        self.errors = result.errors

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
