"""Typed-value codec: the (type, encoding, encoded_content) triple.

Semantics match the reference's SerializedData
(task_opentelemetry_logging.py:105-158): supported logical types are
``utf-8, bytes, int, float, bool, json``; encodings are ``utf-8`` (plain
string), ``base64`` (bytes), ``json`` (everything else). Logging ``None``
is rejected (reference :137-138). Round-trip law: decode(encode(x)) == x.

Two layers are provided:
- Python-side ``SerializedData`` used by the orchestrator/logger when it
  writes spans, and
- Spark-side column expressions (``decode_columns``) that turn a logged
  value's (type, encoded_content) pair into typed columns. Summarisation
  applies them to each logged value inside its per-run arrays
  (``plans/summarize.py::_finish``); they are built-in functions only,
  no UDF.
"""

from __future__ import annotations

import base64
import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

VALID_TYPES = ("utf-8", "bytes", "int", "float", "bool", "json")
VALID_ENCODINGS = ("utf-8", "base64", "json")


@dataclass(frozen=True)
class SerializedData:
    type: str
    encoding: str
    encoded_content: str

    @classmethod
    def encode(cls, value: Any) -> "SerializedData":
        if value is None:
            raise ValueError("Logging null values is not supported")
        if isinstance(value, str):
            return cls("utf-8", "utf-8", value)
        if isinstance(value, bytes):
            return cls("bytes", "base64", base64.b64encode(value).decode("utf-8"))
        # bool before int: bool is a subclass of int in Python
        if isinstance(value, bool):
            return cls("bool", "json", json.dumps(value))
        if isinstance(value, int):
            return cls("int", "json", json.dumps(value))
        if isinstance(value, float):
            return cls("float", "json", json.dumps(value))
        try:
            return cls("json", "json", json.dumps(value))
        except Exception as e:
            raise ValueError(f"value of type {type(value)} is not loggable") from e

    def decode(self) -> Any:
        if self.type == "utf-8" and self.encoding == "utf-8":
            return self.encoded_content
        if self.type == "bytes" and self.encoding == "base64":
            return base64.b64decode(self.encoded_content)
        if self.type in ("int", "float", "bool", "json") and self.encoding == "json":
            return json.loads(self.encoded_content)
        raise ValueError(f"Unknown type/encoding pair ({self.type}, {self.encoding})")


def decode_columns(type_col: Column, content_col: Column) -> dict[str, Column]:
    """Spark-native decode of a (type, encoded_content) pair into the
    ``logged_values`` table's typed columns (at most one non-null per
    row; a ``bytes`` value keeps only its type) — see FIXTURES.md A3.
    """
    return {
        "value_str": F.when(type_col == "utf-8", content_col),
        "value_long": F.when(type_col == "int", content_col.cast("long")),
        "value_double": F.when(type_col == "float", content_col.cast("double")),
        "value_bool": F.when(type_col == "bool", content_col.cast("boolean")),
        "value_json": F.when(type_col == "json", content_col),
    }
