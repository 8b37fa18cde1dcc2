"""Typed-value codec: the (type, encoding, encoded_content) triple.

Semantics match the reference's SerializedData
(task_opentelemetry_logging.py:105-158): supported logical types are
``utf-8, bytes, int, float, bool, json``; encodings are ``utf-8`` (plain
string), ``base64`` (bytes), ``json`` (everything else). Logging ``None``
is rejected (reference :137-138). Round-trip law: decode(encode(x)) == x.

``typed_value`` and ``artefact_bytes`` read a span's triple into the
summary's ``logged_values`` columns and artefact content (FIXTURES.md
A3). They read as Spark's ANSI casts and ``unbase64`` do: integers and
booleans trimmed, Java's double grammar plus ``inf``/``nan``, and base64
that skips characters outside its alphabet. Malformed content raises
``ValueError``; it never reads as null.
"""

from __future__ import annotations

import base64
import json
import re
from dataclasses import dataclass
from typing import Any

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


_TRIM = "".join(map(chr, range(0x21)))  # control characters and space
_LONG = re.compile(r"[+-]?[0-9]+")
_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?[fFdD]?)"
)
_BOOLS = dict.fromkeys(["t", "true", "y", "yes", "1"], True)
_BOOLS |= dict.fromkeys(["f", "false", "n", "no", "0"], False)
_NOT_BASE64 = re.compile(r"[^A-Za-z0-9+/]")


def _long(s: str) -> int:
    t = s.strip(_TRIM)
    if _LONG.fullmatch(t) and -(2**63) <= int(t) < 2**63:
        return int(t)
    raise ValueError(f"{s!r} is not a bigint")


def _double(s: str) -> float:
    t = s.strip(_TRIM)
    if _DOUBLE.fullmatch(t):
        return float(t.rstrip("fFdD"))
    if t.lower() in ("inf", "+inf", "infinity", "+infinity", "-inf", "-infinity", "nan"):
        return float(t)
    raise ValueError(f"{s!r} is not a double")


def _bool(s: str) -> bool:
    try:
        return _BOOLS[s.strip(_TRIM).lower()]
    except KeyError:
        raise ValueError(f"{s!r} is not a boolean") from None


_READERS = {
    "utf-8": ("value_str", str),
    "int": ("value_long", _long),
    "float": ("value_double", _double),
    "bool": ("value_bool", _bool),
    "json": ("value_json", str),
}
VALUE_COLUMNS = tuple(column for column, _ in _READERS.values())


def typed_value(type_: str | None, content: str | None) -> dict[str, Any]:
    """The ``VALUE_COLUMNS`` of one logged value: the column its type
    names holds the value, every other column is null, and a ``bytes``
    value fills none."""
    out = dict.fromkeys(VALUE_COLUMNS)
    column, read = _READERS.get(type_, (None, None))
    if column is not None and content is not None:
        out[column] = read(content)
    return out


def artefact_bytes(encoding: str | None, content: str | None) -> bytes | None:
    """An artefact's content: ``base64`` decoded as Java's MIME decoder
    does (characters outside the alphabet skipped, padding optional but
    checked where present), any other encoding as UTF-8 text."""
    if content is None or encoding != "base64":
        return None if content is None else content.encode()
    head, pad, tail = content.partition("=")
    data = _NOT_BASE64.sub("", head)
    unit = len(data) % 4
    if pad and (unit == 0 or (unit == 2 and not tail.startswith("="))):
        raise ValueError("base64: Input byte array has wrong 4-byte ending unit")
    if unit == 1:
        raise ValueError("base64: Last unit does not have enough valid bits")
    if unit == 2 and pad:
        tail = tail[1:]
    if _NOT_BASE64.sub("", tail):
        raise ValueError("base64: Input byte array has incorrect ending byte")
    return base64.b64decode(data + "=" * (-len(data) % 4))
