"""Property-based round-trip law for the typed-value codec — the
reference's own identity test generalised with hypothesis
(test_task_opentelemetry_logging.py:49-60: decode(encode(x)) == x)."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from composable_logs_spark.spanlog.codec import VALUE_COLUMNS, SerializedData, typed_value

scalars = st.one_of(
    st.text(max_size=200),
    st.binary(max_size=200),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.floats(allow_nan=False, allow_infinity=False),
    st.booleans(),
)
jsonish = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**31), max_value=2**31),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=50),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=5),
        st.dictionaries(st.text(max_size=10), children, max_size=5),
    ),
    max_leaves=20,
)


@given(scalars)
@settings(max_examples=200)
def test_scalar_roundtrip(value):
    sd = SerializedData.encode(value)
    assert sd.type in ("utf-8", "bytes", "int", "float", "bool", "json")
    assert sd.encoding in ("utf-8", "base64", "json")
    assert sd.decode() == value
    # type discrimination: bool is not int, int is not bool
    if isinstance(value, bool):
        assert sd.type == "bool"
    elif isinstance(value, int):
        assert sd.type == "int"


@given(st.lists(jsonish, max_size=5) | st.dictionaries(st.text(max_size=10), jsonish, max_size=5))
@settings(max_examples=100)
def test_json_roundtrip(value):
    sd = SerializedData.encode(value)
    assert sd.decode() == value


def test_none_rejected():
    with pytest.raises(ValueError):
        SerializedData.encode(None)


@given(
    st.one_of(
        st.text(max_size=200),
        st.binary(max_size=200),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),  # bigint's range
        st.floats(),  # NaN and infinities too
        st.booleans(),
        st.lists(jsonish, max_size=5),
        st.dictionaries(st.text(max_size=10), jsonish, max_size=5),
    )
)
@settings(max_examples=300)
def test_typed_value_holds_the_decoded_value_in_one_column(value):
    sd = SerializedData.encode(value)
    row = typed_value(sd.type, sd.encoded_content)
    assert set(row) == set(VALUE_COLUMNS)
    filled = {k: v for k, v in row.items() if v is not None}
    if sd.type == "bytes":
        assert filled == {}  # a bytes value keeps only its type (FIXTURES A3)
        return
    [(column, got)] = filled.items()
    want = sd.encoded_content if sd.type == "json" else sd.decode()
    assert column == {"utf-8": "value_str", "int": "value_long", "float": "value_double",
                      "bool": "value_bool", "json": "value_json"}[sd.type]
    assert type(got) is type(want)
    assert got == want or (math.isnan(got) and math.isnan(want))


def test_typed_value_rejects_an_int_beyond_bigint():
    with pytest.raises(ValueError, match="is not a bigint"):
        typed_value("int", SerializedData.encode(2**63).encoded_content)
