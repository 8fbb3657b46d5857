"""Error-message regression corpus (the reference locks error texts in
test/regress/input/error.yaml — same spirit: user mistakes must fail
at bind time with a message naming the offending part, never as an
opaque Spark analysis error).  Cases live in tests/golden/errors.yaml."""

import os

import pytest
import yaml

from htsql_spark import CompileError
from htsql_spark.compile import FLOW_METHODS
from htsql_spark.syntax.parse import ParseError

_CORPUS = os.path.join(os.path.dirname(__file__), "golden", "errors.yaml")
with open(_CORPUS) as _f:
    _CASES = yaml.safe_load(_f)["cases"]

_KINDS = {"parse": ParseError, "compile": CompileError}


@pytest.mark.parametrize(
    "case", _CASES, ids=[c["q"][:40] for c in _CASES]
)
def test_error_corpus(db, case):
    with pytest.raises(_KINDS[case["kind"]]) as ei:
        db.df(case["q"])
    assert case["needle"] in str(ei.value), (
        f"{case['q']!r}: expected {case['needle']!r} in {ei.value}"
    )


_FLOW_METHODS = sorted(FLOW_METHODS.items())


@pytest.mark.parametrize("name,m", _FLOW_METHODS, ids=[n for n, _ in _FLOW_METHODS])
def test_flow_method_arity_error_names_the_method(db, name, m):
    """Every FLOW_METHODS row rejects one argument past its range (one
    short of it when unbounded) with an error naming the method the user
    called — ``top()`` once reported ``limit(n[, skip])``."""
    n = m.hi + 1 if m.hi is not None else m.lo - 1
    with pytest.raises(CompileError) as ei:
        db.df(f"/documents.{name}({', '.join(['1'] * n)})")
    assert str(ei.value).startswith(f"{name}("), str(ei.value)


@pytest.mark.parametrize(
    "name,m",
    [(n, m) for n, m in _FLOW_METHODS if m.needs],
    ids=[n for n, m in _FLOW_METHODS if m.needs],
)
def test_flow_method_required_columns(db, name, m):
    """A row's required columns are checked before its binder runs:
    /region has none of them."""
    with pytest.raises(CompileError) as ei:
        db.df(f"/region.{name}({', '.join(['1'] * m.lo)})")
    assert str(ei.value).startswith(
        f"{name}() requires a flow over a table with"
    ), str(ei.value)


def test_plural_in_singular_names_the_fix(db):
    """The error for a plural-in-singular mistake must point at the
    aggregate/segment remedies (reference does the same)."""
    with pytest.raises(CompileError) as ei:
        db.df("/nation{name, customer.c_name}")
    msg = str(ei.value)
    assert "aggregate" in msg or "segment" in msg


from hypothesis import HealthCheck, given, settings, strategies as st


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(st.text(min_size=1, max_size=40))
def test_arbitrary_input_fails_cleanly(db, junk):
    """Any input either compiles or raises a USER error (ParseError /
    CompileError) — never an internal exception or a Spark
    AnalysisException leaking through."""
    try:
        db.df("/" + junk)
    except (ParseError, CompileError):
        pass


def test_identity_coercion_bind_errors():
    """_coerce_identity_part coerces in Python: a bad literal is a
    CompileError at bind time, never a NULL-yielding runtime cast;
    unsupported identity domains are rejected outright."""
    import pyspark.sql.types as T
    import pytest

    from htsql_spark.compile import _coerce_identity_part
    from htsql_spark.ir import CompileError

    # supported domains coerce
    _coerce_identity_part("7", T.LongType(), "t", "c")
    _coerce_identity_part("2024-01-31", T.DateType(), "t", "c")
    _coerce_identity_part("2024-01-31 10:00:00", T.TimestampNTZType(), "t", "c")
    _coerce_identity_part("1.5", T.DoubleType(), "t", "c")
    # mismatches are bind errors
    with pytest.raises(CompileError):
        _coerce_identity_part("abc", T.LongType(), "t", "c")
    with pytest.raises(CompileError):
        _coerce_identity_part("not-a-date", T.DateType(), "t", "c")
    with pytest.raises(CompileError):
        _coerce_identity_part("xyz", T.DoubleType(), "t", "c")
    # unsupported identity domain rejected at bind time
    with pytest.raises(CompileError):
        _coerce_identity_part("x", T.BinaryType(), "t", "c")
