"""Hypothesis property tests for the pure-Python substrate the engine's
distributed operators are built on: the md5 hash family's three-way
parity (Spark SQL expr / DuckDB SQL / Python oracle all derive the same
integers — what makes LSH/MinHash/sampling oracle-checkable)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from search_engine_spark.functions.hashing import (
    md5_int_py,
    md5_int_sql,
    md5_int32_py,
    md5_two_hash_py,
    md5_two_hash_sql,
)

key_strings = st.text(
    alphabet=st.characters(
        codec="ascii", min_codepoint=32, max_codepoint=126,
        exclude_characters="'",
    ),
    max_size=24,
)


@settings(max_examples=25, deadline=None)
@given(st.lists(key_strings, min_size=1, max_size=8, unique=True),
       st.integers(min_value=0, max_value=99))
def test_md5_int_duckdb_python_parity(keys, seed):
    """md5_int_sql in DuckDB == md5_int_py for arbitrary keys — the
    property that lets hash-Bernoulli sampling and LSH plane signs be
    oracle-checked across engines."""
    con = duckdb.connect()
    for k in keys:
        lit = "'" + k + "'"
        got = con.execute(
            f"SELECT {md5_int_sql(lit, seed=seed)}"
        ).fetchone()[0]
        assert got == md5_int_py(k, seed=seed)


@settings(max_examples=25, deadline=None)
@given(st.lists(key_strings, min_size=1, max_size=6, unique=True))
def test_md5_two_hash_duckdb_python_parity(keys):
    con = duckdb.connect()
    h1s, h2s = md5_two_hash_sql("s")
    for k in keys:
        h1, h2 = con.execute(
            f"SELECT {h1s}, {h2s} FROM (SELECT '{k}' AS s)"
        ).fetchone()
        for j in range(8):
            assert h1 + j * h2 == md5_two_hash_py(k, j)
