"""The whitespace tokenizer contract: ``functions.tokens.words`` on Spark
and its twin ``words_sql`` on DuckDB return the same token arrays, row by
row, on edge texts under both NULL policies; the distinct-token sets
(``dedup.tokens`` and ``token_set_sql``) agree too."""

from __future__ import annotations

import duckdb
import pytest

from foresttime_builder_spark.functions.tokens import (
    token_set_sql,
    words,
    words_sql,
)
from foresttime_builder_spark.operators.dedup import tokens

_TEXTS = [None, "", " ", "a  b", " a", "a "]

#: what both engines return, per policy (NULL text is NULL or one '')
_WANT = {
    False: [None, [""], ["", ""], ["a", "", "b"], ["", "a"], ["a", ""]],
    True: [[""], [""], ["", ""], ["a", "", "b"], ["", "a"], ["a", ""]],
}


@pytest.mark.parametrize("null_as_empty", [False, True])
def test_words_matches_its_sql_twin(spark, null_as_empty):
    rows = list(enumerate(_TEXTS))
    got = [
        r[1]
        for r in spark.createDataFrame(rows, "i int, t string")
        .select("i", words("t", null_as_empty))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    twin = [
        r[0]
        for r in con.execute(
            f"SELECT {words_sql('t', null_as_empty)} FROM d ORDER BY i"
        ).fetchall()
    ]
    assert got == twin == _WANT[null_as_empty]


def test_token_sets_match_their_sql_twin(spark):
    rows = list(enumerate(_TEXTS))
    got = [
        None if r[1] is None else sorted(r[1])
        for r in spark.createDataFrame(rows, "i int, t string")
        .select("i", tokens("t"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    twin = [
        None if r[0] is None else sorted(r[0])
        for r in con.execute(
            f"SELECT {token_set_sql('t')} FROM d ORDER BY i"
        ).fetchall()
    ]
    assert got == twin == [None, [""], [""], ["", "a", "b"], ["", "a"], ["", "a"]]
