"""How a document becomes whitespace tokens, on both engines.

A document's tokens are its text split on one space: ``split(text, ' ')``
in Spark and ``string_split(text, ' ')`` in DuckDB.  The engines agree on
every edge: ``''`` is ``['']``, a run of spaces leaves empty tokens
between them (``'a  b'`` is ``['a', '', 'b']``), a leading or trailing
space leaves one at that end, and NULL text stays NULL.  This module is
the one place that spells the rule, so operators and their twins cannot
drift apart on it.

``null_as_empty`` reads NULL text as ``''``, whose one empty token keeps
the row (a NULL array explodes to nothing, and Spark's ``size`` of it is
-1 where DuckDB's ``len`` is NULL).  Each caller passes the NULL policy
it has always had.  The ``"_"``-separated FIA ids and the configurable
line delimiter of ``text.line_dedup`` are not whitespace tokens and do
not come through here.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def words(text: Column | str, null_as_empty: bool = False) -> Column:
    """The whitespace tokens of ``text`` as an array column.

    DuckDB twin: :func:`words_sql`.
    """
    c = F.col(text) if isinstance(text, str) else text
    if null_as_empty:
        c = F.coalesce(c, F.lit(""))
    return F.split(c, " ")


def words_sql(x: str, null_as_empty: bool = False) -> str:
    """DuckDB twin of :func:`words` for the expression text ``x``."""
    if null_as_empty:
        x = f"coalesce({x}, '')"
    return f"string_split({x}, ' ')"


def token_set_sql(x: str) -> str:
    """DuckDB: the distinct whitespace tokens of ``x``, the twin of
    ``operators.dedup.tokens``; ``unnest`` it for one row per token."""
    return f"list_distinct({words_sql(x)})"
