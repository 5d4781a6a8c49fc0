"""Literal quoting for the operators' SQL-string expressions.

Several operators build ``IN (...)`` predicates as SQL text (cheaper to
construct than Column trees). Their word lists come from dictionaries, so
a name such as ``Coeur d'Alene`` must stay ONE literal with its own
value: an unescaped quote either breaks the parse or, as two adjacent
literals that Spark concatenates, silently changes the predicate.
"""

from __future__ import annotations


def sql_strlist(words) -> str:
    """``words`` sorted, as comma-separated Spark SQL string literals.
    Backslash and single quote are backslash-escaped, the escape form of
    Spark's default parser mode; any other character is literal text."""
    return ", ".join(
        "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for w in sorted(words)
    )
