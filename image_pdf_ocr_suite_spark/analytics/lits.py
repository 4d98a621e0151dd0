"""Literal array and map construction without per-element py4j round trips.

``F.array(*[F.lit(x) for x in vals])`` issues one py4j call PER ELEMENT
(~1-3 ms each): a 1024-entry lookup table costs seconds of driver time
per query construction, and a 64-dim query vector tens of ms (measured
round 6 — the HLL linear-counting table alone added ~4 s to the leg).
These helpers render the whole literal as ONE SQL string and parse it
JVM-side in a single call; values are bit-identical (integer literals
are exact, and doubles go through CAST('<repr>' AS DOUBLE) — Java
parses the shortest-roundtrip repr back to the identical IEEE double).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, functions as F


def bigint_array_lit(vals: Iterable[int]) -> Column:
    """array<bigint> literal in one parse."""
    body = ",".join(f"{int(v)}L" for v in vals)
    return F.expr(f"array({body})")


def double_array_lit(vals: Iterable[float]) -> Column:
    """array<double> literal in one parse; exact IEEE round trip via
    the shortest-repr string cast."""
    body = ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return F.expr(f"array({body})")


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal in one parse."""
    body = ",".join(
        "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)"
                            for v in row) + ")"
        for row in rows)
    return F.expr(f"array({body})")


def map_lit(items: Iterable[tuple[str, int]]) -> Column:
    """map<string,bigint> literal in one parse.  Keys travel as UTF-8
    hex binary literals (``CAST(X'..' AS STRING)``), so quotes,
    backslashes and any code point round-trip whatever the parser's
    string-escape settings."""
    body = ",".join(f"CAST(X'{k.encode('utf-8').hex()}' AS STRING),{int(v)}L"
                    for k, v in items)
    return F.expr(f"map({body})")
