"""Replica fidelity: a 10x replica must keep each query's selectivity.

For every query with a rule in its workload, the DuckDB oracle's row
count on the replica is compared with the row count on the 1x base.
An output with one row per entity or pair grows with the copy count;
an aggregate over fixed dimensions or a top-k list stays flat. A
replica that breaks a text signal (for example a per-copy token prefix,
which defeats the stopword-based language and quality filters) drops
the rows of every copy but the first and fails here.
"""

from __future__ import annotations

from perfbench.workloads import FIDELITY_TOLERANCE, GROW


class FidelityError(ValueError):
    pass


def row_count(con, sql: str) -> int:
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def check(rows_1x: dict[str, int], rows_nx: dict[str, int], rules: dict[str, float], copies: int) -> None:
    """Raise FidelityError naming every query whose replica/base row
    ratio is off its rule by more than FIDELITY_TOLERANCE."""
    broken = []
    for name, rule in rules.items():
        expected = copies if rule == GROW else 1.0
        base, rep = rows_1x[name], rows_nx[name]
        if base == 0:
            broken.append(f"{name}: 0 rows on the 1x base")
            continue
        ratio = rep / base
        if abs(ratio / expected - 1.0) > FIDELITY_TOLERANCE:
            broken.append(f"{name}: {base} -> {rep} rows ({ratio:.2f}x, expected ~{expected:g}x)")
    if broken:
        raise FidelityError("replica breaks query selectivity: " + "; ".join(broken))
