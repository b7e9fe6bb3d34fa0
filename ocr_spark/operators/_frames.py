"""Shared private helpers for the curation operators: collision-free
temp-column names, the salted two-stage ranked top-n, and the one
``strategy`` resolver.  Nothing here is public API."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def fresh_names(df: DataFrame, *bases: str) -> list[str]:
    """One collision-free name per base, in order: each base gains ``_``
    suffixes until it is in neither ``df.columns`` nor an earlier
    returned name.  For INTERNAL temporary columns only — a fixed temp
    name would silently overwrite-and-drop a same-named caller column.
    A user-facing output column that collides raises in its operator; it
    is never renamed."""
    taken = set(df.columns)
    names = []
    for name in bases:
        while name in taken:
            name += "_"
        taken.add(name)
        names.append(name)
    return names


def top_n(
    df: DataFrame,
    by: str | list[str],
    order: list[Column],
    n: int,
    salts: int = 1,
    salt_by: str | Column | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the first ``n`` rows of each ``by`` group under ``order``
    (``row_number``, so give ``order`` an id tie-break to make it total;
    ``by=[]`` ranks the whole frame as one group).

    ``salts > 1`` is the salted two-stage exact top-n: stage 1 keeps
    ≤ n rows per ``(by…, salt)`` shard with ``salt = xxhash64(salt_by) %
    salts``, stage 2 ranks the ≤ n·salts survivors per group.  The
    result, ranks included, equals the single window — a group's top-n
    lies in the union of its shards' top-ns and both stages order
    identically — but a hot group (query, domain, Zipf head) never
    funnels its whole row set through one task.  ``salts=1`` is the
    single window.

    The 1-based rank comes back as ``rank_col`` (written like
    ``withColumn``), or is dropped when ``rank_col`` is None."""
    by = [by] if isinstance(by, str) else list(by)
    slt, r1, rk = fresh_names(df, "_salt", "_r1", "_rank")
    if salts > 1:
        w1 = Window.partitionBy(*by, slt).orderBy(*order)
        df = (
            df.withColumn(slt, F.pmod(F.xxhash64(salt_by), F.lit(salts)))
            .withColumn(r1, F.row_number().over(w1))
            .filter(F.col(r1) <= n)
            .drop(r1, slt)
        )
    rk = rank_col or rk
    w = Window.partitionBy(*by).orderBy(*order)
    out = df.withColumn(rk, F.row_number().over(w)).filter(F.col(rk) <= n)
    return out if rank_col else out.drop(rk)


def resolve_strategy(strategy: str, small: bool, pair: tuple[str, str]) -> str:
    """``'auto'`` → ``pair[0]`` when ``small`` else ``pair[1]``; an
    explicit value must be one of ``pair`` — a typo raises instead of
    silently running some default path."""
    if strategy == "auto":
        return pair[0] if small else pair[1]
    if strategy not in pair:
        raise ValueError(
            f"strategy must be 'auto', {pair[0]!r}, or {pair[1]!r}, "
            f"got {strategy!r}"
        )
    return strategy
