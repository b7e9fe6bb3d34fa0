"""Deterministic dataset splits: train/val/test assignment by salted hash.

The standard large-corpus technique (public knowledge): never sample with
RNG state — a document's split must be a pure function of its id and a
salt, so splits are reproducible across runs, stable under corpus
appends (old docs never migrate), and consistent between unrelated jobs
reading the same table.  A pure projection: no shuffle, no RNG, no
driver state.

Hash modes follow the repo convention: ``xxhash64`` (JVM built-in) at
scale, ``portable`` (48-bit md5-prefix, hashing.py) when DuckDB-oracle
bit-parity is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .hashing import portable_hash_col

BUCKETS = 1_000_000  # split granularity: 1e-6 resolution


def _bucket(id_col: str, salt: str, hash_mode: str) -> F.Column:
    """Hash bucket in [0, BUCKETS) — pure function of (salt, id); NULL ids
    hash like the empty string (see assign_split's rationale)."""
    salted = F.concat(
        F.lit(salt + ":"),
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
    )
    h = portable_hash_col(salted) if hash_mode == "portable" else F.xxhash64(
        salted
    )
    return F.pmod(h, F.lit(BUCKETS))


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "v1",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Append-stable Bernoulli-by-hash sample: a document is kept iff its
    hash bucket falls below ``fraction`` — a pure projection-side filter
    (no RNG state, no shuffle; the deterministic twin of
    ``df.sample(fraction)``).  Stable under corpus appends (a doc's fate
    never changes), NESTED across fractions (a 1% sample is a subset of
    the 10% sample at the same salt — bucket ranges are prefixes), and
    re-dealable via ``salt``.

    The hash domain is PREFIXED with the operation name ("sample:"), so
    sampling is statistically independent of :func:`assign_split` at the
    same salt — without the prefix a 37% sample would occupy exactly the
    split function's LOW buckets, and a later train/val/test assignment
    over the sample would find its val/test ranges EMPTY (both are
    bucket-prefix filters over the same hash).  Pinned by
    tests/test_training_ops.py::TestDeterministicSampling."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    edge = round(fraction * BUCKETS)
    return df.filter(
        _bucket(id_col, f"sample:{salt}", hash_mode) < F.lit(edge)
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "v1",
    hash_mode: str = "xxhash64",
    default_rate: float = 0.0,
) -> DataFrame:
    """Mixture construction: per-stratum keep rates (the deterministic,
    RNG-free twin of ``df.sampleBy``) — the training-mix step where each
    domain/source/language contributes a chosen fraction of its documents
    (the C4/Pile/Dolma "mixture weights" technique, made reproducible).
    Strata absent from ``rates`` keep ``default_rate`` of their docs.
    Pure projection-side filter; same append-stability and nesting
    guarantees as :func:`deterministic_sample`."""
    bad = {k: r for k, r in rates.items() if not 0.0 <= r <= 1.0}
    if bad:
        raise ValueError(f"rates must be in [0, 1]: {bad}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    edge = None
    for stratum, rate in rates.items():
        cond = F.col(strata_col) == F.lit(stratum)
        lit = F.lit(round(rate * BUCKETS))
        edge = F.when(cond, lit) if edge is None else edge.when(cond, lit)
    edge = (
        F.lit(round(default_rate * BUCKETS))
        if edge is None
        else edge.otherwise(F.lit(round(default_rate * BUCKETS)))
    )
    # same operation-prefixed hash domain as deterministic_sample (and
    # nested/consistent with it: a stratum at rate r keeps exactly the
    # docs a plain sample at fraction r would)
    return df.filter(_bucket(id_col, f"sample:{salt}", hash_mode) < edge)


def assign_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "v1",
    hash_mode: str = "xxhash64",
    out: str = "split",
) -> DataFrame:
    """Adds ``out`` ∈ weights.keys(), assigned by hash bucket.

    ``weights`` must sum to 1 (validated); label order follows dict
    insertion order, so the same weights dict always produces the same
    bucket ranges.  Changing ``salt`` re-deals every document; changing a
    weight moves only boundary buckets (nested splits: growing train from
    0.8 to 0.9 keeps every existing train doc in train)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bad = {k: w for k, w in weights.items() if not 0.0 <= w <= 1.0}
    if bad:
        raise ValueError(f"split weights must be in [0, 1]: {bad}")
    bucket = _bucket(id_col, salt, hash_mode)
    expr = None
    edge = 0
    labels = list(weights)
    for label in labels[:-1]:
        edge += round(weights[label] * BUCKETS)
        cond = bucket < F.lit(edge)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label)
        )
    expr = (
        F.lit(labels[0])
        if expr is None
        else expr.otherwise(F.lit(labels[-1]))
    )
    return df.withColumn(out, expr)


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "v1",
    hash_mode: str = "xxhash64",
    default_budget: int | None = 0,
    n_buckets_log2: int = 10,
) -> DataFrame:
    """Mixture construction by TOKEN budget (the Dolma/Pile/Llama recipe:
    "N tokens from source X"), where :func:`stratified_sample` mixes by
    document FRACTION.  Documents within a stratum are ranked by salted
    hash (a uniform draw, not crawl-order bias; ``id_col`` tie-breaks),
    and a document is kept iff the whitespace-token count of the docs
    ranked before it is still below the stratum's budget — so each
    stratum overshoots by AT MOST ONE document (the boundary doc is
    kept; deterministic, documented, never silent: the rule is the
    contract).  Strata absent from ``budgets`` get ``default_budget``
    (``None`` = unlimited, keep everything; ``0`` = drop — mirrors
    ``stratified_sample``'s ``default_rate``).

    Unlike fraction sampling this is inherently NOT append-stable: new
    documents compete for the same budget and can displace old winners
    near the boundary.  Re-deal with ``salt``.

    Plan shape (the pack_sequences two-phase prefix sum, re-keyed): the
    per-stratum running token sum would be one task per stratum as a
    plain window — a mega-source is exactly the skew this op exists to
    tame — so the hash's HIGH BITS form ``2^n_buckets_log2``
    order-contiguous buckets per stratum; per-(stratum, bucket) local
    window prefixes run in parallel, per-bucket totals (a bounded
    ``n_strata × 2^n_buckets_log2`` rowset) are cumulated on the driver
    and broadcast back as base offsets.  No SinglePartition exchange
    (plan-tested).  Partially EAGER like pack_sequences: the totals
    action runs at build time, exact and deterministic.
    """
    clash = {
        "_n_tok", "_h", "_bkt", "_strat", "_base", "_off", "_budget"
    } & set(df.columns)
    if clash:
        # the two-phase prefix sum joins a driver-built base frame on
        # these fixed names — a colliding input column would silently
        # become the join key (never-silent policy: raise)
        raise ValueError(
            f"input already carries reserved helper column(s) "
            f"{sorted(clash)}; rename them before token_budget_sample"
        )
    for k, b in budgets.items():
        if b < 0:
            raise ValueError(f"budgets must be >= 0: {k}={b}")
    if default_budget is not None and default_budget < 0:
        raise ValueError(f"default_budget must be >= 0 or None")
    salted = F.concat(
        F.lit(f"tokbudget:{salt}:"),
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
    )
    if hash_mode == "portable":
        h = portable_hash_col(salted)  # 48-bit nonneg
        bucket = F.shiftright(h, 48 - n_buckets_log2)
    else:
        h = F.xxhash64(salted)  # signed 64-bit
        # arithmetic shift keeps bucket order == signed hash order
        bucket = F.shiftright(h, 64 - n_buckets_log2)
    strat = F.coalesce(F.col(strata_col), F.lit(""))
    toks = df.select(
        "*",
        F.expr(
            f"size(split(coalesce({text_col}, ''), ' '))"
        ).alias("_n_tok"),
        h.alias("_h"),
        bucket.cast("bigint").alias("_bkt"),
        strat.alias("_strat"),
    )

    # phase 2: per-(stratum, bucket) totals -> cumulative base offsets
    totals = (
        toks.groupBy("_strat", "_bkt")
        .agg(F.sum("_n_tok").cast("bigint").alias("_tot"))
        .collect()
    )
    base_rows: list[tuple[str, int, int]] = []
    running: dict[str, int] = {}
    for r in sorted(totals, key=lambda r: (r["_strat"], r["_bkt"])):
        s = r["_strat"]
        base_rows.append((s, r["_bkt"], running.get(s, 0)))
        running[s] = running.get(s, 0) + (r["_tot"] or 0)
    spark = df.sparkSession
    base = spark.createDataFrame(
        base_rows, schema="_strat string, _bkt bigint, _base bigint"
    )

    # phase 1: local window prefix within (stratum, bucket) + base join
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_strat", "_bkt")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    edge = None
    for s, b in budgets.items():
        cond = F.col("_strat") == F.lit(s)
        lit = F.lit(int(b)).cast("bigint")
        edge = F.when(cond, lit) if edge is None else edge.when(cond, lit)
    default_lit = (
        F.lit(None).cast("bigint")
        if default_budget is None
        else F.lit(int(default_budget)).cast("bigint")
    )
    edge = default_lit if edge is None else edge.otherwise(default_lit)
    off = toks.join(F.broadcast(base), ["_strat", "_bkt"]).select(
        "*",
        (F.col("_base") + F.coalesce(F.sum("_n_tok").over(w), F.lit(0)))
        .cast("bigint")
        .alias("_off"),
        edge.alias("_budget"),
    )
    kept = off.filter(
        F.col("_budget").isNull() | (F.col("_off") < F.col("_budget"))
    )
    return kept.drop("_n_tok", "_h", "_bkt", "_strat", "_base", "_off",
                     "_budget")


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "v1",
    hash_mode: str = "xxhash64",
    n_buckets_log2: int = 10,
) -> DataFrame:
    """Deterministic global pseudo-shuffle + sharding for training export:
    every document gets ``(shard, seq)`` — ``shard = hash % n_shards``,
    ``seq`` = the document's 0-based rank within its shard under
    ``(hash, id)`` order.  Training wants an order DECORRELATED from
    crawl order (crawl order clusters hosts/time; consuming it directly
    skews every batch); a salted hash is a reproducible permutation with
    no RNG state, stable across runs and identical on any cluster size.
    Writers then ``repartition(n_shards, shard)`` +
    ``sortWithinPartitions(seq)`` and emit one file per shard — readers
    stream shards round-robin for an i.i.d.-ish sample order.

    The hash domain is prefixed ("shard:") for independence from
    :func:`assign_split` / :func:`deterministic_sample` at the same salt
    (same rationale as documented there).

    Plan shape: the naive ``seq`` is ``row_number OVER (PARTITION BY
    shard ORDER BY h)`` — one task per shard sorting corpus/n_shards
    rows, a straggler wall when shards are sized for file convenience
    (10^12 docs / 4096 shards = 2.4×10^8 rows per task).  So ``seq``
    uses the two-phase prefix pattern (pack_sequences/token_budget):
    the hash's high bits form order-contiguous buckets; local
    ``row_number`` per (shard, bucket) runs at shards × 2^log2 -way
    parallelism, per-bucket counts (a bounded small rowset) are
    cumulated on the driver and broadcast back as base offsets.  No
    SinglePartition exchange; partially EAGER (the counts action runs at
    build time — exact and deterministic).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    clash = {"_h", "_bkt", "_base", "shard", "seq"} & set(df.columns)
    if clash:
        # "shard"/"seq" are this op's OUTPUT columns and the helpers join
        # a driver-built base frame on fixed names — a colliding input
        # (e.g. re-sharding an already-sharded table without dropping its
        # old columns) would be silently wrong or ambiguous: raise
        raise ValueError(
            f"input already carries reserved column(s) {sorted(clash)}; "
            f"drop or rename them before shard_corpus"
        )
    salted = F.concat(
        F.lit(f"shard:{salt}:"),
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
    )
    if hash_mode == "portable":
        h = portable_hash_col(salted)  # 48-bit nonneg
        bucket = F.shiftright(h, 48 - n_buckets_log2)
    else:
        h = F.xxhash64(salted)  # signed 64-bit
        # arithmetic shift keeps bucket order == signed hash order
        bucket = F.shiftright(h, 64 - n_buckets_log2)
    hashed = df.select(
        "*",
        h.alias("_h"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
        bucket.cast("bigint").alias("_bkt"),
    )

    # phase 2: per-(shard, bucket) counts -> cumulative base offsets
    totals = (
        hashed.groupBy("shard", "_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    base_rows: list[tuple[int, int, int]] = []
    running: dict[int, int] = {}
    for r in sorted(totals, key=lambda r: (r["shard"], r["_bkt"])):
        s = r["shard"]
        base_rows.append((s, r["_bkt"], running.get(s, 0)))
        running[s] = running.get(s, 0) + r["_n"]
    spark = df.sparkSession
    base = spark.createDataFrame(
        base_rows, schema="shard int, _bkt bigint, _base bigint"
    )

    # phase 1: local rank within (shard, bucket) + base join
    from pyspark.sql import Window

    w = Window.partitionBy("shard", "_bkt").orderBy("_h", id_col)
    return (
        hashed.join(F.broadcast(base), ["shard", "_bkt"])
        .select(
            "*",
            (F.col("_base") + F.row_number().over(w) - 1)
            .cast("bigint")
            .alias("seq"),
        )
        .drop("_h", "_bkt", "_base")
    )
