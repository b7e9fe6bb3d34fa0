"""Bloom-filter incremental dedup — dedupe a NEW crawl snapshot against an
EXISTING kept corpus without a full anti-join of the old side per run.

Crawl pipelines re-run monthly: snapshot N+1 must drop documents whose
content was already kept from snapshots 1..N.  A digest anti-join is
correct but shuffles BOTH sides every month.  The bloom path splits the
work into a cheap membership pre-filter and a tiny exact verify:

1. :func:`bloom_bitmap` — fold the old corpus's content digests into an
   ``m``-bit bloom filter, represented as a DataFrame of
   ``(word BIGINT, mask BIGINT)`` with at most ``ceil(m/63)`` rows.  The
   old corpus is SCANNED once (text column only — at ingest time you
   would persist the digest column and scan just that); ``bit_or`` has a
   map-side partial, so each input partition ships at most one partial
   mask per word — the shuffle is O(words × partitions) masks, never
   O(rows).
2. :func:`bloom_flag` — mark each new document ``maybe_seen`` when all
   ``k`` of its bloom bits are set.  Implemented as ``k`` BROADCAST
   joins against the mask table keyed by word — the new snapshot never
   shuffles; the plan is Exchange-free on the new side
   (tests/test_bloom.py pins this).
3. :func:`incremental_dedup` — only ``maybe_seen`` rows (the true dups
   plus the ~``(1-e^{-kn/m})^k`` false-positive sliver) reach the exact
   digest anti-join; everything else passes through untouched.  Bloom
   filters have NO false negatives, so the result is EXACTLY the
   anti-join's — the oracle twin for the end-to-end operator is the
   plain ``NOT IN (SELECT digest FROM old)`` query, independent of
   ``m``/``k``; a second oracle pins the bitmap bit arithmetic itself.

Scale regimes (the honest version): ``bloom_flag``'s k-broadcast probe
covers bitmaps small enough to broadcast k times; past ~2^30 bits use
``incremental_dedup(..., probe_mode='single-join')`` /
:func:`bloom_probe_digests` — ONE bitmap instance in the plan (k probe
positions exploded into rows and joined once), and with a parquet-backed
bitmap no broadcast at all, covering m = 2^33 bits ≈ 1 GiB of masks
(~10^9 old documents at ~10 bits/doc, 1% fp) and beyond — the "dedupe a
raw 10^12-page crawl against the curated reference corpus" shape, where
the pre-filter removes the anti-join's shuffle for >99% of new rows.
Past broadcastable bitmaps entirely, store the old digests bucketed by
digest and let the verify anti-join run shuffle-free on the old side;
the bloom still cuts the NEW side's shuffle to candidates only.
Position arithmetic covers the full m range only in ``xxhash64`` mode
(k independent seeded hashes); ``portable`` mode (the DuckDB-parity
family) is capped at m = 2^31-1 and ENFORCES it.

Word layout uses 63 bits per word (shifts 0..62): bit 63 of a signed
64-bit integer cannot be produced portably (DuckDB raises on
``1::BIGINT << 63``), and 63-bit words keep every mask non-negative so
``(mask >> bit) & 1`` needs no sign reasoning in either engine.

NULL text is treated as ``''`` throughout (hashing AND verify digest,
both engines) — the simhash r3 lesson: NULL must not silently change
row cardinality between code paths.

No reference-repo counterpart (the reference is a single-node OCR
service); this is part of the training-data-pipeline surface the brief
adds on top of SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._frames import fresh_names
from .hashing import (
    MERSENNE,
    MINHASH_A,
    MINHASH_B,
    portable_hash_sql_duckdb,
    portable_hash_sql_spark,
)

WORD_BITS = 63  # see module docstring: portable signed-64 bit layout

DEFAULT_M_BITS = 1 << 22  # ~420k docs at k=4 under ~1% fp; override at scale
DEFAULT_K = 4


def digest_expr(text_col: str) -> str:
    """The canonical content digest every bloom stage keys on — md5 of
    coalesce(text,'') as a hex string.  A persisted digest STORE (see
    :func:`ocr_spark.io.write_digest_store`) holds exactly this value,
    so raw-text corpora and digest stores are interchangeable as the
    old side."""
    return f"md5(coalesce({text_col}, ''))"


M_BITS_CAP_XXHASH = 1 << 62  # 63-bit words, non-negative masks (see above)

FINGERPRINT_WORD = -1  # probe positions are non-negative, so -1 is free


def bitmap_fingerprint(m_bits: int, k: int, hash_mode: str) -> int:
    """Non-negative 63-bit fingerprint of the bitmap's build parameters
    (+ the word layout version), stored in the reserved ``word = -1``
    row of every :func:`bloom_bitmap`.  A bitmap persisted to parquet is
    a long-lived artifact; probing it with DIFFERENT ``m_bits``/``k``/
    ``hash_mode`` (or with a layout from another release) produces bloom
    FALSE NEGATIVES — kept duplicates — with no error anywhere, so the
    probe side refuses a mismatched artifact instead
    (:func:`check_bitmap_fingerprint`).  The sentinel row is join-inert:
    every probe joins on non-negative words."""
    import hashlib as _hashlib

    raw = f"bloom-layout-v1|{m_bits}|{k}|{hash_mode}|{WORD_BITS}".encode()
    return int.from_bytes(_hashlib.md5(raw).digest()[:8], "big") >> 1


def check_bitmap_fingerprint(
    bitmap: DataFrame, m_bits: int, k: int, hash_mode: str
) -> bool:
    """Validate a (possibly stored) bitmap's fingerprint row against the
    probe parameters.  Returns True when a fingerprint was present and
    matched, False when the bitmap carries none (a pre-fingerprint
    artifact — accepted, the caller owns the risk), and raises on a
    mismatch.  One tiny filter job (pushed down on parquet bitmaps)."""
    rows = (
        bitmap.filter(F.col("word") == FINGERPRINT_WORD)
        .select("mask")
        .limit(2)
        .collect()
    )
    if not rows:
        return False
    got = int(rows[0]["mask"])
    want = bitmap_fingerprint(m_bits, k, hash_mode)
    if got != want:
        raise ValueError(
            f"bloom bitmap fingerprint mismatch: the artifact was built "
            f"with different (m_bits, k, hash_mode) than this probe "
            f"(m_bits={m_bits}, k={k}, hash_mode={hash_mode!r}) — "
            f"probing it would produce silent false negatives "
            f"(kept duplicates)"
        )
    return True


def _bound_hash_expr(digest: str, mode: str) -> str:
    """The per-row expression each bloom stage binds ONCE to a real
    column before the k position exprs reference it (the CLAUDE.md
    bind-before-reuse rule): the 48-bit portable hash for ``portable``
    mode (positions derive from it via the LCG family), or the canonical
    DIGEST STRING itself for ``xxhash64`` mode (each position is an
    independent seeded ``xxhash64`` of it — see :func:`_position_exprs`).
    Either way, a stored digest column reproduces the same bloom
    positions as the original text."""
    if mode == "portable":
        return portable_hash_sql_spark(digest)  # 48-bit, non-negative
    return digest


def _digest_of(text_col: str, digest_col: str | None) -> str:
    return digest_col if digest_col is not None else digest_expr(text_col)


def _position_exprs(h: str, k: int, m_bits: int, mode: str = "portable") -> list[str]:
    """The k bloom positions from the bound hash column ``h``.

    ``portable`` mode reuses the minhash LCG family (a_j·h + b_j mod p)
    over the 48-bit portable hash — identical arithmetic is emitted for
    DuckDB by :func:`oracle_bitmap_sql`, and because every position is
    taken mod the 2^31-1 Mersenne BEFORE mod ``m_bits``, it can only
    address ``m_bits <= 2^31-1`` (ENFORCED — silently unreachable upper
    bits would degrade the fp rate far above the formula).

    ``xxhash64`` mode draws k INDEPENDENT full-width hashes —
    ``pmod(xxhash64(digest, j), m_bits)`` with the probe index ``j``
    folded into the hash input — so positions cover the full word layout
    (``m_bits`` up to 2^62) with no 2^31 bottleneck and no int64
    overflow anywhere (the r4 ADVICE finding: the old
    ``LCG(pmod(xxhash64, 2^31-1))`` positions were all functions of a
    2^31-value hash, so the module's advertised m = 2^33 regime was
    unreachable)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if mode == "portable":
        # only the portable LCG family is bounded by the fixed perm
        # table; xxhash64 mode draws k independent seeded hashes and
        # supports any k (textbook sizing k = ln2·m/n often wants 10+)
        if k > len(MINHASH_A):
            raise ValueError(
                f"k={k} exceeds the {len(MINHASH_A)} fixed perms of "
                f"portable mode — use hash_mode='xxhash64' for larger k"
            )
        if m_bits > MERSENNE:
            raise ValueError(
                f"portable hash positions cover at most m_bits={MERSENNE} "
                f"(2^31-1); got {m_bits} — use hash_mode='xxhash64' for "
                f"larger filters"
            )
        return [
            f"((({MINHASH_A[j]} * {h} + {MINHASH_B[j]}) % {MERSENNE}) % {m_bits})"
            for j in range(k)
        ]
    if m_bits > M_BITS_CAP_XXHASH:
        raise ValueError(
            f"m_bits={m_bits} exceeds the 63-bit word layout cap 2^62"
        )
    return [f"pmod(xxhash64({h}, {j}), {m_bits})" for j in range(k)]


def bloom_bitmap(
    df: DataFrame,
    text_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_mode: str = "xxhash64",
    digest_col: str | None = None,
) -> DataFrame:
    """(word, mask) rows of the old corpus's bloom filter — only nonempty
    words appear.  One explode (k rows/doc) + one map-side-combined
    ``bit_or`` groupBy; the shuffle carries masks, not documents.
    Pass ``digest_col`` to build from a persisted digest store instead
    of raw text (identical output by construction)."""
    pos = ", ".join(_position_exprs("_blh", k, m_bits, hash_mode))
    dig = _digest_of(text_col, digest_col)
    words = (
        df.select(F.expr(_bound_hash_expr(dig, hash_mode)).alias("_blh"))
        .select(F.expr(f"explode(array({pos}))").alias("pos"))
        .select(
            F.expr(f"pos DIV {WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {WORD_BITS} AS INT))"
            ).alias("_bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("mask"))
    )
    # reserved word=-1 row: the build-parameter fingerprint the probe
    # side validates on stored artifacts (join-inert — see
    # bitmap_fingerprint)
    fp = bitmap_fingerprint(m_bits, k, hash_mode)
    sentinel = df.sparkSession.range(1).select(
        F.lit(FINGERPRINT_WORD).cast("bigint").alias("word"),
        F.lit(fp).cast("bigint").alias("mask"),
    )
    return words.unionByName(sentinel)


def bloom_flag(
    df: DataFrame,
    bitmap: DataFrame,
    text_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_mode: str = "xxhash64",
    flag_col: str = "maybe_seen",
    digest_col: str | None = None,
) -> DataFrame:
    """``df`` + a ``maybe_seen`` flag: true iff ALL k bloom bits are set.

    k broadcast hash joins on the word id — the new snapshot's rows never
    move (no Exchange on the probe side; plan-pinned).  A word absent
    from the bitmap means no bit in it is set (left join + coalesce(0)),
    so an EMPTY old corpus flags nothing.

    The hash is bound to a real column ONCE (`_blh`) before the position
    exprs reference it — k positions and k bit probes each mention the
    hash, and an inlined md5 would be re-evaluated at every mention
    (the CLAUDE.md bind-before-reuse rule, applied to scalars).

    Broadcast duplication, measured honestly: Spark does not reuse the
    k BroadcastExchanges even when the bitmap is persisted (the per-join
    word/mask renames defeat canonical plan equality — 4 separate
    broadcasts of the same cached rows).  The BUILD is shared via the
    persist; the broadcast PAYLOAD is k × the mask table.  At the
    large-m end of the regime (≥ 2^30 bits), use
    :func:`bloom_probe_digests` (or ``incremental_dedup(...,
    probe_mode='single-join')``): one bitmap instance, optionally read
    from parquet instead of broadcast at all."""
    if flag_col in df.columns:
        # withColumn would silently REPLACE the caller's column (and
        # internal callers then .drop() it) — the never-silent collision
        # policy says raise, like token_budget_sample/shard_corpus
        raise ValueError(
            f"flag_col {flag_col!r} already exists in the input — pass a "
            f"different name"
        )
    hcol = "_blh"
    # the collision-safe prefix covers the per-probe join columns too
    # (an input already carrying e.g. `_blw0` must not silently become
    # the join key) — every derived name extends hcol
    while hcol in df.columns or any(
        c.startswith(hcol + "w") or c.startswith(hcol + "m")
        for c in df.columns
    ):
        hcol += "_"
    out = df.withColumn(
        hcol,
        F.expr(_bound_hash_expr(_digest_of(text_col, digest_col), hash_mode)),
    )
    positions = _position_exprs(hcol, k, m_bits, hash_mode)
    hits = []
    mcols = []
    for j, p in enumerate(positions):
        w, m = f"{hcol}w{j}", f"{hcol}m{j}"
        mcols.append(m)
        out = out.withColumn(w, F.expr(f"({p}) DIV {WORD_BITS}"))
        out = out.join(
            F.broadcast(
                bitmap.select(F.col("word").alias(w), F.col("mask").alias(m))
            ),
            on=w,
            how="left",
        )
        hits.append(
            f"(shiftright(coalesce({m}, CAST(0 AS BIGINT)), "
            f"CAST(({p}) % {WORD_BITS} AS INT)) & 1) = 1"
        )
        out = out.drop(w)
    flag = " AND ".join(hits)
    return out.withColumn(flag_col, F.expr(flag)).drop(hcol, *mcols)


def bloom_probe_digests(
    new_df: DataFrame,
    bitmap: DataFrame,
    text_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_mode: str = "xxhash64",
    digest_col: str | None = None,
    broadcast_bitmap: bool = True,
) -> DataFrame:
    """Distinct content digests of ``new_df`` that are bloom-MAYBE-seen,
    via a SINGLE instance of the bitmap relation in the plan.

    The per-digest k probes are exploded into rows ``(digest, word,
    bit)`` and joined against the bitmap ONCE; a digest is maybe-seen
    iff its min hit is 1 (all probed bits set).  This is the large-``m``
    probe: :func:`bloom_flag`'s k broadcast joins ship the mask table k
    times (Spark does not reuse-merge the broadcasts — measured r4), so
    at m = 2^30 (~134 MB of masks) k=4 costs ~half a GB of broadcast per
    probe job; here the bitmap is broadcast exactly once, and with
    ``broadcast_bitmap=False`` it is never broadcast at all — pass a
    bitmap READ FROM PARQUET (the monthly artifact) and the join
    shuffles only the compact probe rows (digest + two longs) against
    the in-place masks, covering ``m`` far beyond broadcast range.

    The trade vs :func:`bloom_flag`: probes shuffle through the min-hit
    groupBy (32-byte digests, map-side combined), where bloom_flag's
    probe side is exchange-free.  Small m → bloom_flag; large m or
    storage-backed bitmap → this."""
    dig = _digest_of(text_col, digest_col)
    digs = new_df.select(F.expr(dig).alias("digest")).distinct()
    hcol = "_blh"
    bound = digs.withColumn(hcol, F.expr(_bound_hash_expr("digest", hash_mode)))
    probes = [
        f"named_struct('word', ({p}) DIV {WORD_BITS}, "
        f"'bit', CAST(({p}) % {WORD_BITS} AS INT))"
        for p in _position_exprs(hcol, k, m_bits, hash_mode)
    ]
    exploded = bound.select(
        "digest",
        F.expr(f"explode(array({', '.join(probes)}))").alias("pb"),
    ).select("digest", "pb.word", "pb.bit")
    bitmap = bitmap.select("word", "mask")  # tolerate wider artifacts
    b = F.broadcast(bitmap) if broadcast_bitmap else bitmap
    return (
        exploded.join(b, on="word", how="left")
        .select(
            "digest",
            F.expr(
                f"(shiftright(coalesce(mask, CAST(0 AS BIGINT)), bit) & 1)"
            ).alias("_hit"),
        )
        .groupBy("digest")
        .agg(F.min("_hit").alias("_allhit"))
        .filter(F.col("_allhit") == 1)
        .select("digest")
    )


def incremental_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    hash_mode: str = "xxhash64",
    old_digest_col: str | None = None,
    bitmap: DataFrame | None = None,
    probe_mode: str = "broadcast-k",
) -> DataFrame:
    """Rows of ``new_df`` whose content digest does NOT appear in
    ``old_df`` — the cross-snapshot dedup step (intra-snapshot dedup is
    :func:`ocr_spark.operators.dedup.exact_dedup`'s job, run separately).

    ``old_df`` may be the raw kept corpus (``text_col``) or a persisted
    DIGEST STORE (pass ``old_digest_col``; see
    :func:`ocr_spark.io.write_digest_store`).  With a store BUCKETED on
    the digest, the verify anti-join reads the store's buckets in place
    — no shuffle on the old side, and only the candidate sliver of the
    new side shuffles.

    = bloom pre-filter + exact verify of the candidates; exactly
    equivalent to the full digest anti-join for every ``m``/``k``
    (no false negatives), which is what the oracle twin checks.

    Pass ``bitmap`` to reuse a pre-built (and caller-persisted /
    parquet-backed) mask table — the caller then OWNS its lifecycle
    (unpersist after materializing this function's output).  When built
    internally, the bitmap is persisted before the flag joins
    (``bloom_flag`` probes it through k broadcast joins whose build
    subtrees Spark does NOT reuse-merge — measured: 4 identical
    aggregations, 4 scans of the old corpus without the persist) and the
    cached masks stay pinned until the session drops them — recurring
    callers (curate_job, streams) should pass their own.

    ``probe_mode``:

    - ``'broadcast-k'`` (default): :func:`bloom_flag`'s k broadcast
      joins — the NEW side is exchange-free (plan-pinned), right for
      broadcastable ``m``.
    - ``'single-join'``: :func:`bloom_probe_digests` — the bitmap
      relation appears ONCE in the plan (plan-pinned), maybe-seen
      DIGESTS are exact-verified against the old side (digest-only
      semi-join), and the new side anti-joins the verified seen set;
      AQE broadcasts that set when small (the low-overlap regime a
      bloom pre-filter exists for).  Right for large ``m`` and for
      parquet-backed bitmaps."""
    if probe_mode not in ("broadcast-k", "single-join"):
        raise ValueError(f"unknown probe_mode {probe_mode!r}")
    owned = bitmap is None
    if not owned:
        # a caller-provided bitmap is a long-lived artifact (persisted /
        # parquet); refuse it if its build parameters don't match this
        # probe's — a mismatch means silent false negatives
        check_bitmap_fingerprint(bitmap, m_bits, k, hash_mode)
    old_dig = _digest_of(text_col, old_digest_col)
    if probe_mode == "single-join":
        if owned:
            # the bitmap relation appears exactly once in this plan — no
            # persist needed (broadcast it: the mode's in-memory shape;
            # a parquet-backed bitmap is the caller-provided case)
            bitmap = bloom_bitmap(
                old_df, text_col, m_bits, k, hash_mode,
                digest_col=old_digest_col,
            )
        maybe = bloom_probe_digests(
            new_df, bitmap, text_col, m_bits, k, hash_mode,
            broadcast_bitmap=owned,
        )
        # exact verify on digests only (no payload moves): the bloom has
        # no false negatives, so maybe ∩ old = exactly the seen set
        seen = maybe.join(
            old_df.select(F.expr(old_dig).alias("digest")),
            on="digest",
            how="left_semi",
        )
        [dcol] = fresh_names(new_df, "_dig")
        return new_df.join(
            seen.withColumnRenamed("digest", dcol),
            on=F.expr(digest_expr(text_col)) == F.col(dcol),
            how="left_anti",
        )
    if owned:
        bitmap = bloom_bitmap(
            old_df, text_col, m_bits, k, hash_mode, digest_col=old_digest_col
        ).persist()
    [fcol] = fresh_names(new_df, "_maybe")
    flagged = bloom_flag(
        new_df,
        bitmap,
        text_col,
        m_bits,
        k,
        hash_mode,
        flag_col=fcol,
    )
    passed = flagged.filter(~F.col(fcol)).drop(fcol)
    survivors = (
        flagged.filter(F.col(fcol))
        .withColumn("_dig", F.expr(digest_expr(text_col)))
        .join(
            old_df.select(F.expr(old_dig).alias("_dig")),
            on="_dig",
            how="left_anti",
        )
        .drop("_dig", fcol)
    )
    return passed.unionByName(survivors)


# ---------------------------------------------------------------------------
# DuckDB oracle twins (driver-contract parity)


def oracle_bitmap_sql(
    old_sql: str, text_col: str, m_bits: int, k: int
) -> str:
    """DuckDB SQL computing the identical (word, mask) bitmap for
    ``hash_mode='portable'`` — pins the digest → hash → LCG → shift
    arithmetic cross-engine bit-for-bit."""
    h = portable_hash_sql_duckdb(f"md5(coalesce({text_col}, ''))")
    pos = ", ".join(
        f"((({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MERSENNE}) % {m_bits})"
        for j in range(k)
    )
    fp = bitmap_fingerprint(m_bits, k, "portable")
    return f"""
WITH old AS ({old_sql}),
h AS (SELECT {h} AS h FROM old),
p AS (SELECT unnest([{pos}]) AS pos FROM h)
SELECT pos // {WORD_BITS} AS word,
       bit_or(CAST(1 AS BIGINT) << CAST(pos % {WORD_BITS} AS INT)) AS mask
FROM p GROUP BY 1
UNION ALL
SELECT CAST({FINGERPRINT_WORD} AS BIGINT) AS word, CAST({fp} AS BIGINT) AS mask
"""
