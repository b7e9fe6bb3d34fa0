"""Distributed BPE tokenizer training + application (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

The repo's packing/export operators count and slice WHITESPACE tokens;
real pretraining corpora are tokenized by a learned subword vocabulary,
and training that vocabulary over a 100 TB corpus is itself a
distributed-aggregation problem.  This module keeps the whole loop
DataFrame-shaped:

- :func:`word_counts` — one groupBy: the corpus collapses to its word
  vocabulary (Zipf: the state all later rounds iterate over is vocab-
  sized, corpus-sized data is touched exactly once).
- :func:`bpe_train` — per merge round, ONE map-side-combined pair-count
  aggregation over the vocab + ONE bounded top-1 fetch (TakeOrdered —
  never a global sort), then a pure-codegen fold rewrites only the words
  that contain the winning pair.  No Python in the loop.
- :func:`bpe_apply` — tokenizes the DISTINCT words once (an Arrow-batched
  UDF over the vocabulary, not the corpus — the canonical
  distinct-payload trick), then one equi-join + per-doc ordered
  reassembly puts subword streams back on documents.

End-of-word convention: the marker appended to every word is a single
SPACE (``END``).  Words come from whitespace splitting, so no word can
contain it — the marker can never collide with corpus text, unlike the
usual printable ``</w>`` sentinel (crawl text absolutely does contain
``</w>``).  A merged token that ends in a space is end-of-word-bound, so
``detokenize = concat(tokens)`` restores the exact word stream.

Greedy semantics (pinned in tests): one round merges occurrences of ITS
pair left-to-right, non-overlapping, over the pre-round symbol sequence
(``aaa`` + merge ``(a,a)`` → ``[aa, a]``); apply replays merges by rank
(lowest-rank pair present merges first), matching the reference
single-machine implementation bit-for-bit.

Scale posture: each round's shuffle carries (pair, partial count) rows —
map-side combined, vocabulary-bounded, never corpus-bounded.  State is
persisted per round (the top-1 action would otherwise replay every prior
fold) and lineage is cut every ``checkpoint_every`` rounds (the
plan-depth trap measured on classifier/curate).  A production vocab run
is n_merges (e.g. 32k) sequential rounds — that is the genuine data
dependency of BPE, not an artifact; cap the word table with
``max_words`` (exact salted two-stage top-N, the cap_per_domain pattern)
to bound per-round cost, and the cap is a visible parameter, never a
silent default.

Engine parity notes: Spark ``split(word, '')`` and DuckDB
``string_split(word, '')`` both yield per-character arrays and agree on
BMP code points (probed); astral plane characters split differently
(UTF-16 units vs code points), so the contract oracles filter to
printable-ASCII words — pytest covers the general path.  Both engines
split ``''`` into ``['']``; empty words (consecutive spaces) are
excluded from TRAINING state (a bogus ``''`` symbol would otherwise vote
in pair counts) but tokenize to ``[END]`` in apply, keeping
whitespace-token counts consistent with operators/packing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ._frames import top_n

# End-of-word marker: a space can never appear inside a whitespace-split
# word, so merged symbols are collision-free by construction.
END = " "


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """``(word, cnt)`` occurrence counts — the corpus-sized pass happens
    exactly once; everything downstream iterates over the vocabulary.
    Empty words (consecutive whitespace) are dropped: they carry no
    pairs and their ``['']`` char-split symbol is an engine artifact."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    return (
        df.select(F.explode(F.split(text, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cap_word_table(df: DataFrame, max_words: int, salts: int = 16) -> DataFrame:
    """Exact top-``max_words`` words by (cnt desc, word asc) via the
    salted two-stage rank (cap_per_domain pattern): stage 1 keeps ≤ N per
    salt shard, stage 2 ranks the ≤ N·salts survivors — the Zipf head
    never funnels the full vocabulary through one task.  Capping the
    training word table is standard practice (the Zipf top-N words carry
    almost all pair mass); this makes it explicit and deterministic."""
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1, got {max_words}")
    order = [F.col("cnt").desc(), F.col("word").asc()]
    return top_n(df, [], order, max_words, salts, "word")


def initial_state(wc: DataFrame) -> DataFrame:
    """Symbol state over a word table: ``(word, cnt, syms)`` with syms =
    per-character split + END marker — round zero of the trainer, public
    so the contract can oracle-check the round-1 pair statistics."""
    return wc.select(
        "word",
        "cnt",
        F.concat(F.split("word", ""), F.array(F.lit(END))).alias("syms"),
    )


def _pair_cols(syms):
    n = F.size(syms)
    return F.arrays_zip(
        F.slice(syms, 1, n - 1).alias("l"),
        F.slice(syms, 2, n - 1).alias("r"),
    )


def _merge_fold(syms, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) in one
    codegen fold.  The accumulator carries (emitted symbols, pending
    symbol); '' is the no-pending sentinel — no symbol is ever '' (chars
    are non-empty, END is a space, merges concatenate non-empty).  The
    array under fold is a plain column reference, and per-step concat
    over word-length arrays is O(len²) at len ≈ chars-per-word — cheap,
    and never the O(W²)-per-row lambda trap (nothing re-splits)."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("pend"),
    )

    def step(acc, s):
        return (
            F.when(
                acc["pend"] == F.lit(""),
                F.struct(acc["out"].alias("out"), s.alias("pend")),
            )
            .when(
                (acc["pend"] == F.lit(left)) & (s == F.lit(right)),
                F.struct(
                    F.concat(
                        acc["out"], F.array(F.lit(left + right))
                    ).alias("out"),
                    F.lit("").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    s.alias("pend"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["pend"] == F.lit(""), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


def pair_counts(state: DataFrame) -> DataFrame:
    """``(left, right, c)`` adjacent-pair counts over the symbol state,
    weighted by word count — ONE map-side-combined aggregation whose
    shuffle is pair-vocabulary-bounded."""
    return (
        state.select(
            "cnt", F.explode(_pair_cols(F.col("syms"))).alias("p")
        )
        .groupBy(
            F.col("p.l").alias("left"), F.col("p.r").alias("right")
        )
        .agg(F.sum("cnt").alias("c"))
    )


def bpe_train(
    wc: DataFrame,
    n_merges: int,
    min_count: int = 2,
    checkpoint_every: int = 8,
    state_partitions: int | None = None,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges over a ``(word, cnt)`` table.

    Returns the ordered merge list (rank order = application order) —
    inherently driver-sized (``n_merges`` pairs).  Stops early when no
    pair reaches ``min_count`` (merging singleton pairs adds vocabulary
    that can never generalize).  Ties break deterministically on
    (count desc, left asc, right asc), so the learned vocabulary is
    partitioning-invariant (pinned in tests).

    Per round: one pair-count aggregation (map-side combined), one
    bounded top-1 fetch (TakeOrderedAndProject — no global sort), one
    fold projection applied ONLY to words containing the winner.  State
    persists per round and lineage is cut every ``checkpoint_every``
    rounds (plan depth, the measured render-OOM trap).

    ``state_partitions`` right-sizes the cached state: the vocabulary is
    tiny relative to the corpus, and a cached state inheriting a
    corpus-shaped partitioning pays per-round task overhead on
    near-empty partitions (measured: 5k-word vocab cached across 64
    partitions cost 2.9 s/round; coalesced to 8, 0.8 s/round — AQE does
    not re-coalesce cached plans by default).  Size it to roughly
    vocab_rows / a-few-hundred-thousand; ``None`` keeps the input
    partitioning."""
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    merges: list[tuple[str, str]] = []
    state = initial_state(wc)
    if state_partitions is not None:
        if state_partitions < 1:
            raise ValueError(
                f"state_partitions must be >= 1, got {state_partitions}"
            )
        state = state.coalesce(state_partitions)
    state = state.persist()
    prev = None
    try:
        for rnd in range(n_merges):
            top = (
                pair_counts(state)
                .orderBy(
                    F.col("c").desc(),
                    F.col("left").asc(),
                    F.col("right").asc(),
                )
                .limit(1)
                .collect()
            )
            if not top or top[0]["c"] < min_count:
                break
            left, right = top[0]["left"], top[0]["right"]
            merges.append((left, right))
            syms = F.col("syms")
            has_pair = F.exists(
                _pair_cols(syms),
                lambda p: (p["l"] == F.lit(left)) & (p["r"] == F.lit(right)),
            )
            new_state = state.withColumn(
                "syms",
                F.when(has_pair, _merge_fold(syms, left, right)).otherwise(
                    syms
                ),
            )
            if (rnd + 1) % checkpoint_every == 0:
                new_state = new_state.localCheckpoint(eager=True)
            else:
                new_state = new_state.persist()
            if prev is not None:
                prev.unpersist()
            prev, state = state, new_state
    finally:
        state.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def tokenize_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Single-word reference tokenizer: apply merges by rank (the
    lowest-ranked pair present merges first, greedily left-to-right) —
    the exact inverse order the trainer learned them in.  Used inside
    :func:`bpe_apply`'s distinct-word UDF and directly by tests."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for a, b in zip(syms, syms[1:]):
            rk = ranks.get((a, b))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_pair = rk, (a, b)
        if best_pair is None:
            break
        left, right = best_pair
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


_WORD_TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("toks", T.ArrayType(T.StringType()), False),
    ]
)


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """``(id, tokens, n_tokens)`` — the corpus tokenized by a learned
    merge list.

    The Python tokenizer runs over DISTINCT words only (Arrow-batched
    mapInPandas with a per-batch memo): at web scale the vocabulary is
    orders of magnitude smaller than the corpus, so the per-row work is
    one hash join + an ordered reassembly, both codegen.  Token order is
    restored by position (array_sort over (pos, toks) structs — total
    order, partitioning-invariant).  ``concat(tokens)`` per document
    round-trips to the lowercased word stream joined by single spaces
    (END markers ARE the separators) — pinned in tests."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(text, " ")).alias("_pos", "word"),
    )
    vocab = words.select("word").distinct()

    # ship the merge table as a broadcast, not a task closure: a
    # production vocabulary (32k merges) is megabytes, and closures are
    # re-serialized per task while a broadcast lands once per executor
    bc_ranks = df.sparkSession.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )

    def fn(batches):
        import pandas as pd

        ranks = bc_ranks.value
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = tokenize_word(w, ranks)
                toks.append(got)
            yield pd.DataFrame({"word": pdf["word"], "toks": toks})

    word_toks = vocab.mapInPandas(fn, _WORD_TOKENS_SCHEMA)
    return (
        words.join(word_toks, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "toks"))
                    ),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(
            id_col,
            "tokens",
            F.size("tokens").cast("int").alias("n_tokens"),
        )
    )
