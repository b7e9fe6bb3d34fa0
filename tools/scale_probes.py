#!/usr/bin/env python
"""One-off A/B scale probes backing the r5 BENCH.md evidence rows.

Not part of bench.py's per-round JSON (each probe deliberately runs a
known-bad plan shape for comparison); run manually::

    python tools/scale_probes.py bloom    # single-join bitmap probe vs
                                          # the k-broadcast probe at
                                          # m = 2^28
    python tools/scale_probes.py bpe      # distinct-word tokenize+join
                                          # (bpe_apply) vs tokenizing
                                          # every word occurrence
    python tools/scale_probes.py dsir     # explode+join+regroup scoring
                                          # (dsir_weights) vs the
                                          # zero-exchange inline fold
                                          # (dsir_weights_inline)

Methodology (the bench-hygiene rules from BENCH.md, applied to A/Bs):

- **One subprocess per timed variant.**  pyspark reuses the SAME JVM
  within a Python process, and a payload-heavy plan poisons later
  shuffle timings up to 10× (measured r4) — so variant A must never run
  in variant B's JVM, and no untimed pre-pass (result-parity check, data
  generation beyond the localCheckpoint) may share the timed JVM with a
  LATER variant.  The orchestrator spawns ``<probe>-time <variant>``
  subprocesses and merges their JSON; result parity runs in its own
  final subprocess.
- **Symmetric inputs.**  The bloom A/B probes ONE pre-built,
  caller-persisted bitmap passed to both modes (the production artifact
  posture) — an internally-built bitmap would let the persisting mode's
  second rep skip the build that the other mode re-pays.
- Best-of-2 per variant; JVM-side generation behind a localCheckpoint so
  the timed window is the operator, not the generator.
- Wall-time AND shuffle-write bytes (Spark UI REST) per variant: on one
  host a shuffle is a memory copy, on 1000 executors it is the network,
  so bytes are the cluster-relevant number local wall-clock can't show.

``bloom`` compares ``incremental_dedup(probe_mode='broadcast-k')``
(bloom_flag: k broadcast joins, each shipping the full mask table —
Spark does not reuse-merge the identical broadcasts, measured r4)
against ``probe_mode='single-join'`` (bloom_probe_digests: the bitmap
appears ONCE in the plan; probes explode to rows) at the large-``m``
regime the single-join mode exists for.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

BLOOM_DEFAULTS = (2_000_000, 2_000_000, 2**28)  # n_old, n_new, m_bits


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _shuffle_write_bytes(spark) -> int:
    """Total shuffle-write bytes across all completed stages so far
    (Spark UI REST; the probes enable the UI for exactly this)."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def _spark(app: str):
    from ocr_spark.session import get_spark

    return get_spark(
        app, cores=None, extra_conf={"spark.ui.enabled": "true"}
    )


def _sub(argv: list[str]) -> dict:
    """Run one probe subprocess (fresh JVM) and parse its JSON line."""
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), *argv],
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        print(out.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"probe subprocess {argv} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------- bloom probe


def _bloom_corpora(spark, n_old: int, n_new: int):
    from pyspark.sql import functions as F

    def corpus(n, offset):
        return (
            spark.range(n)
            .select(
                F.concat(
                    F.lit("document body old number "),
                    (F.col("id") + offset).cast("string"),
                ).alias("text")
            )
            .localCheckpoint()
        )

    # same text template for both sides: new ids start at n_old/2, so
    # half the new snapshot repeats old content (revisits), half is fresh
    return corpus(n_old, 0), corpus(n_new, n_old // 2)


def bloom_time(mode: str, n_old: int, n_new: int, m_bits: int) -> dict:
    from ocr_spark.operators import bloom

    spark = _spark(f"bloom-{mode}")
    old, new = _bloom_corpora(spark, n_old, n_new)
    # ONE caller-persisted bitmap probed by both modes (the production
    # artifact posture) — built and materialized OUTSIDE the timed
    # window, so the A/B times the probe machinery, not the build, and
    # neither mode gets a cache the other lacks
    bitmap = bloom.bloom_bitmap(old, m_bits=m_bits, k=4).persist()
    bitmap_rows = bitmap.count()
    best = float("inf")
    kept = None
    before = _shuffle_write_bytes(spark)
    for rep in range(2):
        t0 = time.time()
        kept = bloom.incremental_dedup(
            new, old, m_bits=m_bits, k=4, bitmap=bitmap, probe_mode=mode
        ).count()
        best = min(best, time.time() - t0)
        if rep == 0:
            shuffle = _shuffle_write_bytes(spark) - before
    bitmap.unpersist()
    spark.stop()
    return {
        "mode": mode,
        "sec": round(best, 2),
        "shuffle_mb": round(shuffle / 2**20, 1),
        "kept_rows": kept,
        "bitmap_rows": bitmap_rows,
    }


def probe_bloom(n_old: int | None = None, n_new: int | None = None,
                m_bits: int | None = None) -> dict:
    n_old, n_new, m_bits = (
        n_old or BLOOM_DEFAULTS[0],
        n_new or BLOOM_DEFAULTS[1],
        m_bits or BLOOM_DEFAULTS[2],
    )
    args = [str(n_old), str(n_new), str(m_bits)]
    single = _sub(["bloom-time", "single-join", *args])
    bcast = _sub(["bloom-time", "broadcast-k", *args])
    return {
        "probe": "bloom_singlejoin_vs_kbroadcast",
        "n_old": n_old,
        "n_new": n_new,
        "m_bits": m_bits,
        "k": 4,
        "single_join_sec": single["sec"],
        "single_join_shuffle_mb": single["shuffle_mb"],
        "broadcast_k_sec": bcast["sec"],
        "broadcast_k_shuffle_mb": bcast["shuffle_mb"],
        "bitmap_rows": single["bitmap_rows"],
        # the k-broadcast mode's distinguishing cost is not a shuffle: it
        # ships the (word, mask) table to EVERY executor k times
        "broadcast_k_payload_mb_per_executor": round(
            single["bitmap_rows"] * 16 * 4 / 2**20, 1
        ),
        "rows_match": single["kept_rows"] == bcast["kept_rows"],
        "kept_rows": single["kept_rows"],
    }


# --------------------------------------------------------------- BPE probe

BPE_DEFAULTS = (500_000, 40, 5_000, 64)  # n_docs, words/doc, vocab, merges


def _bpe_corpus(spark, n_docs: int, wpd: int, vocab: int):
    from pyspark.sql import functions as F

    return (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"concat_ws(' ', transform(sequence(1, {wpd}), i -> "
                f"concat('w', conv(pmod(xxhash64(id, i), {vocab}), "
                "10, 36))))"
            ).alias("text"),
        )
        .localCheckpoint()
    )


def _bpe_apply_per_occurrence(docs, merges):
    """The shape ``bpe_apply`` avoids: tokenize EVERY word occurrence in
    the UDF (all occurrence rows cross the Arrow boundary and re-hit the
    per-batch memo) instead of tokenizing the distinct vocabulary once
    and joining.  Memoization is kept IN BOTH variants so the A/B
    isolates the plan shape (Arrow row volume + join), not a strawman
    missing cache."""
    from pyspark.sql import functions as F, types as T

    from ocr_spark.operators.bpe import tokenize_word

    text = F.lower(F.coalesce(F.col("text"), F.lit("")))
    words = docs.select(
        "doc_id", F.posexplode(F.split(text, " ")).alias("_pos", "word")
    )
    bc = docs.sparkSession.sparkContext.broadcast(
        {p: i for i, p in enumerate(merges)}
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("_pos", T.IntegerType(), False),
            T.StructField("toks", T.ArrayType(T.StringType()), False),
        ]
    )

    def fn(batches):
        import pandas as pd

        ranks = bc.value
        memo: dict[str, list[str]] = {}
        for pdf in batches:
            toks = []
            for w in pdf["word"]:
                got = memo.get(w)
                if got is None:
                    got = memo[w] = tokenize_word(w, ranks)
                toks.append(got)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "_pos": pdf["_pos"], "toks": toks}
            )

    return (
        words.mapInPandas(fn, schema)
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(
            "doc_id", "tokens", F.size("tokens").cast("int").alias("n_tokens")
        )
    )


def bpe_time(variant: str, n_docs: int, wpd: int, vocab: int,
             n_merges: int) -> dict:
    from ocr_spark.operators import bpe

    spark = _spark(f"bpe-{variant}")
    docs = _bpe_corpus(spark, n_docs, wpd, vocab)
    # train OUTSIDE the timed window, identically in both subprocesses
    # (same deterministic corpus → same merges); training is light, the
    # r4 JVM-poisoning lesson concerned payload-heavy stages
    merges = bpe.bpe_train(
        bpe.word_counts(docs), n_merges, state_partitions=8
    )
    if variant == "distinct_join":
        df = bpe.bpe_apply(docs, merges)
    elif variant == "per_occurrence":
        df = _bpe_apply_per_occurrence(docs, merges)
    else:
        raise SystemExit(f"unknown bpe variant {variant!r}")
    before = _shuffle_write_bytes(spark)
    t0 = time.time()
    _noop(df)
    best = time.time() - t0
    shuffle = _shuffle_write_bytes(spark) - before
    t0 = time.time()
    _noop(df)
    best = min(best, time.time() - t0)
    spark.stop()
    return {
        "variant": variant,
        "sec": round(best, 2),
        "shuffle_mb": round(shuffle / 2**20, 1),
        "merges_learned": len(merges),
    }


def bpe_verify(n_docs: int, wpd: int, vocab: int, n_merges: int) -> dict:
    from ocr_spark.operators import bpe

    spark = _spark("bpe-verify")
    docs = _bpe_corpus(spark, n_docs, wpd, vocab)
    merges = bpe.bpe_train(
        bpe.word_counts(docs), n_merges, state_partitions=8
    )
    a = bpe.bpe_apply(docs, merges)
    b = _bpe_apply_per_occurrence(docs, merges)
    mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
    spark.stop()
    return {"result_mismatch_rows": mismatch}


def probe_bpe(n_docs: int | None = None, wpd: int | None = None,
              vocab: int | None = None, n_merges: int | None = None) -> dict:
    n_docs, wpd, vocab, n_merges = (
        n_docs or BPE_DEFAULTS[0],
        wpd or BPE_DEFAULTS[1],
        vocab or BPE_DEFAULTS[2],
        n_merges or BPE_DEFAULTS[3],
    )
    args = [str(n_docs), str(wpd), str(vocab), str(n_merges)]
    dj = _sub(["bpe-time", "distinct_join", *args])
    po = _sub(["bpe-time", "per_occurrence", *args])
    parity = _sub(["bpe-verify", *args])
    out = {
        "probe": "bpe_distinctjoin_vs_peroccurrence",
        "n_docs": n_docs,
        "words_per_doc": wpd,
        "vocab": vocab,
        "n_merges": n_merges,
        "result_mismatch_rows": parity["result_mismatch_rows"],
        "distinct_join_sec": dj["sec"],
        "per_occurrence_sec": po["sec"],
        "distinct_join_shuffle_mb": dj["shuffle_mb"],
        "per_occurrence_shuffle_mb": po["shuffle_mb"],
    }
    out["speedup"] = round(
        out["per_occurrence_sec"] / out["distinct_join_sec"], 2
    )
    return out


# --------------------------------------------------------------- DSIR probe

DSIR_DEFAULTS = (200_000, 30, 10_000, 8192)


def _dsir_corpus(spark, n_docs: int, wpd: int, vocab: int):
    from pyspark.sql import functions as F

    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(1, {wpd}), i -> "
            f"concat('w', conv(pmod(xxhash64(id, i), {vocab}), 10, 36))))"
        ).alias("text"),
    ).localCheckpoint()


def _dsir_models(spark, docs, buckets: int):
    """Fit + MATERIALIZE both hashed-ngram models outside the timed
    window (persist + count), so both variants time SCORING only — the
    fit is the shared one-time artifact cost either way."""
    from ocr_spark.operators import dsir

    tc = dsir.hashed_ngram_counts(
        docs.filter("doc_id % 7 = 0"), buckets
    ).persist()
    rc = dsir.hashed_ngram_counts(docs, buckets).persist()
    tc.count(), rc.count()
    return tc, rc


def dsir_time(
    variant: str, n_docs: int, wpd: int, vocab: int, buckets: int
) -> dict:
    from ocr_spark.operators import dsir

    spark = _spark(f"dsir-{variant}")
    docs = _dsir_corpus(spark, n_docs, wpd, vocab)
    tc, rc = _dsir_models(spark, docs, buckets)
    if variant == "join":
        df = dsir.dsir_weights(docs, tc, rc, buckets)
    elif variant == "inline":
        # the collect is part of the fit artifact (once per model, ≤
        # buckets rows) — outside the timer like the persist above
        ratios = dsir.dsir_log_ratios(tc, rc, buckets)
        df = dsir.dsir_weights_inline(docs, ratios)
    else:
        raise SystemExit(f"unknown dsir variant {variant!r}")
    before = _shuffle_write_bytes(spark)
    t0 = time.time()
    _noop(df)
    best = time.time() - t0
    shuffle = _shuffle_write_bytes(spark) - before
    t0 = time.time()
    _noop(df)
    best = min(best, time.time() - t0)
    spark.stop()
    return {
        "variant": variant,
        "sec": round(best, 2),
        "shuffle_mb": round(shuffle / 2**20, 1),
    }


def dsir_verify(n_docs: int, wpd: int, vocab: int, buckets: int) -> dict:
    from ocr_spark.operators import dsir

    spark = _spark("dsir-verify")
    docs = _dsir_corpus(spark, n_docs, wpd, vocab)
    tc, rc = _dsir_models(spark, docs, buckets)
    a = dsir.dsir_weights(docs, tc, rc, buckets)
    b = dsir.dsir_weights_inline(
        docs, dsir.dsir_log_ratios(tc, rc, buckets)
    )
    mismatch = a.exceptAll(b).count() + b.exceptAll(a).count()
    spark.stop()
    return {"result_mismatch_rows": mismatch}


def probe_dsir(n_docs: int | None = None, wpd: int | None = None,
               vocab: int | None = None,
               buckets: int | None = None) -> dict:
    n_docs, wpd, vocab, buckets = (
        n_docs or DSIR_DEFAULTS[0],
        wpd or DSIR_DEFAULTS[1],
        vocab or DSIR_DEFAULTS[2],
        buckets or DSIR_DEFAULTS[3],
    )
    args = [str(n_docs), str(wpd), str(vocab), str(buckets)]
    jn = _sub(["dsir-time", "join", *args])
    il = _sub(["dsir-time", "inline", *args])
    parity = _sub(["dsir-verify", *args])
    out = {
        "probe": "dsir_join_vs_inline",
        "n_docs": n_docs,
        "words_per_doc": wpd,
        "vocab": vocab,
        "buckets": buckets,
        "result_mismatch_rows": parity["result_mismatch_rows"],
        "join_sec": jn["sec"],
        "inline_sec": il["sec"],
        "join_shuffle_mb": jn["shuffle_mb"],
        "inline_shuffle_mb": il["shuffle_mb"],
    }
    out["speedup"] = round(out["join_sec"] / out["inline_sec"], 2)
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit(
            "usage: python tools/scale_probes.py {bloom|bpe|dsir} "
            "[sizes...]"
        )
    which, rest = sys.argv[1], sys.argv[2:]
    if which == "bloom":
        print(json.dumps(probe_bloom(*[int(float(x)) for x in rest])))
    elif which == "bpe":
        print(json.dumps(probe_bpe(*[int(float(x)) for x in rest])))
    elif which == "bloom-time":
        m, n_old, n_new, mb = rest[0], *[int(float(x)) for x in rest[1:4]]
        print(json.dumps(bloom_time(m, n_old, n_new, mb)))
    elif which == "bpe-time":
        v, nd, wp, vc, nm = rest[0], *[int(float(x)) for x in rest[1:5]]
        print(json.dumps(bpe_time(v, nd, wp, vc, nm)))
    elif which == "dsir":
        print(json.dumps(probe_dsir(*[int(float(x)) for x in rest])))
    elif which == "dsir-time":
        v, nd, wp, vc, bk = rest[0], *[int(float(x)) for x in rest[1:5]]
        print(json.dumps(dsir_time(v, nd, wp, vc, bk)))
    elif which == "dsir-verify":
        nd, wp, vc, bk = [int(float(x)) for x in rest[:4]]
        print(json.dumps(dsir_verify(nd, wp, vc, bk)))
    elif which == "bpe-verify":
        nd, wp, vc, nm = [int(float(x)) for x in rest[:4]]
        print(json.dumps(bpe_verify(nd, wp, vc, nm)))
    else:
        raise SystemExit(f"unknown probe {which!r}")
