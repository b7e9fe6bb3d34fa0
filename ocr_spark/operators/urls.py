"""URL canonicalization for web-corpus deduplication.

Training-data pipelines dedupe on (canonical_url, content-digest); the
canonicalizer below covers the high-yield normalizations with regex-only
steps (no lookarounds) so the exact same semantics run in Spark (Java
regex) and the DuckDB oracle (RE2):

1. strip the fragment (`#...`);
2. drop tracking query params (utm_*, fbclid, gclid) wherever they sit,
   then repair a dangling `?`/`&`;
3. lowercase the scheme://host prefix (paths stay case-sensitive);
4. strip default ports (:80 for http, :443 for https);
5. strip a single trailing slash on non-root paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ._frames import fresh_names

_TRACKING = r"([?&])(?:utm_[^&=#]*|fbclid|gclid)=[^&#]*"
_HEAD = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"


# Anchoring rule: ALWAYS \z, never $ — Java's $ matches before a final
# newline, RE2's does not (the CLAUDE.md parity trap); `#[\s\S]*` needs no
# anchor and also swallows newlines after the fragment marker.
_SCHEME = r"[a-z][a-z0-9+.-]*"


def canonicalize(col: Column) -> Column:
    """Column expression implementing the five normalization steps.

    Step 2 is scoped to the QUERY (from the first ``?``): the strip and
    its separator repairs must never touch the path — a literal ``&&``
    or trailing ``&`` in a path is part of the resource name, and the
    old whole-string repairs collapsed distinct urls
    (``/a&&b`` ≡ ``/a&b``) into one canonical form, silently merging
    distinct documents in url_dedup/latest_capture."""
    c = F.regexp_replace(col, r"#[\s\S]*", "")                 # 1
    pre = F.regexp_replace(c, r"\?[\s\S]*", "")                # path part
    qry = F.regexp_extract(c, r"\?[\s\S]*", 0)                 # ?query part
    qry = F.regexp_replace(qry, _TRACKING, r"$1")              # 2a: keep delim
    qry = F.regexp_replace(qry, r"\?&+", "?")                  # 2b: repair
    qry = F.regexp_replace(qry, r"&&+", "&")
    qry = F.regexp_replace(qry, r"[?&]\z", "")                 # 2c: dangling
    c = F.concat(pre, qry)
    head = F.lower(F.regexp_extract(c, _HEAD, 0))              # 3
    tail = F.regexp_replace(c, _HEAD, "")
    c = F.concat(head, tail)
    c = F.regexp_replace(c, r"^(http://[^/:?#]*):80([/?]|\z)", r"$1$2")   # 4
    c = F.regexp_replace(c, r"^(https://[^/:?#]*):443([/?]|\z)", r"$1$2")
    c = F.regexp_replace(
        c, rf"^({_SCHEME}://[^/?#]+/.*[^/?#])/\z", r"$1"
    )                                                          # 5
    return c


def canonicalize_sql_duckdb(expr: str) -> str:
    """The identical chain in DuckDB SQL (RE2 backrefs use \\1)."""
    c = f"regexp_replace({expr}, '#[\\s\\S]*', '')"
    pre = f"regexp_replace({c}, '\\?[\\s\\S]*', '')"
    q = f"regexp_extract({c}, '\\?[\\s\\S]*')"
    q = f"regexp_replace({q}, '{_TRACKING}', '\\1', 'g')"
    q = f"regexp_replace({q}, '\\?&+', '?', 'g')"
    q = f"regexp_replace({q}, '&&+', '&', 'g')"
    q = f"regexp_replace({q}, '[?&]\\z', '')"
    c = f"({pre} || {q})"
    head = f"lower(regexp_extract({c}, '{_HEAD}'))"
    tail = f"regexp_replace({c}, '{_HEAD}', '')"
    c = f"({head} || {tail})"
    c = f"regexp_replace({c}, '^(http://[^/:?#]*):80([/?]|\\z)', '\\1\\2')"
    c = f"regexp_replace({c}, '^(https://[^/:?#]*):443([/?]|\\z)', '\\1\\2')"
    c = f"regexp_replace({c}, '^({_SCHEME}://[^/?#]+/.*[^/?#])/\\z', '\\1')"
    return c


# Host extraction: authority minus userinfo and port.  Lookaround-free,
# identical under Java regex and RE2 (the engine-parity discipline above).
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def host_of(col: Column) -> Column:
    """Lowercased registrable host of a URL ('' when there is none)."""
    return F.lower(F.regexp_extract(col, _HOST_RE, 1))


def host_of_sql_duckdb(expr: str) -> str:
    return f"lower(regexp_extract({expr}, '{_HOST_RE}', 1))"


def filter_blocked_domains(
    df: DataFrame,
    blocked: list[str],
    url_col: str = "url",
    keep_host: bool = False,
) -> DataFrame:
    """Drop documents whose host is a blocked domain or any subdomain of
    one (``ads.example.com`` matches a blocklist entry ``example.com``) —
    the standard curation step in front of every web-corpus pipeline
    (C4/RefinedWeb/FineWeb all apply URL blocklists first, cheapest
    filter earliest).

    With a literal blocklist (the common case — curated lists are
    thousands of entries, not millions) this is a PURE projection-side
    filter: the list inlines as an array literal, no join, no shuffle,
    and Catalyst pushes the filter toward the scan.  For a blocklist too
    large to inline, broadcast-anti-join instead::

        df.join(F.broadcast(blocked_df.withColumnRenamed('domain','_b')),
                on=host_of(F.col('url')) == F.col('_b'), how='left_anti')
    """
    if not blocked:
        # empty blocklist must block nothing
        return df
    import re as _re

    norm = []
    for b in blocked:
        e = b.strip().lower()
        if not e or any(ch in e for ch in "/:*?#@ \t"):
            # real curated lists carry wildcards / schemes / paths that
            # can never equal a bare host — silently-dead entries let
            # blocked content into the corpus (the blocked_words_filter
            # lesson: reject what cannot match, loudly)
            raise ValueError(
                f"blocklist entry {b!r} can never match a host — pass "
                f"bare domains (subdomains are matched implicitly, so "
                f"'*.example.com' is just 'example.com')"
            )
        norm.append(e)
    [tmp] = fresh_names(df, "_host")
    # ONE anchored alternation instead of an exists() lambda over the
    # list: PushDownPredicates substitutes a once-referenced host alias
    # INTO the lambda body, re-running the host regexp per entry per row
    # (the CLAUDE.md FILTER-predicate corollary, measured on the
    # optimized plan) — host == b OR endswith(host, '.'+b) is exactly
    # rlike '(^|\.)(b1|b2|...)\z', evaluated once per row
    alt = "|".join(_re.escape(e) for e in sorted(set(norm)))
    pattern = f"(?:^|\\.)(?:{alt})\\z"
    # a NULL url must behave like an unparseable one (host '', kept)
    bound = df.withColumn(
        tmp, F.coalesce(host_of(F.col(url_col)), F.lit(""))
    )
    kept = bound.filter(~F.col(tmp).rlike(pattern))
    return kept if keep_host else kept.drop(tmp)


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by canonical url: representative + copy count —
    the same digest-group shape as dedup.exact_dedup."""
    return (
        df.select(
            canonicalize(F.col(url_col)).alias("canonical_url"), id_col
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def latest_capture(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl revisit dedup: one row per canonical url — the NEWEST
    capture wins, ties broken by the highest ``id_col`` (deterministic
    under any partitioning).  Every crawl snapshot recrawls hot pages;
    the index convention ("latest revision per url") is exactly this.

    One ``groupBy(canonical_url)`` with a ``max_by`` over the packed row
    — a single shuffle with a map-side combine (each partition forwards
    one candidate winner per canonical url), NO window and NO sort, so
    a url recrawled 10^6 times costs its partitions one row each, not a
    single-task sort of all captures.  ``ts_col`` may be any orderable
    type (timestamp or bigint).

    Output: ``canonical_url``, ``n_captures``, then every input column
    of the winning row.  Compare :func:`_newest_capture_per_url`, the
    extraction-side pick: it keys on the RAW url, because the raw url is
    the extraction checkpoint key (canonicalizing there would merge
    http/https variants into one checkpoint key).
    """
    for c in ("canonical_url", "n_captures"):
        if c in df.columns:
            # withColumn would silently REPLACE the caller's column and
            # the final select would emit two ambiguous copies — the
            # never-silent collision policy says raise
            raise ValueError(
                f"input already carries a {c!r} column — rename it "
                f"before latest_capture"
            )
    packed = F.struct(*[F.col(c) for c in df.columns])
    order = F.struct(
        F.col(ts_col).alias("ts"), F.col(id_col).alias("id")
    )
    return (
        df.withColumn("canonical_url", canonicalize(F.col(url_col)))
        .groupBy("canonical_url")
        .agg(
            F.max_by(packed, order).alias("_w"),
            F.count(F.lit(1)).alias("n_captures"),
        )
        .select("canonical_url", "n_captures", "_w.*")
    )


def _newest_capture_per_url(pages: DataFrame) -> DataFrame:
    """One row per RAW ``url`` of a pages frame, the schema unchanged:
    the newest ``warc_ts`` wins, ties broken by the md5 of ``html``
    (NULL as ``b''``), so the pick is deterministic under any
    partitioning and a checkpoint replay commits the same capture.

    The extraction pick (``jobs/extract_job.py`` on WARC input and
    ``streaming.stream_extract`` per micro-batch): ``pipeline.extract``
    requires url-unique input — the fused plan would write one row per
    capture and the paged plan's ``groupBy(url)`` assembly would merge
    them into one corrupted document.  Unlike :func:`latest_capture` it does
    not canonicalize — the raw url is the checkpoint key — and it adds
    no columns.  One ``groupBy`` with ``max_by`` over the packed row: a
    single map-side-combined shuffle, no window."""
    packed = F.struct(*[F.col(c) for c in pages.columns])
    newest = F.struct(
        F.col("warc_ts"), F.md5(F.coalesce("html", F.lit(b"")))
    )
    return (
        pages.groupBy("url")
        .agg(F.max_by(packed, newest).alias("_row"))
        .select("_row.*")
    )
