"""Web-corpus curation operators: the standard passes a webtext
training-data pipeline runs between crawl and tokenizer (the reference
engine has no analogue — LLM-pipeline family, same tier as dedup/
textqa).

All operators are pure DataFrame algebra — no Python UDFs — so every
predicate stays inside whole-stage codegen and the only shuffles are
the ones the semantics require:

- ``line_dedup``       — CCNet/RefinedWeb-style corpus-level line
  deduplication: one 16-byte-key aggregation + one anti-join.
- ``c4_clean``         — the C4 heuristic cleaning recipe as row-local
  higher-order functions: scan -> project, zero shuffles.
- ``stratified_sample``— deterministic per-stratum Bernoulli sampling
  keyed on md5(id): zero shuffles, reproducible across engines and
  runs (no RNG state).
- ``per_key_cap``      — keep the top-k documents per key (domain
  caps): one hash exchange on the key.
- ``pack_token_bins``  — contiguous token-budget packing plan per
  stratum: a two-phase DISTRIBUTED prefix sum since round 6 (bucket-
  local window cumsum + broadcast bucket offsets — no single task
  ever sorts a whole stratum).
- ``url_features``     — URL canonicalization + PSL registrable
  domains (vendored snapshot, InSet literals): zero shuffles.
- ``unigram_logprob_score`` — corpus-unigram LM quality score:
  token-count aggregation + broadcast vocab.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jschon_spark.session import memo


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_docs: int = 30,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (CCNet's boilerplate filter):
    drop every line that occurs in >= ``min_docs`` DISTINCT documents,
    then reassemble each document from its surviving lines in order.

    100 TB shape: the frequency aggregation groups on ``md5(line)``
    (16 bytes through the exchange, map-side combined to distinct
    lines per partition — never full text), and the set of frequent
    lines is tiny by Zipf, so AQE broadcasts the anti-join side. The
    exploded lines are recomputed (scan + explode) rather than
    persisted — at corpus scale recompute beats caching an exploded
    copy of the whole corpus.

    Output: ``<id_col>, n_lines, n_kept, text_dedup`` (empty string
    when every line was boilerplate).

    ``sep`` is a LITERAL separator (regex-escaped before it reaches
    ``F.split``, so '.' or '|' split literally — round-6 ADVICE fix).
    """
    lines = docs.select(
        id_col,
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep), -1)
        ).alias("pos", "line"),
    )
    frequent = (
        lines.select(F.md5("line").alias("h"), id_col)
        .groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h", F.lit(True).alias("__drop"))
    )
    # mark-then-aggregate (not anti-join + second agg + agg-agg join):
    # the broadcast left join keeps every line with a drop marker, so
    # ONE aggregation produces totals, kept counts, and the rebuilt
    # text together — collect_list skips the nulled-out dropped lines
    marked = (
        lines.withColumn("h", F.md5("line"))
        .join(frequent, "h", "left")
        .withColumn("__keep", F.col("__drop").isNull())
    )
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"),
                                   F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ),
            F.lit(""),
        ).alias("text_dedup"),
    )


def c4_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 5,
    min_kept_lines: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """The C4 heuristic cleaning recipe (Raffel et al. 2020 §2.2) as
    row-local Column algebra: keep only lines that end in terminal
    punctuation, have >= ``min_words`` whitespace words, and don't
    mention javascript; reject whole documents containing
    "lorem ipsum" or a curly brace, or with fewer than
    ``min_kept_lines`` surviving lines.

    Scan -> project, zero shuffles; the line predicates run inside one
    higher-order ``filter`` over the split array. ``sep`` is a LITERAL
    separator (regex-escaped, matching :func:`line_dedup`).

    Output: ``<id_col>, n_lines, n_kept_lines, has_lorem, has_brace,
    c4_passed, text_clean``.
    """
    t = F.col(text_col)
    lines = F.split(t, re.escape(sep), -1)

    def _keep(l: Column) -> Column:
        return (
            l.rlike('[.!?"]$')
            & (F.size(F.split(l, " ", -1)) >= min_words)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, _keep)
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    return docs.select(
        id_col,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            ~has_lorem & ~has_brace & (F.size(kept) >= min_kept_lines)
        ).alias("c4_passed"),
        F.array_join(kept, sep).alias("text_clean"),
    )


def stratified_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    *,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: a row is kept iff
    the first 8 hex digits of ``md5(cast(id as string))`` fall below
    ``rate * 16^8``. No RNG state, so the sample is reproducible
    across runs, engines, partitionings, and cluster sizes — the
    property a resumable 100 TB pipeline needs (re-running a failed
    partition keeps the SAME rows). Zero shuffles: pure scan+filter,
    and the hex comparison is a codegen'd string compare against a
    per-stratum literal.

    Fractional thresholds FLOOR the rate (keep-probability is
    ``floor(rate * 16^8) / 16^8``); ``rate >= 1.0`` short-circuits to
    keep-all, so a 100% stratum really keeps every row (round-6
    ADVICE fix — the old clamped-threshold compare silently dropped
    rows whose md5 prefix was exactly ``ffffffff``).
    """
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)

    def _keep(rate: float) -> Column:
        v = int(rate * 16**8)  # floored threshold
        if v >= 16**8:  # incl. rates that FLOAT-round up to 1.0
            return F.lit(True)
        if v <= 0:
            return F.lit(False)
        return h < F.lit(format(v, "08x"))

    expr = _keep(default_rate)
    for stratum, rate in sorted(rates.items()):
        expr = F.when(F.col(strata_col) == stratum, _keep(rate)).otherwise(expr)
    return docs.filter(expr)


def per_key_cap(
    docs: DataFrame,
    key_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    *,
    k: int = 5,
) -> DataFrame:
    """Domain caps: keep the top-``k`` rows per key, ranked by
    ``order_col`` descending with ``id_col`` as the deterministic
    tiebreak. One hash exchange on the key + an in-partition top-k
    (Spark pushes a per-partition limit below the final sort when the
    window is rank-filtered). Hot domains are bounded by construction
    — the output is at most ``k`` rows per key regardless of skew.

    Output: input columns + ``rank``.
    """
    w = Window.partitionBy(key_col).orderBy(F.desc(order_col), F.asc(id_col))
    return (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pack_token_bins(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "lang",
    *,
    budget: int = 2048,
    n_buckets: int = 4096,
) -> DataFrame:
    """Sequence-packing plan: assign documents (in deterministic
    ``id_col`` order per stratum) to contiguous token-budget bins —
    document i goes to bin floor(tokens_before_i / budget). The
    offset rule (rather than true first-fit) keeps the plan a pure
    running sum, no iterative repacking, identical on any engine.

    100 TB shape (round 6 — replaces the single window over the whole
    stratum, which put an entire stratum into ONE task's sort): a
    classic two-phase distributed prefix sum.

    1. Each stratum is range-bucketed by ``id_col`` into
       ``n_buckets`` equal-width id slices (exact per-stratum min/max
       from a tiny column-pruned aggregate, broadcast back — no
       sampling, so bucketing is deterministic).
    2. ONE exchange on ``(stratum, bucket)`` + a bucket-local window
       cumsum — at most |stratum|/n_buckets rows per sort, full
       cluster parallelism.
    3. Per-bucket token subtotals are just ``max(local_cumsum)`` per
       bucket (a tiny aggregate over the SAME exchange — the planner
       reuses it, see tests/test_plans.py), cumulated into bucket
       offsets by a window over <= n_buckets rows per stratum and
       BROADCAST back: ``global_cumsum = bucket_offset + local_cumsum``.

    The bin ids are bucket-independent (pure global running sum), so
    the result is bit-identical to the naive single-window plan and
    to the SQL oracle. Non-numeric ``id_col`` types (no order-
    preserving bucketing without a sampled range partitioner) fall
    back to the single-window plan with a documented scale caveat.

    Token count is whitespace words (the tokenizer-independent
    planning proxy). Output: ``<strata_col>, bin, n_docs,
    total_tokens`` per bin.
    """
    from pyspark.sql.types import (
        ByteType, DecimalType, DoubleType, FloatType, IntegerType,
        LongType, ShortType,
    )

    toks = F.size(F.split(F.col(text_col), " ", -1))
    id_type = docs.schema[id_col].dataType
    numeric = isinstance(
        id_type,
        (ByteType, ShortType, IntegerType, LongType, FloatType,
         DoubleType, DecimalType),
    )
    if not numeric:
        # fallback: correct but single-task-per-stratum — fine for
        # small strata, NOT the 100 TB path (use a numeric id there)
        w = (
            Window.partitionBy(strata_col)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        with_bin = docs.select(
            strata_col, F.col(id_col), toks.alias("n_tokens")
        ).withColumn(
            "bin",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens"))
                / F.lit(budget)
            ),
        )
        return with_bin.groupBy(strata_col, "bin").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )

    # phase 1: deterministic equal-width id bucketing (order-preserving:
    # floor((id - lo) / width) is monotone in id). The min/max scan is
    # column-pruned to (stratum, id) — it never touches the text.
    rng = docs.groupBy(strata_col).agg(
        F.min(F.col(id_col).cast("double")).alias("__lo"),
        F.max(F.col(id_col).cast("double")).alias("__hi"),
    )
    width = F.greatest(
        (F.col("__hi") - F.col("__lo") + F.lit(1.0)) / F.lit(float(n_buckets)),
        F.lit(1e-9),
    )
    base = (
        docs.select(strata_col, F.col(id_col), toks.alias("n_tokens"))
        .join(F.broadcast(rng), strata_col)
        .withColumn(
            "__bkt",
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col(id_col).cast("double") - F.col("__lo")) / width),
            ),
        )
        .drop("__lo", "__hi")
    )

    # phase 2: bucket-local cumsum — the ONLY exchange over the rows
    wloc = (
        Window.partitionBy(strata_col, "__bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__cum", F.sum("n_tokens").over(wloc))

    # phase 3: tiny bucket subtotals -> bucket offsets (window over
    # <= n_buckets rows/stratum) -> broadcast back. Aggregating
    # sum(n_tokens) from `local` (NOT max(__cum)) lets Catalyst prune
    # the Window out of this branch entirely: the plan becomes
    # Aggregate(ReusedExchange) — the (stratum,bucket) shuffle is
    # written once and only the cumsum branch pays the sort
    # (round 6: the max(__cum) form re-sorted the reused exchange,
    # ~1.6x the naive plan's wall time at 20M rows)
    woff = (
        Window.partitionBy(strata_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        local.groupBy(strata_col, "__bkt")
        .agg(F.sum("n_tokens").alias("__bt"))
        .withColumn("__off", F.sum("__bt").over(woff) - F.col("__bt"))
        .select(strata_col, "__bkt", "__off")
    )

    with_bin = local.join(
        F.broadcast(offsets), [strata_col, "__bkt"]
    ).withColumn(
        "bin",
        F.floor(
            (F.col("__off") + F.col("__cum") - F.col("n_tokens"))
            / F.lit(budget)
        ),
    )
    return with_bin.groupBy(strata_col, "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def url_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization + host/domain extraction (the grouping key
    CCNet-style per-domain passes need) — row-local regex Column
    algebra, zero shuffles, engine-portable patterns (no lookaround,
    so Java regex and RE2 read them identically).

    Adds: ``scheme`` (lowercased), ``host`` (userinfo/port/trailing-dot
    stripped, lowercased), ``domain`` (www-stripped REGISTRABLE domain:
    a vendored trimmed Public Suffix List snapshot — see
    :mod:`jschon_spark.operators._psl` — decides how many labels the
    public suffix takes, so ``foo.co.uk -> foo.co.uk`` instead of the
    old last-two-labels ``co.uk``; suffixes absent from the snapshot
    fall back to last-two-labels, round 6), ``url_canon``
    (scheme://host[:non-default-port]path?query, fragment dropped,
    empty path -> '/'), ``parse_ok``.

    The suffix sets lower to codegen'd ``InSet`` literals — still zero
    shuffle, no broadcast dim needed.

    The five feature Columns are memoized per ``url_col`` in
    ``session.memo``: they are pure functions of the column name and
    the vendored PSL constants, and building the two ``isin`` literal
    sets (467 + 14 entries) plus the regex tree costs ~0.5s of py4j
    calls.
    """
    cols = memo(("url_features", url_col), lambda: _url_feature_cols(url_col))
    return df.select("*", *cols)


def _url_feature_cols(url_col: str) -> tuple:
    from jschon_spark.operators._psl import PSL_2LABEL, PSL_3LABEL

    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostraw = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    host_l = F.lower(F.regexp_replace(hostraw, r"^[^@]*@", ""))
    port = F.regexp_extract(host_l, r":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(host_l, r":[0-9]+$", ""), r"\.$", ""
    )
    domain_base = F.regexp_replace(host, r"^www\.", "")
    # registrable domain via the PSL snapshot: F.get is NULL-safe on
    # out-of-range (short hosts make lastK NULL -> isin NULL -> the
    # when-branch falls through, never an ANSI error)
    labels = F.split(domain_base, r"\.", -1)
    n = F.size(labels)
    l1 = F.get(labels, n - 1)
    l2 = F.get(labels, n - 2)
    l3 = F.get(labels, n - 3)
    l4 = F.get(labels, n - 4)
    dot = F.lit(".")
    last2 = F.concat(l2, dot, l1)
    last3 = F.concat(l3, dot, last2)
    domain = (
        F.when((n >= 4) & last3.isin(*sorted(PSL_3LABEL)),
               F.concat(l4, dot, last3))
        .when((n >= 3) & last2.isin(*sorted(PSL_2LABEL)),
              F.concat(l3, dot, last2))
        .when(n >= 2, last2)
        .otherwise(domain_base)
    )
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    parse_ok = (scheme != "") & (host != "")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return (
        scheme.alias("scheme"),
        F.when(parse_ok, host).alias("host"),
        F.when(parse_ok, domain).alias("domain"),
        F.when(parse_ok, canon).alias("url_canon"),
        parse_ok.alias("parse_ok"),
    )


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    vocab_size: int = 10000,
    ln10: bool = False,
) -> DataFrame:
    """Unigram language-model quality score (the cheap proxy for
    CCNet's LM-perplexity filter): build a corpus-level unigram
    distribution, then score each document by its mean token
    log10-probability (out-of-vocabulary tokens get the floor
    probability 1/(total+1)).

    100 TB shape: the vocabulary aggregation is map-side-combined
    word-count (shuffles distinct tokens, not text), capped at
    ``vocab_size`` rows and BROADCAST back onto the exploded token
    stream; the per-doc mean is one aggregation on the id. Token
    probabilities use the corpus itself — no external model, so the
    whole computation is replayable in SQL.

    Output: ``<id_col>, n_tokens, mean_logprob`` (NULL for empty
    docs).
    """
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), r"\s+", -1)).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total_df = counts.agg(
        F.sum("n").alias("__total"), F.count("*").alias("__distinct")
    )
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(vocab_size)
        .crossJoin(F.broadcast(total_df))
        .select(
            "tok",
            (F.log10(F.col("n").cast("double"))
             - F.log10(F.col("__total").cast("double") + 1.0)).alias("__lp"),
        )
    )
    floor = total_df.select(
        (-F.log10(F.col("__total").cast("double") + 1.0)).alias("__floor")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(floor))
        .select(id_col, F.coalesce("__lp", "__floor").alias("__lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.avg("__lp").alias("mean_logprob"),
    )


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str = "url",
    *,
    blocked: list[str],
    keep_blocked: bool = False,
) -> DataFrame:
    """Domain/host blocklist pass (the C4/Dolma-style "bad domains"
    filter — public method): a row is blocked when its REGISTRABLE
    domain (PSL-aware, via :func:`url_features`) or exact host is on
    the list, or its host is a subdomain of a listed host.

    Row-local Column algebra over the url_features projection — zero
    shuffles. The list lowers to InSet literals plus one higher-order
    ``exists`` for the dotted-suffix rule, so this shape is for
    curated lists (10^0-10^4 entries); a crawl-scale list (millions of
    hosts) should instead broadcast-join a blocklist dim on ``domain``
    — same verdict column, one broadcast exchange.

    Output: url_features columns + ``blocked``; rows with
    ``blocked = true`` are dropped unless ``keep_blocked`` (which
    keeps them for audit/stats passes).
    """
    bl = sorted({b.lower().lstrip(".").rstrip(".") for b in blocked})
    feat = url_features(df, url_col)
    host = F.col("host")
    if bl:
        arr = F.expr(
            "array(" + ",".join("'" + b.replace("'", "''") + "'" for b in bl) + ")"
        )
        hit = (
            F.col("domain").isin(bl)
            | host.isin(bl)
            | F.exists(arr, lambda b: host.endswith(F.concat(F.lit("."), b)))
        )
    else:
        hit = F.lit(False)
    out = feat.withColumn("blocked", F.coalesce(hit, F.lit(False)))
    return out if keep_blocked else out.filter(~F.col("blocked"))
