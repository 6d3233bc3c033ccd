"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything stays JVM-side: shingling, hashing, signatures and banding
are built-in higher-order array functions (``transform`` /
``aggregate`` / ``zip_with``), so the per-row path never enters Python.

Scale notes
-----------
* exact: one groupBy on a 64-bit fingerprint — map-side combine makes
  the shuffle proportional to distinct keys.
* MinHash LSH: signature computation is a scan; the only shuffle is
  the band-bucket self-join, whose size is controlled by (bands, rows)
  — candidates are verified with exact Jaccard before being reported,
  so false positives cost compute, never correctness.
* SimHash: 64-bit signature by pure Column algebra; near-dup candidate
  generation joins on 16-bit chunks (pigeonhole: hamming ≤ 3 implies
  one of 4 chunks equal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.operators import _cachereg, _partitions
from jschon_spark.operators._hof import fence

from jschon_spark.operators.textqa import tokens


def normalized(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Groups of byte-identical (after whitespace-normalization) texts.

    Output: text_hash:string, n_dup:bigint, doc_ids:array<id> (sorted).
    """
    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dup"),
            F.sort_array(F.collect_list(F.col(id_col))).alias("doc_ids"),
        )
        .filter(F.col("n_dup") > 1)
    )


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a token array (array<string>).

    Pass a MATERIALIZED column (not the raw ``split`` expression): the
    per-shingle ``F.slice(toks, i, n)`` lambda re-evaluates whatever
    ``toks`` is per element — a bound attribute is O(1), a split
    subtree turns the build O(tokens^2) (see operators/_hof.py)."""
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the normalized text (array<string>).

    Convenience form over a raw text column — pipelines that build
    shingles for EVERY row should materialize the token array first
    and call ``shingles_from_tokens`` (see the minhash pipeline)."""
    return shingles_from_tokens(tokens(normalized(col)), n)


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: per seed, the min xxhash64(shingle, seed)."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i)))
            )
            for i in range(num_hashes)
        ]
    )


def _minhash_sig_sql(sh_col: str, num_hashes: int, portable: bool) -> str:
    """SQL text replaying minhash_signature (xxhash64) or the portable
    md5 signature — same functions per element, bit-identical; one
    py4j round-trip instead of ~6 per hash (round 7)."""
    if portable:
        mins = ", ".join(
            f"array_min(transform({sh_col}, s -> md5(concat('{i}|', s))))"
            for i in range(num_hashes)
        )
    else:
        mins = ", ".join(
            f"array_min(transform({sh_col}, s -> xxhash64(s, {i})))"
            for i in range(num_hashes)
        )
    return f"array({mins})"


def _band_structs_sql(sig_col: str, bands: int, rows_per_band: int,
                      portable: bool) -> str:
    """SQL text for the exploded (band, bucket) array — replays the
    Column banding expressions exactly (xxhash64 over the
    comma-joined stringified slice, or md5 over the |-joined slice)."""
    structs = []
    for b in range(bands):
        off = b * rows_per_band + 1
        if portable:
            bucket = (
                f"md5(concat_ws('|', slice({sig_col}, {off}, {rows_per_band})))"
            )
        else:
            bucket = (
                f"xxhash64(array_join(transform("
                f"slice({sig_col}, {off}, {rows_per_band}), "
                f"v -> CAST(v AS STRING)), ','))"
            )
        structs.append(f"named_struct('band', {b}, 'bucket', {bucket})")
    return f"array({', '.join(structs)})"


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string-array sets."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs, Jaccard-verified.

    ``max_bucket_size`` drops HOT band buckets from candidate
    generation (see similarity.embedding_near_duplicates: a mega-
    cluster of near-identical texts makes the self-join quadratic in
    the cluster size). The DEFAULT cap (1000) bounds any single bucket
    to ~500k candidate pairs — safe at any corpus size; pass ``None``
    only for exact-recall verification at test scale. Run exact dedup
    first so identical texts never reach this pass.

    Output: id_a, id_b (id_a < id_b), jaccard:double — pairs with
    true n-gram Jaccard ≥ threshold that collided in ≥1 LSH band.
    """
    rows_per_band = num_hashes // bands
    base = _partitions.fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    # materialize tokens, then shingles, in separate pinned projections
    # — the slice lambda then indexes a bound array instead of
    # re-splitting the text per shingle (O(k^2) -> O(k), _hof.py)
    base = base.select(
        "id", fence(tokens(normalized(F.col("__t")))).alias("__tk")
    ).select(
        "id", fence(shingles_from_tokens(F.col("__tk"), shingle_n)).alias("sh")
    ).withColumn(
        # SQL text in one py4j round-trip (bit-identical — round 7,
        # see _minhash_sig_sql)
        "sig", F.expr(_minhash_sig_sql("sh", num_hashes, portable=False))
    )
    # the signature relation feeds three branches (banding + both sides
    # of the verify join); without persist each branch would recompute
    # num_hashes passes over every shingle array
    base = base.persist()
    _cachereg.track("minhash_near_duplicates", base)

    # Shuffle economics: the band self-join and the dedup move ONLY
    # (id, band, bucket) — never the shingle arrays. Shingles rejoin
    # once per UNIQUE candidate pair for the exact-Jaccard verify.
    banded = base.select(
        "id",
        F.explode(
            F.expr(_band_structs_sql("sig", bands, rows_per_band, False))
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    if max_bucket_size is not None:
        # window count over the SAME (band,bucket) exchange the
        # self-join below needs — no separate aggregate + join (the
        # round-5 shape cost an extra full pass over the banded rows;
        # the window's sort also pre-sorts the join keys, so the
        # self-join runs exchange-free on the reused shuffle)
        wb = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    shingles = base.select("id", "sh")
    a = shingles.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH with an engine-portable hash (md5 hex strings).

    Same pipeline as ``minhash_near_duplicates`` but the per-seed hash
    is ``min(md5(seed || '|' || shingle))`` under lexicographic string
    order and the band bucket is ``md5(signature-slice joined by '|')``
    — every step is reproducible in any SQL engine with ``md5``, so an
    external oracle (DuckDB) can replay the *entire* LSH pipeline and
    value-check the output. xxhash64 (the default variant) is faster;
    this one is the verifiable twin.

    Output: id_a, id_b (id_a < id_b), jaccard:double ≥ threshold.
    """
    rows_per_band = num_hashes // bands
    base = _partitions.fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    # materialize tokens, then shingles, in separate pinned projections
    # — the slice lambda then indexes a bound array instead of
    # re-splitting the text per shingle (O(k^2) -> O(k), _hof.py)
    base = base.select(
        "id", fence(tokens(normalized(F.col("__t")))).alias("__tk")
    ).select(
        "id", fence(shingles_from_tokens(F.col("__tk"), shingle_n)).alias("sh")
    ).withColumn(
        # SQL text in one py4j round-trip (bit-identical — round 7)
        "sig", F.expr(_minhash_sig_sql("sh", num_hashes, portable=True))
    )
    base = base.persist()
    _cachereg.track("minhash_near_duplicates_portable", base)
    banded = base.select(
        "id",
        F.explode(
            F.expr(_band_structs_sql("sig", bands, rows_per_band, True))
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    shingles = base.select("id", "sh")
    a = shingles.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _md5_seed_factory(i: int):
    """Unary lambda for transform() — see the arity note above."""
    return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold (test scale only:
    O(n²) cross join — the LSH variant is the scale path)."""
    base = df.select(
        F.col(id_col).alias("id"),
        fence(tokens(normalized(F.col(text_col)))).alias("__tk"),
    ).select(
        "id", fence(shingles_from_tokens(F.col("__tk"), shingle_n)).alias("sh")
    )
    # fan out the STREAMED side only: broadcast-nested-loop parallelism
    # equals the streamed side's partition count, so a tiny single-file
    # input otherwise scores every pair in ONE task (round 7; the
    # broadcast side stays un-repartitioned to keep its size estimate)
    l, r = _partitions.fan_out(base).alias("l"), base.alias("r")
    jac = jaccard(F.col("l.sh"), F.col("r.sh"))
    # cheap id predicate FIRST inside the join condition — a post-join
    # filter is pushed ahead of it and pays the set intersection on all
    # n² ordered pairs instead of n²/2
    return l.join(r, (F.col("l.id") < F.col("r.id")) & (jac >= threshold)).select(
        F.col("l.id").alias("id_a"),
        F.col("r.id").alias("id_b"),
        jac.alias("jaccard"),
    )


def md5_hash60(t: Column) -> Column:
    """Engine-portable 60-bit token hash: first 15 hex chars of md5.
    DuckDB equivalent: ``('0x' || substr(md5(t), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")


def simhash_counts(col: Column, bits: int = 64, hash_fn=None) -> Column:
    """Per-bit ±1 sums over the whitespace tokens (array<bigint>[bits]).

    Per token: xxhash64 → ±1 per bit; sum per bit over tokens. Pure
    aggregate/zip_with Column algebra, fuses into the scan.
    """
    toks = tokens(normalized(col))
    # hash each token ONCE, then fold; the per-bit ±1 vector shifts the
    # precomputed hash (bit positions are compile-time ints — shift
    # counts must be static; and no CSE happens inside lambdas, so
    # hashing inside the bit loop would cost 64 hashes per token)
    hashes = F.transform(toks, hash_fn or (lambda t: F.xxhash64(t)))
    counts = F.aggregate(
        hashes,
        F.expr(f"array_repeat(0L, {bits})"),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    return counts


def simhash_from_counts(counts: Column, bits: int = 64) -> Column:
    """Fold per-bit sums into the signature (sign of each sum → bit).

    Pass a *materialized column* (not the raw counts expression) so the
    64 element_at references share one evaluation.
    """
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        bit = F.when(
            F.element_at(counts, i + 1) > 0,
            F.shiftleft(F.lit(1).cast("bigint"), i),
        ).otherwise(F.lit(0).cast("bigint"))
        sig = sig.bitwiseOR(bit)
    return sig


def _token_hash_sql(hash_fn):
    """SQL text factory for the per-token hash, or None when hash_fn
    is a custom callable the SQL fast path cannot mirror."""
    if hash_fn is None:
        return lambda t: f"xxhash64({t})"
    if hash_fn is md5_hash60:
        return (
            lambda t: f"CAST(conv(substring(md5({t}), 1, 15), 16, 10) AS BIGINT)"
        )
    return None


def _simhash_counts_sql(col_sql: str, bits: int, hash_sql) -> str:
    """SQL text replaying simhash_counts(tokens(normalized(col)))
    exactly — same functions, same fold order, bit-identical. Built as
    ONE string because the Column form costs ~750 py4j round-trips
    (~1.1s of driver time per call, round 7 — same rationale as
    similarity.lsh_bucket's F.expr fast path)."""
    toks = (
        f"filter(split(regexp_replace(lower(trim({col_sql})), '\\\\s+', ' '),"
        f" '\\\\s+'), x -> x != '')"
    )
    bitvec = ", ".join(
        f"CAST((((shiftright(h, {i}) & 1) * 2) - 1) AS BIGINT)"
        for i in range(bits)
    )
    return (
        f"aggregate(transform({toks}, t -> {hash_sql('t')}), "
        f"array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, array({bitvec}), (a, b) -> a + b))"
    )


def _simhash_sig_sql(counts_col: str, bits: int) -> str:
    """SQL text replaying simhash_from_counts (left-assoc OR fold from
    0L, same CASE/shift per bit — bit-identical)."""
    sig = "CAST(0 AS BIGINT)"
    for i in range(bits):
        bit = (
            f"CASE WHEN element_at({counts_col}, {i + 1}) > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            f"ELSE CAST(0 AS BIGINT) END"
        )
        sig = f"({sig} | {bit})"
    return sig


def with_simhash(
    df: DataFrame, text_col: str, out_col: str = "sig",
    bits: int = 64, hash_fn=None,
) -> DataFrame:
    """Add a SimHash column in two projections (counts, then
    signature) so the aggregate is evaluated once per row.

    For the two stock hashes (xxhash64, md5_hash60) the whole
    expression is built as SQL text in one py4j round-trip (values
    bit-identical — see _simhash_counts_sql); a custom ``hash_fn``
    callable falls back to the Column builders."""
    hash_sql = _token_hash_sql(hash_fn)
    if hash_sql is not None:
        return (
            df.withColumn(
                "__sh_counts",
                F.expr(_simhash_counts_sql(f"`{text_col}`", bits, hash_sql)),
            )
            .withColumn(out_col, F.expr(_simhash_sig_sql("__sh_counts", bits)))
            .drop("__sh_counts")
        )
    return (
        df.withColumn("__sh_counts", simhash_counts(F.col(text_col), bits, hash_fn))
        .withColumn(out_col, simhash_from_counts(F.col("__sh_counts"), bits))
        .drop("__sh_counts")
    )


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    bits: int = 64, hash_fn=None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming.

    Candidates via (bits/4)-bit chunk equality (pigeonhole for ≤3
    differing bits over 4 chunks), verified with bit_count(xor).
    Pass ``hash_fn=md5_hash60, bits=60`` for the engine-portable
    variant an external SQL oracle can replay.

    ``max_bucket_size`` (default 1000) drops hot (chunk, value) buckets
    from candidate generation — same quadratic-self-join guard as the
    MinHash/embedding LSH paths; ``None`` disables (test scale only).
    """
    base = with_simhash(
        _partitions.fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))),
        "__t",
        "sig",
        bits,
        hash_fn,
    ).select("id", "sig")
    # both sides of the chunk self-join read this; persist so the
    # 64-bit signature fold runs once per row
    base = base.persist()
    _cachereg.track("simhash_near_duplicates", base)
    chunk_bits = bits // 4
    mask = (1 << chunk_bits) - 1
    chunked = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sig"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    if max_bucket_size is not None:
        # window count on the self-join's own (chunk,val) exchange —
        # see minhash_near_duplicates above (round-6 perf fix; the
        # old aggregate+join shape made the capped xxhash path 3x
        # slower than the UNCAPPED md5 twin at sf0.1)
        wb = Window.partitionBy("chunk", "val")
        chunked = (
            chunked.withColumn("__bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    l, r = chunked.alias("l"), chunked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    on_nonconverged: str = "raise",
    small_graph_max_edges: int = 100_000,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS: (id, cluster_id)
    with cluster_id = the smallest id reachable in the pair graph — the
    step that turns pairwise matches into dedup groups (keep one per
    cluster).

    Min-label propagation WITH POINTER DOUBLING: each round every node
    takes the minimum of its own label, its neighbours' labels, and its
    label's label (path shortcutting) — O(log diameter) rounds instead
    of O(diameter), so ``max_iter=20`` bounds chains of ~2^20 hops
    (boilerplate chains at crawl scale are the case that breaks plain
    propagation). Each round is two shuffle joins + one map-side-
    combined groupBy on (id, label) pairs only; at 10^12 rows the label
    relation is far smaller than the corpus (only ids that appear in
    pairs participate). The convergence test rides the same persisted
    relation as the labels themselves (one action per round, no extra
    join job).

    If the loop exhausts ``max_iter`` with labels still changing the
    result would be WRONG (partially propagated clusters), so by
    default it raises; ``on_nonconverged="warn"`` downgrades to a
    warning for callers that can tolerate over-segmented clusters.

    SMALL-GRAPH FAST PATH: each distributed round costs several jobs
    (two shuffle joins + a checkpoint + the convergence action) — ~2s
    of fixed scheduling/compile overhead per round regardless of data
    (measured: 5-6s for a 3-edge graph). When the pair graph has at
    most ``small_graph_max_edges`` edges it is collected (a BOUNDED
    collect — the gate caps it at ~1.6 MB of id pairs at the default)
    and resolved with driver-side union-find, identical output
    contract. The same optimization GraphFrames applies before its
    big-graph algorithm. At crawl scale the pair graph exceeds the
    gate and the pointer-doubling loop runs as before; set 0 to force
    the distributed path (the nonconvergence tests do).
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError("on_nonconverged must be 'raise' or 'warn'")
    one_way = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))

    # ONE bounded action decides the gate AND fetches the edges (round
    # 7 — was a limit+count job followed by a separate collect job,
    # each recomputing partitions the limit's short-circuit had
    # skipped caching): collect at most cap+1 rows (~a few MB at the
    # default); if over the gate the probe is discarded and the
    # distributed loop below runs unchanged. The probe reads the
    # UN-doubled pair relation (union-find is direction-agnostic):
    # probing the bidirectional union evaluated the whole upstream
    # pair pipeline TWICE — once per union branch (profiled on
    # semantic_dedup: two back-to-back single-task verify stages,
    # ~0.75s each at sf0.1).
    probe = (
        one_way.limit(small_graph_max_edges + 1).collect()
        if small_graph_max_edges
        else None
    )
    if probe is not None and len(probe) <= small_graph_max_edges:
        # release any previous distributed-path edge cache; this call
        # caches nothing
        _cachereg.track("duplicate_clusters_edges")
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in probe:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min keeps roots = smallest member, the
                # distributed path's cluster_id contract
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(i, find(i)) for i in parent]
        id_type = pairs.schema[id_a].dataType
        out_schema = T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("cluster_id", id_type, True),
            ]
        )
        return pairs.sparkSession.createDataFrame(rows, out_schema)

    # distributed path only: the bidirectional edge relation the label
    # propagation iterates over (persisted — read twice per round)
    edges = one_way.union(
        one_way.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).persist()
    _cachereg.track("duplicate_clusters_edges", edges)

    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        # localCheckpoint (not persist): each round references `labels`
        # three times (neighbor join, step, parent lookup), so without
        # lineage TRUNCATION the logical plan triples per round and
        # plan analysis blows the JVM stack by ~round 8 — the standard
        # iterative-graph pattern (GraphFrames does the same).
        .localCheckpoint(eager=False)
    )
    converged = False
    for it in range(max_iter):
        nbr = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(nbr, labels["id"] == nbr["a"], "left").select(
            F.col("id"),
            F.col("label").alias("__old"),
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
        )
        # pointer doubling: label <- label of my label (labels always
        # point downward, so the parent relation is labels itself);
        # combined with the neighbor step, the known-radius recurrence
        # is d_{r+1} = 2*d_r + 1 -> O(log diameter) rounds
        parents = labels.select(
            F.col("id").alias("__pid"), F.col("label").alias("__plabel")
        )
        new_labels = (
            stepped.join(parents, stepped["label"] == parents["__pid"], "left")
            .select(
                F.col("id"),
                F.col("__old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("__plabel"), F.col("label"))
                ).alias("label"),
            )
            .withColumn("__changed", F.col("label") != F.col("__old"))
            .drop("__old")
            .localCheckpoint(eager=False)
        )
        # ONE action per round: the agg materializes the lazy
        # checkpoint AND answers the convergence question — no separate
        # old-vs-new join job
        changed = new_labels.agg(
            F.max(F.col("__changed").cast("int")).alias("c")
        ).first()["c"]
        labels = new_labels.drop("__changed")
        if not changed:
            converged = True
            break
    if not converged:
        msg = (
            f"duplicate_clusters did not converge within max_iter={max_iter} "
            "rounds; cluster_ids would be partially propagated (wrong). "
            "Raise max_iter — pointer doubling needs only O(log diameter) "
            "rounds, so this indicates an extremely deep pair graph."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def dedup_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_losers: bool = False,
) -> DataFrame:
    """Drop every near-duplicate except the smallest id per cluster —
    the standard keep-one policy over :func:`duplicate_clusters`.

    The loser relation is every non-representative duplicate id: at
    crawl scale with 30-50% dup rates that is billions of rows, so by
    DEFAULT the anti-join strategy is left to Catalyst/AQE (shuffled
    anti-join when losers are large, runtime broadcast when small).
    Pass ``broadcast_losers=True`` only when the caller KNOWS the dup
    population is tiny — mirrors ``referential.py``'s ``broadcast_dim``
    opt-out in the opposite direction."""
    losers = (
        duplicate_clusters(pairs, id_a, id_b)
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("__loser"))
    )
    if broadcast_losers:
        losers = F.broadcast(losers)
    return docs.join(losers, docs[id_col] == F.col("__loser"), "left_anti")


def positional_gram_hashes(toks: Column, window: int = 5) -> Column:
    """ALL positional ``window``-token gram hashes of a token array —
    duplicates KEPT (unlike :func:`shingles_from_tokens`): span
    accounting needs one entry per position. Engine-portable 60-bit
    md5 hashes (``md5_hash60``); ``[]`` when the doc is shorter than
    the window.

    Pass a MATERIALIZED token column (see ``shingles_from_tokens``'s
    O(k^2) note — same HOF re-evaluation hazard applies)."""
    k = F.size(toks) - (window - 1)
    return F.when(k <= 0, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: md5_hash60(F.array_join(F.slice(toks, i, window), " ")),
        )
    )


def ngram_span_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication signal: per document, the fraction
    of its positional ``window``-token grams that also occur in at
    least ``min_docs - 1`` OTHER documents (the "duplicated span"
    measure behind suffix-array exact-substring dedup — Lee et al.
    2022, *Deduplicating Training Data Makes Language Models Better* —
    re-expressed as a distributed hash-join instead of a suffix array).

    Reference parity note: the reference engine has no corpus-level
    operator (jschon validates one instance at a time); this is part
    of the LLM-pipeline family layered on the same tables.

    100 TB shape — everything is LINEAR in corpus token count, only
    8-byte hashes + ids ride the exchanges, and the plan is ONE
    straight chain (the corpus is scanned and tokenized exactly once):

    1. one scan builds per-doc positional gram hashes (evaluate-once
       fences pin the token/gram arrays to one evaluation);
    2. ``explode_outer`` -> ``groupBy(doc, hash)`` with map-side
       combine collapses within-doc repeats BEFORE the first shuffle;
    3. the cross-document occurrence count per hash is a WINDOW
       ``count(*) over (partition by hash)`` — after step 2 each
       (doc, hash) row is one document, so the partition count IS the
       document count. A window, not an aggregate-and-rejoin: the
       rejoin shape would branch the plan, and the evaluate-once fence
       (non-deterministic by design) makes the branches non-reusable —
       Catalyst would tokenize the corpus once per branch;
    4. a doc-keyed rollup restores per-doc dup counts.

    Zero-gram docs survive as a NULL hash from ``explode_outer``;
    their window partition key is remapped to a per-doc NEGATIVE
    surrogate (real hashes are 60-bit non-negative) so a 100 TB run
    with billions of short docs doesn't funnel them into one window
    partition. Hash-partition skew from a planet-hot gram is bounded:
    step 2 already collapsed positions, so a partition holds one row
    per CONTAINING DOC, counted without any wide frame sort state.

    The 60-bit portable hash is what the DuckDB oracle replays; a
    production run at 10^12 grams would pair two independent 60-bit
    hashes to push collision odds back out (same md5 machinery).

    Output: ``id_col, n_grams, n_dup_grams, dup_fraction`` — one row
    per input document (short docs get ``n_grams = 0, fraction 0.0``).
    """
    # fan_out: tiny single-file inputs otherwise run the tokenize +
    # gram-hash pass in ONE scan task (round 7; no-op at scale, and a
    # round-robin exchange — the audited hashpartitioning count is
    # unchanged)
    base = _partitions.fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
        )
    )
    tk = base.select(
        "id", fence(tokens(normalized(F.col("__t")))).alias("__tk")
    )
    g = tk.select(
        "id",
        fence(positional_gram_hashes(F.col("__tk"), window)).alias("__g"),
    )
    ex = g.select(
        "id",
        F.size("__g").alias("n_grams"),
        F.explode_outer("__g").alias("h"),
    )
    per = ex.groupBy("id", "h").agg(
        F.count(F.lit(1)).alias("k"), F.first("n_grams").alias("n_grams")
    )
    # NULL-hash rows (zero-gram docs) get a unique negative surrogate
    # partition key; md5_hash60 is non-negative, so no collision with a
    # real gram hash is possible (and even a surrogate-surrogate
    # collision is harmless: the dup predicate requires h IS NOT NULL).
    part_key = F.coalesce(
        F.col("h"), -F.abs(F.xxhash64(F.col("id"))) - F.lit(1)
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy(part_key))
    dup = per.select(
        "id",
        "n_grams",
        F.when(
            F.col("h").isNotNull() & (n_docs >= min_docs), F.col("k")
        ).otherwise(F.lit(0)).alias("__dup_k"),
    )
    return (
        dup.groupBy("id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.sum("__dup_k").alias("__nd"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("__nd").cast("bigint").alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_dup_grams").cast("double") / F.col("n_grams"),
            ).otherwise(F.lit(0.0)),
        )
    )


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_simhash_max_hamming: int | None = None,
) -> DataFrame:
    """INCREMENTAL ingestion dedup: mark each incoming document that
    already exists in a reference corpus (the daily-crawl-vs-history
    shape — at 100 TB you never re-deduplicate the whole corpus, you
    dedup the new batch against it).

    Reference parity note: the reference validates one instance at a
    time (no corpus ops); LLM-pipeline family.

    100 TB shape:

    - EXACT: both sides reduce to 16-byte md5 keys of the
      whitespace-normalized text BEFORE any join; the history side is
      a single scan + map-side-combined distinct of hashes; the join
      is hash-keyed (AQE broadcasts the smaller side — usually the
      daily batch's distinct hashes, NOT the history). The history's
      documents never move; only hashes ride the exchange.
    - optional NEAR (``near_simhash_max_hamming``): 64-bit simhash
      fingerprints on both sides, banded into ``k + 1`` pigeonhole
      keys — differing in at most k bits guarantees one exact band
      match for ANY k (unlike a fixed 4-band split, which only covers
      k <= 3) — bucket join + exact bit_count verify. Same economics:
      8-byte keys; larger k means narrower bands, hence coarser
      buckets and more verify candidates (pick k small).

    Output: ``new_docs`` columns + ``is_exact_dup`` (+
    ``is_near_dup`` when the near pass is on). Ingestion keeps rows
    where both flags are false.
    """
    nh = new_docs.select(
        F.col(id_col).alias("__nid"),
        F.md5(normalized(F.col(text_col))).alias("__h"),
    )
    ch = (
        corpus.select(F.md5(normalized(F.col(text_col))).alias("__h"))
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    flags = nh.join(ch, "__h", "left").select(
        "__nid", F.coalesce(F.col("__hit"), F.lit(False)).alias("is_exact_dup")
    )
    out = new_docs.join(
        flags, new_docs[id_col] == F.col("__nid"), "left"
    ).drop("__nid")
    if near_simhash_max_hamming is None:
        return out
    k = near_simhash_max_hamming
    bands = k + 1
    width = 64 // bands
    nfp = with_simhash(
        new_docs.select(F.col(id_col).alias("__nid2"), F.col(text_col)),
        text_col, out_col="__fp",
    ).select("__nid2", "__fp")
    cfp = (
        with_simhash(corpus.select(F.col(text_col)), text_col, out_col="__cfp")
        .select("__cfp")
        .distinct()
    )

    def banded(fp: Column, b: int) -> Column:
        start = b * width
        w = width if b < bands - 1 else 64 - start
        if w >= 64:  # single band (k=0): the key IS the fingerprint
            return fp
        return F.shiftrightunsigned(fp, start).bitwiseAND(F.lit((1 << w) - 1))

    n_ex = nfp.select(
        "__nid2", "__fp",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("b"), banded(F.col("__fp"), b).alias("k"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("__nid2", "__fp", F.col("bk.b").alias("__b"), F.col("bk.k").alias("__k"))
    c_ex = cfp.select(
        "__cfp",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("b"), banded(F.col("__cfp"), b).alias("k"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("__cfp", F.col("bk.b").alias("__b"), F.col("bk.k").alias("__k"))
    near = (
        n_ex.join(c_ex, ["__b", "__k"])
        .filter(
            F.bit_count(F.col("__fp").bitwiseXOR(F.col("__cfp"))) <= k
        )
        .select(F.col("__nid2"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return out.join(
        near, out[id_col] == F.col("__nid2"), "left"
    ).drop("__nid2").withColumn(
        "is_near_dup", F.coalesce(F.col("is_near_dup"), F.lit(False))
    )
