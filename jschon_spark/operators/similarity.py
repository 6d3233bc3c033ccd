"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the exact baseline; LSH (random-hyperplane)
bucketed variant as the scale path — both pure DataFrame ops. Dot
products use ``zip_with`` + ``aggregate`` with float64 accumulation
(JVM-side); no Python per row. Each vector expression has one builder:
:func:`dot` / :func:`l2_norm` / :func:`cosine` (over a dot product and
two norms computed once per row) as Columns, and, where a vector meets
many seeded hyperplanes or centroids, SQL text that folds them into one
nested-array literal (:func:`_array_sql`) indexed by a loop — one LSH
bucket builder (:func:`_bucket_sql`) for ``lsh_topk`` and
``embedding_near_duplicates``.

Scale notes
-----------
Brute force broadcasts the (small) query set: the corpus is scanned
once, never shuffled. The LSH variant hashes both sides into sign-bit
buckets from ``n_planes`` fixed random hyperplanes; only same-bucket
pairs are scored, trading recall for a shuffle bounded by bucket sizes.
``brute_force_pairs`` pins a broadcast only while its input's files fit
under ``spark.sql.autoBroadcastJoinThreshold``.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.operators import _cachereg, _partitions, dedup


def dot(a: Column, b: Column) -> Column:
    """Float64 dot product: ``zip_with`` products folded left to right
    from 0.0 by ``aggregate``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(ab: Column, na: Column, nb: Column) -> Column:
    # zero vectors have undefined cosine -> NULL (never a divide-by-zero
    # error under ANSI mode; filters then exclude the pair)
    denom = na * nb
    return F.when(denom > 0, ab / denom)


def _vec(col: str, vec: str, norm: str) -> list[Column]:
    # a vector and its norm, computed once per row before the pair join
    return [F.col(col).alias(vec), l2_norm(F.col(col)).alias(norm)]


def _candidate_cos() -> Column:
    return cosine(dot(F.col("__cv"), F.col("__qv")), F.col("__cn"), F.col("__qn"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` highest-``cos`` rows per query (ties to the lower
    vec_id): query_id, vec_id, cos:double, rank:int (1-based)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast; corpus scanned once.

    Output: query_id, vec_id, cos:double, rank:int (1-based).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), *_vec(vec_col, "__qv", "__qn")
        )
    )
    scored = corpus.select(
        F.col(id_col).alias("vec_id"), *_vec(vec_col, "__cv", "__cn")
    ).crossJoin(q).withColumn("cos", _candidate_cos())
    return _top_k(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _array_sql(values: list) -> str:
    """SQL text for a (nested) array literal of doubles, at full
    precision. Foldable: ConstantFolding collapses it into ONE Literal,
    so a loop indexing it with ``element_at`` keeps the plan small
    where one inlined subtree per row of ``values`` would not."""
    if values and isinstance(values[0], (list, tuple)):
        return "array(" + ", ".join(_array_sql(v) for v in values) + ")"
    return "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"


def _l2_norm_sql(vec_sql: str) -> str:
    """SQL text for :func:`l2_norm` — same transform/aggregate fold,
    bit-identical."""
    return (
        f"sqrt(aggregate(transform({vec_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def _bucket_sql(vec: str, tables: list[list[list[float]]], t: str) -> str:
    """SQL text for the sign-bit LSH bucket of the vector column
    ``vec`` under hyperplane table ``t`` (a 1-based SQL int: a literal,
    or the lambda variable ``t`` of a loop over the tables): bit i is
    set when the vector's dot product with plane i is >= 0.

    The tables fold to one nested-array literal indexed by a loop over
    the planes instead of one inlined dot subtree per plane (round 7),
    cutting plan construction, analysis and the per-task deserialize
    of every stage that reads the bucket. The dot product folds like
    :func:`dot`. ``vec`` must not be a name the lambdas bind (``t``,
    ``acc``, ``p``, ``x``, ``y``, ``a2``, ``v2``): alias the column
    first."""
    assert all(len(p) == len(tables[0]) for p in tables), "ragged plane tables"
    return (
        f"aggregate(sequence(1, {len(tables[0])}), 0L, (acc, p) -> acc | "
        f"shiftleft(CAST(CASE WHEN "
        f"aggregate(zip_with({vec}, element_at(element_at({_array_sql(tables)}, {t}), p), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a2, v2) -> a2 + v2) "
        f">= 0 THEN 1 ELSE 0 END AS BIGINT), p - 1))"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket
    are scored. Output schema matches brute_force_topk."""
    tables = [_hyperplanes(dim, n_planes, seed)]

    def bucket(vec: str) -> Column:
        # never NULL (a NULL vector sets no bit), but an aggregate is
        # typed nullable: the coalesce keeps the join from inferring an
        # isnotnull filter that would evaluate the bucket twice per row
        return F.expr(f"coalesce({_bucket_sql(vec, tables, '1')}, 0L)")

    c = corpus.select(
        F.col(id_col).alias("vec_id"), *_vec(vec_col, "__cv", "__cn")
    ).withColumn("__bucket", bucket("__cv"))
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), *_vec(vec_col, "__qv", "__qn")
        ).withColumn("__bucket", bucket("__qv"))
    )
    scored = c.join(q, "__bucket").withColumn("cos", _candidate_cos())
    return _top_k(scored, k)


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF coarse quantizer: k-means centroids + per-vector list id.

    Returns (assigned_df with ``__list`` column, centroids: list[list]).
    Training uses pyspark.ml KMeans on the corpus (sampled upstream if
    huge); assignment is one scan. At query time only ``n_probe``
    lists are searched — the classic IVF trade of recall for scan cost.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("__cv"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__feat"),
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__feat", predictionCol="__list")
    model = km.fit(feat)
    assigned = model.transform(feat).select("vec_id", "__cv", "__list")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with an IVF index: score only the ``n_probe``
    inverted lists nearest each query. Output matches brute_force_topk.
    """
    assigned, centroids = ivf_index(corpus, n_lists, id_col, vec_col, seed)
    assigned = assigned.withColumn("__cn", l2_norm(F.col("__cv"))).persist()
    _cachereg.track("ivf_topk", assigned)

    # probe lists per query: computed driver-side against the tiny
    # centroid table, shipped as a literal mapping (queries are small)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).collect()

    def nearest_lists(vec) -> list[int]:
        dists = []
        for li, c in enumerate(centroids):
            d = sum((float(a) - b) ** 2 for a, b in zip(vec, c))
            dists.append((d, li))
        return [li for _, li in sorted(dists)[:n_probe]]

    spark = corpus.sparkSession
    probe = spark.createDataFrame(
        [
            (r["query_id"], r["__qv"], li)
            for r in q_rows
            for li in nearest_lists(r["__qv"])
        ],
        f"query_id long, __qv array<float>, __list int",
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    scored = assigned.join(F.broadcast(probe), "__list").withColumn(
        "cos", _candidate_cos()
    )
    return _top_k(scored, k)


def seeded_centroids(dim: int, n_lists: int, seed: int = 7) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids (seeded Gaussian).

    A data-independent alternative to the k-means quantizer in
    ``ivf_index``: same IVF mechanics (nearest-centroid inverted lists,
    n_probe search) with centroids that any engine can replay from the
    seed — the DuckDB oracle embeds them as literals, like the LSH
    hyperplanes in ``lsh_topk``."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_lists)]


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
) -> DataFrame:
    """IVF top-k over seeded deterministic centroids (oracle-replayable).

    The corpus is scanned once: each vector is assigned to its nearest
    inverted list JVM-side (one loop of ``n_lists`` squared-distance
    aggregates over a folded centroid literal, no Python). The tiny
    query side expands to its ``n_probe`` nearest lists and BROADCASTS
    onto the corpus — the corpus never shuffles;
    at 100 TB the scan cost dominates and only ``n_probe/n_lists`` of
    candidates are scored. Output matches brute_force_topk.
    """
    centroids = seeded_centroids(dim, n_lists, seed)
    # Two stacked Projects over a FOLDED centroid literal (round 7,
    # same shape as semantic_dedup's assignment): one expression using
    # the distance array in both array_position and array_min would
    # build it twice, and HOF aggregates evaluate outside codegen
    # subexpression elimination, so materializing __d once halves the
    # per-row assignment work; the centroids fold to one nested-array
    # Literal indexed by a transform(sequence()) loop, shrinking the
    # plan ~50x (construction + per-task deserialize). fan_out: a tiny
    # single-file corpus otherwise runs ALL interpreted distance
    # aggregates in one scan task; no-op at scale.
    cent_lit = _array_sql(centroids)

    def sq_dist(vec: str) -> str:
        # squared L2 distance from vec to centroid i (loop variable)
        return (
            f"aggregate(zip_with({vec}, element_at({cent_lit}, i), "
            f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            f"0.0D, (acc, v) -> acc + v)"
        )

    d_sql = f"transform(sequence(1, {len(centroids)}), i -> {sq_dist('__cv')})"
    c = (
        _partitions.fan_out(corpus)
        .select(
            F.col(id_col).alias("vec_id"),
            *_vec(vec_col, "__cv", "__cn"),
        )
        .select("vec_id", "__cv", "__cn", F.expr(d_sql).alias("__d"))
        .select(
            "vec_id",
            "__cv",
            "__cn",
            # coalesce(-1) makes __list provably non-nullable, so the
            # inner join below cannot infer an isnotnull(__list)
            # pushdown filter — which duplicated the ENTIRE assignment
            # expression into a Filter under the Project (2x the
            # interpreted distance work per corpus row; visible in
            # plans/r07/knn_ivf_before.txt). Equivalent output: NULL
            # __list (null/ragged vector) never matched a probe list,
            # and -1 never matches li in [0, n_lists).
            F.expr(
                "coalesce(CAST(array_position(__d, array_min(__d)) - 1 "
                "AS INT), -1)"
            ).alias("__list"),
        )
    )
    # per-query probe lists: n_probe nearest centroids, computed with
    # one F.expr on the (tiny) query relation — same folded-literal
    # loop as the corpus assignment (the struct field names/order match
    # the old inline form, so array_sort's (d, li) ordering and the
    # distances are bit-identical)
    dists = F.expr(
        f"transform(sequence(1, {len(centroids)}), i -> "
        f"named_struct('d', {sq_dist('__qv')}, 'li', CAST(i - 1 AS INT)))"
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"), *_vec(vec_col, "__qv", "__qn")
        )
        .withColumn("__probe", F.slice(F.array_sort(dists), 1, n_probe))
        .select(
            "query_id", "__qv", "__qn",
            F.explode(F.transform(F.col("__probe"), lambda s: s["li"])).alias("__list"),
        )
    )
    scored = c.join(F.broadcast(q), "__list").withColumn("cos", _candidate_cos())
    return _top_k(scored, k)


def brute_force_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
    dim: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ min_cos (O(n²) — sample/test scale; the
    LSH-bucketed ``embedding_near_duplicates`` is the scale path).
    Pass ``dim`` when known to unroll the pair-stage dot product.

    Output: id_a, id_b (id_a < id_b), cos:double.

    Norms are computed once per row in the base relation (not per
    pair) — same values bit-for-bit as the naive formula, but the
    O(n²) pair stage runs one array aggregate instead of three. With
    ``dim`` given, each vector is additionally flattened to ``dim``
    scalar columns once per ROW, so the per-PAIR dot is a flat
    multiply-add chain over plain doubles — no array access, no
    lambda dispatch, same left-to-right fold order (bit-identical).
    """
    if dim:
        # flatten via ONE struct expr + star-expand, and the pair dot
        # as ONE SQL string: the per-element Column loops cost ~260
        # py4j round-trips (~0.5s of driver time per call — round 7).
        # Same element_at/cast/left-fold, bit-identical values.
        flat = ", ".join(
            f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE) AS __e{i}"
            for i in range(1, dim + 1)
        )
        base = df.select(
            F.col(id_col).alias("id"),
            l2_norm(F.col(vec_col)).alias("nrm"),
            F.expr(f"struct({flat})").alias("__s"),
        ).select("id", "nrm", "__s.*")
    else:
        # the raw array rides through the O(n²) join only when needed
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
    # fan out the STREAMED side and pin the broadcast side explicitly:
    # BNLJ parallelism equals the streamed side's partition count, and
    # a tiny single-file corpus otherwise scores every pair in ONE
    # task. Without the hint AQE was observed to build the FANNED-OUT
    # side (BuildLeft) and stream the single-partition scan — back to
    # one task. The hint is kept only while the scan's files fit under
    # spark.sql.autoBroadcastJoinThreshold; a larger (or unsized) input
    # leaves the join strategy to Catalyst/AQE.
    l = _partitions.fan_out(base).alias("l")
    r = (F.broadcast(base) if _partitions.fits_broadcast(df) else base).alias("r")
    if dim:
        terms = " + ".join(f"(l.__e{i} * r.__e{i})" for i in range(1, dim + 1))
        pair_dot = F.expr(f"0.0D + {terms}")
    else:
        pair_dot = dot(F.col("l.v"), F.col("r.v"))
    cos = cosine(pair_dot, F.col("l.nrm"), F.col("r.nrm"))
    # both predicates INSIDE the join condition, cheap one first: a
    # post-join filter gets pushed in FRONT of the id comparison by
    # Catalyst, paying the dot product on all n² ordered pairs instead
    # of n²/2 (measured 2.1×)
    return (
        l.join(r, (F.col("l.id") < F.col("r.id")) & (cos >= min_cos))
        .select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            cos.alias("cos"),
        )
    )


def auto_n_planes(
    n_rows: int, target_bucket_size: int = 8, floor: int = 6, ceiling: int = 24
) -> int:
    """Plane count sized to the corpus: n_planes ≈ log2(n / target
    bucket occupancy), clamped to [floor, ceiling]. 100k rows → 14
    planes; 10^9 rows → 24 (the ceiling — beyond that recall, not
    bucket occupancy, is the binding constraint and n_tables is the
    knob)."""
    if n_rows <= target_bucket_size:
        return floor
    return min(ceiling, max(floor, math.ceil(math.log2(n_rows / target_bucket_size))))


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 8,
    min_cos: float = 0.95,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH + exact verify.

    OR-construction over ``n_tables`` independent sign-bit hash tables
    of ``n_planes`` planes each (table t uses seed+t): a pair is a
    candidate if it collides in ANY table — recall
    1-(1-p^planes)^tables with p = 1-θ/π, tuned by the two knobs.
    PLANES ARE SIZED TO THE CORPUS BY DEFAULT: candidate volume grows
    quadratically with bucket occupancy n/2^planes, so when
    ``n_planes`` is None it is derived as
    :func:`auto_n_planes`(df.count()) ≈ log2(n / 8) (100k vectors → 14
    planes) at the cost of one count() job; pass an explicit value to
    skip the count or to pin recall for a verified configuration.

    Shuffle economics mirror minhash_near_duplicates: the table
    self-join moves only (id, table, bucket) — never the vectors; the
    vectors rejoin once per UNIQUE candidate pair for the exact-cosine
    verify, with norms precomputed per row.

    ``max_bucket_size`` guards against HOT buckets: a mega-cluster of
    near-identical vectors (boilerplate pages at crawl scale) makes the
    bucket self-join quadratic in the cluster size — a 6k-member
    cluster alone yields ~18M candidate pairs per table (measured: OOM
    on a synthetic corpus with ~6k-fold repeats). Buckets above the cap
    are dropped from candidate generation (bounded recall loss,
    standard LSH practice); the DEFAULT cap (1000) bounds any bucket to
    ~500k candidate pairs — ``None`` disables (test scale only). Run
    EXACT dedup first so identical payloads never reach the near-dup
    pass.

    Output: id_a, id_b (id_a < id_b), cos:double with cos ≥ min_cos.
    """
    if n_planes is None:
        n_planes = auto_n_planes(df.select(id_col).count())
    tables = [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    # tiny single-file corpora otherwise run the per-row bucket HOFs
    # (n_tables x n_planes x dim interpreted ops each) in one task;
    # no-op at scale
    base = _partitions.fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    # base feeds three branches (hashing + both verify sides)
    base = base.persist()
    _cachereg.track("embedding_near_duplicates", base)

    # One folded 3-level literal ([table][plane][dim]) driven by two
    # nested loops instead of n_tables x n_planes inlined dot subtrees
    # (round 7; see _bucket_sql).
    bucket_sql = _bucket_sql("v", tables, "t")
    hashed = base.select(
        "id",
        F.expr(
            f"explode(transform(sequence(1, {len(tables)}), t -> "
            f"named_struct('tbl', CAST(t - 1 AS INT), 'bucket', {bucket_sql})))"
        ).alias("tb"),
    ).select("id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    # both sides of the candidate self-join read this; the bucket
    # computation is n_tables×n_planes higher-order-function dot
    # products per row (interpreted, not codegen'd) — persist so it
    # runs once per row, not twice
    hashed = dedup._drop_hot_buckets(hashed, ("tbl", "bucket"), max_bucket_size)
    hashed = hashed.persist()
    _cachereg.track("embedding_near_duplicates_hashed", hashed)
    l, r = hashed.alias("l"), hashed.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("__va"), F.col("nrm").alias("__na")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("__vb"), F.col("nrm").alias("__nb")
    )
    cos = cosine(dot(F.col("__va"), F.col("__vb")), F.col("__na"), F.col("__nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= min_cos)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_cluster_size: int | None = 10_000,
    assign_arrow: bool | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, *SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication*): cluster embeddings,
    call intra-cluster pairs above a cosine threshold semantic
    duplicates, and keep ONE representative per duplicate group — the
    member LEAST similar to its cluster centroid (the paper's rule:
    the extreme point is the most informative exemplar).

    Reference parity note: the reference engine validates one JSON
    instance at a time and has no corpus operator; this belongs to the
    LLM-pipeline family layered on the same tables.

    100 TB shape:

    - centroids are the seeded deterministic quantizer
      (:func:`seeded_centroids`) — data-independent, replayable by the
      DuckDB oracle as literals, assignment fully JVM-side on the
      scan. Assignment is argmax COSINE (spherical k-means style, ties
      -> lowest list id), not :func:`ivf_topk_seeded`'s argmin L2: random
      Gaussian centroids have norm ~sqrt(dim), so L2-nearest collapses
      ~95% of unit-scale embeddings onto the smallest-norm centroid
      (measured on the test corpus: 472/500 in one list) — fatal when
      the intra-cluster step is quadratic; cosine assignment is
      scale-invariant and spreads by direction. Production would raise
      ``n_lists`` so clusters stay small (the paper uses 50k clusters
      for 5B embeddings, ~100k rows/cluster);
    - the assignment projection (argmax over ``n_lists`` HOF cosines —
      an expression whose PLANNING + codegen cost dwarfs its runtime
      at small n) is persisted and feeds the self-join, the members
      join, and the final output from the cache, so it is compiled and
      evaluated exactly once; vectors ride a shuffle exactly once (the
      ``__list`` exchange under the intra-cluster self-join);
    - the representative window runs over the MEMBERS-ONLY relation
      (ids in some duplicate group), never the corpus: a corpus-wide
      window would put every non-duplicate into one NULL-group
      partition — the single-task skew class this codebase's plan
      audits exist to forbid. The centroid cosine the keep rule orders
      by is the argmax value itself, captured free at assignment;
    - intra-cluster verify is quadratic IN THE CLUSTER, which is the
      algorithm's contract; ``max_cluster_size`` is the hot-cluster
      guard (same defense as minhash/LSH bucket caps): clusters above
      the cap contribute no pairs beyond their first ``cap`` members
      in id order (deterministic, oracle-replayable; excess members
      become keep=true singletons — bounded recall loss, and exact
      dedup should run first so identical payloads never arrive here);
    - connected components reuse :func:`dedup.duplicate_clusters`
      (pointer doubling, O(log diameter) rounds over (id,label) pairs).

    Output: one row per input vector —
    ``id_col, list_id:int, group_id (smallest reachable id; NULL for
    non-duplicates), keep:boolean``.
    """
    # tiny single-file corpora otherwise run the whole assignment
    # projection (and the first pair-verify stage feeding it) in one
    # task; no-op at scale
    corpus = _partitions.fan_out(corpus)
    centroids = seeded_centroids(dim, n_lists, seed)
    # centroid norms fold to Python literals, and the row's own norm
    # appears once per centroid instead of via 16 l2_norm aggregates —
    # this roughly halves the argmax expression tree (the planning +
    # codegen cost of this operator dwarfs its runtime at small n)
    cnorms = [math.sqrt(sum(float(x) * float(x) for x in c)) for c in centroids]

    # assignment path: interpreted HOF cosines are fine for a handful
    # of centroids, but at production cluster counts (the paper: 50k
    # lists) the argmax is n_lists x dim interpreted ops per row —
    # there an Arrow-batched numpy matmul (one BLAS GEMM per batch) is
    # the idiomatic fast path. Auto-switch at n_lists*dim >= 4096; the
    # ORACLE-PINNED configuration (16 x 64 = 1024) stays on the
    # Column path, so DuckDB replays exactly what runs. The two paths
    # may differ in the last ulp on near-exact centroid ties (fold
    # order vs pairwise BLAS summation) — argmax tie-break is
    # first-max in both.
    if assign_arrow is None:
        assign_arrow = n_lists * dim >= 4096
    if assign_arrow:
        import numpy as np
        import pandas as pd

        cmat = np.asarray(centroids, dtype=np.float64)
        cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
        out_schema = T.StructType(
            [
                T.StructField("id", corpus.schema[id_col].dataType, True),
                T.StructField("__v", corpus.schema[vec_col].dataType, True),
                T.StructField("__list", T.IntegerType(), True),
                T.StructField("__ccos", T.DoubleType(), True),
                T.StructField("__nrm", T.DoubleType(), True),
            ]
        )

        def _assign_batches(batches):
            for pdf in batches:
                v = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
                if len(v) == 0:
                    yield pd.DataFrame(
                        {"id": pdf["id"], "__v": pdf["__v"],
                         "__list": [], "__ccos": [], "__nrm": []}
                    )
                    continue
                nv = np.linalg.norm(v, axis=1)
                ok = nv > 0
                cs_m = np.zeros((len(v), len(cmat)))
                cs_m[ok] = (v[ok] @ cmat.T) / nv[ok, None]
                li = cs_m.argmax(axis=1)
                mx = cs_m[np.arange(len(v)), li]
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "__v": pdf["__v"],
                        "__list": np.where(ok, li, -1).astype("int32"),
                        "__ccos": mx,
                        "__nrm": nv,
                    }
                )

        asn = corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
        ).mapInPandas(_assign_batches, out_schema)
        # zero vectors: list -1 never collides with a real list and
        # their pair cosines are NULL on the Column path anyway; strip
        # them from grouping by nulling (matches the expr path's NULLs)
        asn = asn.select(
            "id", "__v",
            F.when(F.col("__list") >= 0, F.col("__list")).alias("__list"),
            F.when(F.col("__list") >= 0, F.col("__ccos")).alias("__ccos"),
            "__nrm",
        )
    else:
        # Assignment as ONE loop expression over a FOLDED centroid
        # literal, staged through THREE stacked Projects (round 7).
        #
        # - The old form instantiated 16 separate dot/CASE subtrees and
        #   referenced the resulting array three times in one Project
        #   (array_position, its array_max argument, __ccos); HOF
        #   aggregates evaluate outside codegen subexpression
        #   elimination, so every row paid the 16-cosine assignment 3x
        #   (measured 2x wall on the projection alone), and the
        #   16-subtree expression dominated driver construction and
        #   task deserialization (every task of every downstream stage
        #   reading the persisted projection carries its plan).
        # - Now: centroids fold to a single nested-array Literal
        #   (ConstantFolding collapses the foldable array(array(...)))
        #   indexed by a transform(sequence(...)) loop — the whole
        #   assignment is ~20 expression nodes instead of ~1500, and
        #   CollapseProject keeps the stacked Projects apart because a
        #   non-cheap alias referenced more than once is not inlined,
        #   so __nrm and __cs are each evaluated ONCE per row.
        # - zip_with/aggregate fold order is exactly dot()/l2_norm()'s,
        #   so every cosine is bit-identical to the old tree (verified
        #   0 differing rows on the full sf0.1 projection).
        vec_sql = f"`{vec_col}`"
        cent_lit = _array_sql(centroids)
        cnorm_lit = _array_sql(cnorms)
        cs_sql = (
            f"transform(sequence(1, {len(centroids)}), i -> "
            f"CASE WHEN __nrm > 0.0D THEN "
            f"aggregate(zip_with(__v, element_at({cent_lit}, i), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v) "
            f"/ (__nrm * element_at({cnorm_lit}, i)) END)"
        )
        staged = corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            # row norm captured once at assignment (round 7): the pair
            # verify divides by it instead of re-deriving BOTH sides'
            # norms per pair — same expression on the same row, so the
            # pair cosine is bit-identical, at 1/3 of the per-pair HOF
            # work
            F.expr(_l2_norm_sql(vec_sql)).alias("__nrm"),
        )
        asn = staged.select(
            "id", "__v", F.expr(cs_sql).alias("__cs"), "__nrm"
        ).select(
            "id",
            "__v",
            F.expr(
                "CAST(array_position(__cs, array_max(__cs)) - 1 AS INT)"
            ).alias("__list"),
            # cosine to the ASSIGNED centroid == the argmax value —
            # free here, where recomputing it later would rebuild the
            # whole tree
            F.expr("array_max(__cs)").alias("__ccos"),
            "__nrm",
        )
    # the monster projection feeds the self-join (both sides), the
    # members join, and the final output: persist so it is planned,
    # compiled, and evaluated ONCE (same tradeoff as
    # embedding_near_duplicates' base — (id, vec, int, double) rows,
    # MEMORY_AND_DISK spill at scale)
    asn = asn.persist()
    _cachereg.track("semantic_dedup", asn)
    # (round 7 note: an explicit repartition(n_lists-capped, __list)
    # to stop AQE coalescing the pair stage to 1-2 tasks was measured
    # neutral-to-worse at bench scale — the extra vector-carrying
    # exchange costs what the parallelism buys. At data sizes where
    # the pair stage is genuinely big, AQE does not coalesce it.)
    part = asn
    if max_cluster_size is not None:
        rk = F.row_number().over(Window.partitionBy("__list").orderBy("id"))
        part = asn.withColumn("__rk", rk).filter(
            F.col("__rk") <= max_cluster_size
        ).drop("__rk")
    l = part.select(
        F.col("id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"), "__list"
    )
    r = part.select(
        F.col("id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"), "__list"
    )
    # Pair verify stays on the compact HOF cosine: the unrolled form
    # was tried twice in round 7 — inlined into the join condition it
    # overflows Janino's method limit (no splitting there) and falls
    # back to interpreted; behind a nondeterministic fence in a
    # Project it loses whole-stage codegen and evaluates the flat
    # tree interpreted, ~2x slower than the HOF fold. Measured
    # 4.7s -> 8.5s; reverted.
    pair_cos = cosine(dot(F.col("__va"), F.col("__vb")), F.col("__na"), F.col("__nb"))
    pairs = (
        l.join(r, "__list")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= threshold)
        .select("id_a", "id_b")
    )
    groups = dedup.duplicate_clusters(pairs)
    # representative window over duplicate-group MEMBERS only (AQE
    # broadcasts the small side; no forced hint — member count is
    # data-dependent)
    members = asn.join(
        groups.select("id", F.col("cluster_id").alias("__g")), "id"
    ).select("id", "__g", "__ccos")
    keep_rank = F.row_number().over(
        Window.partitionBy("__g").orderBy(F.asc("__ccos"), F.asc("id"))
    )
    reps = members.select(
        "id", "__g", (keep_rank == 1).alias("__keep")
    )
    return (
        asn.join(reps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("__list").cast("int").alias("list_id"),
            F.col("__g").cast("bigint").alias("group_id"),
            F.coalesce(F.col("__keep"), F.lit(True)).alias("keep"),
        )
    )
