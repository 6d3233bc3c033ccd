"""Headline queries over the driver's testdata tables.

One function per operator family from SURVEY.md §2; each takes
(spark, sf_dir) and returns a DataFrame whose column names match the
DuckDB oracle SQL in ``__spark_entry__.oracle_sql`` exactly.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jschon_spark import engine
from jschon_spark.engine import ConstraintEngine
from jschon_spark.operators import _partitions, decontam, dedup, drift, referential, sessions, similarity, stats, textqa, uniqueness, webtext

# The flagship document schema applied to the driver's `documents`
# table (doc_id, text, lang, source, n_chars) — one keyword from each
# family that the Column lowering handles, with thresholds chosen so
# both verdicts occur in the data.
DOC_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.org/doc-schema",
    "type": "object",
    "required": ["doc_id", "text", "lang"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "lang": {"enum": ["en", "de", "fr", "es"]},
        "n_chars": {"type": "integer", "maximum": 600},
        "text": {"type": "string", "minLength": 1},
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
    },
}

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def page_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = engine.compiled(DOC_SCHEMA).apply_typed(docs, DOC_COLS)
    return out.select("doc_id", "passed")


def page_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = engine.compiled(DOC_SCHEMA).apply_typed(docs, DOC_COLS)
    v = out.filter(~F.col("passed")).select(
        "doc_id", F.explode("violations").alias("v")
    )
    return v.select(
        "doc_id",
        F.col("v.keyword").alias("keyword"),
        F.col("v.instance_path").alias("instance_path"),
    )


def partition_verdicts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = engine.compiled(DOC_SCHEMA).apply_typed(docs, DOC_COLS)
    return (
        out.groupBy(F.col("source").alias("src"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(~F.col("passed"), 1).otherwise(0)).alias("n_failed"),
        )
        .withColumn("passed", F.col("n_failed") == 0)
    )


def stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return stats.numeric_stats(li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return stats.column_stats(docs, ["lang", "source", "n_chars"], exact_distinct=True)


def dup_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return uniqueness.duplicate_keys(ev, "user_id")


def dup_user_events_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return uniqueness.duplicate_keys_salted(ev, "user_id", buckets=16)


def dup_verdict_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return uniqueness.uniqueness_verdict(orders, "o_orderkey")


def ref_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return referential.referential_violations(
        li, orders, "l_orderkey", "o_orderkey",
        select=["l_orderkey", "l_linenumber"],
    )


def ref_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return referential.referential_violations(
        cust, nation, "c_nationkey", "n_nationkey",
        select=["c_custkey", "c_nationkey"],
    )


def enum_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return referential.enum_violations(
        ev, "event_type", ["click", "view", "purchase", "signup"],
        select=["event_id", "event_type"],
    )


def hist_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return drift.histogram(ev, "value", "day", lo=0.0, hi=500.0, n_bins=20)


def drift_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed per-day PSI/KS drift vs the pooled distribution."""
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return drift.drift_scores(ev, "value", "day", lo=0.0, hi=500.0, n_bins=20)


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard on a fixed doc sample (the LSH
    variants are the scale path; this is the verifiable baseline)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.5
    ).select("id_a", "id_b", "jaccard")


def emb_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding cosine ≥ 0.4 (brute baseline for the
    LSH/IVF near-dup paths)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.brute_force_pairs(
        emb, "vec_id", "embedding", min_cos=0.4, dim=64
    )


def minhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash MinHash LSH — the DuckDB oracle replays the whole
    signature/banding/verify pipeline (md5 everywhere)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates_portable(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.5
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textqa.token_count(F.col("text")).alias("n_tokens")
    )


def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = textqa.quality_features(docs, "text")
    return out.select("doc_id", "n_chars_q", "n_tokens", "alpha_ratio")


def exact_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(docs, "doc_id", "text").select(
        "text_hash", "n_dup"
    )


def knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, queries, k=5)
    return out.select("query_id", "vec_id", "rank")


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(emb, queries, dim=64, k=5, n_planes=6)
    return out.select("query_id", "vec_id", "rank")


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32, bands=8, threshold=0.5
    ).select("id_a", "id_b")


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(docs, "doc_id", "text", max_hamming=6).select(
        "id_a", "id_b", "hamming"
    )


def simhash_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash SimHash — the DuckDB oracle replays the signature,
    chunk-candidate and hamming-verify pipeline bit for bit. The oracle
    models the UNCAPPED pipeline, so the verifiable twin pins
    max_bucket_size=None (test scale); the xxhash64 scale path keeps
    the default hot-chunk cap."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=6, bits=60, hash_fn=dedup.md5_hash60,
        max_bucket_size=None,
    ).select("id_a", "id_b", "hamming")


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textqa.lang_id(docs, "text").select("doc_id", "lang_pred")


# schema for the events.props JSON column (dynamic-JSON path: exercises
# the Arrow batch evaluator on real data)
PROPS_SCHEMA = {
    "$id": "https://example.org/props-schema",
    "type": "object",
    "required": ["k"],
    "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 50}},
    "additionalProperties": False,
}


def props_json_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    out = engine.compiled(PROPS_SCHEMA).apply_json(ev, "props")
    return out.select("event_id", "passed")


def props_json_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation EXTRACTION goes through the Arrow batch path: the
    evaluator's compiled predicate skips passing docs and the full walk
    runs only on failures — measured ~30% faster than the variant lowering
    here, whose violation arrays re-evaluate interpreted variant
    subexpressions per reference (verdicts stay on the variant path,
    where one JVM pass wins by ~5x)."""
    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    out = engine.compiled(PROPS_SCHEMA).apply_json(ev, "props", prefer_variant=False)
    v = out.filter(~F.col("passed")).select("event_id", F.explode("violations").alias("v"))
    return v.select(
        "event_id",
        F.col("v.keyword").alias("keyword"),
        F.col("v.instance_path").alias("instance_path"),
    )


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: top 20 whitespace tokens by count."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(textqa.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data quality gate: docs passing token/alpha thresholds."""
    docs = load(spark, sf_dir, "documents")
    q = textqa.quality_features(docs, "text")
    return q.filter(
        (F.col("n_tokens") >= 30) & (F.col("alpha_ratio") >= 0.7)
    ).select("doc_id")


def keyword_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-conformance gate: every JSTS-style corpus case (all SURVEY
    §2.1-2.3 keyword families incl. $dynamicRef / 2019-09 dialect) run
    through the engine in one mapInPandas pass; the oracle compares the
    verdicts against the hand-authored expectations. ``sf_dir`` is
    unused — the corpus is the fixture (mirrors the reference's
    JSON-Schema-Test-Suite run, /root/reference/tests/test_suite.py)."""
    from jschon_spark.conformance_corpus import all_cases
    from jschon_spark.operators.conformance import conformance_verdicts

    return conformance_verdicts(spark, all_cases())


def format_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same gate with format assertion enabled (assert_formats=True)."""
    from jschon_spark.conformance_corpus import FORMAT_CASES
    from jschon_spark.operators.conformance import conformance_verdicts

    return conformance_verdicts(spark, FORMAT_CASES, assert_formats=True)


def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via the SCALE path (LSH bucket join +
    exact verify) — the headline entry for the family; brute-force
    all-pairs (emb_sim_pairs) stays as the recall oracle."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(
        emb, "vec_id", "embedding",
        dim=64, n_planes=6, n_tables=8, min_cos=0.4, seed=42,
    )


def nfc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization signals (pre-dedup canonicalization);
    the one genuine Arrow-Python stage in the text family — Spark has
    no built-in unicode normalizer. DuckDB replays via nfc_normalize."""
    docs = load(spark, sf_dir, "documents")
    return textqa.nfc_features(docs)


def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: odd doc_ids are the incoming batch,
    even doc_ids the history; each incoming doc is flagged when its
    normalized text already exists in history. The 100 TB shape: both
    sides reduce to 16-byte hashes before the join, history documents
    never move. DuckDB replays the hash + anti-semantics exactly."""
    docs = load(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    # the incoming batch: the odd docs (novel) + a re-ingested slice of
    # history under new ids (planted true duplicates, so the oracle
    # verifies BOTH flag values)
    new = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            hist.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return dedup.dedup_against_corpus(new, hist).select(
        "doc_id", "is_exact_dup"
    )


def semantic_dedup_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) verdicts: seeded-centroid cosine
    clustering, intra-cluster cosine >= 0.4 pairs, connected
    components, keep = member least similar to its centroid. The
    DuckDB oracle replays centroids, assignment, pairs, the recursive
    reach, and the keep window."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, dim=64, threshold=0.4, n_lists=16, seed=7
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over seeded deterministic centroids (third ANN path,
    oracle-replayable; the k-means variant ivf_topk is pytest-covered)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk_seeded(
        emb, queries, dim=64, k=5, n_lists=16, n_probe=4, seed=7
    )
    return out.select("query_id", "vec_id", "rank")


def dup_text_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection on a WIDE string key via the
    hash-prefilter shuffle (8-byte xxhash64 exchange + exact verify on
    candidates only) — the 100 TB shape for url/text dedup. Runs on
    events.props (the testdata's only wide column with duplicates)."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    dups = uniqueness.duplicate_keys_prefiltered(ev, "props")
    return dups.select(
        F.md5(F.encode(F.col("props"), "utf-8")).alias("key_md5"),
        F.col("n_dup"),
    )


def minhash_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components (min-label
    propagation) over the md5-portable MinHash pair graph — the keep-
    one-per-group step of a dedup pipeline. The DuckDB oracle replays
    the pair pipeline and computes components with a recursive CTE."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates_portable(
        docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4, threshold=0.5
    )
    return dedup.duplicate_clusters(pairs).select("id", "cluster_id")


def ngram_span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication fractions (Lee et al. 2022 signal):
    per doc, the share of positional 5-grams occurring in >=2 docs.
    Portable 60-bit md5 gram hashes; the DuckDB oracle replays the
    whole tokenize/hash/count pipeline."""
    docs = load(spark, sf_dir, "documents")
    return dedup.ngram_span_duplicates(
        docs, "doc_id", "text", window=5, min_docs=2
    )


# DOC_SCHEMA enriched with every annotation shape the reference's basic
# output carries (output.py:46-70, annotation.py:19-73): string, object
# default, examples array, contentMediaType, and an UNKNOWN keyword
# (degrades to an annotation, reference metaschema keyword lookup).
ANNOTATED_DOC_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.org/doc-schema-annotated",
    "type": "object",
    "title": "Synthetic web document",
    "x-pipeline-stage": {"name": "ingest", "order": 1},
    "required": ["doc_id", "text", "lang"],
    "properties": {
        "doc_id": {"type": "integer", "minimum": 0},
        "lang": {"enum": ["en", "de", "fr", "es"], "examples": ["en", "de"]},
        "n_chars": {"type": "integer", "maximum": 600, "default": 0},
        "text": {
            "type": "string", "minLength": 1,
            "description": "extracted page text",
            "contentMediaType": "text/plain",
        },
        "source": {"type": "string", "pattern": "^src[0-9]+$"},
    },
}


def annotations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 behind the oracle gate: basic-format ANNOTATION rows for
    every VALID document — title / description / default / examples /
    contentMediaType plus an unknown keyword, each carrying its JSON
    value (json.dumps, so `true` / `{"a": 1}`, never Python repr).
    Mirrors the reference's basic output annotations array
    (/root/reference/jschon/output.py:46-70)."""
    from jschon_spark.output import basic, collect_annotations

    docs = load(spark, sf_dir, "documents")
    out = engine.compiled(ANNOTATED_DOC_SCHEMA).apply_typed(docs, DOC_COLS)
    rows = basic(out, "doc_id", schema=ANNOTATED_DOC_SCHEMA)
    ann_paths = [a["keyword_path"]
                 for a in collect_annotations(ANNOTATED_DOC_SCHEMA)]
    return rows.filter(F.col("keywordLocation").isin(ann_paths)).select(
        "doc_id", "keyword",
        F.col("keywordLocation").alias("keyword_path"),
        F.col("error").alias("annotation_json"),
    )


def checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint/resume behind the oracle gate: the full checkpointed
    corpus pass runs TWICE over a 3-day table (documents mapped onto
    the north-rule page shape, day = doc_id % 3); between runs, day 2's
    snapshot id changes. The emitted manifest table proves run 2
    re-validated exactly that day and skipped the other two, with
    per-day lineage (snapshot_id) and metrics (n_docs, n_failed)
    surviving in the manifests."""
    import tempfile

    from jschon_spark import pipeline

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    pages = docs.select(
        F.concat(F.lit("https://example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(
            F.concat(F.lit("2024-01-0"),
                     # pmod: negative doc_ids exist in the fixture and
                     # plain % keeps the dividend's sign
                     (F.pmod(F.col("doc_id"), 3) + 1).cast("string"))
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    root = tempfile.mkdtemp(prefix="jschon_spark_ckpt_")
    first = pipeline.validate_corpus_checkpointed(
        spark, pages, root, {d: "snap-1" for d in days}
    )
    snaps2 = {d: ("snap-2b" if d == "2024-01-02" else "snap-1") for d in days}
    second = pipeline.validate_corpus_checkpointed(spark, pages, root, snaps2)

    from jschon_spark.plans.manifests import ManifestStore

    store = ManifestStore(root)
    rows = []
    for d in days:
        m = store.read(d)
        rows.append((
            d,
            d in first,                      # ran in run 1
            d in second,                     # re-ran in run 2 (not skipped)
            m["snapshot_id"],
            int(m["metrics"]["n_docs"]),
            int(m["metrics"]["n_failed"]),
        ))
    return spark.createDataFrame(
        rows,
        "day string, ran_first boolean, reran boolean, snapshot_id string, "
        "n_docs bigint, n_failed bigint",
    )


def detailed_output_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive detailed + hierarchical output behind the oracle gate:
    a fixed 2-doc fixture is validated, both per-document trees are
    rendered, canonically serialized (sorted keys, compact separators)
    and md5-hashed; the DuckDB oracle hashes HAND-AUTHORED JSON
    mirroring the reference's recursive formats
    (/root/reference/jschon/output.py:73-165). ``sf_dir`` is unused —
    the fixture IS the test, like keyword_conformance."""
    import hashlib
    import json as _json

    from jschon_spark.output import create_output

    schema = {
        "type": "object",
        "required": ["name"],
        "properties": {
            "name": {"type": "string"},
            "tags": {"items": {"maxLength": 2}},
        },
    }
    df = spark.createDataFrame(
        [(1, None, ["okk", "a", "bcd"]), (2, "ok", ["a"])],
        "id long, name string, tags array<string>",
    )
    eng = ConstraintEngine()
    # one Spark job: the per-document formatters below re-read this
    # tiny materialized result four times driver-side (each
    # create_output call filters for its doc) — cache so the 2-row
    # validation runs once, not four times
    validated = eng.compile(schema).apply_typed(df, ["name", "tags"]).cache()
    rows = []
    for doc_id in (1, 2):
        for fmt in ("detailed", "hierarchical"):
            tree = create_output(validated, fmt, "id", doc_id=doc_id)
            blob = _json.dumps(tree, sort_keys=True, separators=(",", ":"))
            rows.append((doc_id, fmt, hashlib.md5(blob.encode()).hexdigest()))
    validated.unpersist()
    return spark.createDataFrame(rows, "doc_id long, fmt string, tree_md5 string")


def extract_text_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the pinned html→text extractor's DISTRIBUTED path:
    the GOLDEN_CASES fixtures (sources/extract.py) run through the
    Arrow-batch UDF as a Spark job and each extracted text is md5'd
    JVM-side; the DuckDB oracle carries md5s of the expected texts
    computed from the same single-source fixture list (north-rule
    byte-identity invariant; reference precedent for byte-exact
    goldens: tests/test_examples.py:25-28). ``sf_dir`` unused — the
    fixture IS the test, like keyword_conformance."""
    from jschon_spark.sources.extract import GOLDEN_CASES, with_extracted_text

    df = spark.createDataFrame(
        [(i, html) for i, (html, _) in enumerate(GOLDEN_CASES)],
        "case_id long, html binary",
    )
    return with_extracted_text(df).select(
        "case_id",
        F.md5(F.col("text_extracted").cast("binary")).alias("text_md5"),
    )


# Array-applicator schema for the dynamic-JSON variant path (round 3:
# arrays lower onto array<variant> — no Arrow fallback). vals is
# [doc_id, n_chars], so every keyword fires on real data: items
# (nulls / negatives fail), contains+maxContains (values >= 100).
ARRAY_PROPS_SCHEMA = {
    "$id": "https://example.org/array-props-schema",
    "type": "object",
    "required": ["vals"],
    "properties": {
        "vals": {
            "type": "array",
            "minItems": 2,
            "items": {"type": "integer", "minimum": 0},
            "contains": {"minimum": 100},
            "minContains": 0,
            "maxContains": 1,
        }
    },
}


def props_array_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-JSON validation of an ARRAY column on the variant path:
    documents rendered as {"vals": [doc_id, n_chars]} and validated
    with array keywords (items/minItems/contains/maxContains) — pure
    Column algebra, zero Python in the plan (see
    tests/test_plans.py::test_array_schema_plan_is_jvm_only)."""
    docs = _partitions.fan_out(load(spark, sf_dir, "documents"))
    j = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.array(F.col("doc_id"), F.col("n_chars")).alias("vals")
            )
        ).alias("j"),
    )
    out = engine.compiled(ARRAY_PROPS_SCHEMA).apply_json(j, "j")
    return out.select("doc_id", "passed")


DYNREF_SCHEMA = {
    # statically-resolvable dynamic refs (round 5): "#limit" names a
    # $dynamicAnchor with a SINGLE owning resource (rebinding provably
    # lands on the initial resolution -> lowers inline like $ref);
    # "#tagdef" names a PLAIN $anchor (bookending fails -> plain-$ref
    # semantics per spec). jschon resolves both through the dynamic
    # evaluation path at runtime (/root/reference/jschon/keywords/
    # core.py $dynamicRef); here the same outcome is PROVEN at compile
    # and the whole validation stays in Column algebra.
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.org/dynref-schema",
    "$defs": {
        "limit": {"$dynamicAnchor": "limit", "type": "integer",
                  "minimum": 0, "maximum": 50},
        "tag": {"$anchor": "tagdef", "type": "string", "minLength": 2,
                "pattern": "^[a-z_]+$"},
    },
    "type": "object",
    "required": ["k", "tag"],
    "properties": {
        "k": {"$dynamicRef": "#limit"},
        "tag": {"$dynamicRef": "#tagdef"},
    },
}


def props_dynref_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$dynamicRef lowered to pure Column expressions on the VARIANT
    path (round 5): events render as ``{"k": <int-or-.5>, "tag":
    <type-or-UPPER>}`` and validate against DYNREF_SCHEMA — ``k`` via a
    plain-name-fragment $dynamicRef whose anchor has one owner (static
    rebinding), ``tag`` via a $dynamicRef naming a plain $anchor
    (plain-$ref semantics). Every 4th event gets a non-integer ``k``
    (fails type), every 3rd an uppercase ``tag`` (fails pattern). Zero
    Python in the plan (tests/test_plans.py::
    test_dynref_plan_is_jvm_only)."""
    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    k = F.floor(F.col("value")).cast("long").cast("string")
    k = F.when(F.col("event_id") % 4 == 0, F.concat(k, F.lit(".5"))).otherwise(k)
    tag = F.when(
        F.col("event_id") % 3 == 0, F.upper(F.col("event_type"))
    ).otherwise(F.col("event_type"))
    j = ev.select(
        "event_id",
        F.concat(
            F.lit('{"k": '), k, F.lit(', "tag": "'), tag, F.lit('"}'),
        ).alias("j"),
    )
    out = engine.compiled(DYNREF_SCHEMA).apply_json(j, "j")
    return out.select("event_id", "passed")


PATTERN_PROPS_SCHEMA = {
    "$id": "https://example.org/pattern-props-schema",
    "type": "object",
    "patternProperties": {
        "^k_": {"type": "number", "minimum": 10},
        "^tag$": {"enum": ["signup", "click", "view", "purchase"]},
    },
    "properties": {"meta": {"const": {"v": 1}}},
    "additionalProperties": False,
}


def props_pattern_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-valued patternProperties + compound const on the VARIANT
    path (round 4): events are rendered as JSON with a DYNAMIC key
    (``k_<event_type>``, or ``x_<event_type>`` every 7th event to
    exercise additionalProperties:false), a ``tag`` gated by a scalar
    enum that excludes 'error', and a ``meta`` object matched against
    a compound const. The whole evaluation is map<string,variant> +
    HOF Column algebra — zero Python in the plan
    (tests/test_plans.py::test_pattern_props_plan_is_jvm_only)."""
    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    key = F.concat(
        F.when(F.col("event_id") % 7 == 0, F.lit("x_")).otherwise(F.lit("k_")),
        F.col("event_type"),
    )
    mv = F.when(F.col("event_id") % 3 == 0, F.lit(1)).otherwise(F.lit(2))
    j = ev.select(
        "event_id",
        F.concat(
            F.lit('{"'), key, F.lit('": '), F.col("value").cast("string"),
            F.lit(', "tag": "'), F.col("event_type"),
            F.lit('", "meta": {"v": '), mv.cast("string"), F.lit("}}"),
        ).alias("j"),
    )
    out = engine.compiled(PATTERN_PROPS_SCHEMA).apply_json(j, "j")
    return out.select("event_id", "passed")


def local_source_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$ref resolution through a LocalSource directory behind the
    oracle gate (round 4 — source loading was pytest-only): two schema
    files are written to disk, routed by URI prefix (longest-prefix
    match, jschon Catalog.add_uri_source analogue), pulled ON DEMAND
    when compile resolves the cross-file $ref, and drive a variant-path
    validation of events.props. Files are read driver-side only; the
    temp dir is gone before the first executor task runs."""
    import json as _json
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="jss_localsrc_")
    try:
        with open(os.path.join(tmp, "limits.json"), "w", encoding="utf-8") as f:
            _json.dump({"type": "integer", "minimum": 0, "maximum": 50}, f)
        with open(os.path.join(tmp, "base.json"), "w", encoding="utf-8") as f:
            _json.dump(
                {"$id": "https://cat.test/base",
                 "type": "object", "required": ["k"],
                 "properties": {"k": {"$ref": "limits"}}},
                f,
            )
        eng = ConstraintEngine()
        eng.catalog.add_local_source("https://cat.test/", tmp)
        schema, _base = eng.catalog.resolve("https://cat.test/base", "")
        compiled = eng.compile(schema, uri="https://cat.test/base")
        ev = _partitions.fan_out(load(spark, sf_dir, "events"))
        out = compiled.apply_json(ev, "props")
        return out.select("event_id", "passed")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def remote_source_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$ref resolution over HTTP behind the oracle gate: a live
    localhost server (stdlib http.server, driver-side, compile-time
    only — executors never fetch) serves the bounds schema, routed by
    URI prefix through RemoteSource; the oracle replays the final
    constraint. Complements local_source_verdicts so both source
    routings are value-verified end-to-end."""
    import http.server
    import json as _json
    import os
    import shutil
    import tempfile
    import threading

    tmp = tempfile.mkdtemp(prefix="jss_remotesrc_")
    try:
        with open(os.path.join(tmp, "rlimits.json"), "w", encoding="utf-8") as f:
            _json.dump({"type": "integer", "minimum": 10, "maximum": 80}, f)

        def handler(*a, **kw):
            h = http.server.SimpleHTTPRequestHandler(*a, directory=tmp, **kw)
            return h

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        try:
            port = srv.server_address[1]
            eng = ConstraintEngine()
            eng.catalog.add_remote_source(
                "https://rschemas.test/", f"http://127.0.0.1:{port}/",
                suffix=".json",
            )
            schema = {
                "$id": "https://rschemas.test/base",
                "type": "object", "required": ["k"],
                "properties": {"k": {"$ref": "rlimits"}},
            }
            compiled = eng.compile(schema)
            ev = _partitions.fan_out(load(spark, sf_dir, "events"))
            out = compiled.apply_json(ev, "props")
            return out.select("event_id", "passed")
        finally:
            srv.shutdown()
            srv.server_close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def nan_strict_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NaN/Infinity-strict parsing behind the oracle gate: every 11th
    event's props is rewritten to carry a bare NaN (and every 13th an
    Infinity) — not valid JSON, which the reference rejects at parse
    (jschon/utils.py json_loads with parse_constant). The variant path
    must yield passed=false (parse failure), never a NaN that leaks
    into comparisons."""
    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    doc = (
        F.when(F.col("event_id") % 11 == 0, F.lit('{"k": NaN}'))
        .when(F.col("event_id") % 13 == 0, F.lit('{"k": -Infinity}'))
        .otherwise(F.col("props"))
    )
    j = ev.select("event_id", doc.alias("j"))
    out = engine.compiled(PROPS_SCHEMA).apply_json(j, "j")
    return out.select("event_id", "passed")


def custom_registry_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-registry surface behind the oracle gate (round 4 — closes a
    pytest-only row): a custom FORMAT (x-short-tag, length <= 5) and a
    custom KEYWORD (x-divisibleBy) register Column + Python forms and
    drive a typed validation over events; the DuckDB oracle replays
    both rules in plain SQL. Mirrors the reference's format_validator /
    Keyword extension points (jschon/vocabulary/format.py:47-66)."""
    from jschon_spark.functions.registry import (
        FORMAT_REGISTRY,
        KEYWORD_REGISTRY,
        custom_keyword,
        format_validator,
        unregister_format,
        unregister_keyword,
    )

    reg_fmt = "x-short-tag" not in FORMAT_REGISTRY
    if reg_fmt:
        @format_validator("x-short-tag", column_fn=lambda c: F.length(c) <= 5)
        def _short_tag(v) -> bool:
            return not isinstance(v, str) or len(v) <= 5

    reg_kw = "x-divisibleBy" not in KEYWORD_REGISTRY
    if reg_kw:
        @custom_keyword(
            "x-divisibleBy", instance_types=("number",),
            column_fn=lambda d, col, dtype: col % F.lit(d) == 0,
            error="value is not divisible by the divisor",
        )
        def _div_by(d):
            return lambda v: (v % d) == 0

    try:
        ev = _partitions.fan_out(load(spark, sf_dir, "events")).select(
            "event_id", "event_type"
        )
        eng = ConstraintEngine(assert_formats=True)
        schema = {
            "type": "object",
            "properties": {
                "event_type": {"type": "string", "format": "x-short-tag"},
                "event_id": {"x-divisibleBy": 3},
            },
        }
        return eng.compile(schema).apply_typed(ev).select("event_id", "passed")
    finally:
        # side-effect-free: the compiled plan carries the baked Column
        # expressions, so the process-global registries are restored
        # before the DataFrame is even returned
        if reg_fmt:
            unregister_format("x-short-tag")
        if reg_kw:
            unregister_keyword("x-divisibleBy")


def _stage_stream_batches(staged: DataFrame, b_col: str, n_batches: int,
                          tmp: str) -> str:
    """Write micro-batch files ``batch_0..n-1`` in ONE Spark job.

    One hash repartition on the batch id puts every row of a batch in
    exactly one write task, so ``partitionBy`` emits exactly one
    parquet file per batch value; files are renamed into ``src/`` with
    strictly increasing mtimes so FileStreamSource (ordered by
    (mtime, path)) replays batch b as micro-batch b. Replaces
    ``n_batches`` sequential filter+coalesce(1) scans — round 7: prep
    was ~n full scans of the events table per harness query (guide
    §2.4, remove passes outright).
    """
    import os
    import shutil

    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)
    parts = os.path.join(tmp, "parts")
    (
        staged.repartition(n_batches, F.col(b_col))
        .write.partitionBy(b_col)
        .parquet(parts)
    )
    for b in range(n_batches):
        pdir = os.path.join(parts, f"{b_col}={b}")
        [part] = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        dst = os.path.join(src, f"batch_{b}.parquet")
        shutil.move(os.path.join(pdir, part), dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
    return src


@contextmanager
def _stream_shuffle(spark: SparkSession, partitions: int | None = None):
    """Temporarily size shuffle/state-store partitions to the stream.

    A streaming query's state-store partition count is frozen at
    checkpoint creation from ``spark.sql.shuffle.partitions``, and
    every state partition pays a delta file + commit per micro-batch.
    These bounded replay harnesses hold a few thousand keys of state,
    so inheriting the batch default multiplies checkpoint I/O (and,
    for applyInPandasWithState, Python worker round-trips) for
    nothing. Production sizes state partitions to peak state volume
    the same way — override via JSS_STREAM_SHUFFLE_PARTITIONS.
    """
    import os

    if partitions is None:
        partitions = int(os.environ.get("JSS_STREAM_SHUFFLE_PARTITIONS", "4"))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def streaming_dedup_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the STATEFUL streaming dedup (round 4 — the last
    pytest-only §2.8 component): events are replayed as four
    DETERMINISTIC micro-batches (batch = event_id % 4, one parquet file
    per batch, file mtimes forced strictly increasing so
    maxFilesPerTrigger=1 fixes the batch order), run through
    ``streaming.dedup.first_seen`` (applyInPandasWithState), and the
    emitted (user_id, n_first_batch) rows are returned as a DataFrame.
    The DuckDB oracle recomputes first-seen-per-key over the same batch
    assignment: min batch per user, then that batch's occurrence count.
    """
    import os
    import shutil
    import tempfile

    from jschon_spark.streaming.dedup import first_seen

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    tmp = tempfile.mkdtemp(prefix="jss_stream_dedup_")
    try:
        # one job writes all four batch files (mtime-ordered for
        # FileStreamSource); previously 4 sequential single-task scans
        src = _stage_stream_batches(
            ev.select(
                F.pmod(F.col("event_id"), F.lit(4)).alias("b"), "user_id"
            ),
            "b", 4, tmp,
        )
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with _stream_shuffle(spark):
            q = (
                first_seen(stream, "user_id")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName("jss_dedup_firstseen")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
                rows = spark.sql(
                    "SELECT user_id, n_first_batch FROM jss_dedup_firstseen"
                ).collect()
            finally:
                q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, "user_id bigint, n_first_batch bigint")


def streaming_late_data_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark/late-data semantics behind the oracle gate (round 5 —
    VERDICT r4 #6): events are replayed as four DETERMINISTIC
    micro-batches whose event times go BACKWARD across batches, run
    through a REAL Structured Streaming query — typed validation
    (value <= 200) then ``windowed_verdicts`` (1h tumbling windows,
    2h watermark, append mode) — so late rows landing in windows the
    watermark has already closed are dropped by Spark's state
    eviction. The DuckDB oracle replays the drop/keep decision
    exactly, including the eviction timing this query MEASURED: the
    engine evicts a window's state at the END of the batch in which
    the watermark (max event time of the PREVIOUS batch - delay)
    passes the window end, so late rows merging into the window during
    that same batch still count, and a batch-b row drops iff
    window_end <= max(event time over batches <= b-2) - delay (the
    naive one-batch-lag model over-drops — batch-1 rows in the
    [00:00, 01:00) window are KEPT because the window emits, with
    them, at the end of batch 1). Construction keeps every comparison
    equality-free (windows end on whole hours, watermarks at
    :10/:20/:40) so <= vs < boundary conventions cannot flip a
    verdict. A sentinel row two days ahead closes all real windows via
    the no-data extra batch; its own window stays open and is never
    emitted, matching the oracle's omission of it.

    Batch/time assignment (event_id is contiguous, so every residue
    class is populated at any sf): b = event_id %% 3; hour offset =
    (event_id // 3) %% {4, 7, 9} for b = {0, 1, 2}; minutes {10, 20,
    40}. Only batch-2 rows in windows ending before max(batch 0) - 2h
    = 01:10 drop."""
    import os
    import shutil
    import tempfile

    from jschon_spark.streaming.validate import windowed_verdicts

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    b = F.pmod(F.col("event_id"), F.lit(3))
    hours = (
        F.when(b == 0, F.pmod(F.floor(F.col("event_id") / 3), F.lit(4)))
        .when(b == 1, F.pmod(F.floor(F.col("event_id") / 3), F.lit(7)))
        .otherwise(F.pmod(F.floor(F.col("event_id") / 3), F.lit(9)))
    )
    minutes = F.when(b == 0, 10).when(b == 1, 20).otherwise(40)
    ts2 = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        hours=hours.cast("int"), mins=minutes.cast("int")
    )
    staged = ev.select(b.alias("b"), ts2.alias("ts2"), "value")
    tmp = tempfile.mkdtemp(prefix="jss_stream_late_")
    try:
        # sentinel rides the same single-job partitionBy write as the
        # three real batches (was: 4 sequential coalesce(1) jobs)
        sentinel = spark.createDataFrame(
            [(3, "2024-01-03 00:00:30", 0.0)], "b bigint, t string, value double"
        ).select("b", F.to_timestamp("t").alias("ts2"), "value")
        src = _stage_stream_batches(staged.unionByName(sentinel), "b", 4, tmp)

        stream = (
            spark.readStream.schema("ts2 timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        eng = ConstraintEngine()
        compiled = eng.compile(
            {"properties": {"value": {"maximum": 200}}}
        )
        validated = compiled.apply_typed(stream)
        with _stream_shuffle(spark):
            q = (
                windowed_verdicts(validated, ts_col="ts2", window="1 hour",
                                  watermark="2 hours")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName("jss_late_verdicts")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
                rows = spark.sql(
                    "SELECT window_start, window_end, n_docs, n_failed, passed "
                    "FROM jss_late_verdicts"
                ).collect()
            finally:
                q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "window_start timestamp, window_end timestamp, "
        "n_docs bigint, n_failed bigint, passed boolean",
    )


def stats_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (p25/50/75/95) for three lineitem
    measures in one scan — the oracle-parity twin of the scale path's
    approx_percentile sketch (same call, exact=False)."""
    li = load(spark, sf_dir, "lineitem")
    return stats.numeric_quantiles(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        probs=(0.25, 0.5, 0.75, 0.95), exact=True,
    )


def windowed_verdicts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING rollup (streaming/validate.windowed_verdicts) run
    in batch mode over events with props-schema verdicts: 1-hour
    epoch-aligned tumbling windows of (n_docs, n_failed, passed) — the
    DuckDB oracle replays it with time_bucket, value-verifying the
    exact aggregation the streaming wrapper ships."""
    from jschon_spark.streaming.validate import windowed_verdicts

    ev = _partitions.fan_out(load(spark, sf_dir, "events"))
    validated = engine.compiled(PROPS_SCHEMA).apply_json(ev, "props")
    return windowed_verdicts(validated, ts_col="ts", window="1 hour")


def media_decode_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gates the from-scratch media decoders' DISTRIBUTED path.

    Each doc_id deterministically parameterizes three payloads built
    INSIDE the Arrow batch on the executor — a flat-color PNG
    (zlib + scanline filters), an 8-bit square-wave WAV, and a
    flat-gray baseline JPEG bitstream (unit quant table, so the
    huffman + IDCT roundtrip is exact) — then the real decoders
    (operators/multimodal.py) run in the SAME mapInPandas pass. The
    DuckDB oracle recomputes every expected stat ARITHMETICALLY from
    doc_id: the decode math must invert the synthesis exactly, or the
    value hash mismatches. Reference precedent for fixture-driven
    byte-exact decode checks: tests/test_examples.py:25-28."""
    import pandas as pd

    # fan_out, not coalesce: a tiny parquet arrives as ONE split and
    # coalesce can only shrink — the decode pass is pure CPU
    docs = _partitions.fan_out(load(spark, sf_dir, "documents").select("doc_id"))

    def gen(batches):
        import struct
        import zlib

        from jschon_spark.operators.multimodal import (
            decode_jpeg_stats,
            decode_png_stats,
            decode_wav_stats,
        )

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body)))

        def flat_gray_jpeg(v: int) -> bytes:
            # one 8x8 block, quant all-1: the only nonzero coefficient
            # is DC = 8*(v-128); DHT carries 12 DC categories and a
            # lone EOB symbol, every code 8 bits long
            out = bytearray(b"\xff\xd8")
            qz = b"\x01" * 64
            out += b"\xff\xdb\x00\x43\x00" + qz
            out += (b"\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01"
                    b"\x01\x11\x00")
            dbits = bytearray(16)
            dbits[7] = 12
            out += (b"\xff\xc4" + (2 + 17 + 12).to_bytes(2, "big")
                    + b"\x00" + bytes(dbits) + bytes(range(12)))
            abits = bytearray(16)
            abits[7] = 1
            out += (b"\xff\xc4" + (2 + 17 + 1).to_bytes(2, "big")
                    + b"\x10" + bytes(abits) + b"\x00")
            out += b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
            dc = 8 * (v - 128)
            s = abs(dc).bit_length()
            extra = dc + (1 << s) - 1 if dc < 0 else dc
            bits = format(s, "08b")
            if s:
                bits += format(extra, f"0{s}b")
            bits += "00000000"  # EOB (AC table code 0, length 8)
            bits += "1" * (-len(bits) % 8)
            for i in range(0, len(bits), 8):
                byte = int(bits[i:i + 8], 2)
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
            out += b"\xff\xd9"
            return bytes(out)

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                r, g, b = did * 37 % 256, did * 59 % 256, did * 83 % 256
                w, h = 4 + did % 5, 3 + did % 4
                row = b"\x00" + bytes((r, g, b)) * w
                png = (b"\x89PNG\r\n\x1a\n"
                       + chunk(b"IHDR",
                               struct.pack(">II5B", w, h, 8, 2, 0, 0, 0))
                       + chunk(b"IDAT", zlib.compress(row * h))
                       + chunk(b"IEND", b""))
                amp = 1 + did % 100
                pcm = bytes([128 + amp, 128 - amp] * 32)  # 64 frames
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
                body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", len(pcm)) + pcm)
                wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + body
                v = did * 11 % 256
                ps = decode_png_stats(png)
                ws = decode_wav_stats(wav)
                js = decode_jpeg_stats(flat_gray_jpeg(v))
                rows.append((
                    did, ps["width"], ps["height"],
                    ps["mean"][0], ps["mean"][1], ps["mean"][2],
                    ps["std"][0], float(ps["px_min"]), float(ps["px_max"]),
                    ws["rms"], ws["peak"], ws["duration_sec"],
                    js["width"], js["mean"][0], js["std"][0],
                ))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "png_w", "png_h", "mean_r", "mean_g", "mean_b",
                "std_r", "px_min", "px_max", "wav_rms", "wav_peak",
                "wav_dur", "jpg_w", "jpg_mean", "jpg_std",
            ])

    return docs.mapInPandas(gen, schema=(
        "doc_id long, png_w long, png_h long, mean_r double, "
        "mean_g double, mean_b double, std_r double, px_min double, "
        "px_max double, wav_rms double, wav_peak double, wav_dur double, "
        "jpg_w long, jpg_mean double, jpg_std double"
    ))


def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals over documents —
    row-local Column algebra (textqa.repetition_features), no UDF. No
    shuffle at scale, so the plan is scan→project at 100 TB; the small
    file-backed scan here is round-robin repartitioned to
    defaultParallelism first. The DuckDB oracle recomputes every fraction with list
    functions + an unnest/group-by for the top-token count."""
    # CPU-bound row-local HOF algebra over a tiny single-split scan —
    # fan out first (no-op at scale, operators/_partitions.py)
    docs = _partitions.fan_out(load(spark, sf_dir, "documents"))
    return textqa.repetition_features(docs).select(
        "doc_id", "rep_n_tokens", "dup_token_frac", "dup_2gram_frac",
        "dup_3gram_frac", "top_token_frac",
    )


def contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over documents: the "eval set" is
    carved deterministically from the corpus itself (docs with
    doc_id % 101 == 7 contribute tokens 4-15 as a 12-token snippet),
    so every snippet plants real 8-gram contamination. The corpus side
    is scan -> row-local shingles -> explode 60-bit hashes ->
    BROADCAST semi-join (eval sets are MBs vs a 100 TB corpus); only
    matched rows reach the one groupBy. Oracle replays the identical
    md5-60 hash join with DuckDB list functions."""
    docs = load(spark, sf_dir, "documents")
    toks = textqa.tokens(dedup.normalized(F.col("text")))
    bench = (
        docs.filter(F.col("doc_id") % 101 == 7)
        .select(
            F.array_join(F.slice(toks, 4, 12), " ").alias("text"),
            F.size(toks).alias("__nt"),
        )
        .filter(F.col("__nt") >= 15)
        .drop("__nt")
    )
    return decontam.contamination_report(docs, bench, n=8)


def pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection/redaction over documents. The corpus text is
    synthetic word soup, so deterministic PII is planted by the SAME
    string expression in Spark and in the DuckDB oracle (doc_id % 13
    selects email / IP / phone variants); the operator itself is
    row-local regex algebra (textqa.pii_features) — scan -> project,
    shape-identical at 100 TB. Regex is CPU-bound, so the tiny
    single-split scan fans out first (no-op at scale)."""
    docs = _partitions.fan_out(load(spark, sf_dir, "documents"))
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(F.lit(" contact alice."),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.org now")),
            ).when(
                F.col("doc_id") % 13 == 5,
                F.concat(F.lit(" server 192.168."),
                         (F.col("doc_id") % 250).cast("string"),
                         F.lit(".17 port")),
            ).when(
                F.col("doc_id") % 13 == 9,
                F.concat(F.lit(" call 415-555-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"),
                                4, "0"),
                         F.lit(" today")),
            ).otherwise(F.lit("")),
        ),
    )
    return textqa.pii_features(planted).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "pii_redacted"
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream via Spark's
    NATIVE session_window aggregation (same expression batch and
    streaming): one hash exchange on user_id, then the session-merge
    agg — the 100 TB plan. The DuckDB oracle replays Spark's measured
    merge boundary (delta > gap opens a session; == gap merges) with
    gaps-and-islands window functions."""
    events = load(spark, sf_dir, "events")
    return sessions.sessionize(events, gap="30 minutes")


def _plant_lines(docs: DataFrame) -> DataFrame:
    """Multi-line corpus for the line-level webtext ops: the word-soup
    docs are single-line, so boilerplate footers are planted by the
    SAME expression in Spark and in the DuckDB oracle — four shared
    footers (doc_id % 7 in 0..3, each landing in ~1/7 of the corpus)
    plus a per-doc unique footer, and a second shared footer every
    11th doc."""
    footer = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("subscribe to our newsletter today"))
        .when(F.col("doc_id") % 7 == 1, F.lit("all rights reserved worldwide"))
        .when(F.col("doc_id") % 7 == 2, F.lit("click here to accept cookies"))
        .when(F.col("doc_id") % 7 == 3, F.lit("share this page with friends"))
        .otherwise(
            F.concat(F.lit("note "), F.col("doc_id").cast("string"),
                     F.lit(" unique footer"))
        )
    )
    extra = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("\n"), F.lit("all rights reserved worldwide")),
    ).otherwise(F.lit(""))
    return docs.withColumn(
        "text", F.concat(F.col("text"), F.lit("\n"), footer, extra)
    )


_PLANT_LINES_SQL = """
            SELECT doc_id, text || chr(10) ||
                   CASE doc_id % 7
                     WHEN 0 THEN 'subscribe to our newsletter today'
                     WHEN 1 THEN 'all rights reserved worldwide'
                     WHEN 2 THEN 'click here to accept cookies'
                     WHEN 3 THEN 'share this page with friends'
                     ELSE 'note ' || cast(doc_id AS varchar)
                          || ' unique footer'
                   END ||
                   CASE WHEN doc_id % 11 = 0
                        THEN chr(10) || 'all rights reserved worldwide'
                        ELSE '' END AS text
            FROM documents
"""


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup over the planted multi-line
    corpus: lines occurring in >= 30 distinct docs (the four shared
    boilerplate footers) are dropped everywhere; unique lines survive.
    Frequency groups on md5(line) — 16-byte exchange keys — and the
    tiny frequent set rides an AQE-broadcast anti-join. 100 TB shape."""
    docs = load(spark, sf_dir, "documents")
    return webtext.line_dedup(_plant_lines(docs), min_docs=30)


def c4_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleaning (terminal-punctuation lines, >= 5 words,
    no javascript mention; doc-level lorem-ipsum / curly-brace
    rejection) — row-local HOF algebra, zero shuffles. Deterministic
    trigger content is planted by the same expression both engines."""
    docs = load(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.col("text"), F.lit("."))).otherwise(F.col("text")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit("\nLorem Ipsum dolor sit amet")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 19 == 0,
                   F.lit("\nfunction() { return 0; }")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 23 == 5,
                   F.lit("\nPlease enable JavaScript to view this site properly."),
                   ).otherwise(F.lit("")),
        ),
    )
    return webtext.c4_clean(planted, min_words=5, min_kept_lines=1)


def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed stratified Bernoulli sample (en 50%,
    de/fr 25%, default 5%): zero shuffles, reproducible across engines
    and cluster sizes — re-running any partition keeps the same rows."""
    docs = load(spark, sf_dir, "documents")
    return webtext.stratified_sample(
        docs, rates={"en": 0.5, "de": 0.25, "fr": 0.25}, default_rate=0.05
    ).select("doc_id", "lang")


def source_caps_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain caps: top-5 docs per source by n_chars (doc_id tiebreak)
    — one exchange on source, per-partition top-k under the rank
    filter, output bounded at 5 rows/key regardless of skew."""
    docs = load(spark, sf_dir, "documents")
    return webtext.per_key_cap(docs, k=5).select(
        "doc_id", "source", "n_chars", "rank"
    )


def pack_token_bins_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: contiguous 2048-token bins per lang in
    doc_id order (bin = floor(tokens_before / budget)) — one exchange
    per stratum + a running sum, no iterative repacking."""
    docs = load(spark, sf_dir, "documents")
    return webtext.pack_token_bins(docs, budget=2048)


def streaming_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization behind the oracle gate: the literal
    ``sessions.sessionize`` expression (unchanged) runs over a
    ``readStream`` file source with a 1-hour watermark in append mode,
    replaying deterministic micro-batches. Construction (all margins
    huge, no boundary ambiguity):

    - batch b = event_id % 3; ts = base + 2b hours
      + ((event_id // 3) % 3) * 5 minutes — per (user, batch) the
      events span <= 10 min (one session, gap 30 min), consecutive
      batches sit 2h apart (separate sessions), and batch b's sessions
      are emitted during batch b+1 (watermark = 2b+2h10m - 1h is past
      their ends).
    - every 97th batch-2 event instead gets ts = base - 10 hours —
      10 hours older than the watermark at that point, so Spark DROPS
      it before the session operator (the late-data path).
    - a sentinel row (user -1) 10 days ahead arrives as batch 3,
      advancing the watermark past every real session; its own session
      never emits, matching the oracle's omission.

    The DuckDB oracle rebuilds ts arithmetically from event_id,
    excludes the late rows and the sentinel, and aggregates per
    (user, batch) — equal to the emitted sessions iff streaming
    merge/eviction behaves exactly like the batch operator."""
    import os
    import shutil
    import tempfile

    from jschon_spark.operators import sessions

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z, fixed
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    b = F.pmod(F.col("event_id"), F.lit(3))
    late = (b == 2) & (F.pmod(F.col("event_id") / 3, F.lit(97)).cast("long") == 0)
    ts_us = F.when(
        late, F.lit(base_us) - 10 * 3600 * 1_000_000
    ).otherwise(
        F.lit(base_us)
        + b * 2 * 3600 * 1_000_000
        + F.pmod((F.col("event_id") / 3).cast("long"), F.lit(3)) * 300_000_000
    )
    staged = ev.select(
        "event_id", "user_id", "value",
        F.timestamp_micros(ts_us.cast("long")).alias("ts"), b.alias("b"),
    )
    tmp = tempfile.mkdtemp(prefix="jss_stream_sess_")
    try:
        # sentinel (user -1, 10 days ahead) rides the same single-job
        # partitionBy write as the three real batches (was: 4
        # sequential coalesce(1) jobs, each a full scan of events)
        sentinel = spark.createDataFrame(
            [(3, -1)], "b bigint, user_id bigint"
        ).select(
            "b",
            "user_id",
            F.timestamp_micros(
                F.lit(base_us + 10 * 86400 * 1_000_000)
            ).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        src = _stage_stream_batches(
            staged.select("b", "user_id", "ts", "value").unionByName(sentinel),
            "b", 4, tmp,
        )
        stream = (
            spark.readStream.schema("user_id bigint, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 hour")
        )
        with _stream_shuffle(spark):
            q = (
                sessions.sessionize(stream, gap="30 minutes")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName("jss_stream_sessions")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
                rows = spark.sql(
                    "SELECT user_id, session_start_us, n_events, span_us,"
                    " total_value FROM jss_stream_sessions"
                ).collect()
            finally:
                q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "user_id bigint, session_start_us bigint, n_events bigint,"
        " span_us bigint, total_value double",
    )


def url_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization/host/domain extraction over urls planted
    deterministically on documents (doc_id % 8 picks uppercase hosts,
    default/non-default ports, userinfo, trailing-dot hosts, bare
    hosts, one unparseable string, and — round 6 — co.uk / com.au
    hosts that exercise the vendored Public-Suffix-List registrable-
    domain path) — row-local regex algebra (webtext.url_features),
    scan -> project at any scale. The DuckDB oracle replays every
    regex verbatim (no lookaround, so Java regex and RE2 agree) and
    the SAME PSL suffix sets as SQL IN lists."""
    # fan_out at the QUERY level: the operator keeps its audited
    # zero-exchange scan->project contract, but a tiny single-file
    # scan otherwise runs every per-row regex in ONE task (round 7;
    # no-op at scale)
    docs = _partitions.fan_out(load(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 0,
               F.concat(F.lit("https://WWW."), F.col("source"),
                        F.lit(".Example.ORG:443/a/"), did, F.lit("?q=1#frag")))
        .when(F.col("doc_id") % 8 == 1,
              F.concat(F.lit("http://"), F.col("source"),
                       F.lit(".example.org:8080/b/"), did))
        .when(F.col("doc_id") % 8 == 2,
              F.concat(F.lit("https://user:pw@"), F.col("source"),
                       F.lit(".example.org/c?x=2&y=3")))
        .when(F.col("doc_id") % 8 == 3,
              F.concat(F.lit("ftp://mirror."), F.col("source"),
                       F.lit(".example.org./d/"), did, F.lit("#f")))
        .when(F.col("doc_id") % 8 == 4,
              F.concat(F.lit("https://"), F.col("source"),
                       F.lit(".example.org")))
        .when(F.col("doc_id") % 8 == 5,
              F.concat(F.lit("https://news."), F.col("source"),
                       F.lit(".co.uk/p/"), did))
        .when(F.col("doc_id") % 8 == 6,
              F.concat(F.lit("http://www."), F.col("source"),
                       F.lit(".com.au/")))
        .otherwise(F.concat(F.lit("not a url "), did))
        .alias("url"),
    )
    return webtext.url_features(planted).select(
        "doc_id", "scheme", "host", "domain", "url_canon", "parse_ok"
    )


def lm_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (CCNet's perplexity-filter proxy) with
    a deliberately small vocab (top-20) so the out-of-vocabulary floor
    path is exercised: corpus-derived unigram distribution, broadcast
    onto the exploded token stream, mean log10-prob per doc. Vocab agg
    shuffles distinct tokens only; the corpus text never shuffles."""
    docs = load(spark, sf_dir, "documents")
    return webtext.unigram_logprob_score(docs, vocab_size=20)


# one sentence per duplicate-template bucket: ends in '.', >= 5 words
# (survives C4), appears in ~10 docs per bucket (BELOW the line-dedup
# min_docs=30 so the template itself is never dropped as boilerplate,
# but plenty for minhash to pair within the bucket)
_CURATION_DUP_PREFIX = "duplicated template sentence number "
_CURATION_DUP_SUFFIX = " appears here in cloned documents."


def curation_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END webtext curation chain, oracle-gated as ONE query
    (round 6): line_dedup -> c4_clean -> minhash near-dup ->
    representatives -> stratified_sample -> per_key_cap ->
    pack_token_bins, each stage consuming the previous stage's output
    — catches cross-operator contract drift that per-op oracles miss.

    Planting: every 41st doc's body is replaced by a shared template
    sentence (one variant per 410-id bucket, so each template lands in
    ~10 docs — minhash-pairable but below the line-dedup boilerplate
    threshold at every SF), everything else gets terminal punctuation
    so C4 keeps the main line; the _plant_lines footers ride on top
    and must vanish through line_dedup (shared) or C4 (unpunctuated).

    The DuckDB oracle replays the full chain: line frequency +
    anti-join rebuild, the C4 line filter, the md5 minhash/LSH
    pipeline, recursive-CTE connected components for representatives,
    the md5-threshold sample, the per-source rank cap, and the global
    running-sum packing. 100 TB shape: every stage is the library
    operator, so the scale properties (broadcast frequent set,
    zero-shuffle C4, banded LSH, distributed prefix-sum packing) are
    the per-op ones.
    """
    docs = load(spark, sf_dir, "documents")
    template = F.concat(
        F.lit(_CURATION_DUP_PREFIX),
        F.expr("CAST(doc_id DIV 410 AS STRING)"),
        F.lit(_CURATION_DUP_SUFFIX),
    )
    seeded = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 41 == 0, template)
        .otherwise(F.concat(F.col("text"), F.lit("."))),
    )
    ld = webtext.line_dedup(_plant_lines(seeded), min_docs=30).select(
        "doc_id", F.col("text_dedup").alias("text")
    )
    c4 = webtext.c4_clean(ld, min_words=5)
    surv = c4.filter("c4_passed").select(
        "doc_id", F.col("text_clean").alias("text")
    )
    # the survivor relation feeds the minhash signature build AND the
    # representative anti-join + downstream sample/cap/pack chain, and
    # the clustering gate inside dedup_representatives forces an
    # action before the final output runs — without a persist the
    # line_dedup frequency pass + rebuild + C4 re-evaluate per action
    # (round 7; same pattern as the operators' internal persists,
    # released on the next call via the registry)
    from jschon_spark.operators import _cachereg

    surv = surv.persist()
    _cachereg.track("curation_pipeline_surv", surv)
    pairs = dedup.minhash_near_duplicates_portable(surv, "doc_id", "text")
    reps = dedup.dedup_representatives(surv, pairs, "doc_id")
    enriched = reps.join(
        docs.select("doc_id", "lang", "source", "n_chars"), "doc_id"
    )
    sampled = webtext.stratified_sample(
        enriched,
        rates={"en": 0.5, "de": 0.25, "fr": 0.25},
        default_rate=0.0625,
    )
    capped = webtext.per_key_cap(sampled, "source", "n_chars", "doc_id", k=5)
    return webtext.pack_token_bins(capped, budget=256)


def entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution quality signals (round 6): per-doc Shannon
    entropy, distinct-token fraction, top-token mass — the degenerate-
    document detectors that ride alongside the Gopher repetition
    filters. Row-local HOF algebra with evaluate-once fences; no
    shuffle at scale, but the small file-backed scan here is
    round-robin repartitioned to defaultParallelism. DuckDB replays the count-vector build and the ln-based
    entropy aggregate verbatim."""
    docs = load(spark, sf_dir, "documents")
    return textqa.entropy_features(docs.select("doc_id", "text")).select(
        "doc_id", "ent_n_tokens", "distinct_token_frac",
        "top_token_mass", "token_entropy",
    )


def blocklist_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/host blocklist verdicts (round 6) over the same planted
    URL population as url_features_docs: registrable-domain match
    (PSL-aware), exact-host match, and dotted-suffix subdomain match,
    all as InSet/HOF Column algebra. No shuffle at scale, but the small
    file-backed scan here is round-robin repartitioned to
    defaultParallelism. keep_blocked=True so the row count is
    planting-stable and the oracle hashes the verdict column itself."""
    # query-level fan_out — same rationale as url_features_docs
    docs = _partitions.fan_out(load(spark, sf_dir, "documents"))
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 8 == 0,
               F.concat(F.lit("https://WWW."), F.col("source"),
                        F.lit(".Example.ORG:443/a/"), did, F.lit("?q=1#frag")))
        .when(F.col("doc_id") % 8 == 1,
              F.concat(F.lit("http://"), F.col("source"),
                       F.lit(".example.org:8080/b/"), did))
        .when(F.col("doc_id") % 8 == 2,
              F.concat(F.lit("https://user:pw@"), F.col("source"),
                       F.lit(".example.org/c?x=2&y=3")))
        .when(F.col("doc_id") % 8 == 3,
              F.concat(F.lit("ftp://mirror."), F.col("source"),
                       F.lit(".example.org./d/"), did, F.lit("#f")))
        .when(F.col("doc_id") % 8 == 4,
              F.concat(F.lit("https://"), F.col("source"),
                       F.lit(".example.org")))
        .when(F.col("doc_id") % 8 == 5,
              F.concat(F.lit("https://news."), F.col("source"),
                       F.lit(".co.uk/p/"), did))
        .when(F.col("doc_id") % 8 == 6,
              F.concat(F.lit("http://www."), F.col("source"),
                       F.lit(".com.au/")))
        .otherwise(F.concat(F.lit("not a url "), did))
        .alias("url"),
    )
    out = webtext.domain_blocklist_filter(
        planted,
        blocked=["src1.co.uk", "src2.com.au", "src5.example.org"],
        keep_blocked=True,
    )
    return out.select("doc_id", "domain", "blocked")
