"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship validation pass on sf0.001.
``queries()``    — one callable per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL for the value-hash gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from jschon_spark import queries as Q
from jschon_spark.operators._psl import PSL_2LABEL, PSL_3LABEL, sql_in_list

# the DuckDB oracle replays the SAME vendored PSL suffix sets the
# Spark InSet uses (single-sourced from operators/_psl.py)
_PSL2_IN = sql_in_list(PSL_2LABEL)
_PSL3_IN = sql_in_list(PSL_3LABEL)

_ENUM = "('en','de','fr','es')"
_PASSED = (
    "(doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL"
    " AND (doc_id IS NULL OR doc_id >= 0)"
    f" AND (lang IS NULL OR lang IN {_ENUM})"
    " AND (n_chars IS NULL OR n_chars <= 600)"
    " AND (text IS NULL OR length(text) >= 1)"
    " AND (source IS NULL OR regexp_matches(source, '^src[0-9]+$')))"
)

_STOP = {
    "de": "['der','die','das','und','ist','nicht','ein','mit','zu','den']",
    "en": "['the','and','of','to','a','in','is','it','that','for']",
    "es": "['el','la','los','de','y','que','es','un','una','por']",
    "fr": "['le','la','les','et','de','un','une','est','que','pour']",
}


def _shingle_ctes(where: str = "") -> str:
    """Shared DuckDB CTEs reproducing the dedup pipelines' shingles
    (``dedup.shingles_from_tokens`` over ``tokens(normalized(text))``)
    exactly: normalize → whitespace tokens → distinct 3-word shingles."""
    return rf"""
        base AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                     regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                     x -> x <> '') AS toks
          FROM documents {where}
        ), shg AS (
          SELECT doc_id,
                 CASE WHEN len(toks) - 2 <= 0 THEN [array_to_string(toks, ' ')]
                      ELSE list_distinct(list_transform(
                             generate_series(1, len(toks) - 2),
                             i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 END AS sh
          FROM base
        )"""


_JAC = (
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / len(list_distinct(a.sh || b.sh))"
)

_MINHASH_SIG = ", ".join(
    f"list_min(list_transform(sh, s -> md5('{i}|' || s)))" for i in range(16)
)
def _lsh_bucket_sql(vec_expr: str, n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """Sign-bit LSH bucket as DuckDB SQL, replaying the exact seeded
    hyperplanes used by similarity.lsh_topk (full-precision literals)."""
    from jschon_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=seed)
    bits = [
        f"(CASE WHEN list_dot_product({vec_expr}, "
        f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return " + ".join(bits)


_MINHASH_BANDS = ", ".join(
    f"{{'band': {b}, 'bucket': md5(array_to_string(list_slice(sig, {b * 4 + 1}, {b * 4 + 4}), '|'))}}"
    for b in range(4)
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full keyword pass over sf0.001 documents (verdicts)."""
    return Q.page_verdicts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # constraint engine (compiled keyword DAG over typed columns)
        "page_verdicts": Q.page_verdicts,
        "page_violations": Q.page_violations,
        "partition_verdicts_docs": Q.partition_verdicts_docs,
        # per-column stats (SURVEY.md §2.8)
        "stats_lineitem": Q.stats_lineitem,
        "stats_documents": Q.stats_documents,
        # uniqueness (salted + plain + hash-prefiltered) and verdict rollup
        "dup_user_events": Q.dup_user_events,
        "dup_user_events_salted": Q.dup_user_events_salted,
        "dup_verdict_orders": Q.dup_verdict_orders,
        "dup_text_prefiltered": Q.dup_text_prefiltered,
        # referential checks (anti-joins) + literal enum
        "ref_lineitem_orders": Q.ref_lineitem_orders,
        "ref_customer_nation": Q.ref_customer_nation,
        "enum_event_type": Q.enum_event_type,
        # distribution drift histogram + distributed PSI/KS scores
        "hist_events_value": Q.hist_events_value,
        "drift_events_value": Q.drift_events_value,
        # text analysis
        "token_counts": Q.token_counts,
        "quality_docs": Q.quality_docs,
        "lang_id_docs": Q.lang_id_docs,
        # dedup family. The xxhash64 fast paths (minhash_pairs,
        # simhash_pairs) are benched in bench.py but NOT oracle rows:
        # DuckDB has no xxhash64, so their value-verified md5 twins
        # (identical pipeline, portable hash) carry the gate — every
        # entry here is value-verified, none rows-only.
        "exact_dup_docs": Q.exact_dup_docs,
        "minhash_pairs_md5": Q.minhash_pairs_md5,
        "simhash_pairs_md5": Q.simhash_pairs_md5,
        "ngram_jaccard_docs": Q.ngram_jaccard_docs,
        "minhash_clusters_md5": Q.minhash_clusters_md5,
        "ngram_span_docs": Q.ngram_span_docs,
        # similarity search (brute = recall oracle; LSH/IVF = scale paths)
        "knn_brute": Q.knn_brute,
        "knn_lsh": Q.knn_lsh,
        "knn_ivf": Q.knn_ivf,
        "emb_sim_pairs": Q.emb_sim_pairs,
        "emb_near_dup_lsh": Q.emb_near_dup_lsh,
        "semantic_dedup_emb": Q.semantic_dedup_emb,
        "incremental_dedup_docs": Q.incremental_dedup_docs,
        "nfc_docs": Q.nfc_docs,
        # dynamic-JSON validation (Arrow batch evaluator on a real column)
        "props_json_verdicts": Q.props_json_verdicts,
        "props_json_violations": Q.props_json_violations,
        # corpus text ops
        "top_tokens": Q.top_tokens,
        "quality_filter": Q.quality_filter,
        # JSTS-style spec conformance (all §2.1-2.3 keyword families):
        # engine verdicts vs hand-authored expectations
        "keyword_conformance": Q.keyword_conformance,
        "format_conformance": Q.format_conformance,
        # annotation payloads (§2.4), recursive output formats (§2.7),
        # checkpoint/resume manifests (§2.8) — round-3 oracle rows
        "annotations_docs": Q.annotations_docs,
        "detailed_output_docs": Q.detailed_output_docs,
        "checkpoint_resume": Q.checkpoint_resume,
        # dynamic-JSON ARRAY keywords on the variant path (round 3)
        "props_array_verdicts": Q.props_array_verdicts,
        "props_pattern_verdicts": Q.props_pattern_verdicts,
        # statically-resolved $dynamicRef lowering (round 5)
        "props_dynref_verdicts": Q.props_dynref_verdicts,
        "local_source_verdicts": Q.local_source_verdicts,
        "remote_source_verdicts": Q.remote_source_verdicts,
        "nan_strict_verdicts": Q.nan_strict_verdicts,
        "custom_registry_verdicts": Q.custom_registry_verdicts,
        "streaming_dedup_firstseen": Q.streaming_dedup_firstseen,
        # quantile column stats + the streaming window rollup run in
        # batch mode (round 3)
        "stats_quantiles": Q.stats_quantiles,
        "windowed_verdicts_events": Q.windowed_verdicts_events,
        # watermark drop/keep over deterministic out-of-order batches
        # (round 5)
        "streaming_late_data_verdicts": Q.streaming_late_data_verdicts,
        # pinned html→text extractor through the Arrow UDF (round 3)
        "extract_text_goldens": Q.extract_text_goldens,
        # from-scratch PNG/WAV/JPEG decoders, distributed (round 5)
        "media_decode_verdicts": Q.media_decode_verdicts,
        # Gopher-style repetition quality signals (round 5)
        "repetition_docs": Q.repetition_docs,
        # GPT-3-style benchmark decontamination (round 5)
        "contamination_docs": Q.contamination_docs,
        # regex PII detection + redaction (round 5)
        "pii_docs": Q.pii_docs,
        # native session-window sessionization (round 5)
        "sessionize_events": Q.sessionize_events,
        # webtext curation family (round 5): CCNet line dedup, C4
        # cleaning, deterministic stratified sampling, domain caps,
        # sequence packing
        "streaming_sessionize_events": Q.streaming_sessionize_events,
        "line_dedup_docs": Q.line_dedup_docs,
        "c4_filter_docs": Q.c4_filter_docs,
        "sample_stratified_docs": Q.sample_stratified_docs,
        "source_caps_docs": Q.source_caps_docs,
        "pack_token_bins_docs": Q.pack_token_bins_docs,
        "url_features_docs": Q.url_features_docs,
        "lm_score_docs": Q.lm_score_docs,
        # round 6: the END-TO-END curation chain as one oracle row —
        # line_dedup -> c4 -> minhash dedup -> representatives ->
        # stratified sample -> domain cap -> packing plan
        "curation_pipeline_docs": Q.curation_pipeline_docs,
        # round 6: token-distribution entropy signals + domain/host
        # blocklist verdicts (PSL-aware)
        "entropy_docs": Q.entropy_docs,
        "blocklist_docs": Q.blocklist_docs,
    }


def extra_benches() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Perf-tracked but NOT oracle rows (DuckDB cannot replay xxhash64;
    the md5 twins value-verify the identical pipeline)."""
    return {
        "minhash_pairs": Q.minhash_pairs,
        "simhash_pairs": Q.simhash_pairs,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "page_verdicts": f"SELECT doc_id, {_PASSED} AS passed FROM documents",
        "page_violations": f"""
            SELECT doc_id, 'required' AS keyword, '' AS instance_path FROM documents
            WHERE doc_id IS NULL OR text IS NULL OR lang IS NULL
            UNION ALL SELECT doc_id, 'minimum', '/doc_id' FROM documents WHERE doc_id IS NOT NULL AND doc_id < 0
            UNION ALL SELECT doc_id, 'enum', '/lang' FROM documents WHERE lang IS NOT NULL AND lang NOT IN {_ENUM}
            UNION ALL SELECT doc_id, 'maximum', '/n_chars' FROM documents WHERE n_chars IS NOT NULL AND n_chars > 600
            UNION ALL SELECT doc_id, 'minLength', '/text' FROM documents WHERE text IS NOT NULL AND length(text) < 1
            UNION ALL SELECT doc_id, 'pattern', '/source' FROM documents WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')
        """,
        "partition_verdicts_docs": f"""
            SELECT source AS src, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN NOT {_PASSED} THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
                   CAST(sum(CASE WHEN NOT {_PASSED} THEN 1 ELSE 0 END) AS BIGINT) = 0 AS passed
            FROM documents GROUP BY source
        """,
        "stats_lineitem": " UNION ALL ".join(
            f"""SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                CAST(min({c}) AS DOUBLE) AS min_val, CAST(max({c}) AS DOUBLE) AS max_val
                FROM lineitem"""
            for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
        "stats_documents": " UNION ALL ".join(
            f"""SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                CAST(min({c}) AS VARCHAR) AS min_str, CAST(max({c}) AS VARCHAR) AS max_str
                FROM documents"""
            for c in ["lang", "source", "n_chars"]
        ),
        "dup_user_events": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM events GROUP BY user_id HAVING count(*) > 1
        """,
        "dup_user_events_salted": """
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM events GROUP BY user_id HAVING count(*) > 1
        """,
        "dup_text_prefiltered": """
            SELECT md5(props) AS key_md5, CAST(count(*) AS BIGINT) AS n_dup
            FROM events WHERE props IS NOT NULL
            GROUP BY props HAVING count(*) > 1
        """,
        "dup_verdict_orders": """
            WITH d AS (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1 HAVING count(*) > 1)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_dup_keys,
                   (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM d) AS n_dup_rows,
                   (SELECT coalesce(sum(c), 0) FROM d) = 0 AS passed
        """,
        "ref_lineitem_orders": """
            SELECT l_orderkey, l_linenumber FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        """,
        "ref_customer_nation": """
            SELECT c_custkey, c_nationkey FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
        """,
        "enum_event_type": """
            SELECT event_id, event_type FROM events
            WHERE event_type IS NULL OR event_type NOT IN ('click','view','purchase','signup')
        """,
        "hist_events_value": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19) AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        """,
        "drift_events_value": """
            WITH h AS (
              SELECT strftime(ts, '%Y-%m-%d') AS day,
                     least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 19) AS bucket,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ), g AS (SELECT bucket, sum(n) AS gn FROM h GROUP BY 1),
            gt AS (SELECT sum(gn) AS gt FROM g),
            p AS (SELECT day, sum(n) AS pt FROM h GROUP BY 1),
            grid AS (SELECT p.day, p.pt, b.bucket
                     FROM p CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS bucket) b),
            f AS (
              SELECT grid.day, grid.bucket, coalesce(h.n, 0) AS n,
                     CAST(coalesce(h.n, 0) AS DOUBLE) / CAST(grid.pt AS DOUBLE) AS pr,
                     CAST(coalesce(g.gn, 0) AS DOUBLE) / CAST(gt.gt AS DOUBLE) AS q
              FROM grid
              LEFT JOIN h ON h.day = grid.day AND h.bucket = grid.bucket
              LEFT JOIN g ON g.bucket = grid.bucket
              CROSS JOIN gt
            ), t AS (
              SELECT day, n,
                     (greatest(pr, 1e-6) - greatest(q, 1e-6))
                       * ln(greatest(pr, 1e-6) / greatest(q, 1e-6)) AS psi_term,
                     abs(sum(pr) OVER (PARTITION BY day ORDER BY bucket)
                         - sum(q) OVER (PARTITION BY day ORDER BY bucket)) AS cdf_gap
              FROM f
            )
            SELECT day, CAST(sum(n) AS BIGINT) AS n_values,
                   sum(psi_term) AS psi, max(cdf_gap) AS ks,
                   sum(psi_term) <= 0.2 AS drift_passed
            FROM t GROUP BY day
        """,
        "ngram_jaccard_docs": f"""
            WITH {_shingle_ctes("WHERE doc_id < 300")}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_JAC} AS jaccard
            FROM shg a JOIN shg b ON a.doc_id < b.doc_id
            WHERE {_JAC} >= 0.5
        """,
        "ngram_span_docs": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                         regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'), '\s+'),
                         x -> x <> '') AS toks
              FROM documents
            ), g AS (
              SELECT doc_id,
                     list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
                       i -> ('0x' || substr(md5(array_to_string(
                              list_slice(toks, i, i + 4), ' ')), 1, 15))::BIGINT) AS gh
              FROM base
            ), per AS (
              SELECT doc_id, h, count(*) AS k
              FROM (SELECT doc_id, unnest(gh) AS h FROM g) GROUP BY doc_id, h
            ), duph AS (
              SELECT h FROM per GROUP BY h HAVING count(*) >= 2
            ), nd AS (
              SELECT per.doc_id, sum(per.k) AS n_dup
              FROM per JOIN duph USING (h) GROUP BY per.doc_id
            )
            SELECT g.doc_id, CAST(len(g.gh) AS BIGINT) AS n_grams,
                   CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup_grams,
                   CASE WHEN len(g.gh) > 0
                        THEN CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / len(g.gh)
                        ELSE 0.0 END AS dup_fraction
            FROM g LEFT JOIN nd USING (doc_id)
        """,
        "emb_sim_pairs": """
            WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
            FROM s a JOIN s b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        """,
        "minhash_pairs_md5": f"""
            WITH {_shingle_ctes()},
            sig AS (SELECT doc_id, sh, [{_MINHASH_SIG}] AS sig FROM shg),
            bands AS (SELECT doc_id, unnest([{_MINHASH_BANDS}]) AS s FROM sig),
            bb AS (SELECT doc_id, s.band AS band, s.bucket AS bucket FROM bands),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM bb l JOIN bb r
                ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
            )
            SELECT c.id_a, c.id_b, {_JAC} AS jaccard
            FROM cand c JOIN shg a ON a.doc_id = c.id_a JOIN shg b ON b.doc_id = c.id_b
            WHERE {_JAC} >= 0.5
        """,
        "minhash_clusters_md5": f"""
            WITH RECURSIVE {_shingle_ctes()},
            sig AS (SELECT doc_id, sh, [{_MINHASH_SIG}] AS sig FROM shg),
            bands AS (SELECT doc_id, unnest([{_MINHASH_BANDS}]) AS s FROM sig),
            bb AS (SELECT doc_id, s.band AS band, s.bucket AS bucket FROM bands),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM bb l JOIN bb r
                ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
            ),
            pairs AS (
              SELECT c.id_a, c.id_b
              FROM cand c JOIN shg a ON a.doc_id = c.id_a JOIN shg b ON b.doc_id = c.id_b
              WHERE {_JAC} >= 0.5
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS id, a AS r FROM edges
              UNION
              SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
            )
            SELECT id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY id
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS n_tokens
            FROM documents
        """,
        "quality_docs": r"""
            SELECT doc_id,
                   CAST(coalesce(length(text), 0) AS INT) AS n_chars_q,
                   CAST(coalesce(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')), 0) AS INT) AS n_tokens,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE)
                        ELSE 0.0 END AS alpha_ratio
            FROM documents
        """,
        "lang_id_docs": rf"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
              FROM documents
            ), h AS (
              SELECT doc_id, [
                {{'hits': len(list_filter(toks, x -> list_contains({_STOP['de']}, x))), 'lang': 'de'}},
                {{'hits': len(list_filter(toks, x -> list_contains({_STOP['en']}, x))), 'lang': 'en'}},
                {{'hits': len(list_filter(toks, x -> list_contains({_STOP['es']}, x))), 'lang': 'es'}},
                {{'hits': len(list_filter(toks, x -> list_contains({_STOP['fr']}, x))), 'lang': 'fr'}}
              ] AS hl FROM t
            )
            SELECT doc_id,
                   CASE WHEN list_aggregate(hl, 'max').hits > 0
                        THEN list_aggregate(hl, 'max').lang ELSE 'und' END AS lang_pred
            FROM h
        """,
        "exact_dup_docs": r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
                   CAST(count(*) AS BIGINT) AS n_dup
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "knn_brute": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))) AS cos
              FROM embeddings e, q
            )
            SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "simhash_pairs_md5": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '\s+'),
                         x -> x <> '') AS toks
              FROM documents
            ), h AS (
              SELECT doc_id,
                     list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
              FROM base
            ), c AS (
              SELECT doc_id,
                     list_transform(generate_series(0, 59), b ->
                       coalesce(list_sum(list_transform(hs,
                         x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0)) AS counts
              FROM h
            ), s AS (
              SELECT doc_id,
                     coalesce(list_sum(list_transform(generate_series(0, 59), b ->
                       CASE WHEN counts[b + 1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)), 0) AS sig
              FROM c
            ), ch AS (
              SELECT doc_id, sig, u.chunk AS chunk,
                     (sig >> (u.chunk * 15)) & 32767 AS val
              FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) u
            ), cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                     l.sig AS sig_a, r.sig AS sig_b
              FROM ch l JOIN ch r
                ON l.chunk = r.chunk AND l.val = r.val AND l.doc_id < r.doc_id
            )
            SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 6
        """,
        "knn_lsh": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            b AS (SELECT vec_id, v, {_lsh_bucket_sql("v")} AS bucket FROM e),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
            scored AS (
              SELECT q.query_id, b.vec_id,
                     list_dot_product(b.v, q.qv)
                     / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
              FROM b JOIN q ON b.bucket = q.bucket
            )
            SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "props_json_verdicts": """
            SELECT event_id,
                   (json_type(props, '$.k') IN ('UBIGINT','BIGINT')
                    AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 50
                    AND len(list_filter(json_keys(props), k -> k <> 'k')) = 0) AS passed
            FROM events
        """,
        "props_json_violations": """
            SELECT event_id, 'required' AS keyword, '' AS instance_path FROM events
            WHERE json_type(props, '$.k') IS NULL
            UNION ALL SELECT event_id, 'type', '/k' FROM events
            WHERE json_type(props, '$.k') IS NOT NULL
              AND json_type(props, '$.k') NOT IN ('UBIGINT','BIGINT')
            UNION ALL SELECT event_id, 'minimum', '/k' FROM events
            WHERE json_type(props, '$.k') IN ('UBIGINT','BIGINT')
              AND CAST(json_extract(props, '$.k') AS BIGINT) < 0
            UNION ALL SELECT event_id, 'maximum', '/k' FROM events
            WHERE json_type(props, '$.k') IN ('UBIGINT','BIGINT')
              AND CAST(json_extract(props, '$.k') AS BIGINT) > 50
        """,
        "top_tokens": r"""
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
              SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
              FROM documents)
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
        """,
        "quality_filter": r"""
            SELECT doc_id FROM (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens,
                     CASE WHEN length(text) > 0
                          THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / CAST(length(text) AS DOUBLE)
                          ELSE 0.0 END AS alpha_ratio
              FROM documents)
            WHERE n_tokens >= 30 AND alpha_ratio >= 0.7
        """,
        # minhash_pairs / simhash_pairs / knn_lsh: hash-function-specific
        # (xxhash64 / murmur3 are Spark-native) — rows-only checks.
        "keyword_conformance": _conformance_oracle(),
        "format_conformance": _format_conformance_oracle(),
        "emb_near_dup_lsh": _emb_near_dup_lsh_oracle(),
        "knn_ivf": _knn_ivf_oracle(),
        "semantic_dedup_emb": _semantic_dedup_oracle(),
        "nfc_docs": r"""
            SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5,
                   CAST(length(nfc_normalize(text)) AS INT) AS n_chars_nfc,
                   (nfc_normalize(text) <> text) AS nfc_changed
            FROM documents
        """,
        "incremental_dedup_docs": r"""
            WITH nb AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
            ), n AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
              FROM nb
            ), hd AS (
              SELECT DISTINCT
                     md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
              FROM documents WHERE doc_id % 2 = 0
            )
            SELECT n.doc_id, (hd.h IS NOT NULL) AS is_exact_dup
            FROM n LEFT JOIN hd ON n.h = hd.h
        """,
        # §2.4 annotation payloads: hand-authored (keyword, path, JSON
        # value) rows cross-joined onto every VALID document — the
        # assertion set of ANNOTATED_DOC_SCHEMA equals DOC_SCHEMA's, so
        # validity is the same _PASSED predicate
        "annotations_docs": f"""
            SELECT doc_id, a.kw AS keyword, a.kpath AS keyword_path,
                   a.val AS annotation_json
            FROM documents
            CROSS JOIN (VALUES
              ('title', '/title', '"Synthetic web document"'),
              ('x-pipeline-stage', '/x-pipeline-stage',
               '{{"name": "ingest", "order": 1}}'),
              ('examples', '/properties/lang/examples', '["en", "de"]'),
              ('default', '/properties/n_chars/default', '0'),
              ('description', '/properties/text/description',
               '"extracted page text"'),
              ('contentMediaType', '/properties/text/contentMediaType',
               '"text/plain"')
            ) AS a(kw, kpath, val)
            WHERE {_PASSED}
        """,
        "detailed_output_docs": _detailed_output_oracle(),
        "extract_text_goldens": _extract_goldens_oracle(),
        # the decode math must invert the executor-side synthesis
        # exactly: flat-color PNG means are the exact channel bytes,
        # the square-wave WAV rms/peak are amp/128 (power-of-two
        # denominator, no rounding), and the unit-quant flat-gray JPEG
        # huffman+IDCT roundtrip returns the source value bit-exactly
        "media_decode_verdicts": """
            SELECT doc_id,
                   CAST(4 + doc_id % 5 AS BIGINT) AS png_w,
                   CAST(3 + doc_id % 4 AS BIGINT) AS png_h,
                   CAST(doc_id * 37 % 256 AS DOUBLE) AS mean_r,
                   CAST(doc_id * 59 % 256 AS DOUBLE) AS mean_g,
                   CAST(doc_id * 83 % 256 AS DOUBLE) AS mean_b,
                   CAST(0.0 AS DOUBLE) AS std_r,
                   CAST(least(doc_id * 37 % 256, doc_id * 59 % 256,
                              doc_id * 83 % 256) AS DOUBLE) AS px_min,
                   CAST(greatest(doc_id * 37 % 256, doc_id * 59 % 256,
                                 doc_id * 83 % 256) AS DOUBLE) AS px_max,
                   CAST(1 + doc_id % 100 AS DOUBLE) / 128.0 AS wav_rms,
                   CAST(1 + doc_id % 100 AS DOUBLE) / 128.0 AS wav_peak,
                   64.0 / 8000.0 AS wav_dur,
                   CAST(8 AS BIGINT) AS jpg_w,
                   CAST(doc_id * 11 % 256 AS DOUBLE) AS jpg_mean,
                   CAST(0.0 AS DOUBLE) AS jpg_std
            FROM documents
        """,
        # replays textqa.repetition_features: whitespace tokens, word
        # n-gram distinct fractions, top-token occurrence fraction
        "repetition_docs": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), base AS (
              SELECT doc_id, t, len(t) AS n,
                     list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1]) AS g2,
                     list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i + 1] || ' '
                                         || t[i + 2]) AS g3
              FROM toks
            ), top AS (
              SELECT doc_id, max(c) AS topc FROM (
                SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                GROUP BY doc_id, tok
              ) GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(b.n AS BIGINT) AS rep_n_tokens,
                   CASE WHEN b.n > 0 THEN
                     CAST(b.n - len(list_distinct(b.t)) AS DOUBLE) / b.n
                   ELSE CAST(0.0 AS DOUBLE) END AS dup_token_frac,
                   CASE WHEN len(b.g2) > 0 THEN
                     CAST(len(b.g2) - len(list_distinct(b.g2)) AS DOUBLE)
                       / len(b.g2)
                   ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac,
                   CASE WHEN len(b.g3) > 0 THEN
                     CAST(len(b.g3) - len(list_distinct(b.g3)) AS DOUBLE)
                       / len(b.g3)
                   ELSE CAST(0.0 AS DOUBLE) END AS dup_3gram_frac,
                   CASE WHEN b.n > 0 THEN
                     CAST(coalesce(top.topc, 0) AS DOUBLE) / b.n
                   ELSE CAST(0.0 AS DOUBLE) END AS top_token_frac
            FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
        """,
        # replays decontam.contamination_report: normalized tokens ->
        # distinct 8-gram shingles -> md5-60 hash join against the
        # snippet-derived benchmark gram set (doc_id % 101 == 7,
        # tokens 4-15)
        "contamination_docs": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ), dgrams AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, len(t) - 7),
                       i -> array_to_string(t[i:i+7], ' '))) AS g
              FROM toks WHERE len(t) >= 8
            ), bgrams AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(gram), 1, 15))::BIGINT AS h
              FROM (
                SELECT unnest(list_transform(
                         generate_series(1, len(bt) - 7),
                         i -> array_to_string(bt[i:i+7], ' '))) AS gram
                FROM (SELECT t[4:15] AS bt FROM toks
                      WHERE doc_id % 101 = 7 AND len(t) >= 15)
              )
            ), hits AS (
              SELECT d.doc_id, d.n_grams, count(*) AS n_hit
              FROM (
                SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
                       ('0x' || substr(md5(unnest(g)), 1, 15))::BIGINT AS h
                FROM dgrams
              ) d JOIN bgrams USING (h)
              GROUP BY d.doc_id, d.n_grams
            )
            SELECT doc_id, n_grams, n_hit,
                   CAST(n_hit AS DOUBLE) / n_grams AS hit_frac
            FROM hits
        """,
        # replays textqa.pii_features over the same planted-PII text:
        # RE2 and Java agree on these ASCII full-match patterns
        "pii_docs": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 13 = 0 THEN
                         ' contact alice.' || CAST(doc_id AS VARCHAR)
                         || '@example.org now'
                       WHEN doc_id % 13 = 5 THEN
                         ' server 192.168.' || CAST(doc_id % 250 AS VARCHAR)
                         || '.17 port'
                       WHEN doc_id % 13 = 9 THEN
                         ' call 415-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                         || ' today'
                       ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   coalesce(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')),
                     0) AS n_email,
                   coalesce(len(regexp_extract_all(text,
                     '\b\d{1,3}(?:\.\d{1,3}){3}\b')), 0) AS n_ipv4,
                   coalesce(len(regexp_extract_all(text,
                     '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')), 0) AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IPV4>', 'g'),
                     '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')
                     AS pii_redacted
            FROM planted
        """,
        # gaps-and-islands replay of session_window: a delta STRICTLY
        # greater than the 30-min gap opens a session (== gap merges —
        # Spark coalesces touching [ts, ts+gap] intervals)
        "sessionize_events": """
            WITH o AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts, value,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
              FROM o
            )
            SELECT user_id,
                   min(epoch_us(ts)) AS session_start_us,
                   count(*) AS n_events,
                   max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
                   sum(value) AS total_value
            FROM s GROUP BY user_id, sess
        """,
        # streaming sessionize: rebuild the synthesized event times
        # arithmetically, exclude the watermark-dropped late rows and
        # the sentinel, aggregate per (user, batch) — sessions are one
        # per (user, batch) by construction (<=10 min spans, 2h apart)
        "streaming_sessionize_events": """
            WITH t AS (
              SELECT event_id, user_id, value,
                     event_id % 3 AS b,
                     (event_id // 3) % 3 AS m
              FROM events
            ), kept AS (
              SELECT user_id, b, value,
                     1700000000000000 + b * 7200000000
                       + m * 300000000 AS ts_us
              FROM t
              WHERE NOT (b = 2 AND (event_id // 3) % 97 = 0)
            )
            SELECT user_id,
                   min(ts_us) AS session_start_us,
                   count(*) AS n_events,
                   max(ts_us) - min(ts_us) AS span_us,
                   sum(value) AS total_value
            FROM kept GROUP BY user_id, b
        """,
        # CCNet line dedup: drop lines in >= 30 distinct docs (the
        # planted boilerplate footers), reassemble in order; the
        # oracle replays the md5-keyed frequency + anti-join
        "line_dedup_docs": f"""
            WITH planted AS ({Q._PLANT_LINES_SQL}),
            lines AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(generate_series(
                       1, len(string_split(text, chr(10))))) AS pos
              FROM planted
            ), freq AS (
              SELECT md5(line) AS h FROM lines
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 30
            ), kept AS (
              SELECT l.doc_id, l.pos, l.line FROM lines l
              ANTI JOIN freq f ON md5(l.line) = f.h
            )
            SELECT t.doc_id, t.n_lines,
                   coalesce(k.n_kept, 0) AS n_kept,
                   coalesce(k.text_dedup, '') AS text_dedup
            FROM (SELECT doc_id, count(*) AS n_lines
                  FROM lines GROUP BY 1) t
            LEFT JOIN (SELECT doc_id, count(*) AS n_kept,
                              string_agg(line, chr(10) ORDER BY pos)
                                AS text_dedup
                       FROM kept GROUP BY 1) k USING (doc_id)
        """,
        # C4 heuristic cleaning: line-level terminal-punct / >=5-word
        # / no-javascript filter + doc-level lorem/brace rejection
        "c4_filter_docs": """
            WITH planted AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 3 = 0 THEN text || '.'
                           ELSE text END)
                     || (CASE WHEN doc_id % 17 = 0
                              THEN chr(10) || 'Lorem Ipsum dolor sit amet'
                              ELSE '' END)
                     || (CASE WHEN doc_id % 19 = 0
                              THEN chr(10) || 'function() { return 0; }'
                              ELSE '' END)
                     || (CASE WHEN doc_id % 23 = 5
                              THEN chr(10) || 'Please enable JavaScript'
                                   || ' to view this site properly.'
                              ELSE '' END) AS text
              FROM documents
            ), f AS (
              SELECT doc_id,
                     string_split(text, chr(10)) AS ls,
                     list_filter(
                       string_split(text, chr(10)),
                       l -> regexp_matches(l, '[.!?"]$')
                            AND len(string_split(l, ' ')) >= 5
                            AND NOT contains(lower(l), 'javascript')
                     ) AS kept,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(text, '{') AS has_brace
              FROM planted
            )
            SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_kept_lines,
                   has_lorem, has_brace,
                   (NOT has_lorem AND NOT has_brace AND len(kept) >= 1)
                     AS c4_passed,
                   coalesce(array_to_string(kept, chr(10)), '')
                     AS text_clean
            FROM f
        """,
        # deterministic md5-keyed stratified Bernoulli sample:
        # thresholds are floor(rate * 16^8) in 8 hex digits
        "sample_stratified_docs": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(cast(doc_id AS varchar)), 1, 8) <
                  CASE lang WHEN 'en' THEN '80000000'
                            WHEN 'de' THEN '40000000'
                            WHEN 'fr' THEN '40000000'
                            ELSE '0ccccccc' END
        """,
        # domain caps: top-5 per source by n_chars desc, doc_id asc
        "source_caps_docs": """
            SELECT doc_id, source, n_chars, rank FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id)
                       AS rank
              FROM documents)
            WHERE rank <= 5
        """,
        # sequence packing: contiguous 2048-token bins per lang in
        # doc_id order; bin = floor(tokens_before / budget)
        "pack_token_bins_docs": """
            WITH t AS (
              SELECT lang, doc_id,
                     len(string_split(text, ' ')) AS n_tokens
              FROM documents
            ), b AS (
              SELECT lang, n_tokens,
                     CAST(floor(
                       (sum(n_tokens) OVER (PARTITION BY lang
                                            ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING)
                        - n_tokens) / 2048.0) AS BIGINT) AS bin
              FROM t
            )
            SELECT lang, bin, count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens
            FROM b GROUP BY 1, 2
        """,
        # round 6: the END-TO-END curation chain replayed stage by
        # stage — line frequency + anti-join rebuild, C4 line filter,
        # md5 minhash/LSH pairs, recursive-CTE connected components
        # for keep-min representatives, md5-threshold sample,
        # per-source rank cap, global running-sum packing
        "curation_pipeline_docs": rf"""
            WITH RECURSIVE planted AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 41 = 0
                           THEN '{Q._CURATION_DUP_PREFIX}'
                                || CAST(doc_id // 410 AS varchar)
                                || '{Q._CURATION_DUP_SUFFIX}'
                           ELSE text || '.' END)
                     || chr(10) ||
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
            ), lines AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(generate_series(
                       1, len(string_split(text, chr(10))))) AS pos
              FROM planted
            ), freq AS (
              SELECT md5(line) AS h FROM lines
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 30
            ), kept0 AS (
              SELECT l.doc_id, l.pos, l.line FROM lines l
              ANTI JOIN freq f ON md5(l.line) = f.h
            ), ld AS (
              SELECT p.doc_id, coalesce(k.text_dedup, '') AS text
              FROM (SELECT DISTINCT doc_id FROM planted) p
              LEFT JOIN (SELECT doc_id,
                                string_agg(line, chr(10) ORDER BY pos)
                                  AS text_dedup
                         FROM kept0 GROUP BY 1) k USING (doc_id)
            ), c4 AS (
              SELECT doc_id,
                     list_filter(
                       string_split(text, chr(10)),
                       l -> regexp_matches(l, '[.!?"]$')
                            AND len(string_split(l, ' ')) >= 5
                            AND NOT contains(lower(l), 'javascript')
                     ) AS kept,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(text, '{{') AS has_brace
              FROM ld
            ), surv AS (
              SELECT doc_id,
                     array_to_string(kept, chr(10)) AS text
              FROM c4
              WHERE NOT has_lorem AND NOT has_brace AND len(kept) >= 1
            ), base AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                         regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                         '\s+'), x -> x <> '') AS toks
              FROM surv
            ), shg AS (
              SELECT doc_id,
                     CASE WHEN len(toks) - 2 <= 0
                          THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(
                                 generate_series(1, len(toks) - 2),
                                 i -> array_to_string(
                                        list_slice(toks, i, i + 2), ' ')))
                     END AS sh
              FROM base
            ),
            sig AS (SELECT doc_id, sh, [{_MINHASH_SIG}] AS sig FROM shg),
            bands AS (SELECT doc_id, unnest([{_MINHASH_BANDS}]) AS s FROM sig),
            bb AS (SELECT doc_id, s.band AS band, s.bucket AS bucket FROM bands),
            cand AS (
              SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
              FROM bb l JOIN bb r
                ON l.band = r.band AND l.bucket = r.bucket
                   AND l.doc_id < r.doc_id
            ), pairs AS (
              SELECT c.id_a, c.id_b
              FROM cand c JOIN shg a ON a.doc_id = c.id_a
                          JOIN shg b ON b.doc_id = c.id_b
              WHERE {_JAC} >= 0.5
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS id, a AS r FROM edges
              UNION
              SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
            ),
            losers AS (
              SELECT id FROM (SELECT id, min(r) AS cluster_id
                              FROM reach GROUP BY id)
              WHERE id <> cluster_id
            ),
            reps AS (
              SELECT s.doc_id, s.text FROM surv s
              ANTI JOIN losers lo ON s.doc_id = lo.id
            ),
            enriched AS (
              SELECT r.doc_id, r.text, d.lang, d.source, d.n_chars
              FROM reps r JOIN documents d USING (doc_id)
            ),
            sampled AS (
              SELECT * FROM enriched
              WHERE substr(md5(cast(doc_id AS varchar)), 1, 8) <
                    CASE lang WHEN 'en' THEN '80000000'
                              WHEN 'de' THEN '40000000'
                              WHEN 'fr' THEN '40000000'
                              ELSE '10000000' END
            ),
            capped AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY source
                                             ORDER BY n_chars DESC, doc_id)
                            AS rank
                FROM sampled)
              WHERE rank <= 5
            ),
            t AS (
              SELECT lang, doc_id,
                     len(string_split(text, ' ')) AS n_tokens
              FROM capped
            ), b2 AS (
              SELECT lang, n_tokens,
                     CAST(floor(
                       (sum(n_tokens) OVER (PARTITION BY lang
                                            ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING)
                        - n_tokens) / 256.0) AS BIGINT) AS bin
              FROM t
            )
            SELECT lang, bin, count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens
            FROM b2 GROUP BY 1, 2
        """,
        # round 6: token-distribution entropy — the count vector and
        # the ln-based entropy aggregate replayed with list HOFs
        # (both engines sum <=O(100) terms; well inside the 10-sig-
        # digit hash normalization)
        "entropy_docs": r"""
            WITH t AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id, toks,
                     list_transform(
                       list_distinct(toks),
                       d -> len(list_filter(toks, t2 -> t2 = d))) AS cnts
              FROM t
            )
            SELECT doc_id,
                   CAST(coalesce(len(toks), 0) AS INT) AS ent_n_tokens,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(cnts) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS distinct_token_frac,
                   CASE WHEN len(toks) > 0
                        THEN CAST(list_max(cnts) AS DOUBLE) / len(toks)
                        ELSE 0.0 END AS top_token_mass,
                   CASE WHEN len(toks) > 0
                        THEN -list_sum(list_transform(cnts,
                               c2 -> (CAST(c2 AS DOUBLE) / len(toks))
                                     * ln(CAST(c2 AS DOUBLE) / len(toks))))
                        ELSE 0.0 END AS token_entropy
            FROM c
        """,
        # round 6: blocklist verdicts — same planting + PSL domain
        # replay as url_features_docs, plus the three-term hit rule
        # (registrable domain IN, exact host IN, dotted-suffix LIKE)
        "blocklist_docs": f"""
            WITH planted AS (
              SELECT doc_id,
                     CASE doc_id % 8
                       WHEN 0 THEN 'https://WWW.' || source
                            || '.Example.ORG:443/a/'
                            || cast(doc_id AS varchar) || '?q=1#frag'
                       WHEN 1 THEN 'http://' || source
                            || '.example.org:8080/b/'
                            || cast(doc_id AS varchar)
                       WHEN 2 THEN 'https://user:pw@' || source
                            || '.example.org/c?x=2&y=3'
                       WHEN 3 THEN 'ftp://mirror.' || source
                            || '.example.org./d/'
                            || cast(doc_id AS varchar) || '#f'
                       WHEN 4 THEN 'https://' || source || '.example.org'
                       WHEN 5 THEN 'https://news.' || source
                            || '.co.uk/p/' || cast(doc_id AS varchar)
                       WHEN 6 THEN 'http://www.' || source || '.com.au/'
                       ELSE 'not a url ' || cast(doc_id AS varchar)
                     END AS url
              FROM documents
            ), p AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                       '^[^@]*@', '')) AS host_l
              FROM planted
            ), h AS (
              SELECT *,
                     regexp_replace(regexp_replace(host_l,
                       ':[0-9]+$', ''), '\\.$', '') AS host
              FROM p
            ), d AS (
              SELECT *,
                     regexp_replace(host, '^www\\.', '') AS domain_base,
                     (scheme <> '' AND host <> '') AS parse_ok
              FROM h
            ), e AS (
              SELECT *, string_split(domain_base, '.') AS ls FROM d
            ), f AS (
              SELECT doc_id,
                     CASE WHEN parse_ok THEN
                       CASE WHEN len(ls) >= 4
                                 AND ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                                     IN ({_PSL3_IN})
                            THEN ls[-4] || '.' || ls[-3] || '.' || ls[-2]
                                 || '.' || ls[-1]
                            WHEN len(ls) >= 3
                                 AND ls[-2] || '.' || ls[-1] IN ({_PSL2_IN})
                            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                            WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
                            ELSE domain_base END
                     END AS domain,
                     CASE WHEN parse_ok THEN host END AS host
              FROM e
            )
            SELECT doc_id, domain,
                   coalesce(
                     domain IN ('src1.co.uk', 'src2.com.au',
                                'src5.example.org')
                     OR host IN ('src1.co.uk', 'src2.com.au',
                                 'src5.example.org')
                     OR host LIKE '%.src1.co.uk'
                     OR host LIKE '%.src2.com.au'
                     OR host LIKE '%.src5.example.org',
                     false) AS blocked
            FROM f
        """,
        # url canonicalization: replay every regex verbatim (anchored
        # single-match replaces, so Spark's replace-all == DuckDB's
        # replace-first), same planting arithmetic; round 6 adds
        # co.uk/com.au plants + the vendored-PSL registrable-domain
        # rule replayed with the SAME suffix sets as SQL IN lists
        "url_features_docs": f"""
            WITH planted AS (
              SELECT doc_id,
                     CASE doc_id % 8
                       WHEN 0 THEN 'https://WWW.' || source
                            || '.Example.ORG:443/a/'
                            || cast(doc_id AS varchar) || '?q=1#frag'
                       WHEN 1 THEN 'http://' || source
                            || '.example.org:8080/b/'
                            || cast(doc_id AS varchar)
                       WHEN 2 THEN 'https://user:pw@' || source
                            || '.example.org/c?x=2&y=3'
                       WHEN 3 THEN 'ftp://mirror.' || source
                            || '.example.org./d/'
                            || cast(doc_id AS varchar) || '#f'
                       WHEN 4 THEN 'https://' || source || '.example.org'
                       WHEN 5 THEN 'https://news.' || source
                            || '.co.uk/p/' || cast(doc_id AS varchar)
                       WHEN 6 THEN 'http://www.' || source || '.com.au/'
                       ELSE 'not a url ' || cast(doc_id AS varchar)
                     END AS url
              FROM documents
            ), p AS (
              SELECT doc_id, url,
                     lower(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     lower(regexp_replace(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                       '^[^@]*@', '')) AS host_l,
                     regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                       AS path,
                     regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM planted
            ), h AS (
              SELECT *,
                     regexp_extract(host_l, ':([0-9]+)$', 1) AS port,
                     regexp_replace(regexp_replace(host_l,
                       ':[0-9]+$', ''), '\\.$', '') AS host
              FROM p
            ), d AS (
              SELECT *,
                     regexp_replace(host, '^www\\.', '') AS domain_base,
                     (port <> '' AND NOT (scheme = 'http' AND port = '80')
                      AND NOT (scheme = 'https' AND port = '443'))
                       AS keep_port,
                     (scheme <> '' AND regexp_replace(regexp_replace(
                       host_l, ':[0-9]+$', ''), '\\.$', '') <> '')
                       AS parse_ok
              FROM h
            ), e AS (
              SELECT *, string_split(domain_base, '.') AS ls FROM d
            )
            SELECT doc_id, scheme,
                   CASE WHEN parse_ok THEN host END AS host,
                   CASE WHEN parse_ok THEN
                     CASE WHEN len(ls) >= 4
                               AND ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                                   IN ({_PSL3_IN})
                          THEN ls[-4] || '.' || ls[-3] || '.' || ls[-2]
                               || '.' || ls[-1]
                          WHEN len(ls) >= 3
                               AND ls[-2] || '.' || ls[-1] IN ({_PSL2_IN})
                          THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                          WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
                          ELSE domain_base END
                   END AS domain,
                   CASE WHEN parse_ok THEN
                     scheme || '://' || host
                     || CASE WHEN keep_port THEN ':' || port ELSE '' END
                     || CASE WHEN path = '' THEN '/' ELSE path END
                     || CASE WHEN query <> '' THEN '?' || query
                             ELSE '' END
                   END AS url_canon,
                   parse_ok
            FROM e
        """,
        # unigram LM score: corpus top-20 vocab logprobs, OOV floor
        # -log10(total+1); identical split/count/limit tiebreak
        "lm_score_docs": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(text, '\\s+')) AS tok
              FROM documents
            ), tk AS (
              SELECT doc_id, tok FROM toks WHERE tok <> ''
            ), counts AS (
              SELECT tok, count(*) AS n FROM tk GROUP BY 1
            ), tot AS (
              SELECT sum(n) AS total FROM counts
            ), vocab AS (
              SELECT tok,
                     log10(CAST(n AS DOUBLE))
                     - log10(CAST((SELECT total FROM tot) AS DOUBLE) + 1.0)
                       AS lp
              FROM counts ORDER BY n DESC, tok LIMIT 20
            ), scored AS (
              SELECT doc_id,
                     coalesce(v.lp,
                       -log10(CAST((SELECT total FROM tot) AS DOUBLE)
                              + 1.0)) AS lp
              FROM tk t LEFT JOIN vocab v USING (tok)
            )
            SELECT doc_id, count(*) AS n_tokens,
                   avg(lp) AS mean_logprob
            FROM scored GROUP BY 1
        """,
        # exact interpolated quantiles: Spark percentile and DuckDB
        # quantile_cont both use the (n-1)*p linear-interpolation rule
        "stats_quantiles": " UNION ALL ".join(
            f"""SELECT '{c}' AS col_name,
                       unnest([0.25, 0.5, 0.75, 0.95]::DOUBLE[]) AS p,
                       unnest(quantile_cont(CAST({c} AS DOUBLE),
                                            [0.25, 0.5, 0.75, 0.95])) AS q
                FROM lineitem"""
            for c in ["l_quantity", "l_extendedprice", "l_discount"]
        ),
        # the streaming rollup replayed with time_bucket (epoch-aligned
        # 1h tumbling windows); NULL verdicts (NULL props) count in
        # n_docs but never in n_failed, matching when(~passed,1).otherwise(0)
        "windowed_verdicts_events": """
            WITH v AS (
              SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                     (json_type(props, '$.k') IN ('UBIGINT','BIGINT')
                      AND CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 50
                      AND len(list_filter(json_keys(props), k -> k <> 'k')) = 0) AS ok
              FROM events
            )
            SELECT window_start,
                   window_start + INTERVAL 1 HOUR AS window_end,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(CASE WHEN ok IS FALSE THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_failed,
                   (coalesce(sum(CASE WHEN ok IS FALSE THEN 1 ELSE 0 END), 0) = 0) AS passed
            FROM v GROUP BY 1
        """,
        # the watermark drop/keep decision replayed exactly. Spark's
        # micro-batch engine evicts a window's state at the END of the
        # batch in which the watermark (computed from the PREVIOUS
        # batch's max event time - delay) passes the window end — so
        # late rows merging into the window DURING that same batch
        # still count, and a row is dropped only when it arrives after
        # the eviction: batch-b rows drop iff window_end <=
        # max(event time over batches <= b-2) - delay. Here only
        # batch-2 rows in windows ending before max(batch 0) - 2h
        # (= 01:10) drop; the sentinel batch-3 window never closes and
        # so never appears. All comparisons are equality-free by
        # construction (whole-hour window ends vs :10/:20/:40
        # watermarks).
        "streaming_late_data_verdicts": """
            WITH ev AS (
              SELECT event_id % 3 AS b,
                     TIMESTAMP '2024-01-01 00:00:00'
                       + INTERVAL (CASE event_id % 3
                           WHEN 0 THEN (event_id // 3) % 4
                           WHEN 1 THEN (event_id // 3) % 7
                           ELSE (event_id // 3) % 9 END) HOUR
                       + INTERVAL (CASE event_id % 3
                           WHEN 0 THEN 10 WHEN 1 THEN 20
                           ELSE 40 END) MINUTE AS ts2,
                     value
              FROM events
            ),
            wm AS (
              SELECT (SELECT max(ts2) FROM ev WHERE b = 0)
                       - INTERVAL 2 HOUR AS wm1
            ),
            kept AS (
              SELECT ev.* FROM ev, wm
              WHERE b <= 1
                 OR (b = 2 AND
                     date_trunc('hour', ts2) + INTERVAL 1 HOUR > wm1)
            )
            SELECT date_trunc('hour', ts2) AS window_start,
                   date_trunc('hour', ts2) + INTERVAL 1 HOUR AS window_end,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(CASE WHEN value > 200 THEN 1
                                          ELSE 0 END), 0) AS BIGINT)
                     AS n_failed,
                   (coalesce(sum(CASE WHEN value > 200 THEN 1 ELSE 0 END),
                             0) = 0) AS passed
            FROM kept GROUP BY 1, 2
        """,
        # vals = [doc_id, n_chars]: items (integer >= 0) over both
        # elements; contains (>= 100) with minContains 0 / maxContains 1
        # the constructed doc: every 7th event gets an x_-prefixed key
        # (additionalProperties:false -> fail); k_ values must be >= 10
        # (minimum under ^k_); tag enum excludes 'error'; meta must
        # structurally equal {"v": 1} (v=1 only when event_id % 3 = 0)
        # first-seen-per-key over the deterministic 4-batch replay
        # (batch = event_id % 4): the key's min batch, then that
        # batch's occurrence count
        # cross-file \$ref resolved through a LocalSource: k must be an
        # integer in [0, 50] and present
        "local_source_verdicts": """
            SELECT event_id,
                   (json_type(props, '$.k') IN ('UBIGINT','BIGINT')
                    AND CAST(json_extract(props, '$.k') AS BIGINT)
                        BETWEEN 0 AND 50) AS passed
            FROM events
        """,
        # same constraint served over HTTP (k integer in [10, 80])
        "remote_source_verdicts": """
            SELECT event_id,
                   (json_type(props, '$.k') IN ('UBIGINT','BIGINT')
                    AND CAST(json_extract(props, '$.k') AS BIGINT)
                        BETWEEN 10 AND 80) AS passed
            FROM events
        """,
        # NaN / -Infinity docs are parse failures (passed = false, not
        # NULL and never a comparable NaN); others follow PROPS_SCHEMA
        "nan_strict_verdicts": """
            SELECT event_id,
                   CASE WHEN event_id % 11 = 0 OR event_id % 13 = 0
                        THEN false
                        ELSE (json_type(props, '$.k') IN ('UBIGINT','BIGINT')
                              AND CAST(json_extract(props, '$.k') AS BIGINT)
                                  BETWEEN 0 AND 50
                              AND len(list_filter(json_keys(props),
                                                  k -> k <> 'k')) = 0)
                   END AS passed
            FROM events
        """,
        # custom format (length<=5) + custom keyword (divisible by 3)
        # replayed in plain SQL
        "custom_registry_verdicts": """
            SELECT event_id,
                   (length(event_type) <= 5 AND (event_id % 3) = 0) AS passed
            FROM events
        """,
        "streaming_dedup_firstseen": """
            WITH tagged AS (
              SELECT user_id, ((event_id % 4) + 4) % 4 AS b FROM events
            ),
            firstb AS (
              SELECT user_id, min(b) AS fb FROM tagged GROUP BY user_id
            )
            SELECT t.user_id, CAST(count(*) AS BIGINT) AS n_first_batch
            FROM tagged t JOIN firstb f
              ON t.user_id = f.user_id AND t.b = f.fb
            GROUP BY t.user_id
        """,
        # every 4th event renders k as <int>.5 (fails type:integer);
        # every 3rd uppercases tag (fails ^[a-z_]+$); otherwise k must
        # land in [0, 50] — value is never NULL in events
        "props_dynref_verdicts": """
            SELECT event_id,
                   (event_id % 4 <> 0
                    AND FLOOR(value) >= 0 AND FLOOR(value) <= 50
                    AND event_id % 3 <> 0) AS passed
            FROM events
        """,
        "props_pattern_verdicts": """
            SELECT event_id,
                   (event_id % 7 <> 0
                    AND value >= 10
                    AND event_type <> 'error'
                    AND event_id % 3 = 0) AS passed
            FROM events
        """,
        "props_array_verdicts": """
            SELECT doc_id,
                   (doc_id IS NOT NULL AND doc_id >= 0
                    AND n_chars IS NOT NULL AND n_chars >= 0)
                   AND ((CASE WHEN doc_id >= 100 THEN 1 ELSE 0 END)
                        + (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) <= 1)
                   AS passed
            FROM documents
        """,
        # checkpoint/resume: day b = pmod(doc_id, 3); run 1 covers all
        # three days, run 2 re-runs ONLY day 2 (its snapshot changed);
        # n_docs / n_failed replay the PAGE_SCHEMA assertions on the
        # constructed page rows (url/warc_ts always valid; text needs
        # length >= 1; lang needs ^[a-z]{{2}}$)
        "checkpoint_resume": """
            WITH d AS (
              SELECT ((doc_id % 3) + 3) % 3 AS b,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(CASE WHEN text IS NOT NULL AND length(text) >= 1
                                    AND lang IS NOT NULL
                                    AND regexp_matches(lang, '^[a-z]{2}$')
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_failed
              FROM documents WHERE doc_id IS NOT NULL GROUP BY 1
            )
            SELECT '2024-01-0' || CAST(b + 1 AS VARCHAR) AS day,
                   TRUE AS ran_first,
                   (b = 1) AS reran,
                   CASE WHEN b = 1 THEN 'snap-2b' ELSE 'snap-1' END AS snapshot_id,
                   n_docs, n_failed
            FROM d
        """,
    }


def _extract_goldens_oracle() -> str:
    """Expected md5 per GOLDEN_CASES entry — computed from the SAME
    single-source fixture list the Spark query feeds through the Arrow
    UDF, so a drifting extractor (or a stale EXTRACTOR_VERSION pin)
    hash-mismatches here."""
    import hashlib

    from jschon_spark.sources.extract import GOLDEN_CASES

    values = ",\n              ".join(
        f"({i}, '{hashlib.md5(want.encode('utf-8')).hexdigest()}')"
        for i, (_, want) in enumerate(GOLDEN_CASES)
    )
    return f"""
        SELECT case_id, text_md5
        FROM (VALUES
              {values}
        ) AS t(case_id, text_md5)
    """


def _detailed_output_oracle() -> str:
    """md5 hashes of HAND-AUTHORED detailed/hierarchical trees for the
    2-doc fixture in queries.detailed_output_docs — authored from the
    reference's recursive output semantics
    (/root/reference/jschon/output.py:73-165), serialized canonically
    (sorted keys, compact separators) exactly like the Spark side."""
    import hashlib
    import json

    det1 = {
        "valid": False, "instanceLocation": "",
        "errors": [
            {"keyword": "required", "keywordLocation": "/required",
             "error": "missing required properties", "value": "name"},
        ],
        "children": [
            {"valid": False, "instanceLocation": "/tags", "children": [
                {"valid": False, "instanceLocation": "/tags/0",
                 "errors": [{"keyword": "maxLength",
                             "keywordLocation": "/properties/tags/items/maxLength",
                             "error": "longer than 2", "value": "okk"}]},
                {"valid": False, "instanceLocation": "/tags/2",
                 "errors": [{"keyword": "maxLength",
                             "keywordLocation": "/properties/tags/items/maxLength",
                             "error": "longer than 2", "value": "bcd"}]},
            ]},
        ],
    }
    hier1 = {
        "valid": False, "evaluationPath": "",
        "children": [
            {"valid": False,
             "evaluationPath": "/properties/tags/items/maxLength",
             "errors": [
                 {"keyword": "maxLength", "instanceLocation": "/tags/0",
                  "error": "longer than 2", "value": "okk"},
                 {"keyword": "maxLength", "instanceLocation": "/tags/2",
                  "error": "longer than 2", "value": "bcd"},
             ]},
            {"valid": False, "evaluationPath": "/required",
             "errors": [
                 {"keyword": "required", "instanceLocation": "",
                  "error": "missing required properties",
                  "value": "name"},
             ]},
        ],
    }
    det2 = {"valid": True, "instanceLocation": "", "errors": []}
    hier2 = {"valid": True, "evaluationPath": "", "errors": []}

    def h(tree) -> str:
        blob = json.dumps(tree, sort_keys=True, separators=(",", ":"))
        return hashlib.md5(blob.encode()).hexdigest()

    rows = ", ".join(
        f"(CAST({doc} AS BIGINT), '{fmt}', '{h(tree)}')"
        for doc, fmt, tree in [
            (1, "detailed", det1), (1, "hierarchical", hier1),
            (2, "detailed", det2), (2, "hierarchical", hier2),
        ]
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(doc_id, fmt, tree_md5)"


def _emb_near_dup_lsh_oracle(
    n_planes: int = 6, n_tables: int = 8, dim: int = 64,
    min_cos: float = 0.4, seed: int = 42,
) -> str:
    """Replays embedding_near_duplicates: per-table seeded buckets,
    OR-construction candidates (DISTINCT pairs), exact-cosine verify."""
    per_table = ", ".join(
        f"{{'tbl': {t}, 'bucket': {_lsh_bucket_sql('v', n_planes, dim, seed + t)}}}"
        for t in range(n_tables)
    )
    return f"""
        WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                   FROM embeddings),
        hashed AS (SELECT vec_id, unnest([{per_table}]) AS tb FROM s),
        hb AS (SELECT vec_id, tb.tbl AS tbl, tb.bucket AS bucket FROM hashed),
        cand AS (
          SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
          FROM hb l JOIN hb r
            ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
        )
        SELECT c.id_a, c.id_b,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        FROM cand c JOIN s a ON a.vec_id = c.id_a JOIN s b ON b.vec_id = c.id_b
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {min_cos}
    """


def _semantic_dedup_oracle(
    n_lists: int = 16, dim: int = 64, threshold: float = 0.4
) -> str:
    """Replays similarity.semantic_dedup end to end: literal seeded
    centroids, argmax-COSINE assignment (ties -> lowest list id),
    intra-cluster cosine pairs, recursive min-label reach, and the
    keep-least-centroid-similar representative window."""
    from jschon_spark.operators.similarity import seeded_centroids

    cents = seeded_centroids(dim, n_lists, seed=7)
    values = ", ".join(
        f"({li}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for li, c in enumerate(cents)
    )
    cos = (
        "list_dot_product({x}, {y}) / (sqrt(list_dot_product({x}, {x}))"
        " * sqrt(list_dot_product({y}, {y})))"
    )
    return f"""
        WITH RECURSIVE
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT * FROM (VALUES {values}) AS t(li, c)),
        ac AS (
          SELECT e.vec_id, e.v, cent.li,
                 {cos.format(x='e.v', y='cent.c')} AS cs
          FROM e CROSS JOIN cent
        ),
        a AS (
          SELECT vec_id, v, li AS list, cs FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, li) AS rn
            FROM ac) WHERE rn = 1
        ),
        p AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM a x JOIN a y ON x.list = y.list AND x.vec_id < y.vec_id
          WHERE {cos.format(x='x.v', y='y.v')} >= {threshold!r}
        ),
        edges AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION SELECT id_b, id_a FROM p),
        reach AS (
          SELECT a AS id, a AS r FROM edges
          UNION
          SELECT reach.id, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a
        ),
        grp AS (SELECT id, min(r) AS g FROM reach GROUP BY id),
        rep AS (
          SELECT a.vec_id, grp.g,
                 row_number() OVER (PARTITION BY grp.g
                                    ORDER BY a.cs ASC, a.vec_id) = 1 AS keep
          FROM a JOIN grp ON a.vec_id = grp.id
        )
        SELECT a.vec_id, CAST(a.list AS INT) AS list_id,
               CAST(rep.g AS BIGINT) AS group_id,
               COALESCE(rep.keep, TRUE) AS keep
        FROM a LEFT JOIN rep ON a.vec_id = rep.vec_id
    """


def _knn_ivf_oracle(n_lists: int = 16, n_probe: int = 4, dim: int = 64, k: int = 5) -> str:
    """Replays ivf_topk_seeded exactly: literal seeded centroids,
    argmin assignment (ties -> lowest list id), n_probe nearest lists
    per query, cosine top-k."""
    from jschon_spark.operators.similarity import seeded_centroids

    cents = seeded_centroids(dim, n_lists, seed=7)
    values = ", ".join(
        f"({li}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for li, c in enumerate(cents)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT * FROM (VALUES {values}) AS t(li, c)),
        ad AS (
          SELECT e.vec_id, e.v, cent.li,
                 list_sum(list_transform(generate_series(1, {dim}),
                   i -> (e.v[i] - cent.c[i]) * (e.v[i] - cent.c[i]))) AS d
          FROM e CROSS JOIN cent
        ),
        a AS (
          SELECT vec_id, v, li AS list FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, li) AS rn
            FROM ad) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
        qd AS (
          SELECT q.query_id, q.qv, cent.li,
                 list_sum(list_transform(generate_series(1, {dim}),
                   i -> (q.qv[i] - cent.c[i]) * (q.qv[i] - cent.c[i]))) AS d
          FROM q CROSS JOIN cent
        ),
        qp AS (
          SELECT query_id, qv, li FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, li) AS rn
            FROM qd) WHERE rn <= {n_probe}
        ),
        scored AS (
          SELECT qp.query_id, a.vec_id,
                 list_dot_product(a.v, qp.qv)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qp.qv, qp.qv))) AS cos
          FROM a JOIN qp ON a.list = qp.li
        )
        SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _conformance_oracle() -> str:
    """Expected verdicts as a VALUES table: the oracle side never runs
    the engine, so a hash match means the engine agrees with the
    hand-authored 2020-12/2019-09 expectations on every corpus case."""
    from jschon_spark.conformance_corpus import all_cases
    from jschon_spark.operators.conformance import expected_values_sql

    return expected_values_sql(all_cases())


def _format_conformance_oracle() -> str:
    from jschon_spark.conformance_corpus import FORMAT_CASES
    from jschon_spark.operators.conformance import expected_values_sql

    return expected_values_sql(FORMAT_CASES)
