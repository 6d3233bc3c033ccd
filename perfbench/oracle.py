"""Output checks of the corpus pass against a DuckDB oracle.

A digest of a relation is ``(rows, md5sum)``: the row count and the sum,
over rows, of the first 32 bits of ``md5`` of the row's checked columns
joined by U+001F, with NULL as U+0000.  Spark (the program's output) and
DuckDB (the oracle over the same parquet) compute it bit-for-bit alike,
so a large output is checked by comparing two small tuples; small
outputs are compared row by row.  ``py_digest`` is the same digest in
Python, for the labels of the documents of ``doc_routes``.
"""

from __future__ import annotations

import hashlib
import math

SEP = "\x1f"
NULL = "\x00"

# the program's flagship page schema, restated as SQL over the corpus:
# one row per (document, leaf violation), in the reference dialect
PAGE_VIOLATIONS_SQL = """
    SELECT rid, url, 'required' AS keyword, '' AS instance_path FROM pages
      WHERE url IS NULL OR warc_ts IS NULL OR text IS NULL OR lang IS NULL
    UNION ALL SELECT rid, url, 'pattern', '/url' FROM pages
      WHERE url IS NOT NULL AND NOT regexp_matches(url, '^https?://')
    UNION ALL SELECT rid, url, 'maxLength', '/url' FROM pages
      WHERE url IS NOT NULL AND length(url) > 2048
    UNION ALL SELECT rid, url, 'minLength', '/text' FROM pages
      WHERE text IS NOT NULL AND length(text) < 1
    UNION ALL SELECT rid, url, 'pattern', '/lang' FROM pages
      WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$')
"""

_DAY = "strftime(warc_ts, '%Y-%m-%d')"


def spark_digest_columns(df, cols: list[str]):
    """``[count, md5sum, xor]`` aggregate Columns over ``df``.  The xor
    of ``xxhash64`` over every column is not checked: it makes Spark
    compute every output column, including the ones the digest does not
    cover."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in cols]
    )
    part = F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("bigint")
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(part), F.lit(0)).alias("s"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("x"),
    ]


def duck_digest(con, select_sql: str, cols: list[str]) -> tuple[int, int]:
    """Digest of ``select_sql`` in DuckDB, over ``cols`` of its rows."""
    row = " || chr(31) || ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0))" for c in cols
    )
    n, s = con.sql(
        f"SELECT count(*), coalesce(sum(('0x' || substr(md5({row}), 1, 8))::BIGINT), 0) "
        f"FROM ({select_sql})"
    ).fetchone()
    return int(n), int(s)


def py_digest(rows) -> tuple[int, int]:
    """Digest of ``rows`` (tuples of str, int or None) computed in Python,
    for outputs whose oracle is the in-process ``Evaluator``."""
    n = s = 0
    for r in rows:
        key = SEP.join(NULL if v is None else str(v) for v in r)
        s += int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
        n += 1
    return n, s


def diff_rows(got: list[tuple], want: list[tuple], limit: int = 5) -> str:
    """A short human description of the multiset difference."""
    from collections import Counter

    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    extra = list((g - w).elements())[:limit]
    missing = list((w - g).elements())[:limit]
    return f"unexpected rows {extra}; missing rows {missing}"


def corpus_expected(parquet_dir: str, lang_codes: list[str]) -> dict:
    """Every output of the corpus pass over ``parquet_dir``, from DuckDB:
    digests for the large relations, exact rows for the small ones."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql("SET TimeZone = 'UTC'")
        con.sql(
            "CREATE TEMP TABLE pages AS SELECT row_number() OVER () AS rid, * "
            f"FROM read_parquet('{parquet_dir}/*.parquet')"
        )
        con.sql(f"CREATE TEMP TABLE violations AS {PAGE_VIOLATIONS_SQL}")
        con.sql(
            f"CREATE TEMP TABLE verdicts AS SELECT url, {_DAY} AS day, "
            "rid NOT IN (SELECT rid FROM violations) AS passed FROM pages"
        )
        codes = ", ".join(f"'{c}'" for c in lang_codes)
        out = {
            "verdicts": duck_digest(con, "SELECT * FROM verdicts", ["url", "day", "passed"]),
            "violations": duck_digest(con, "SELECT * FROM violations", ["url", "keyword", "instance_path"]),
            "duplicate_urls": duck_digest(
                con,
                "SELECT url, count(*) AS n_dup FROM pages WHERE url IS NOT NULL "
                "GROUP BY url HAVING count(*) > 1",
                ["url", "n_dup"],
            ),
            "lang_violations": duck_digest(
                con,
                f"SELECT url, lang FROM pages WHERE lang IS NULL OR lang NOT IN ({codes})",
                ["url", "lang"],
            ),
        }
        out["partition_verdicts"] = sorted(
            con.sql(
                "SELECT day, count(*)::BIGINT, sum(CASE WHEN passed THEN 0 ELSE 1 END)::BIGINT, "
                "bool_and(passed) FROM verdicts GROUP BY day"
            ).fetchall(),
            key=lambda r: str(r[0]),
        )
        out["stats"] = {
            c: con.sql(
                f"SELECT count(*), count(*) - count({c}), count(DISTINCT {c}), "
                f"min({c}), max({c}) FROM pages"
            ).fetchone()
            for c in ("url", "text", "lang")
        }
        hist = con.sql(
            f"SELECT {_DAY} AS day, least(greatest(floor(length(text) / 100.0), 0), 19)::BIGINT AS b, "
            "count(*) FROM pages WHERE text IS NOT NULL GROUP BY ALL"
        ).fetchall()
        out["drift"] = drift_report(hist, 20)
        return out
    finally:
        con.close()


def drift_report(hist: list[tuple], n_bins: int, threshold: float = 0.2) -> list[tuple]:
    """Per-partition ``(partition, n, psi, passed)`` from ``(partition,
    bucket, n)`` histogram rows: each partition's binned distribution
    against the global one, PSI with a 1e-6 floor."""
    glob = [0.0] * n_bins
    parts: dict = {}
    for p, b, n in hist:
        glob[b] += n
        parts.setdefault(p, [0.0] * n_bins)[b] += n

    def dist(c):
        t = sum(c) or 1.0
        return [x / t for x in c]

    g = dist(glob)
    out = []
    for p in sorted(parts, key=str):
        a = dist(parts[p])
        psi = sum(
            (max(y, 1e-6) - max(x, 1e-6)) * math.log(max(y, 1e-6) / max(x, 1e-6))
            for x, y in zip(g, a)
        )
        out.append((p, int(sum(parts[p])), psi, psi <= threshold))
    return out
