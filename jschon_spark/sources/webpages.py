"""Deterministic synthetic Common-Crawl-style web-page corpus.

Exactly the north-rule input shape (BASELINE.json input_hint):
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``
with the dirt FIXTURES.md §1 asks for: ~1% duplicate urls, a few NULL
urls, warc_ts skew (~40% of rows on one hot day), ~1% empty texts,
~0.5% invalid lang codes plus NULLs.

Generation is **fully distributed and seed-deterministic**: every field
derives from ``spark.range(n)`` ids through xxhash64 Column expressions
— no driver-side loop, no Python RNG per row, identical output at any
parallelism. ``text`` is generated first and ``html`` is wrapped
around its entity-escaped form, so the pinned extractor
(sources/extract.py) reproduces ``text`` byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "crawl", "web", "page", "data", "spark", "schema", "valid", "token",
    "index", "shard", "batch", "stream", "filter", "join", "group", "sort",
    "merge", "hash", "scan", "query", "plan", "stage", "task", "row",
    "and", "of", "to", "in", "is", "it", "that", "for",
    "der", "und", "nicht", "le", "les", "est", "el", "los", "que", "por",
]

DOMAINS = [
    "alpha.example", "beta.example", "gamma.example", "delta.example",
    "epsilon.example", "zeta.example", "eta.example", "theta.example",
]

# ~60 real ISO-639-1 codes for the referential dimension
LANG_CODES = [
    ("aa", "Afar"), ("ar", "Arabic"), ("bg", "Bulgarian"), ("bn", "Bengali"),
    ("ca", "Catalan"), ("cs", "Czech"), ("da", "Danish"), ("de", "German"),
    ("el", "Greek"), ("en", "English"), ("es", "Spanish"), ("et", "Estonian"),
    ("fa", "Persian"), ("fi", "Finnish"), ("fr", "French"), ("ga", "Irish"),
    ("he", "Hebrew"), ("hi", "Hindi"), ("hr", "Croatian"), ("hu", "Hungarian"),
    ("id", "Indonesian"), ("is", "Icelandic"), ("it", "Italian"), ("ja", "Japanese"),
    ("ka", "Georgian"), ("ko", "Korean"), ("lt", "Lithuanian"), ("lv", "Latvian"),
    ("mk", "Macedonian"), ("ml", "Malayalam"), ("mr", "Marathi"), ("ms", "Malay"),
    ("mt", "Maltese"), ("nl", "Dutch"), ("no", "Norwegian"), ("pa", "Punjabi"),
    ("pl", "Polish"), ("pt", "Portuguese"), ("ro", "Romanian"), ("ru", "Russian"),
    ("sk", "Slovak"), ("sl", "Slovenian"), ("sq", "Albanian"), ("sr", "Serbian"),
    ("sv", "Swedish"), ("sw", "Swahili"), ("ta", "Tamil"), ("te", "Telugu"),
    ("th", "Thai"), ("tr", "Turkish"), ("uk", "Ukrainian"), ("ur", "Urdu"),
    ("vi", "Vietnamese"), ("zh", "Chinese"),
]


def _h(seed_tag: int, *cols: Column) -> Column:
    """Deterministic 64-bit hash stream keyed by a tag + columns."""
    return F.xxhash64(F.lit(SEED), F.lit(seed_tag), *cols)


def _pick(arr: list[str], idx: Column) -> Column:
    """arr[idx] for a non-negative idx Column (1-based element_at)."""
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (idx + 1).cast("int"))


def lang_dim(spark: SparkSession) -> DataFrame:
    """The referential dimension table (lang_code, lang_name)."""
    return spark.createDataFrame(LANG_CODES, "lang_code string, lang_name string")


def generate_webpages(
    spark: SparkSession,
    n_rows: int,
    partitions: int | None = None,
) -> DataFrame:
    """Build the synthetic corpus: one narrow distributed pass."""
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")

    # -- url: ~1% duplicates (row points at its predecessor's url id),
    #    ~0.2% NULLs
    dup = F.pmod(_h(1, i), F.lit(100)) == 0
    url_id = F.when(dup & (i > 0), i - 1).otherwise(i)
    domain = _pick(DOMAINS, F.pmod(_h(2, url_id), F.lit(len(DOMAINS))))
    url = F.concat(F.lit("https://"), domain, F.lit("/page/"), url_id.cast("string"))
    url = F.when(F.pmod(_h(3, i), F.lit(500)) == 0, F.lit(None).cast("string")).otherwise(url)

    # -- warc_ts: 30-day window, ~40% of rows land on day 7 (the skew day)
    hot = F.pmod(_h(4, i), F.lit(10)) < 4
    day = F.when(hot, F.lit(7)).otherwise(F.pmod(_h(5, i), F.lit(30)))
    secs = F.pmod(_h(6, i), F.lit(86400))
    warc_ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2025-06-01 00:00:00")) + day * 86400 + secs
    )

    # -- text: 0-60 vocab words; ~1% empty strings
    n_words = F.pmod(_h(7, i), F.lit(60)) + 1
    empty = F.pmod(_h(8, i), F.lit(100)) == 0
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda k: _pick(VOCAB, F.pmod(F.xxhash64(F.lit(SEED), F.lit(9), i, k), F.lit(len(VOCAB)))),
    )
    # sprinkle characters that require entity-escaping in the html
    amp = F.pmod(_h(10, i), F.lit(7)) == 0
    text = F.when(empty, F.lit("")).otherwise(
        F.when(amp, F.concat(F.array_join(words, " "), F.lit(" cats & <dogs>")))
        .otherwise(F.array_join(words, " "))
    )

    # -- html wraps the entity-escaped text; extractor must invert this
    escaped = F.replace(
        F.replace(
            F.replace(text, F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    title = _pick(VOCAB, F.pmod(_h(11, i), F.lit(len(VOCAB))))
    html_str = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><style>body{margin:0}</style></head><body><p>'),
        escaped,
        F.lit("</p></body></html>"),
    )
    html = F.encode(html_str, "utf-8")
    # NULL html+text pairs (~0.3%) — the extractor is None-safe
    null_doc = F.pmod(_h(12, i), F.lit(333)) == 0
    html = F.when(null_doc, F.lit(None).cast("binary")).otherwise(html)
    text = F.when(null_doc, F.lit(None).cast("string")).otherwise(text)

    # -- lang: valid ISO code, ~0.5% invalid codes, ~0.3% NULL
    codes = [c for c, _ in LANG_CODES]
    lang = _pick(codes, F.pmod(_h(13, i), F.lit(len(codes))))
    lang = F.when(F.pmod(_h(14, i), F.lit(400)) == 0, _pick(["zz", "x1", "q9"], F.pmod(_h(15, i), F.lit(3)))).otherwise(lang)
    lang = F.when(F.pmod(_h(16, i), F.lit(333)) == 1, F.lit(None).cast("string")).otherwise(lang)

    return base.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
