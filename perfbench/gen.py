"""Seeded input generators owned by the benchmark.

Nothing here calls the program: the inputs depend only on ``(seed,
size)``, so a change to the program can never change what it is fed.
Every generator is vectorised with NumPy over a seeded ``Generator`` and
returns a ``pyarrow.Table``; ``write_parquet`` writes it once per (seed,
size) as several parquet files, so a scan has at least one task per core.

Two inputs:

* ``pages`` — web pages ``(url, warc_ts, html, text, lang)`` with the
  dirt of a crawl: duplicate and NULL urls, non-http and overlong urls,
  40% of rows on one day, empty and NULL texts, invalid and NULL langs.
* ``docs`` and ``doc_schema`` — page-metadata documents with a row id,
  as typed columns and as JSON, about 15% of them with one planted and
  labeled defect, and a schema over part of their fields for each
  route, with constants drawn from the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAINS = [
    "alpha.example", "beta.example", "gamma.example", "delta.example",
    "epsilon.example", "zeta.example", "eta.example", "theta.example",
]

VOCAB = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "crawl", "web", "page", "data", "spark", "schema", "valid", "token",
    "index", "shard", "batch", "stream", "filter", "join", "group", "sort",
    "merge", "hash", "scan", "query", "plan", "stage", "task", "row",
    "and", "of", "to", "in", "is", "it", "that", "for",
    "der", "und", "nicht", "le", "les", "est", "el", "los", "que", "por",
]

# ISO-639-1 codes of the referential dimension the corpus pass checks
# ``lang`` against.  Pinned here so the expected outputs do not move when
# the program's copy does.
LANG_CODES = [
    "aa", "ar", "bg", "bn", "ca", "cs", "da", "de", "el", "en", "es", "et",
    "fa", "fi", "fr", "ga", "he", "hi", "hr", "hu", "id", "is", "it", "ja",
    "ka", "ko", "lt", "lv", "mk", "ml", "mr", "ms", "mt", "nl", "no", "pa",
    "pl", "pt", "ro", "ru", "sk", "sl", "sq", "sr", "sv", "sw", "ta", "te",
    "th", "tr", "uk", "ur", "vi", "zh",
]
# "zz" matches ^[a-z]{2}$ but is not in the dimension; the others fail
# the pattern too
BAD_LANGS = ["zz", "x1", "q9", "eng", "EN"]

DAY0 = np.datetime64("2025-06-01T00:00:00", "us")
HOT_DAY = 7


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _text_pool(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct-ish texts of 1-60 vocabulary words; every 7th
    carries characters that must be entity-escaped in html."""
    lengths = rng.integers(1, 61, size)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    out, pos = [], 0
    for i, n in enumerate(lengths):
        t = " ".join(words[pos:pos + n])
        pos += n
        out.append(t + " cats & <dogs>" if i % 7 == 0 else t)
    return out


def _html(text: str) -> bytes:
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return (
        "<html><head><title>page</title></head><body><p>"
        f"{esc}</p></body></html>"
    ).encode()


def pages(seed: int, n: int) -> pa.Table:
    """The corpus-pass input: ``n`` web pages with seeded dirt."""
    rng = _rng(seed, 1)
    ids = np.arange(n)
    # url: ~1% duplicate the predecessor's url, ~0.2% NULL, ~0.3% ftp
    # scheme (fails pattern), ~0.05% longer than 2048 chars (maxLength)
    dom = rng.integers(0, len(DOMAINS), n)
    uid = np.where((rng.random(n) < 0.01) & (ids > 0), ids - 1, ids)
    u = rng.random(n)
    scheme = np.where(u < 0.003, "ftp", "https")[uid]
    long_path = (u > 0.9995)[uid]
    urls = [
        f"{scheme[i]}://{DOMAINS[dom[k]]}/page/{k}" + ("/x" * 1100 if long_path[i] else "")
        for i, k in enumerate(uid)
    ]
    url_null = rng.random(n) < 0.002
    url = pa.array(urls, pa.string(), mask=url_null)

    # warc_ts: 30 days, 40% of rows on the hot day, ~0.1% NULL
    day = np.where(rng.random(n) < 0.4, HOT_DAY, rng.integers(0, 30, n))
    secs = rng.integers(0, 86400, n)
    ts = DAY0 + (day * 86400 + secs).astype("timedelta64[s]")
    warc_ts = pa.array(
        ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"),
        mask=rng.random(n) < 0.001,
    )

    # text from a pool; ~1% empty, ~0.3% NULL (html NULL with it)
    pool = _text_pool(_rng(seed, 2), 8192)
    html_pool = [_html(t) for t in pool]
    pick = rng.integers(0, len(pool), n)
    empty = rng.random(n) < 0.01
    null_doc = rng.random(n) < 0.003
    texts = ["" if empty[i] else pool[p] for i, p in enumerate(pick)]
    htmls = [_html("") if empty[i] else html_pool[p] for i, p in enumerate(pick)]
    text = pa.array(texts, pa.string(), mask=null_doc)
    html = pa.array(htmls, pa.binary(), mask=null_doc)

    # lang: dimension codes, ~0.5% invalid, ~0.3% NULL
    langs = np.array(LANG_CODES)[rng.integers(0, len(LANG_CODES), n)].astype(object)
    bad = rng.random(n) < 0.005
    langs[bad] = np.array(BAD_LANGS)[rng.integers(0, len(BAD_LANGS), int(bad.sum()))]
    lang = pa.array(langs, pa.string(), mask=rng.random(n) < 0.003)

    return pa.table(
        {"url": url, "warc_ts": warc_ts, "html": html, "text": text, "lang": lang}
    )


# -- page-metadata documents with planted defects ---------------------------------

TAGS = ["news", "blog", "sports", "tech", "science", "art", "travel", "food"]

DOC_COLUMNS = ["url", "title", "lang", "status", "fetched", "links", "score", "tags"]
DOC_ROUTES = ("typed", "variant", "batch")

# the defects ``docs`` plants, one per defective document: the leaf
# violation (keyword, instance path) each must produce and the route
# whose schema covers the field; "/tags/" takes the index of the
# overlong tag
DEFECTS = [
    ("required", "", "typed"),              # no url
    ("pattern", "/url", "typed"),           # ftp scheme
    ("maximum", "/status", "typed"),        # status 600-999
    ("maxLength", "/title", "variant"),     # title of 200 characters or more
    ("pattern", "/lang", "variant"),        # not two lowercase letters
    ("maxItems", "/tags", "variant"),       # 14 tags
    ("maxLength", "/tags/", "variant"),     # one tag of 60 characters
    ("pattern", "/fetched", "batch"),       # not an ISO date
    ("minimum", "/links", "batch"),         # negative link count
]
DEFECT_SHARE = 0.15


def docs(seed: int, n: int) -> tuple[pa.Table, list[tuple[int, str, str, str]]]:
    """``n`` page-metadata documents and their labels.

    The table holds a row id, the fields as typed columns and the same
    document as JSON (a NULL column is an absent key).  About
    ``DEFECT_SHARE`` of the documents carry exactly one planted defect
    from ``DEFECTS``; its label is ``(rid, keyword, instance_path,
    route)``, and the labels are sorted by rid.  The clean fields stay
    well inside every bound ``doc_schema`` can draw, so a route's labels
    are the complete set of violations under its schema."""
    rng = _rng(seed, 5)
    pool = _text_pool(_rng(seed, 6), 1024)
    title = rng.integers(0, len(pool), n)
    lang = rng.integers(0, len(LANG_CODES), n)
    status = np.array([200, 200, 200, 301, 404, 500])[rng.integers(0, 6, n)]
    day = rng.integers(1, 29, n)
    hour = rng.integers(0, 24, n)
    links = rng.integers(0, 400, n)
    score = np.round(rng.random(n), 4)
    no_score = rng.random(n) < 0.2
    n_tags = rng.integers(0, 6, n)
    tags = rng.integers(0, len(TAGS), (n, 5))
    defect = np.where(rng.random(n) < DEFECT_SHARE, rng.integers(0, len(DEFECTS), n), -1)
    bad_status = rng.integers(600, 1000, n)
    bad_links = rng.integers(-50, 0, n)
    rows, labels = [], []
    for i in range(n):
        t = pool[title[i]][:90]
        r = {
            "url": f"https://{DOMAINS[i % len(DOMAINS)]}/page/{i}",
            "title": t,
            "lang": LANG_CODES[lang[i]],
            "status": int(status[i]),
            "fetched": f"2025-06-{day[i]:02d}T{hour[i]:02d}:00:00Z",
            "links": int(links[i]),
            "score": None if no_score[i] else float(score[i]),
            "tags": [TAGS[x] for x in tags[i, :n_tags[i]]],
        }
        if defect[i] >= 0:
            keyword, path, route = DEFECTS[defect[i]]
            if path == "":
                r["url"] = None
            elif path == "/url":
                r["url"] = "ftp" + r["url"][5:]
            elif path == "/status":
                r["status"] = int(bad_status[i])
            elif path == "/title":
                r["title"] = (t + " ") * (200 // (len(t) + 1) + 1)
            elif path == "/lang":
                r["lang"] = BAD_LANGS[1 + i % (len(BAD_LANGS) - 1)]
            elif keyword == "maxItems":
                r["tags"] = [TAGS[j % len(TAGS)] for j in range(14)]
            elif path == "/tags/":
                path += str(len(r["tags"]))
                r["tags"] = r["tags"] + ["x" * 60]
            elif path == "/fetched":
                r["fetched"] = f"06/{day[i]:02d}/2025 {hour[i]:02d}:00"
            else:
                r["links"] = int(bad_links[i])
            labels.append((i, keyword, path, route))
        rows.append(r)
    cols = {
        "url": pa.string(), "title": pa.string(), "lang": pa.string(),
        "status": pa.int64(), "fetched": pa.string(), "links": pa.int64(),
        "score": pa.float64(), "tags": pa.list_(pa.string()),
    }
    data = {"rid": pa.array(np.arange(n), pa.int64())}
    data.update({c: pa.array([r[c] for r in rows], t) for c, t in cols.items()})
    data["doc"] = pa.array(
        [json.dumps({c: r[c] for c in DOC_COLUMNS if r[c] is not None},
                    separators=(",", ":")) for r in rows],
        pa.string(),
    )
    return pa.table(data), labels


def doc_schema(seed: int, route: str) -> dict:
    """The schema of a run for ``route`` (one of DOC_ROUTES), over the
    fields of that route's ``DEFECTS``.

    Each route's template has ``required``, a ``$ref`` into ``$defs``
    and string, number or array keywords; its bounds are drawn from
    ``seed``, so each run's schemas are new to the program.  The
    ``batch`` template spells its date pattern with ``\d``, which Java
    and Python ``re`` read differently, so the whole schema goes to the
    batch evaluator; the others lower to typed Columns and VariantType."""
    rng = _rng(seed, 7, DOC_ROUTES.index(route))

    def k(lo: int, hi: int) -> int:
        return int(rng.integers(lo, hi))

    if route == "typed":
        props = {
            "url": {"type": "string", "pattern": "^https?://"},
            "status": {"$ref": "#/$defs/status"},
        }
        defs = {"status": {"type": "integer", "minimum": 100, "maximum": k(520, 600)}}
        required = ["url", "status"]
    elif route == "variant":
        props = {
            "title": {"type": "string", "maxLength": k(120, 180)},
            "lang": {"$ref": "#/$defs/lang"},
            "tags": {"type": "array", "maxItems": k(8, 12),
                     "items": {"type": "string", "maxLength": k(24, 40)}},
        }
        defs = {"lang": {"type": "string", "pattern": "^[a-z]{2}$"}}
        required = ["title", "lang"]
    else:
        props = {
            "fetched": {"$ref": "#/$defs/fetched"},
            "links": {"type": "integer", "minimum": 0},
            "score": {"type": "number", "minimum": 0, "maximum": 1},
        }
        defs = {"fetched": {"type": "string", "pattern": r"^\d{4}-\d{2}-\d{2}T"}}
        required = ["fetched"]
    return {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "type": "object",
        "properties": props,
        "required": required,
        "$defs": defs,
    }


# -- materialization --------------------------------------------------------------

def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files in directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
