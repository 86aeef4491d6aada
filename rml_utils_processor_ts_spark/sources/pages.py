"""Deterministic synthetic Common-Crawl-style page table (FIXTURES.md F1;
shape authoritative from BASELINE input_hint):

    (url string, warc_ts timestamp, html binary, text string, lang string)

Everything is a pure function of the row index — built with
``spark.range`` + builtin expressions (fully distributed, no driver-side
data, no RNG state), so any scale factor regenerates bit-identically.

Each page's html embeds one XML record set shaped like the reference's
canonical fixture (/root/reference/test/rml.test.ts:352-371), so RML
mappings over the page table exercise the same iterator/refs as the
reference tests. A configurable fraction of urls share a hot domain to
exercise skew handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["en", "nl", "fr", "de"]
EPOCH0 = "2024-01-01 00:00:00"


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    hot_fraction: float = 0.1,
    records_per_page: int = 2,
    partitions: int | None = None,
) -> DataFrame:
    """Generate ``n_pages`` deterministic pages. ``hot_fraction`` of urls
    land on one hot domain (skew case); each page embeds
    ``records_per_page`` <data id label> records.

    Default partitioning scales with BOTH the session's cores and the
    page count (guide §6: file layout determines reader parallelism —
    each output parquet file holds one row group, so a downstream scan
    gets at most one task per file; the old max(8, n//250k) default
    capped an 800k-page table at 8 files and serialized 3.2M-triple
    mapping runs onto 8 of 32 cores)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, n_pages // 250_000)
    df = spark.range(0, n_pages, 1, partitions)
    i = F.col("id")
    hot = (F.pmod(F.xxhash64(i), F.lit(1000)) < F.lit(int(hot_fraction * 1000)))
    domain = F.when(hot, F.lit("http://hot.example.org/page/")).otherwise(
        F.concat(F.lit("http://site-"), F.pmod(i, F.lit(997)).cast("string"), F.lit(".example.org/page/"))
    )
    url = F.concat(domain, F.format_string("%08d", i))
    warc_ts = F.timestamp_seconds(F.unix_timestamp(F.lit(EPOCH0)) + i)
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.pmod(i, F.lit(len(LANGS))) + 1).cast("int"))

    rec = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), F.lit(records_per_page - 1)),
            lambda r: F.format_string(
                '    <data id="%s" label="label %s word%s"></data>',
                F.concat(F.format_string("%08d", i), F.lit("-"), r.cast("string")),
                F.concat(F.format_string("%08d", i), F.lit("-"), r.cast("string")),
                F.pmod(i + r, F.lit(211)).cast("string"),
            ),
        ),
    )
    body = F.concat(F.lit("<resource>\n"), rec, F.lit("\n</resource>"))
    html = F.concat(
        F.lit("<html><head><title>page "),
        F.format_string("%08d", i),
        F.lit("</title></head><body>"),
        body,
        F.lit("</body></html>"),
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        body.alias("text"),
        lang.alias("lang"),
    )


def extract_text(pages: DataFrame) -> DataFrame:
    """The html -> text extractor: recover the embedded <resource> body
    from the raw bytes. Pure builtin expressions (substring between the
    body markers) — byte-identical per url by construction, verified by
    tests against the stored ``text`` column (the per-row invariant from
    BASELINE input_hint)."""
    decoded = F.decode(F.col("html"), "UTF-8")
    extracted = F.regexp_extract(decoded, r"(?s)<body>(.*)</body>", 1)
    return pages.withColumn("extracted_text", extracted)


# common character entities decoded by html_to_text; amp LAST so
# "&amp;lt;" decodes to "&lt;" (literal), not "<" (double-decode)
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_to_text(html_col):
    """Generic HTML -> visible-text extraction for REAL web pages (the
    synthetic pages use the marker-based ``extract_text``): drop
    script/style/comment blocks, turn block-level closers and <br> into
    newlines, strip remaining tags, decode common entities, collapse
    horizontal whitespace, trim. A pure ``regexp_replace`` chain —
    whole-stage codegen, zero shuffle, no per-row Python — with RE2-safe
    patterns so a DuckDB oracle replays it byte-for-byte. (This is the
    C4/CCNet-grade heuristic extractor, not a DOM renderer; boilerplate
    removal beyond script/style belongs to the quality/repetition
    filters downstream.)"""
    t = html_col
    if str(t.__class__.__name__) != "Column":
        t = F.col(t)
    t = F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?i)<(?:br|hr)\s*/?>", "\n")
    t = F.regexp_replace(t, r"(?i)</(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote|section|article|header|footer)\s*>", "\n")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.regexp_replace(t, ent, rep)
    # collapse horizontal whitespace, keep newlines; then collapse
    # newline runs and trim each line's edges
    t = F.regexp_replace(t, r"[ \t\x0b\f\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n")
    return F.trim(t)
