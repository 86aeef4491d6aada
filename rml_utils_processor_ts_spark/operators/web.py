"""Web-corpus operators: URL parsing/normalization/dedup and
paragraph-level exact dedup — the per-document hygiene stages a
web-scale training-data pipeline runs before heavier near-dup passes
(the reference's domain is web-sourced RDF pipelines; these are the
corpus-side counterparts of its per-source snapshot hygiene).

Everything is builtin Column expressions (whole-stage codegen, no
UDFs), formulated so a DuckDB oracle reproduces every value exactly:
``regexp_extract`` group semantics match across engines, and the
query-parameter filter uses a higher-order ``filter`` whose DuckDB twin
is ``list_filter``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tracking parameters stripped by normalize_url (C4/CCNet-style hygiene)
TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "ref_src")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"

DEFAULT_PORTS = {"http": "80", "https": "443"}


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _url_hostport(url: Column) -> Column:
    """Authority with any userinfo prefix stripped. The host may not
    contain '@', so everything up to the LAST '@' is userinfo
    (``http://alice:pw@example.com/x`` must yield host ``example.com``,
    not ``alice`` — a bug that silently merged unrelated documents in
    url_dedup_groups)."""
    return F.regexp_replace(F.regexp_extract(url, _HOSTPORT_RE, 1), r"^.*@", "")


def url_host(url: Column) -> Column:
    """Lowercased host without the port. Bracketed IPv6 literals keep
    their brackets (``[::1]``) so ':' inside the address is never
    mistaken for a port separator and normalize_url can rebuild a valid
    authority."""
    hp = _url_hostport(url)
    return F.lower(
        F.when(hp.startswith("["), F.regexp_extract(hp, r"^(\[[^\]]*\])", 1)).otherwise(
            F.regexp_extract(hp, r"^([^:]+)", 1)
        )
    )


def url_port(url: Column) -> Column:
    hp = _url_hostport(url)
    return F.when(
        hp.startswith("["), F.regexp_extract(hp, r"^\[[^\]]*\]:([0-9]+)$", 1)
    ).otherwise(F.regexp_extract(hp, r"^[^:]*:([0-9]+)$", 1))


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _QUERY_RE, 1)


def registered_domain(host: Column) -> Column:
    """Last-two-labels heuristic (no public-suffix list in this
    container; at scale, broadcast the PSL and longest-suffix-join)."""
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def _filtered_query(url: Column) -> Column:
    q = url_query(url)
    kept = F.filter(
        F.split(q, "&"),
        lambda p: (F.length(p) > 0)
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PREFIXES]),
            lambda t: p.startswith(t),
        ),
    )
    return F.array_join(kept, "&")


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase scheme+host, default port dropped,
    trailing path slash stripped (bare host renders as scheme://host),
    tracking query parameters removed (order of survivors preserved),
    fragment dropped. Deterministic, content-only."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = url_port(url)
    default_port = F.coalesce(
        *[F.when(scheme == k, F.lit(v)) for k, v in DEFAULT_PORTS.items()], F.lit("")
    )
    port_part = F.when((port != "") & (port != default_port), F.concat(F.lit(":"), port)).otherwise(
        F.lit("")
    )
    path = F.regexp_replace(url_path(url), r"/+$", "")
    q = _filtered_query(url)
    q_part = F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit(""))
    built = F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    # scheme-less / malformed input stays opaque rather than collapsing
    # to '://' (which would alias every malformed URL into one dedup key)
    return F.when((scheme == "") | (host == ""), url).otherwise(built)


def url_dedup_groups(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Exact URL dedup on the CANONICAL form: one row per normalized
    URL with the minimum id as keeper and the duplicate count.
    Hash-groupBy with map-side partial aggregation — one shuffle keyed
    by the normalized URL, scales like exact text dedup."""
    return (
        df.select(normalize_url(F.col(url_col)).alias("norm_url"), F.col(id_col))
        .groupBy("norm_url")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def paragraph_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-level exact dedup (C4-style): split documents on the
    delimiter, normalize whitespace + case, md5 each paragraph, keep
    the minimum (doc_id) per hash. One explode + one hash-groupBy with
    map-side combine — shuffle volume is one row per DISTINCT
    paragraph, not per occurrence."""
    para = F.posexplode(F.split(F.col(text_col), re.escape(delimiter)))
    norm = F.trim(F.regexp_replace(F.lower(F.col("para")), r"\s+", " "))
    paras = (
        df.select(F.col(id_col).alias("doc_id"), para.alias("para_idx", "para"))
        .withColumn("norm", norm)
        .filter(F.length("norm") >= min_chars)
    )
    return paras.groupBy(F.md5("norm").alias("para_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


# PII patterns valid and equivalent in BOTH Java regex (Spark) and RE2
# (DuckDB) — the gated query's oracle runs the same literals
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
) -> DataFrame:
    """Corpus scrubbing: replace emails / IPv4 addresses / phone-shaped
    digit runs with typed placeholder tokens (``<EMAIL>``...), counting
    each kind for audit. Pure regexp_replace/regexp_count chain —
    whole-stage codegen, zero shuffle, and order-stable (kinds apply in
    the given order, so an email never double-counts as a phone).
    Output: doc_id, redacted text, n_<kind> per kind."""
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds {unknown}; known: {sorted(PII_PATTERNS)}")
    out = F.col(text_col)
    counts = []
    for kind in kinds:
        pat = PII_PATTERNS[kind]
        counts.append(F.regexp_count(out, F.lit(pat)).alias(f"n_{kind}"))
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return df.select(F.col(id_col).alias("doc_id"), *counts, out.alias("text"))


def domain_profile(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-registered-domain corpus curation rollup: document count,
    total whitespace tokens, and mean tokens per document — the
    aggregate a mixing/cap policy reads before sampling a web corpus
    (e.g. cap any one domain at N docs or M tokens). One hash-groupBy
    keyed by domain with map-side partial aggregation; the token sum is
    an exact integer so the mean is a single end division
    (engine-stable, same recipe as the session aggregates)."""
    toks = F.size(F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " "))
    host = url_host(F.col(url_col))
    return (
        df.select(
            registered_domain(host).alias("domain"),
            F.col(id_col),
            toks.alias("__n_toks"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n_toks").alias("total_tokens"),
            (F.sum("__n_toks") / F.count("*")).alias("mean_tokens"),
        )
    )
