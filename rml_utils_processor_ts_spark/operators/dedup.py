"""Deduplication family for web-scale corpus construction.

Not present in the reference (it dedupes only output quad sets, B12);
these are the training-data-pipeline operators the north star requires
over the page/document tables: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design:
  * Exact dedup: one hash-groupBy (map-side partial agg via AQE).
  * MinHash: shingle explode -> single groupBy with H min-aggregates
    (one shuffle); LSH banding -> band-key self-join produces candidate
    pairs without the O(n^2) cross join; verification joins signatures
    back only for candidates.
  * Hash function: universal-hash minhash — x = 31-bit fingerprint from
    ONE md5(shingle), h_j = (A_j*x + B_j) mod (2^31-1) with fixed
    md5-derived constants per permutation. Deterministic, engine-portable
    (the DuckDB oracle reproduces it bit-for-bit), H-independent md5
    cost, properly independent permutations.
  * Skew: band buckets with > max_bucket members are dropped (a hot
    bucket is a degenerate near-dup cluster; cap prevents a quadratic
    blowup on boilerplate-heavy corpora — standard practice at CC scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col):
    return F.regexp_replace(F.lower(col), r"\s+", " ")


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with the
    canonical (min) id and the multiplicity."""
    return (
        df.select(F.md5(normalize_text(F.col(text_col))).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    grams = F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", words)))
    return df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle"))


MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime; A*x + B stays < 2^62 (ANSI-safe)


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic per-permutation universal-hash constants (A_j, B_j),
    derived from md5(j) — pure function of j, reproducible as SQL
    literals in the DuckDB oracle (same pattern as similarity._hyperplanes)."""
    import hashlib

    params = []
    for j in range(num_hashes):
        a = 1 + int(hashlib.md5(f"mhA|{j}".encode()).hexdigest()[:8], 16) % (MINHASH_PRIME - 1)
        b = int(hashlib.md5(f"mhB|{j}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, h0..h{H-1}): h_j = min over shingles of (A_j*x + B_j) mod P,
    where x is a 31-bit fingerprint from ONE md5(shingle) — the standard
    universal-hash minhash family (one permutation per (A_j, B_j) pair,
    as in datasketch). One md5 per shingle instead of H (the hash
    fan-out dominated wall time at H=16); per-permutation multipliers
    keep the H signatures independent (a naive a+j*b double-hash lets
    one shingle minimize every j and guts LSH recall — caught by
    test_minhash_lsh_finds_near_dups). Engine-portable bit-for-bit: the
    DuckDB oracle inlines the same constants.

    One explode + one groupBy with H min-aggregates — a single shuffle
    keyed by document id, partial-aggregated map-side.
    """
    shingled = word_shingles(df, text_col, id_col, k)
    x = shingled.select(
        "id",
        F.pmod(
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long"),
            F.lit(MINHASH_PRIME),
        ).alias("__x"),
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("__x") + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"h{j}")
        for j, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return x.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4, max_bucket: int = 200
) -> DataFrame:
    """Band the signature; docs sharing any band-hash become a candidate
    pair (id_a < id_b). Self-join on the band key — shuffle is keyed by
    (band, band_hash), never all-pairs."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_hash")))
    banded = signatures.select(
        "id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash"))
    # cap degenerate buckets (skew guard)
    counts = banded.groupBy("band", "band_hash").agg(F.count("*").alias("n"))
    banded = banded.join(
        counts.filter(F.col("n") <= max_bucket).select("band", "band_hash"),
        ["band", "band_hash"],
        "left_semi",
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. With ``block_col`` the
    self-join is restricted to equal blocks (e.g. same source) — the
    blocked exact baseline; otherwise all pairs (test scale only)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    base_cols = [F.col(id_col).alias("id"), F.array_distinct(grams).alias("grams")]
    if block_col:
        base_cols.append(F.col(block_col).alias("block"))
    base = df.select(*base_cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures -> banded candidates ->
    exact Jaccard verification of candidates only.

    Corpus-pass accounting (r10, guide §1.2 "the distributed algorithm
    first"): the naive lazy composition recomputed the full shingle+md5
    signature pass for EVERY use of a self-joined subtree — the plan
    held 12 scans of the corpus (plans/r10/dedup_minhash_lsh_pairs_before
    .txt). Two lineage cuts fix that: signatures materialize once
    (|docs| x (1+H) ints — the standard shape minhash pipelines persist),
    and the tiny candidate-pair list materializes before the verify. The
    verify then computes shingles only for documents that appear in some
    candidate pair (semi-join prefilter) instead of the whole corpus.
    Exactly ONE full-corpus shingle pass remains. ``materialize=False``
    restores the fully lazy composition (streaming/incremental callers
    that fold this into a larger plan)."""
    from .cc import _materialize, hint_broadcast

    sigs = minhash_signatures(df, text_col, id_col, k, num_hashes)
    if materialize:
        sigs = _materialize(sigs)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands)
    if materialize:
        cands = _materialize(cands)
    cand_ids = (
        cands.select(F.col("id_a").alias("__cand_id"))
        .union(cands.select(F.col("id_b").alias("__cand_id")))
        .distinct()
    )
    if materialize:
        # Join-strategy gate (guide §3.1): ``cands`` is checkpointed, and
        # a LogicalRDD carries no size statistics, so the semi-join below
        # would always plan as a sort-merge join — shuffling and sorting
        # the WHOLE CORPUS by id just to filter it against the candidate
        # list. The candidate-id list is small by construction (only
        # near-dup documents appear in any pair) and its exact size is
        # one cheap count over the checkpointed blocks, 2 ids per pair;
        # under the cap (the default is 1M pairs, well inside guide
        # §3.1's comfort band) broadcast it and the corpus never
        # shuffles. Over the cap — boilerplate-heavy corpora at web
        # scale — the shuffle semi-join path is kept unchanged.
        cand_ids = hint_broadcast(cand_ids, 2 * cands.count())
    need = df.join(cand_ids, F.col(id_col) == F.col("__cand_id"), "left_semi")
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    docs = need.select(F.col(id_col).alias("id"), F.array_distinct(grams).alias("grams"))
    j = (
        cands.join(docs.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
        .join(docs.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size("grams_a") + F.size("grams_b") - inter
    return (
        j.select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash over distinct words: bit_i = sign of sum over tokens of
    (+1 if md5-bit set else -1). Bits derived from the first 8 hex chars
    of md5(token) — portable to the SQL oracle via bitwise ops."""
    words = F.explode(
        F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    ).alias("w")
    tok = df.select(F.col(id_col).alias("id"), words)
    tok = tok.withColumn("h", F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast("long"))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select("id", sim.cast("long").alias("simhash"))


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicates, blocked self-join. Dot products
    via builtin higher-order functions (zip_with/aggregate) — JVM-side."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("block"))
    base = emb.select(*cols)
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.block") == F.col("b.block"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    cos = dot / (norm(F.col("a.v")) * norm(F.col("b.v")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = 4,
    n_bands: int = 1,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane LSH buckets replace
    the metadata block column — the self-join shuffles on the bucket key
    (~n/2^planes candidates per bucket, never all-pairs), then exact
    cosine verifies candidates, so precision is always 1.0. Same
    hyperplane scheme as the ANN path (similarity._hyperplanes:
    deterministic, SQL-oracle-reproducible).

    Recall math (r02 ADVICE — the magnitude matters): a pair at angle
    theta agrees on one plane's sign with p = 1 - theta/pi, so one
    signature of ``n_planes`` bits collides with p^n_planes — at cosine
    0.95 (theta ~= 0.318 rad, p ~= 0.899) that is ~0.65 for 4 planes: a
    silent ~1/3 recall loss. ``n_bands`` independent plane sets amplify
    OR-style (candidates unioned across bands, deduped before verify):
    recall = 1 - (1 - p^n_planes)^n_bands ~= 0.88 at 2 bands, 0.96 at 3,
    0.985 at 4 for the same pair. Band b's planes derive from
    ``seed + 1000003*b`` (band 0 == the single-band behavior).

    ``n_planes=None`` derives the plane count from the corpus size
    (similarity.derive_n_planes — VERDICT r3 #4): the explicit default
    of 4 is TEST-SCALE (16 buckets); the per-bucket self-join is
    quadratic in n/2^planes, so corpus-scale callers must either pass
    planes sized to their corpus or pass None to have them derived."""
    from .similarity import (
        _dot,
        _hyperplanes,
        _norm,
        derive_n_planes,
        lsh_bucket_column,
        probe_dim,
    )

    dim = probe_dim(emb, vec_col) if dim is None else dim
    if n_planes is None:
        n_planes = derive_n_planes(emb.count())
    band_buckets = [
        F.struct(
            F.lit(band).alias("band"),
            lsh_bucket_column(
                F.col("v"), _hyperplanes(dim, n_planes, seed + 1000003 * band)
            ).alias("bucket"),
        )
        for band in range(n_bands)
    ]
    base = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("__bb", F.explode(F.array(*band_buckets)))
        .select("id", "v", F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))
    )
    a, b = base.alias("a"), base.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (_norm(F.col("a.v")) * _norm(F.col("b.v")))
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if n_bands > 1:
        # a pair colliding in several bands appears once (OR semantics)
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Given near-dup pairs, keep one representative per duplicate cluster
    (min id wins; transitive closure via connected components). The min
    is taken in the id column's own type: numeric ids compare
    numerically (2 < 10), everything else lexicographically — string ids
    are first-class, not nulled by a numeric cast (r02 verdict's
    correctness-debt item)."""
    from pyspark.sql import types as T

    from .cc import connected_components, hint_broadcast

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"), F.col("id_b").cast("string").alias("dst")
    )
    comps = connected_components(edges)
    # cast the stringified CC node back to the id column's EXACT type:
    # a hard-coded long truncated fractional double/decimal ids, so
    # drop_id never matched and duplicates were silently retained
    # (ADVICE r3)
    id_type = df.schema[id_col].dataType
    numeric = isinstance(id_type, T.NumericType)
    node_key = F.col("node").cast(id_type) if numeric else F.col("node")
    keep = comps.groupBy("component").agg(F.min(node_key).alias("keep_id"))
    drop = (
        comps.join(keep, "component")
        .filter(node_key != F.col("keep_id"))
        .select(node_key.alias("drop_id"))
    )
    # Join-strategy gate (guide §3.1/§8): cc output is checkpointed
    # (LogicalRDD, no size statistics), so the final anti-join would
    # always shuffle the WHOLE CORPUS — text payload included — by id
    # against a drop list that only holds near-duplicate ids. |nodes|
    # is one cheap count over the checkpointed blocks and bounds
    # |drop|; under the cap the drop list broadcasts and the corpus
    # never shuffles, over the cap the shuffle anti-join path is kept
    # unchanged. (Broadcasting ``keep`` as well was measured SLOWER at
    # bench scale — the nested broadcast builds serialize on the
    # driver — so only the corpus-facing join is hinted.)
    drop = hint_broadcast(drop, comps.count())
    return df.join(drop, df[id_col] == F.col("drop_id"), "left_anti")
