"""Logical source -> records DataFrame.

Source location conventions:

* ``table:<parquet path or dir#name>``  — relational table (kind 'table');
  references are column names. The scale path: at 100 TB this is an
  Iceberg scan; here ``spark.read.parquet``. Column pruning is automatic
  because we select only referenced columns.
* ``pages:<parquet path>``              — page table per BASELINE
  input_hint ``(url, warc_ts, html, text, lang)``; the iterator runs over
  the payload column of every page and url/warc_ts pass through for
  LDES versioning + lineage.
* plain path + kind 'csv'               — ``spark.read.csv`` (B4).
* plain path + kind 'xpath'/'jsonpath'  — whole-document text file(s),
  one record set per file (B2/B3); matches the reference's
  snapshot-temp-file model (``/root/reference/src/rml/rml.ts:300``).
* ``http(s)://...`` or a WoT source description (td:hasForm/
  hctl:hasTarget) — driver-side fetch, one snapshot per run (B5).
* ``kafka://broker/topic`` / rmls: blank nodes — Structured-Streaming
  Kafka scan; message values iterate like any document source (B5).
* ``inline:<payload>``                  — document provided inline
  (tests / snapshot pushes).
* ``memory:<key>``                      — a registered DataFrame of
  documents (foreachBatch micro-batches, tests).

Iteration strategy: common shapes run JVM-side with whole-stage codegen
(XML ``//tag`` iterators via regex fragments + ``from_xml`` with
per-row self-nesting detection; JSON array iterators via ``from_json``
+ ``explode``); everything else runs in a vectorized Arrow-batched
``pandas_udf`` returning ``array<struct<...>>`` — batched per Arrow
chunk, never per-row Python UDFs.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.model import LogicalSource


def ref_column_name(ref: str) -> str:
    """Deterministic safe column name for a source reference."""
    digest = hashlib.md5(ref.encode()).hexdigest()[:10]
    return f"ref_{digest}"


def _xml_findall(root, path: str) -> list:
    """Evaluate an iterator path with ElementTree's XPath subset —
    which already covers predicates (``[@id='x']``, ``[n]`` position,
    ``[child]``, ``[child='text']``), multi-step paths, and ``*`` —
    extended to the absolute (``/a/b``) and descendant (``//a[...]``)
    forms RML iterators use by re-rooting under a synthetic parent: the
    document root then matches ``.//...`` like any descendant (plain
    ``root.findall('.//tag')`` would silently skip a root-level match).
    The reference delegates full XPath to Saxon inside the Java jar
    (ql:XPath, /root/reference/src/voc.ts:83); this covers the
    predicated/multi-step surface real-world mappings use without a
    native XPath engine in the container. Syntax ElementTree rejects
    with SyntaxError — function predicates (``contains()``,
    ``starts-with()``, ``not()``, ``position()``) and non-child axes
    (``following-sibling::`` etc.) — falls through to the extended
    walker in ``xpath_ext``; still-unsupported syntax (unions) returns
    no matches rather than crashing the executor."""
    import xml.etree.ElementTree as ET

    from .xpath_ext import findall_ext, split_union

    p = (path or "").strip()
    if p in ("/*", "/", "$", ""):
        return [root]
    branches = split_union(p)
    if branches:
        # unions never reach ElementTree: it reads 'a | b' as ONE tag
        # name and silently returns [] instead of raising. Each branch
        # re-enters this function (so relative vs absolute normalization
        # and the ET-vs-walker ladder apply per branch); results merge
        # first-seen-order with id-dedup.
        out, seen = [], set()
        for b in branches:
            for e in _xml_findall(root, b):
                if id(e) not in seen:
                    seen.add(id(e))
                    out.append(e)
        return out
    if p.startswith("//"):
        p = ".//" + p[2:]
    elif p.startswith("/"):
        p = "." + p
    else:
        # relative iterator: children of the document root
        try:
            return root.findall(p)
        except (SyntaxError, KeyError):
            # KeyError: ElementTree's tokenizer raises it raw for any
            # prefixed name test without a namespace map ('*:item',
            # 'a:item') — route to the walker like other ext syntax
            try:
                return findall_ext(root, p)
            except Exception:
                return []
    synthetic = ET.Element("__synthetic_root__")
    synthetic.append(root)
    try:
        return synthetic.findall(p)
    except (SyntaxError, KeyError):
        try:
            return findall_ext(synthetic, p)
        except Exception:
            return []




def _xml_iter_records(
    doc: str, iterator: str, refs: list[str], namespaces: dict[str, str] | None = None
) -> list[dict]:
    """Evaluate an XPath iterator + per-record references with stdlib
    ElementTree (container has no lxml). Covers the reference-fixture
    subset — iterator ``//name``; refs ``@attr``, ``child/@attr``,
    ``child``, ``.`` (B2, /root/reference/test/rml.test.ts:37,42,76) —
    plus ElementTree's predicate/multi-step XPath surface (see
    ``_xml_findall``) and ``text()`` steps."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(doc)
    except ET.ParseError:
        return []
    if namespaces:
        # RML-IO declared prefix map: keep Clark names and expand
        # declared prefixes to {uri}local in paths (real namespace-aware
        # matching); without declarations, strip namespaces and match
        # local names (the pragmatic default documented below)
        from .xpath_ext import expand_prefixes

        eval_refs = [(ref, expand_prefixes(ref, namespaces)) for ref in refs]
        matches = _xml_findall(root, expand_prefixes(iterator or "/*", namespaces))
    else:
        _strip_xml_namespaces(root)
        eval_refs = [(ref, ref) for ref in refs]
        matches = _xml_findall(root, iterator or "/*")
    out = []
    for el in matches:
        rec = {}
        for ref, eref in eval_refs:
            rec[ref_column_name(ref)] = _xml_eval_ref(el, eref)
        out.append(rec)
    return out


def _strip_xml_namespaces(root) -> None:
    """Namespace-agnostic matching: rewrite ``{uri}tag`` Clark names (and
    namespaced attribute names) to local names, in place. Without this a
    feed declaring ANY xmlns silently matches zero records — ElementTree
    parses ``<data xmlns="...">`` to tag ``{...}data`` which ``//data``
    never finds. Local-name matching is the pragmatic choice absent a
    prefix-map mechanism in the mapping language (the reference's Saxon
    gets prefix bindings from the jar config; RML mappings in the wild
    overwhelmingly write prefix-free local-name paths)."""
    for el in root.iter():
        tag = el.tag
        if isinstance(tag, str) and tag.startswith("{"):
            el.tag = tag.split("}", 1)[1]
        if el.attrib and any(k.startswith("{") for k in el.attrib):
            el.attrib = {
                (k.split("}", 1)[1] if k.startswith("{") else k): v
                for k, v in el.attrib.items()
            }


_XML_ATTR_STEP_RE = None


def _xml_eval_ref(el, ref: str):
    # XPath string() of an EXISTING element is "" even when it has no
    # text (empty-element references produce empty literals, matching
    # the from_xml fast path — the two paths mix per row, so they must
    # render identically); only a MISSING node yields null/no-triple.
    import re

    global _XML_ATTR_STEP_RE
    if _XML_ATTR_STEP_RE is None:
        # a final attribute step: anything, then '/@name' — the greedy
        # prefix keeps '/@' inside predicates ([a/@b='x']) out of the
        # attr group because the ref must END in a bare attribute name.
        # The name may be Clark-form ('{uri}local') when expand_prefixes
        # rewrote a declared prefix (a:child/@a:id -> {uri}child/@{uri}id)
        _XML_ATTR_STEP_RE = re.compile(r"^(.*)/@((?:\{[^}]*\})?[A-Za-z_][\w.-]*)$")
    if ref.startswith("@"):
        return el.get(ref[1:])
    if ref in (".", "text()", "./text()"):
        return (el.text or "").strip()
    r = ref
    # descendant/absolute refs are relative to the record element
    if r.startswith("//"):
        r = ".//" + r[2:]
    elif r.startswith("/"):
        r = "." + r
    if r.endswith("/text()"):
        r = r[: -len("/text()")]
        child = _xml_find_first(el, r)
        return (child.text or "").strip() if child is not None else None
    m = _XML_ATTR_STEP_RE.match(r)
    if m:
        path, attr = m.group(1), m.group(2)
        child = el if path in (".", "") else _xml_find_first(el, path)
        return child.get(attr) if child is not None else None
    child = _xml_find_first(el, r)
    if child is not None:
        return (child.text or "").strip()
    return None


def _xml_find_first(el, path: str):
    """``el.find`` with the extended-walker fallback for function/axis
    syntax ElementTree rejects (same ladder as _xml_findall)."""
    try:
        return el.find(path)
    except (SyntaxError, KeyError):
        # KeyError: ElementTree's tokenizer raises it raw (not
        # SyntaxError) for prefixed/Clark-form steps it can't resolve —
        # e.g. a stray '@' step left when the attr regex didn't strip a
        # Clark attribute name; same ladder as _xml_findall
        from .xpath_ext import findall_ext

        try:
            matches = findall_ext(el, path)
        except Exception:
            return None
        return matches[0] if matches else None


def _json_value_to_str(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (dict, list)):
        # document key order + minified + raw unicode: matches what the
        # JVM fast path (from_json string coercion) emits for the same
        # value, so fast/slow paths agree byte-for-byte
        return json.dumps(v, separators=(",", ":"), ensure_ascii=False)
    return str(v)


_JP_CACHE: dict[str, object] = {}


def _jp_parse(path: str):
    """jsonpath_ng parser with the ext grammar (filter predicates
    ``[?@.k=='v']``, slices, arithmetic) and a per-process compile cache
    — this runs inside the Arrow-batched walker PER DOCUMENT, so
    reparsing the same path per row would dominate the batch."""
    expr = _JP_CACHE.get(path)
    if expr is None:
        try:
            from jsonpath_ng.ext import parse as jp
        except ImportError:  # pragma: no cover — ext ships with jsonpath_ng
            from jsonpath_ng import parse as jp
        expr = jp(path)
        _JP_CACHE[path] = expr
    return expr


def _json_iter_records(doc: str, iterator: str, refs: list[str]) -> list[dict]:
    """JSONPath iteration (B3). Fast path handles the fixture shapes
    ``$.[*]`` / ``$[*]`` / ``$.<key>[*]`` / ``$`` with stdlib json; other
    paths fall back to jsonpath_ng."""
    try:
        data = json.loads(doc)
    except (ValueError, TypeError):
        return []
    it = (iterator or "$").strip()
    elements: list
    if it in ("$", "$."):
        elements = data if isinstance(data, list) else [data]
    elif it in ("$.[*]", "$[*]", "$.*"):
        elements = data if isinstance(data, list) else list(data.values()) if isinstance(data, dict) else []
    elif (
        it.endswith("[*]")
        and it.startswith("$.")
        and "[" not in it[2:-3]
        and "." not in it[2:-3]  # `$..key[*]` (recursive descent) must
        # NOT take this branch: key would be ".key" and data.get(".key")
        # silently yielded zero records (r9) — dotted/descent paths
        # belong to the jsonpath_ng fallback
    ):
        key = it[2:-3]
        sub = data.get(key) if isinstance(data, dict) else None
        elements = sub if isinstance(sub, list) else []
    else:
        try:
            elements = [m.value for m in _jp_parse(it).find(data)]
        except Exception:  # unsupported syntax -> no records, not a crash
            return []
    out = []
    for el in elements:
        rec = {}
        for ref in refs:
            rec[ref_column_name(ref)] = _json_value_to_str(_json_eval_ref(el, ref))
        out.append(rec)
    return out


def _json_eval_ref(el, ref: str):
    if isinstance(el, dict):
        if ref in el:
            return el[ref]
        cur = el
        for part in ref.split("."):
            if isinstance(cur, dict) and part in cur:
                cur = cur[part]
            else:
                try:
                    found = _jp_parse(ref if ref.startswith("$") else "$." + ref).find(el)
                except Exception:
                    return None
                return found[0].value if found else None
        return cur
    return None


_FAST_ITER_RE = None  # set lazily below


def _xml_fast_path_plan(iterator: str | None, refs: list[str]):
    """If the iterator/refs fit the XML shape the reference fixtures use
    (iterator ``//tag``; refs ``@attr``, ``child``, ``child/@attr``),
    return (tag, record schema, extractors) for a JVM-native plan:
    ``regexp_extract_all`` pulls every ``<tag ...>...</tag>`` fragment at
    ANY depth, ``from_xml`` parses each fragment (whole-stage codegen,
    ~10-50x the Arrow-UDF path). Returns None when a ref doesn't fit —
    then the Python tree-walking iterator runs instead.

    Known limitation vs the slow path: the fragment regex closes at the
    first ``</tag>``, so documents nesting the iterator tag INSIDE itself
    mis-split. The iterate stage AUTO-DETECTS such documents per row (an
    opening-tag count exceeding the fragment count means a fragment
    swallowed a nested opener) and routes only those documents through
    the Python tree-walking path; RML_XML_FAST_PATH=0 still forces the
    slow path globally."""
    import re

    if not iterator:
        return None
    m = re.fullmatch(r"//([A-Za-z_][\w.-]*)", iterator)
    if not m:
        return None
    tag = m.group(1)
    fields: dict[str, T.DataType] = {}
    child_attrs: dict[str, set[str]] = {}
    extract: list[tuple[str, str]] = []  # (ref, field path)
    for ref in refs:
        if ref.startswith("@") and "/" not in ref:
            fields.setdefault("_" + ref[1:], T.StringType())
            extract.append((ref, "_" + ref[1:]))
        elif "/@" in ref:
            child, _, attr = ref.rpartition("/@")
            if "/" in child or child.startswith("@"):
                return None
            child_attrs.setdefault(child, set()).add("_" + attr)
            extract.append((ref, f"{child}._{attr}"))
        elif re.fullmatch(r"[A-Za-z_][\w.-]*", ref):
            fields.setdefault(ref, T.StringType())
            extract.append((ref, ref))
        else:
            return None
    for child, attrs in child_attrs.items():
        fields[child] = T.StructType([T.StructField(a, T.StringType()) for a in sorted(attrs)])
    rec_struct = T.StructType([T.StructField(k, v) for k, v in fields.items()])
    return tag, rec_struct, extract


def _xml_fast_records_from_frags(frags: DataFrame, rec_struct, extract, passthrough: list[str]) -> DataFrame:
    """Exploded fragment rows (__frag) -> record rows via builtin from_xml."""
    parsed = frags.withColumn(
        "__rec", F.from_xml(F.col("__frag"), rec_struct, {"attributePrefix": "_"})
    ).filter(F.col("__rec").isNotNull())
    cols = [F.col(f"__rec.{path}").alias(ref_column_name(ref)) for ref, path in extract]
    return parsed.select(*passthrough, *cols)


def _json_fast_path_plan(iterator: str | None, refs: list[str]):
    """JVM-native JSON iteration for the dominant corpus shape: iterator
    ``$.[*]``/``$[*]`` over an array of objects with top-level-key
    references. Compiles to builtin ``from_json(array<struct<string...>>)``
    + ``explode`` (whole-stage codegen — the JSON analog of the XML fast
    path; the Arrow-UDF tree-walker remains for every other shape).
    from_json's string coercion matches the Python path's value
    rendering: numbers normalized ("1.50"->"1.5"), booleans lowercase,
    big ints exact, nested objects minified in document order,
    missing/null -> NULL. Known divergence: scientific-notation floats
    render Java-style ("1.23E-7") vs Python's "1.23e-07" — harmless
    within one query because the path choice is per-PLAN, never mixed
    per row (unlike XML, where nested docs route per row and the two
    paths are kept byte-identical)."""
    import re

    it = (iterator or "").strip()
    if it not in ("$.[*]", "$[*]"):
        return None
    for ref in refs:
        # top-level plain keys only: dots mean nested paths, @/$ mean
        # jsonpath operators — those take the tree-walking path
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_-]*", ref):
            return None
    return T.ArrayType(
        T.StructType([T.StructField(r, T.StringType(), True) for r in refs])
    )


def _records_schema(refs: list[str]) -> T.ArrayType:
    return T.ArrayType(
        T.StructType([T.StructField(ref_column_name(r), T.StringType(), True) for r in refs])
    )


def _python_iterate_records(
    df: DataFrame,
    payload_col: str,
    kind: str,
    iterator: str | None,
    refs: list[str],
    passthrough: list[str],
    namespaces: dict[str, str] | None = None,
) -> DataFrame:
    """Arrow-batched pandas UDF iterate (array<struct> out) + built-in
    explode — the general-shape path for XML/JSON iterators."""
    schema = _records_schema(refs)
    ref_list = list(refs)

    @F.pandas_udf(schema)
    def iterate(docs: pd.Series) -> pd.Series:
        if kind == "xpath":
            return docs.map(
                lambda d: _xml_iter_records(d, iterator, ref_list, namespaces)
                if d is not None
                else []
            )
        return docs.map(lambda d: _json_iter_records(d, iterator, ref_list) if d is not None else [])

    # The function is pure, but the flag stops the optimizer duplicating
    # it (guide §4.4): InferFiltersFromGenerate adds `size(__records) >
    # 0` below the explode, and predicate pushdown then substituted the
    # UDF expression into that filter — every walker-routed row paid the
    # Python iterate TWICE (two ArrowEvalPython nodes in the r10 plans
    # for pages/xpath-predicates/jsonpath-filter). Non-deterministic
    # expressions are not pushed through, so the inferred filter stays
    # above the single evaluation. Results are identical.
    iterate = iterate.asNondeterministic()

    recs = df.withColumn("__records", iterate(F.col(payload_col)))
    exploded = recs.select(*passthrough, F.explode("__records").alias("__rec"))
    return exploded.select(*passthrough, "__rec.*")


def _iterate_docs_df(df: DataFrame, payload_col: str, ls: LogicalSource, refs: list[str], passthrough: list[str]) -> DataFrame:
    """payload-doc DataFrame -> exploded records.

    XML fast path: depth-1 ``//tag`` iterators compile to builtin
    ``from_xml`` + ``explode`` (JVM, whole-stage codegen, ~10-50x the
    Arrow path). Self-nesting detection: the fragment regex closes at
    the FIRST ``</tag>``, so a nested iterator tag is — by nesting —
    always swallowed into its enclosing fragment (every inner opener
    sits between the outer opener and the first close). A document is
    therefore nested iff some extracted fragment contains a second
    ``<tag`` opener past position 1, probed with a plain substring
    ``locate`` over the fragments. This probe is the only nesting
    detector and is always on: skipping it would silently drop the
    records of nested documents, and opener-count passes over the full
    payload (a second regex, ``regexp_count``, replace+length) all
    measured slower (r02's opener-count regex cost +84% on
    pages_pipeline), as did per-fragment ``rlike`` probes (5x, r01).
    The prefix probe is conservative: a tag whose name extends the
    iterator tag (``<tagged>``) false-positives into the Python
    tree-walking path, which is slower but always correct. Nested and
    namespaced (``xmlns``) documents route to the tree walker; the rest
    explode the fragment array. Both branches union to one frame;
    passthrough survives all paths."""
    ns_json = ls.options.get("xpath.namespaces") if ls.kind == "xpath" else None
    if ns_json:
        # declared prefix map: Clark-name matching only exists on the
        # walker path (the fragment-regex fast path matches literal tag
        # text and cannot honor prefix bindings)
        import json as _json

        return _python_iterate_records(
            df, payload_col, ls.kind, ls.iterator, refs, passthrough, _json.loads(ns_json)
        )
    if ls.kind == "xpath" and os.environ.get("RML_XML_FAST_PATH", "1") != "0":
        plan = _xml_fast_path_plan(ls.iterator or "", refs)
        if plan is not None:
            tag, rec_struct, extract = plan
            frag_pat = rf"(?s)<{tag}\b(?:[^>]*?/>|.*?</{tag}\s*>)"
            with_frags = df.withColumn(
                "__frags", F.regexp_extract_all(F.col(payload_col), F.lit(frag_pat), F.lit(0))
            )
            opener = "<" + tag
            nested = F.coalesce(
                F.exists("__frags", lambda f: F.locate(opener, f, 2) > 0), F.lit(False)
            )
            # namespaced documents route to the tree walker regardless of
            # nesting: the fragment regex misses prefixed tags entirely
            # (<d:data>) and from_xml field names shift under xmlns; the
            # walker strips namespaces and matches local names. One
            # substring probe per row (plain contains, not a regex).
            nested = nested | F.coalesce(
                F.contains(F.col(payload_col), F.lit("xmlns")), F.lit(False)
            )
            fast = _xml_fast_records_from_frags(
                with_frags.filter(~nested).select(*passthrough, F.explode("__frags").alias("__frag")),
                rec_struct,
                extract,
                passthrough,
            )
            slow = _python_iterate_records(
                with_frags.filter(nested).drop("__frags"), payload_col, "xpath", ls.iterator, refs, passthrough
            )
            return fast.unionByName(slow)
    if ls.kind == "jsonpath" and os.environ.get("RML_JSON_FAST_PATH", "1") != "0":
        schema = _json_fast_path_plan(ls.iterator, refs)
        if schema is not None:
            recs = df.withColumn("__recs", F.from_json(F.col(payload_col), schema))
            exploded = recs.select(*passthrough, F.explode("__recs").alias("__rec"))
            return exploded.select(
                *passthrough,
                *[F.col("__rec").getField(r).alias(ref_column_name(r)) for r in refs],
            )
    return _python_iterate_records(df, payload_col, ls.kind, ls.iterator, refs, passthrough)


def _apply_doc_derived(
    df: DataFrame, payload_col: str, doc_derived, passthrough: list[str]
) -> tuple[DataFrame, list[str]]:
    """Stamp regex-derived columns onto the RAW document before
    iteration (A7 exact form: the reference extracts the publisher id by
    regex over the raw snapshot text, /root/reference/src/rml/rml.ts:322-324
    — NOT through the record iterator). Derived columns become
    passthrough columns on every record of that document."""
    if not doc_derived:
        return df, passthrough
    for name, (pattern, group) in doc_derived.items():
        df = df.withColumn(name, F.regexp_extract(F.col(payload_col), pattern, group))
    return df, passthrough + [n for n in doc_derived if n not in passthrough]


def _jdbc_records_df(
    spark: SparkSession,
    ls: LogicalSource,
    refs: list[str],
    passthrough: list[str],
) -> DataFrame:
    """Remote relational database scan (d2rq:Database sources): a
    spark.read JDBC plan over ``rr:tableName`` or ``rml:query``.

    Scale shape: Spark's JDBC source pushes column pruning and filter
    predicates into the SQL sent to the database, and parallel reads
    are available by forwarding ``jdbc.partitionColumn`` /
    ``jdbc.lowerBound`` / ``jdbc.upperBound`` / ``jdbc.numPartitions``
    (plus ``jdbc.fetchsize``) in the LogicalSource options — every
    ``jdbc.<opt>`` option forwards verbatim to the reader, so a
    1000-executor cluster splits the relation into range-bounded
    partition queries instead of one serial cursor.

    ``rml:query`` is wrapped as ``(query) AS rml_spark_q`` and passed
    through the ``dbtable`` option — Spark's own ``query`` option emits
    an unaliased subquery some engines (Derby among them) reject.
    Exercised end-to-end against the embedded Derby engine that ships
    with Spark (tests/test_sources.py::test_jdbc_*)."""
    reader = spark.read.format("jdbc")
    for k, v in ls.options.items():
        if k.startswith("jdbc.") :
            reader = reader.option(k[len("jdbc."):], v)
    if ls.query:
        reader = reader.option("dbtable", f"({ls.query}) AS rml_spark_q")
    elif ls.options.get("table_name"):
        reader = reader.option("dbtable", ls.options["table_name"])
    else:
        raise ValueError(
            f"JDBC source {ls.options['jdbc.url']!r} needs rr:tableName or rml:query"
        )
    df = reader.load()
    cols = []
    for ref in refs:
        if ref not in df.columns:
            raise ValueError(
                f"jdbc source {ls.options['jdbc.url']}: no column {ref!r}"
            )
        cols.append(F.col(ref).cast("string").alias(ref_column_name(ref)))
    keep = [c for c in passthrough if c in df.columns]
    return df.select(*keep, *cols)


def records_df(
    spark: SparkSession,
    ls: LogicalSource,
    refs: list[str],
    passthrough: list[str] | None = None,
    doc_derived: dict[str, tuple[str, int]] | None = None,
    table_views: dict[str, str] | None = None,
) -> DataFrame:
    """Load a logical source and produce its record DataFrame with one
    string column per reference (named ``ref_<md5>``), plus passthrough
    metadata columns when the source is a page table. ``doc_derived``
    maps extra column names to ``(regex, group)`` extracted from the raw
    document payload before iteration (document-shaped sources only)."""
    passthrough = passthrough or []
    src = ls.source
    if src.startswith("memory:"):
        # pre-built document frame (micro-batch execution, tests): the
        # registered DataFrame's ``doc`` column iterates exactly like a
        # file-backed document source
        df = get_memory_source(src[len("memory:"):])
        keep = [c for c in passthrough if c in df.columns]
        df, keep = _apply_doc_derived(df, "doc", doc_derived, keep)
        return _iterate_docs_df(df, "doc", ls, refs, keep)
    if src.startswith("kafka://") or ls.kind == "kafka":
        stream = kafka_stream_df(spark, ls)
        return kafka_records_df(stream, ls, refs, passthrough, doc_derived)
    if ls.options.get("jdbc.url"):
        if doc_derived:
            raise ValueError(
                "doc_derived (publisher regex) needs a raw document payload; "
                "a JDBC relational source has none — use publisher_ref"
            )
        return _jdbc_records_df(spark, ls, refs, passthrough)
    if (
        doc_derived
        and (src.startswith("table:") or ls.kind in ("table", "csv"))
        # exception: rml:query + document formulation yields a real
        # per-row payload the publisher regex can run over
        and not (ls.query and ls.kind in ("xpath", "jsonpath"))
    ):
        raise ValueError(
            f"doc_derived (publisher regex) needs a raw document payload; "
            f"source {src!r} of kind {ls.kind!r} has none — use a record "
            "reference (publisher_ref) for relational/CSV sources"
        )
    if src.startswith("table:") or ls.kind == "table":
        from ..ioutil import read_parquet_spread

        path = src[len("table:"):] if src.startswith("table:") else src
        df = read_parquet_spread(spark, path)
        if ls.query:
            df = _run_source_query(spark, df, ls, path, table_views)
            if ls.kind in ("xpath", "jsonpath"):
                # rml:query + a document referenceFormulation: the query
                # SELECTs a payload column (ls.payload_column, or the
                # single/first output column) whose per-row documents
                # then iterate like any document source
                payload = (
                    ls.payload_column if ls.payload_column in df.columns else df.columns[0]
                )
                docs = df.withColumn("doc", F.col(payload).cast("string"))
                keep = [c for c in passthrough if c in docs.columns]
                docs, keep = _apply_doc_derived(docs, "doc", doc_derived, keep)
                return _iterate_docs_df(docs, "doc", ls, refs, keep)
        cols = []
        for ref in refs:
            if ref not in df.columns:
                raise ValueError(f"table source {path}: no column {ref!r}")
            cols.append(F.col(ref).cast("string").alias(ref_column_name(ref)))
        keep = [c for c in passthrough if c in df.columns]
        return df.select(*keep, *cols)
    if src.startswith("pages:") or ls.kind == "pages":
        from ..ioutil import read_parquet_spread

        path = src[len("pages:"):] if src.startswith("pages:") else src
        pages = read_parquet_spread(spark, path)
        keep = [c for c in passthrough if c in pages.columns]
        inner = LogicalSource(source=src, kind="xpath" if ls.iterator and ls.iterator.startswith("/") else ls.kind, iterator=ls.iterator, payload_column=ls.payload_column)
        # default: XML payloads unless iterator looks like JSONPath
        if ls.iterator and ls.iterator.startswith("$"):
            inner.kind = "jsonpath"
        elif inner.kind == "pages":
            inner.kind = "xpath"
        docs = pages.select(*keep, ls.payload_column)
        docs, keep = _apply_doc_derived(docs, ls.payload_column, doc_derived, keep)
        return _iterate_docs_df(docs, ls.payload_column, inner, refs, keep)
    if ls.kind == "csv":
        if src.startswith("inline:"):
            import io

            pdf = pd.read_csv(io.StringIO(src[len("inline:"):]), sep=ls.delimiter, dtype=str)
            df = spark.createDataFrame(pdf)
        else:
            df = spark.read.option("header", "true").option("delimiter", ls.delimiter).csv(src)
        cols = []
        for ref in refs:
            if ref not in df.columns:
                raise ValueError(f"csv source {src}: no column {ref!r}")
            cols.append(F.col(ref).cast("string").alias(ref_column_name(ref)))
        return df.select(*cols)
    if ls.kind in ("xpath", "jsonpath"):
        if src.startswith("inline:"):
            docs = spark.createDataFrame([(src[len("inline:"):],)], "doc string")
        elif src.startswith(("http://", "https://")):
            # WoT/HTTP API logical source (td:Form/hctl:hasTarget,
            # /root/reference/test/rml.test.ts:299-320): the document is a
            # driver-side fetch — one snapshot per run, exactly the
            # reference's whole-document model.
            docs = spark.createDataFrame([(fetch_http_source(src),)], "doc string")
        else:
            docs = spark.read.text(src, wholetext=True).withColumnRenamed("value", "doc")
        docs, derived = _apply_doc_derived(docs, "doc", doc_derived, [])
        return _iterate_docs_df(docs, "doc", ls, refs, derived)
    raise ValueError(f"unsupported logical source kind {ls.kind!r} for {src!r}")


def _source_view_name(ls: LogicalSource, path: str) -> str:
    """The temp-view name an rml:query references: rr:tableName when
    declared, else the source file's basename sans extension (so
    ``.../nation.parquet`` is queried as ``nation``)."""
    name = ls.options.get("table_name")
    if name:
        return name
    base = os.path.basename(path.rstrip("/"))
    return os.path.splitext(base)[0] or "src"


def _run_source_query(
    spark: SparkSession,
    df: DataFrame,
    ls: LogicalSource,
    path: str,
    table_views: dict[str, str] | None = None,
) -> DataFrame:
    """Execute an rml:query / rr:sqlQuery relational source: register
    the bound table as a temp view and run the query with spark.sql —
    Catalyst handles pushdown/pruning through the view, so the query is
    as scan-efficient as a hand-built DataFrame chain. The reference
    delegates these sources to the Java jar's RDB handling
    (/root/reference/src/rml/rml.ts:136-147); here the 'database' IS the
    Spark catalog.

    ``table_views`` (the plan's source bindings) lets the query JOIN
    other bound tables: every binding whose name is a SQL identifier
    AND appears as a word in the query text registers as a view too —
    the RDB parity a single-table view can't give. The primary table's
    view registers LAST, so a colliding binding never shadows it."""
    import re as _re

    for name, loc in sorted((table_views or {}).items()):
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            continue
        if not (loc.startswith("table:") or loc.endswith(".parquet")):
            continue
        if not _re.search(rf"\b{name}\b", ls.query):
            continue  # don't pay a file listing for unreferenced tables
        spark.read.parquet(loc[len("table:"):] if loc.startswith("table:") else loc).createOrReplaceTempView(name)
    view = _source_view_name(ls, path)
    df.createOrReplaceTempView(view)
    try:
        return spark.sql(ls.query)
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"rml:query on source {ls.source!r} failed (view {view!r}): {e}"
        ) from e


def kafka_source_options(ls: LogicalSource) -> dict[str, str]:
    """Option dict for ``spark.readStream.format('kafka')`` — pure plan
    construction from the parsed rmls: source (broker/topic/groupId,
    /root/reference/src/voc.ts:26-34). ``kafka://broker/topic`` locations
    without parsed options decompose here."""
    opts = {"startingOffsets": "earliest"}
    opts.update({k: v for k, v in ls.options.items() if not k.startswith("http.")})
    if "kafka.bootstrap.servers" not in opts or "subscribe" not in opts:
        rest = ls.source[len("kafka://"):] if ls.source.startswith("kafka://") else ls.source
        broker, _, topic = rest.partition("/")
        if not broker or not topic:
            raise ValueError(f"kafka source {ls.source!r}: need kafka://broker/topic or rmls options")
        opts.setdefault("kafka.bootstrap.servers", broker)
        opts.setdefault("subscribe", topic)
    return opts


def kafka_stream_df(spark: SparkSession, ls: LogicalSource) -> DataFrame:
    """Build the Structured-Streaming Kafka scan. The plan (format +
    options) is fully wired here; resolving it needs the
    spark-sql-kafka connector on the classpath, so the load error is
    rethrown with the wiring context."""
    reader = spark.readStream.format("kafka")
    for k, v in sorted(kafka_source_options(ls).items()):
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # noqa: BLE001
        # only rewrap the MISSING-CONNECTOR failure; config/auth errors
        # from a present connector must surface as themselves
        msg = str(e)
        if (
            "Failed to find data source" in msg
            or "DATA_SOURCE_NOT_FOUND" in msg
            or "ClassNotFoundException" in msg
        ):
            raise NotImplementedError(
                f"Kafka logical source {ls.source!r}: plan wired "
                f"(format=kafka, options={kafka_source_options(ls)}) but the "
                "spark-sql-kafka connector jar is not on the classpath — add "
                "org.apache.spark:spark-sql-kafka-0-10_2.13 via --packages"
            ) from e
        raise


def kafka_records_df(
    kafka_df: DataFrame,
    ls: LogicalSource,
    refs: list[str],
    passthrough: list[str] | None = None,
    doc_derived: dict[str, tuple[str, int]] | None = None,
) -> DataFrame:
    """Kafka-shaped frame (binary ``value`` + topic/partition/offset/
    timestamp) -> record rows: each message value is one document run
    through the same iterator-explode stage as any other source. Works
    identically on the streaming scan and on a static Kafka-shaped frame
    (how tests exercise the transformation without a broker)."""
    keep = [c for c in (passthrough or []) if c in kafka_df.columns]
    docs = kafka_df.select(*keep, F.col("value").cast("string").alias("doc"))
    docs, keep = _apply_doc_derived(docs, "doc", doc_derived, keep)
    payload_kind = ls.kind
    if payload_kind in ("kafka", "pages"):
        payload_kind = "jsonpath" if (ls.iterator or "$").startswith("$") else "xpath"
    inner = LogicalSource(source=ls.source, kind=payload_kind, iterator=ls.iterator)
    return _iterate_docs_df(docs, "doc", inner, refs, keep)


def fetch_http_source(url: str, timeout: float = 15.0) -> str:
    """Driver-side HTTP fetch of a logical-source document."""
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        return resp.read().decode("utf-8")


# -- memory sources ------------------------------------------------------------
# ``memory:<key>`` logical-source locations resolve to DataFrames
# registered here — how foreachBatch micro-batches (and tests) feed a
# pre-built document frame through the same plan the batch engine runs.

_MEMORY_SOURCES: dict[str, DataFrame] = {}


def register_memory_source(key: str, df: DataFrame) -> None:
    _MEMORY_SOURCES[key] = df


def get_memory_source(key: str) -> DataFrame:
    if key not in _MEMORY_SOURCES:
        raise ValueError(f"memory source {key!r} not registered")
    return _MEMORY_SOURCES[key]


def unregister_memory_source(key: str) -> None:
    _MEMORY_SOURCES.pop(key, None)
