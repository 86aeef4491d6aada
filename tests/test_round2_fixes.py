"""Round-2 defect fixes (VERDICT r01 'what's wrong' + ADVICE r01 lows):
non-constant predicate/graph on referencing object maps, blank-node
subjects, constant-literal term typing, deterministic hot-key salting,
full-line N-Quads ordering."""

import glob
import hashlib

from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.operators.executor import execute_mapping
from rml_utils_processor_ts_spark.sinks import write_nquads


def test_join_pom_template_predicate_and_graph(spark):
    """rr:template predicate + graph map on a referencing object map read
    record columns — they must be computed into the child side before the
    join (threw AnalysisException before the fix)."""
    mapping = """
ex:map_nation a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:/root/testdata/sf0.001/nation.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://x/nation/{n_nationkey}" ] .

ex:map_customer a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:/root/testdata/sf0.001/customer.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://x/customer/{c_custkey}" ;
        rr:graphMap [ rr:template "http://x/g/{c_mktsegment}" ] ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:template "http://x/pred/{c_mktsegment}" ] ;
        rr:objectMap [ rr:parentTriplesMap ex:map_nation ;
            rml:joinCondition [ fnml:functionValue [
                rr:predicateObjectMap [ rr:predicate fno:executes ; rr:objectMap [ rr:constant idlab-fn:equal ] ] ;
                rr:predicateObjectMap [ rr:predicate grel:valueParameter ; rr:objectMap [ rml:reference "c_nationkey" ] ] ;
                rr:predicateObjectMap [ rr:predicate grel:valueParameter2 ; rr:objectMap [ rr:parentTermMap [ rml:reference "n_nationkey" ] ] ]
            ] ] ] ] .
"""
    triples = execute_mapping(spark, mapping).triples
    rows = triples.collect()
    customers = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").collect()
    assert len(rows) == len(customers)
    by_key = {r["c_custkey"]: r for r in customers}
    for t in rows:
        c = by_key[int(t["s"].rsplit("/", 1)[-1])]
        assert t["p"] == f"http://x/pred/{c['c_mktsegment']}"
        assert t["g"] == f"http://x/g/{c['c_mktsegment']}"
        assert t["o"] == f"http://x/nation/{c['c_nationkey']}"
        assert t["o_termtype"] == "IRI"


def test_blanknode_subject_serializes_as_bnode(spark):
    """rr:termType rr:BlankNode on a subject map must flow into
    s_termtype (was hardcoded 'IRI') and serialize as _:... lines."""
    from rml_utils_processor_ts_spark.sinks import triples_to_nquad_lines

    mapping = """
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:/root/testdata/sf0.001/region.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "r{r_regionkey}" ; rr:termType rr:BlankNode ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/name> ] ;
        rr:objectMap [ rml:reference "r_name" ] ] .
"""
    triples = execute_mapping(spark, mapping).triples
    assert {r["s_termtype"] for r in triples.collect()} == {"BlankNode"}
    lines = [r["line"] for r in triples_to_nquad_lines(triples).collect()]
    assert lines and all(line.startswith("_:r") for line in lines)


def test_constant_http_string_literal_stays_literal(spark):
    """An rr:constant STRING that merely starts with 'http' is a Literal
    (the parser records the RDF term kind; no startswith heuristic)."""
    mapping = """
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:/root/testdata/sf0.001/region.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://x/r/{r_regionkey}" ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/site> ] ;
        rr:objectMap [ rr:constant "http://example.org is my site" ] ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/home> ] ;
        rr:objectMap [ rr:constant <http://example.org/home> ] ] .
"""
    rows = execute_mapping(spark, mapping).triples.collect()
    ttypes = {r["p"]: r["o_termtype"] for r in rows}
    assert ttypes["http://x/site"] == "Literal"
    assert ttypes["http://x/home"] == "IRI"


def test_split_hot_keys_salt_deterministic(spark):
    """Salt derives from row content: two independent runs assign every
    hot row the same salt (determinism rule, SURVEY §7 hard part 4)."""
    from rml_utils_processor_ts_spark.operators.skew import split_hot_keys

    big = spark.createDataFrame(
        [(("hot" if i % 10 != 9 else f"cold{i}"), i) for i in range(1000)],
        "k string, v long",
    )
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"cold{i}", f"C{i}") for i in range(9, 1000, 10)],
        "k string, label string",
    )
    r1 = split_hot_keys(big, small, "k", hot_threshold=100, n_salt=4, keep_salt=True)
    r2 = split_hot_keys(big, small, "k", hot_threshold=100, n_salt=4, keep_salt=True)
    a = sorted((r["k"], r["v"], r["label"], r["__salt"]) for r in r1.collect())
    b = sorted((r["k"], r["v"], r["label"], r["__salt"]) for r in r2.collect())
    assert a == b
    salts = {r[3] for r in a if r[0] == "hot"}
    assert len(salts) > 1, "hot key must spread over multiple salts"


def test_write_nquads_stable_with_termtype_only_differences(spark, tmp_path):
    """Two quads equal on (s,p,o,g) but differing in o_datatype must have
    a stable relative order: ordering runs on the serialized line."""
    rows = [
        ("http://x/s", "IRI", "http://x/p", "5", "Literal", "http://www.w3.org/2001/XMLSchema#integer", None, None, "default"),
        ("http://x/s", "IRI", "http://x/p", "5", "Literal", None, None, None, "default"),
    ]
    schema = "s string, s_termtype string, p string, o string, o_termtype string, o_datatype string, o_lang string, g string, target_id string"

    def digest(d):
        h = hashlib.sha256()
        for f in sorted(glob.glob(d + "/part-*")):
            with open(f, "rb") as fh:
                h.update(fh.read())
            h.update(b"\x00")
        return h.hexdigest()

    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_nquads(spark.createDataFrame(rows, schema).repartition(4), d1, partitions=2)
    write_nquads(spark.createDataFrame(list(reversed(rows)), schema).repartition(4), d2, partitions=2)
    assert digest(d1) == digest(d2)
    lines = sorted(line for f in glob.glob(d1 + "/part-*") for line in open(f))
    assert len([line for line in lines if line.strip()]) == 2


def test_canonicalize_triples_shuffle_join_path(spark):
    """canonicalize_triples must not pin a broadcast hint: with the
    broadcast thresholds disabled the shuffle-join plan must produce the
    same result (at web scale the node->canonical map is billions of
    rows; a forced broadcast OOMs)."""
    from rml_utils_processor_ts_spark.operators.cc import canonicalize_triples

    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n_customers = customer.count()
    triples = customer.select(
        F.format_string("c:%08d", F.col("c_custkey")).alias("s"),
        F.lit("IRI").alias("s_termtype"),
        F.lit("http://x/p").alias("p"),
        F.col("c_name").alias("o"),
        F.lit("Literal").alias("o_termtype"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("g"),
        F.lit("default").alias("target_id"),
    )
    edges = customer.select(
        F.format_string("c:%08d", F.col("c_custkey")).alias("src"),
        F.format_string("n:%08d", F.col("c_nationkey")).alias("dst"),
    )
    default = {(r["s"], r["o"]) for r in canonicalize_triples(triples, edges).collect()}

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": None,
    }
    for k in confs:
        confs[k] = spark.conf.get(k, None)
        spark.conf.set(k, "-1")
    try:
        shuffled = {(r["s"], r["o"]) for r in canonicalize_triples(triples, edges).collect()}
    finally:
        for k, v in confs.items():
            if v is not None:
                spark.conf.set(k, v)
    assert shuffled == default and len(default) == n_customers


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located joins: two tables bucketed+sorted on the join key join
    with no Exchange in the physical plan (shuffle paid once at write
    time — the scale pattern for repeated fact/dimension joins)."""
    from rml_utils_processor_ts_spark.sinks import write_bucketed_table

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    write_bucketed_table(orders, "t_orders_b", str(tmp_path / "ob"), "o_custkey", 8)
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "t_customer_b",
        str(tmp_path / "cb"),
        "o_custkey",
        8,
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(spark.table("t_customer_b"), "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = joined.count()
        plain = orders.join(
            customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        ).count()
        assert n == plain and n > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


