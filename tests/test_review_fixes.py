"""Regression tests for the round-2 self-review findings: YARRRML
language tags + multi-target subjects, repeated-param ordering past 10,
embedding-dim probing, LDES metadata graphs, micro-batch replay
idempotence, memory-source lifecycle."""

from pyspark.sql import functions as F

from rml_utils_processor_ts_spark.operators.executor import PlanExecutor, execute_mapping
from rml_utils_processor_ts_spark.plans.yarrrml import yarrrml_to_plan


def test_yarrrml_language_tag_shorthand(spark):
    doc = """
prefixes:
    ex: "http://example.org/"
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s: ex:$(id)
        po:
            - [ex:name, $(name), en~lang]
            - [ex:size, $(size), xsd:integer]
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id": "1", "name": "x", "size": "5"}]'})
    poms = plan.triples_maps[0].predicate_object_maps
    assert poms[0].object.language == "en" and poms[0].object.datatype is None
    assert poms[1].object.datatype == "http://www.w3.org/2001/XMLSchema#integer"
    rows = {r["p"]: r for r in PlanExecutor(spark).execute(plan).triples.collect()}
    assert rows["http://example.org/name"]["o_lang"] == "en"
    assert rows["http://example.org/size"]["o_datatype"].endswith("integer")


def test_yarrrml_multiple_subject_targets(spark, tmp_path):
    from rml_utils_processor_ts_spark.sinks import write_targets

    doc = """
prefixes:
    ex: "http://example.org/"
targets:
    t1: ["a.nq~void", "nquads"]
    t2: ["b.nt~void", "ntriples"]
mappings:
    m:
        sources: [["d.json~jsonpath", "$.[*]"]]
        s:
            value: ex:$(id)
            targets: [t1, t2]
        po:
            - [ex:name, $(name)]
"""
    plan = yarrrml_to_plan(doc, {"d.json": 'inline:[{"id": "1", "name": "x"}]'})
    assert len(plan.triples_maps) == 2
    result = PlanExecutor(spark).execute(plan)
    written = write_targets(result, plan, str(tmp_path))
    assert set(written) == {"urn:yarrrml:target:t1", "urn:yarrrml:target:t2"}


def test_repeated_params_order_past_ten(spark):
    """12 repeated grel:p_array_a params must join in document order —
    lexicographic '#N' sorting would put #10 before #2."""
    from rml_utils_processor_ts_spark.functions.fno import compile_function, param_sort_key
    from rml_utils_processor_ts_spark.plans import voc
    from rml_utils_processor_ts_spark.plans.model import FunctionCall, TermMap

    keys = [f"{voc.GREL_PARAM_A}#{i}" for i in range(12)]
    assert sorted(keys, key=param_sort_key) == keys
    fn = FunctionCall(
        function_iri=voc.GREL_ARRAY_JOIN,
        params={
            voc.GREL_PARAM_STRING_SEP: TermMap(constant="&"),
            **{k: TermMap(constant=f"v{i}") for i, k in enumerate(keys)},
        },
    )
    col = compile_function(fn, lambda tm, pos: F.lit(tm.constant))
    got = spark.range(1).select(col.alias("x")).first()["x"]
    assert got == "&".join(f"v{i}" for i in range(12))


def test_embedding_lsh_probes_dim(spark):
    """128-dim embeddings must hash against 128-weight hyperplanes — a
    hardcoded 64 would null-pad dot products and collapse every vector
    into one bucket."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_column,
        probe_dim,
    )

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(127)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 500.0 - 1.0),
        ).alias("embedding"),
    )
    d = probe_dim(emb, "embedding")
    assert d == 128
    buckets = {
        r["b"]
        for r in emb.select(
            lsh_bucket_column(F.col("embedding"), _hyperplanes(d, 4, 42)).alias("b")
        ).collect()
    }
    assert len(buckets) > 1, "distinct vectors must spread over buckets"


def test_lsh_index_matches_adhoc_and_prunes_partitions(spark, tmp_path):
    """The persisted LSH index returns the same top-k as the ad-hoc
    bucketed query (same planes), and the candidate read touches only
    the queries' bucket partitions."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        lsh_ann_topk,
        lsh_index_topk,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    path = str(tmp_path / "idx")
    meta = write_lsh_index(emb, path, n_planes=4)
    assert meta["dim"] == 64
    adhoc = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in lsh_ann_topk(emb, [0, 1, 2], k=5, n_planes=4).collect()
    }
    indexed_df = lsh_index_topk(spark, path, [0, 1, 2], k=5)
    indexed = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in indexed_df.collect()
    }
    assert indexed == adhoc and len(indexed) > 0
    # partition pruning: the bucket predicate lands in the scan's
    # PartitionFilters (bucket is a partition column of the index)
    import re

    idx = spark.read.parquet(path)
    buckets = {r["bucket"] for r in idx.filter(F.col("id").isin([0, 1, 2])).select("bucket").collect()}
    plan = (
        idx.filter(F.col("bucket").isin(sorted(buckets)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    # the 'b' prefix keeps bucket a STRING through partition-column type
    # inference (all-digit values would read back as ints, 0110 -> 110)
    assert dict(idx.dtypes)["bucket"] == "string"
    assert all(b.startswith("b") for b in buckets)


def test_lsh_index_external_query_vectors(spark, tmp_path):
    """External query vectors: driver-side bucket computation matches the
    Spark-side signature bit-for-bit, results match the id-lookup path
    (modulo self-exclusion), and identical-id corpus rows are NOT
    wrongly dropped."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_column,
        lsh_index_topk,
        py_bucket_of,
        write_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    planes = _hyperplanes(64, 4, 42)
    sample = emb.limit(20).select(
        "vec_id", "embedding", lsh_bucket_column(F.col("embedding"), planes).alias("b")
    ).collect()
    for r in sample:
        assert py_bucket_of(list(r["embedding"]), planes) == r["b"], "bucket twin desync"

    path = str(tmp_path / "idx")
    write_lsh_index(emb, path, n_planes=4)
    qvecs = [(r["vec_id"], list(r["embedding"])) for r in sample if r["vec_id"] in (0, 1)]
    res = lsh_index_topk(spark, path, k=5, query_vectors=qvecs)
    rows = res.collect()
    # the identical corpus vector (same id) must appear as the top hit
    # for an external query — no self-exclusion in the external path
    top = {r["query_id"]: (r["neighbor_id"], r["cosine"]) for r in rows if r["rank"] == 1}
    assert top[0] == (0, 1.0) and top[1] == (1, 1.0)
    # partially-missing id lookups fail loudly instead of silently
    import pytest

    with pytest.raises(ValueError, match="not present"):
        lsh_index_topk(spark, path, [0, 99999999], k=5)


def test_ldes_metadata_inherits_constant_graph(spark):
    mapping = """
ex:m a rr:TriplesMap ;
    rml:logicalSource [ rml:source "table:/root/testdata/sf0.001/region.parquet" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://x/r/{r_regionkey}" ;
        rr:graphMap [ rr:constant "http://x/g" ] ;
        rml:logicalTarget [ a rmlt:EventStreamTarget ;
            rmlt:ldesBaseIRI <http://x/stream> ;
            rmlt:ldesGenerateImmutableIRI "true"^^xsd:boolean ] ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://x/name> ] ;
        rr:objectMap [ rml:reference "r_name" ] ] .
"""
    res = execute_mapping(spark, mapping, version_ts="2024-01-01T00:00:00Z")
    stream_rows = [r for r in res.triples.collect() if r["s"] == "http://x/stream"]
    assert stream_rows and all(r["g"] == "http://x/g" for r in stream_rows)


def test_microbatch_replay_is_idempotent(spark, tmp_path):
    import pytest

    from fixtures import RML_STATEFUL

    from rml_utils_processor_ts_spark.sources.registry import get_memory_source
    from rml_utils_processor_ts_spark.streaming.microbatch import MicroBatchMappingRunner

    runner = MicroBatchMappingRunner(
        spark,
        RML_STATEFUL.format(source="dataset/data.xml"),
        state_root=str(tmp_path / "state"),
    )
    batch = spark.createDataFrame(
        [('<r><data id="001" label="a"/></r>',)], "doc string"
    )
    r1 = runner.process_batch(batch, 0)
    assert r1 is not None and len(runner.results) == 1
    # the batch frame must not stay registered after materialization
    with pytest.raises(ValueError):
        get_memory_source(runner._key)
    # foreachBatch replay of the SAME batch id after a crash: skipped,
    # not silently re-diffed against already-updated state
    assert runner.process_batch(batch, 0) is None
    assert len(runner.results) == 1
    # the next epoch still executes
    batch2 = spark.createDataFrame(
        [('<r><data id="001" label="b"/></r>',)], "doc string"
    )
    r2 = runner.process_batch(batch2, 1)
    assert r2 is not None and len(runner.results) == 2


def test_ivf_index_matches_adhoc_and_prunes(spark, tmp_path):
    """Persisted IVF index (round 4 — the scale path the ad-hoc form's
    measured cost demands): index queries return exactly the ad-hoc
    ivf_ann_topk results, the candidate read is partition-pruned to the
    probed cells, and external query vectors route via the driver-side
    cell-ranking twin."""
    from rml_utils_processor_ts_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index_topk,
        pseudo_random_centroids,
        py_cell_ranking,
        write_ivf_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    dim = len(emb.select("embedding").first()[0])
    cents = pseudo_random_centroids(dim, 8)
    path = str(tmp_path / "ivf_idx")
    meta = write_ivf_index(emb, path, centroids=cents)
    assert meta["n_cells"] == 8

    queries = [0, 1, 2, 3]
    adhoc = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, queries, k=5, n_probe=3, centroids=cents).collect()
    }
    indexed_df = ivf_index_topk(spark, path, queries, k=5, n_probe=3)
    indexed = {
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in indexed_df.collect()
    }
    assert indexed == adhoc and len(indexed) > 0

    # partition pruning: the scan must touch only the probed cells
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    q_rows = (
        spark.read.parquet(path).filter(F.col("id").isin(queries)).select("v").collect()
    )
    probed = sorted({c for r in q_rows for c in py_cell_ranking(list(r["v"]), cents, 3)})
    import re

    m = re.search(r"partition filters: \[?[^\n]*cell", plan, re.IGNORECASE)
    assert m is not None or "PartitionFilters" in plan, plan[:2000]

    # external query vectors (no self-exclusion)
    vec = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    ext = ivf_index_topk(spark, path, k=3, query_vectors=[(999_999, vec)]).collect()
    assert ext and ext[0]["neighbor_id"] == 0  # its own twin ranks first
