"""Snapshot-runner tests ≙ the reference's ordering/permutation tests
(/root/reference/test/rml.test.ts:515-658): data before mappings,
multiple buffered updates replayed FIFO. Plus a real Structured
Streaming windowed aggregation cross-checked against its batch twin."""

from collections import Counter

from fixtures import RML_BASIC, XML_DOC, XML_DOC_V2

from rml_utils_processor_ts_spark.plans import voc
from rml_utils_processor_ts_spark.streaming.snapshots import SnapshotRunner

EX = "http://example.org/"


def labels(result):
    return {
        (r["s"], r["o"])
        for r in result.triples.collect()
        if r["p"].endswith("label")
    }


def test_mapping_waits_for_source_barrier(spark):
    """≙ rml.test.ts:515-574 — mapping registered first, no execution
    until the source snapshot arrives."""
    runner = SnapshotRunner(spark)
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml"))
    assert runner.results == []
    ran = runner.push_snapshot("dataset/data.xml", XML_DOC)
    assert len(ran) == 1
    assert (EX + "001", "some data") in labels(ran[0])


def test_buffered_updates_replay_fifo(spark):
    """≙ rml.test.ts:576-658 — two snapshots pushed produce two runs in
    order with per-run outputs."""
    runner = SnapshotRunner(spark)
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml"))
    ran1 = runner.push_snapshot("dataset/data.xml", XML_DOC)
    ran2 = runner.push_snapshot("dataset/data.xml", XML_DOC_V2)
    assert len(ran1) == 1 and len(ran2) == 1
    assert (EX + "001", "some data") in labels(ran1[0])
    assert (EX + "001", "some new data") in labels(ran2[0])


def test_step_restores_session_optimizer_rules(spark):
    """A snapshot step turns empty-relation pruning off only while it
    runs; the session's rule exclusions read the same afterwards."""
    keys = ["spark.sql.optimizer.excludedRules", "spark.sql.adaptive.optimizer.excludedRules"]
    before = [spark.conf.get(k, None) for k in keys]
    runner = SnapshotRunner(spark)
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml"))
    (ran,) = runner.push_snapshot("dataset/data.xml", XML_DOC)
    assert (EX + "001", "some data") in labels(ran)
    assert [spark.conf.get(k, None) for k in keys] == before


def test_multi_source_barrier(spark):
    """Two declared sources: no run until both have data; then one run."""
    second = RML_BASIC.format(source="dataset/data2.xml").replace(
        "ex:map_test-mapping_000", "ex:map_test-mapping_001"
    )
    runner = SnapshotRunner(spark)
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml") + second)
    assert runner.push_snapshot("dataset/data.xml", XML_DOC) == []
    ran = runner.push_snapshot("dataset/data2.xml", XML_DOC_V2)
    assert len(ran) == 1
    got = labels(ran[0])
    assert (EX + "001", "some data") in got and (EX + "001", "some new data") in got


def test_structured_streaming_matches_batch(spark, tmp_path):
    """Streaming windowed aggregation == its batch twin on the same data
    (the oracle relationship for the streaming operator)."""
    from rml_utils_processor_ts_spark.streaming.windows import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(str(tmp_path / "stream_src"))
    batch = windowed_event_counts(events)
    stream = run_stream_to_memory(
        spark, str(tmp_path / "stream_src"), events.schema, query_name="t_stream"
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s and len(b) > 0


def test_microbatch_rml_stream_cdc_sequence(spark, tmp_path):
    """IncRML-over-a-stream: a real Structured-Streaming file source
    drives the STATEFUL RML mapping through foreachBatch — batch 1 all
    Create, batch 2 one Update (epochs execute the same PlanExecutor the
    batch engine uses; state commits per epoch)."""
    import os

    from fixtures import RML_STATEFUL

    from rml_utils_processor_ts_spark.streaming.microbatch import MicroBatchMappingRunner

    src = tmp_path / "docs"
    os.makedirs(src)

    def write_doc(name, xml):
        spark.createDataFrame([(xml,)], "doc string").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    write_doc("b1", '<r><data id="001" label="a"/><data id="002" label="b"/></r>')

    runner = MicroBatchMappingRunner(
        spark,
        RML_STATEFUL.format(source="dataset/data.xml"),
        state_root=str(tmp_path / "state"),
    )
    stream = (
        spark.readStream.schema("doc string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = runner.start(stream, query_name="rml_mb_test")
    try:
        q.processAllAvailable()
        write_doc("b2", '<r><data id="001" label="CHANGED"/><data id="002" label="b"/></r>')
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(runner.results) == 2

    def events(result):
        return {
            (r["s"], r["o"].rsplit("#", 1)[-1])
            for r in result.triples.collect()
            if r["p"] == EX + "lifeCycleType"
        }

    assert events(runner.results[0]) == {
        (EX + "001", "Create"),
        (EX + "002", "Create"),
    }
    assert events(runner.results[1]) == {(EX + "001", "Update")}


def test_trigger_source_requires_fresh_snapshot(spark):
    """≙ A6 trigger reset (rml.ts:416-424): a trigger source's data is
    consumed by each run — new snapshots of OTHER sources alone don't
    re-execute; a fresh trigger snapshot does."""
    second = RML_BASIC.format(source="dataset/data2.xml").replace(
        "ex:map_test-mapping_000", "ex:map_test-mapping_001"
    )
    runner = SnapshotRunner(spark, trigger_sources={"dataset/data.xml"})
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml") + second)
    assert runner.push_snapshot("dataset/data.xml", XML_DOC) == []
    assert len(runner.push_snapshot("dataset/data2.xml", XML_DOC)) == 1
    # non-trigger source updates alone: blocked on the trigger source
    assert runner.push_snapshot("dataset/data2.xml", XML_DOC_V2) == []
    # fresh trigger snapshot: runs with the latest non-trigger data
    ran = runner.push_snapshot("dataset/data.xml", XML_DOC_V2)
    assert len(ran) == 1
    got = labels(ran[0])
    assert (EX + "001", "some new data") in got


def test_streaming_session_stats_matches_batch(spark, tmp_path):
    """session_stats_builtin's docstring claim — 'with withWatermark it
    runs unchanged on a stream' — verified: the same rollup as a real
    streaming query (parquet source, memory sink, append mode after
    watermark expiry) equals the batch run on the same data."""
    from pyspark.sql import functions as F

    from rml_utils_processor_ts_spark.operators.corpus import session_stats_builtin

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(str(tmp_path / "sess_src"))

    batch = session_stats_builtin(events, gap_minutes=30)

    stream_src = (
        spark.readStream.schema(events.schema)
        .parquet(str(tmp_path / "sess_src"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    stream_agg = session_stats_builtin(stream_src, gap_minutes=30)
    q = (
        stream_agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM t_sessions")

    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    # append mode only emits sessions the watermark has closed; all
    # emitted sessions must match their batch twins exactly, and the
    # bounded input must close (nearly) all of them
    assert s and s <= b
    assert len(s) >= 0.9 * len(b)


def test_data_arrives_before_mapping(spark):
    """≙ rml.test.ts:515-574 — the source snapshot is pushed BEFORE the
    mapping document; registering the mapping must drain the buffered
    snapshot and execute (previously the data sat buffered until a
    further push)."""
    runner = SnapshotRunner(spark)
    assert runner.push_snapshot("dataset/data.xml", XML_DOC) == []
    assert runner.results == []
    runner.add_mapping(RML_BASIC.format(source="dataset/data.xml"))
    assert len(runner.results) == 1
    assert (EX + "001", "some data") in labels(runner.results[0])


def test_streaming_exact_dedup(spark, tmp_path):
    """Watermark-bounded streaming dedup: duplicate content hashes
    across micro-batches collapse to first arrival; the BATCH view of
    the same files is the value oracle; state stays bounded (the whole
    point vs a naive stream dropDuplicates)."""
    import os

    from rml_utils_processor_ts_spark.streaming.dedup import (
        content_keyed,
        streaming_exact_dedup,
    )

    src = tmp_path / "docs_src"
    os.makedirs(src)
    schema = "doc_id long, text string, ts timestamp"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    from datetime import datetime

    t = datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t.replace(second=s)

    # duplicates within and ACROSS micro-batches
    write_batch([(1, "alpha", ts(0)), (2, "beta", ts(1)), (3, "alpha", ts(2))])

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))
    q = (
        streaming_exact_dedup(content_keyed(stream), ts_col="ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([(4, "alpha", ts(3)), (5, "gamma", ts(4))])
        q.processAllAvailable()
        got = {r["text"] for r in spark.sql("SELECT * FROM dedup_stream").collect()}
        n_stream = spark.sql("SELECT count(*) AS n FROM dedup_stream").collect()[0]["n"]
    finally:
        q.stop()

    batch = streaming_exact_dedup(content_keyed(spark.read.parquet(str(src))), ts_col="ts")
    assert got == {"alpha", "beta", "gamma"}
    assert n_stream == 3 == batch.count()
    assert {r["text"] for r in batch.collect()} == got


def test_kafka_records_stage_checkpoint_recovery(spark, tmp_path):
    """The Kafka value->records stage under a REAL micro-batch query with
    checkpoint recovery (r5 VERDICT #4): Kafka-shaped rows (binary value
    + topic/partition/offset) arrive through a file stream, run through
    kafka_records_df, and sink to parquet with a checkpoint. The query
    is stopped mid-stream (simulated kill), more messages arrive, and a
    NEW query resumes from the checkpoint. Exactly-once contract: the
    resumed run's total output equals an uninterrupted batch run over
    all messages — no drops, no duplicates across the restart."""
    import json
    import os

    from rml_utils_processor_ts_spark.plans.model import LogicalSource
    from rml_utils_processor_ts_spark.sources.registry import (
        kafka_records_df,
        ref_column_name,
    )

    src = tmp_path / "kafka_src"
    os.makedirs(src)
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    schema = "value binary, topic string, partition int, offset long"

    def msg(offset, records):
        body = json.dumps({"records": records}).encode()
        return (bytearray(body), "pages", 0, offset)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    write_batch([msg(0, [{"id": "a", "v": "1"}, {"id": "b", "v": "2"}])])
    write_batch([msg(1, [{"id": "c", "v": "3"}])])

    ls = LogicalSource(source="kafka://broker/pages", kind="kafka", iterator="$.records[*]")
    refs = ["id", "v"]

    def records(df):
        return kafka_records_df(df, ls, refs, passthrough=["offset"])

    def start_query():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))
        return (
            records(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # simulated kill after the first two files
    interim = spark.read.parquet(out).count()
    assert interim == 3

    write_batch([msg(2, [{"id": "d", "v": "4"}, {"id": "e", "v": "5"}])])
    q = start_query()  # resume from the checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cols = [ref_column_name("id"), ref_column_name("v"), "offset"]
    got = sorted(tuple(r[c] for c in cols) for r in spark.read.parquet(out).collect())
    oracle = sorted(
        tuple(r[c] for c in cols)
        for r in records(spark.read.parquet(str(src))).collect()
    )
    assert got == oracle and len(got) == 5


_CSV_SRC = """
ex:src a rml:LogicalSource ; rml:source "d.csv" ; rml:referenceFormulation ql:CSV .
"""

_PLAIN_CSV = _CSV_SRC + """
ex:plain a rr:TriplesMap ;
  rml:logicalSource ex:src ;
  rr:subjectMap [ rr:template "http://ex.org/p/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:label ; rr:objectMap [ rml:reference "name" ] ] .
"""

_NAMED_CSV = _PLAIN_CSV.replace("ex:plain", "ex:named").replace("ex:label", "ex:name")

_TYPED_CSV = _PLAIN_CSV.replace("rr:template", "rr:class ex:Other ; rr:template")

_LDES_XML = """
ex:versioned a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.xml" ; rml:iterator "//data" ; rml:referenceFormulation ql:XPath ] ;
  rr:subjectMap [ rr:template "http://ex.org/v/{@id}" ;
      rml:logicalTarget [ a rmlt:EventStreamTarget ;
          rmlt:ldesBaseIRI <http://ex.org/stream> ;
          rmlt:ldesGenerateImmutableIRI "true"^^xsd:boolean ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rml:reference "@label" ] ] .
"""


def _quads(*results):
    # without the target id: an LDES target's id is a blank-node label,
    # fresh per parse
    return {tuple(r)[:-1] for res in results for r in res.triples.collect()}


def test_runner_compiles_afresh_for_a_new_mapping(spark):
    """A runner keeps compiled Columns per registered mapping: a second
    mapping compiles its own, and a mapping that differs from a
    registered one only in rr:class runs beside it. Every push equals
    execute_mapping on the same input."""
    from rml_utils_processor_ts_spark.operators.executor import execute_mapping

    def expected(csv, *mappings):
        return _quads(*[execute_mapping(spark, m, {"d.csv": "inline:" + csv}) for m in mappings])

    v1, v2 = "id,name\n1,a\n2,b\n", "id,name\n1,a\n2,c\n"
    runner = SnapshotRunner(spark)
    runner.add_mapping(_PLAIN_CSV)
    (got,) = runner.push_snapshot("d.csv", v1)
    assert _quads(got) == expected(v1, _PLAIN_CSV)
    runner.add_mapping(_NAMED_CSV)
    (got,) = runner.push_snapshot("d.csv", v2)
    assert _quads(got) == expected(v2, _PLAIN_CSV, _NAMED_CSV)
    runner.add_mapping(_TYPED_CSV)
    (got,) = runner.push_snapshot("d.csv", v1)
    assert _quads(got) == expected(v1, _PLAIN_CSV, _NAMED_CSV, _TYPED_CSV)
    assert ("http://ex.org/p/1", "IRI", voc.RDF_TYPE, EX + "Other") in {q[:4] for q in _quads(got)}


def test_runner_registers_each_mapping_text_once(spark):
    """The registry is keyed by the mapping text: two mappings that
    differ only in rr:class both execute, and the same text registered
    again executes once."""
    runner = SnapshotRunner(spark)
    plain = runner.add_mapping(_PLAIN_CSV)
    typed = runner.add_mapping(_TYPED_CSV)
    assert plain != typed
    assert runner.add_mapping(_PLAIN_CSV) == plain
    assert sorted(runner.plans) == sorted([plain, typed])
    (got,) = runner.push_snapshot("d.csv", "id,name\n1,a\n2,b\n")
    counts = Counter(tuple(r)[:4] for r in got.triples.collect())
    for i, name in (("1", "a"), ("2", "b")):
        s = "http://ex.org/p/" + i
        # the label from each of the two mappings, the class from the typed one
        assert counts[(s, "IRI", EX + "label", name)] == 2
        assert counts[(s, "IRI", voc.RDF_TYPE, EX + "Other")] == 1
    assert sum(counts.values()) == 6


def test_microbatch_compiles_afresh_for_other_record_columns(spark):
    """A batch frame that brings a warc_ts column gives its records one
    more column, so the runner compiles afresh and takes the LDES
    version timestamps from it; the batches without one take the
    default. Each batch equals a fresh runner's output."""
    import datetime

    from rml_utils_processor_ts_spark.streaming.microbatch import MicroBatchMappingRunner

    doc = '<r><data id="1" label="a"/><data id="2" label="b"/></r>'
    plain = spark.createDataFrame([(doc,)], "doc string")
    stamped = spark.createDataFrame([(doc, datetime.datetime(2024, 2, 1, 10))], "doc string, warc_ts timestamp")
    runner = MicroBatchMappingRunner(spark, _LDES_XML)
    subjects = []
    for batch_id, frame in enumerate((plain, stamped, plain)):
        got = runner.process_batch(frame, batch_id)
        assert _quads(got) == _quads(MicroBatchMappingRunner(spark, _LDES_XML).process_batch(frame, 0))
        subjects.append({q[0] for q in _quads(got)})
    assert "http://ex.org/v/2#1970-01-01T00:00:00Z" in subjects[0] & subjects[2]
    assert "http://ex.org/v/2#2024-02-01T10:00:00Z" in subjects[1]
