"""Session build (`get_spark`): scratch-dir choice, and no jobs run
while the session is built."""

import os

from test_tools import PACKAGE_ENV_KNOBS

from rml_utils_processor_ts_spark import get_spark


def test_spark_local_dirs_env_skips_shm_dir(spark, monkeypatch, tmp_path):
    """Spark ignores spark.local.dir when SPARK_LOCAL_DIRS is set, so
    get_spark() must not create the tmpfs scratch directory then."""
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    made: list[str] = []
    real = os.makedirs

    def spy(path, *args, **kwargs):
        made.append(str(path))
        return real(path, *args, **kwargs)

    monkeypatch.setattr(os, "makedirs", spy)
    assert get_spark("rml_spark_tests") is spark
    assert not any("spark-local" in p for p in made), made


def test_get_spark_starts_no_jobs(spark, monkeypatch):
    """get_spark() only builds the session: with every environment
    variable outside the package's knobs cleared and every ``spark.rml.*``
    session flag unset, fetching the session starts no Spark job."""
    for name in list(os.environ):
        if name.startswith("RML_") and name not in PACKAGE_ENV_KNOBS:
            monkeypatch.delenv(name)
    for key in spark.conf.getAll:
        if key.startswith("spark.rml."):
            spark.conf.unset(key)
    sc = spark.sparkContext
    group = "get_spark_starts_no_jobs"
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup(group, group)
    try:
        assert get_spark("rml_spark_tests") is spark
        bus.waitUntilEmpty(30_000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(1).count()
        bus.waitUntilEmpty(30_000)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_dataframe_debugging_is_off(spark):
    """PySpark's per-call origin capture costs gateway round trips on
    every DataFrame and Column call; the session turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_reference_still_names_the_column(spark):
    """With the origin capture off, a mapping that references a column
    its source lacks still fails loudly, naming the reference."""
    import pytest

    from rml_utils_processor_ts_spark.operators.executor import _resolver, execute_mapping

    with pytest.raises(ValueError, match="'nmae'.*missing column"):
        _resolver({"id"})("nmae")
    mapping = """
ex:m a rr:TriplesMap ;
  rml:logicalSource [ rml:source "d.csv" ; rml:referenceFormulation ql:CSV ] ;
  rr:subjectMap [ rr:template "http://ex.org/{id}" ] ;
  rr:predicateObjectMap [ rr:predicate ex:name ; rr:objectMap [ rml:reference "nmae" ] ] .
"""
    with pytest.raises(ValueError, match="'nmae'"):
        execute_mapping(spark, mapping, {"d.csv": "inline:id,name\n1,a\n"})
