"""Session build (`get_spark`): scratch-dir choice and warm-up failure
reporting."""

import logging
import os

import rml_utils_processor_ts_spark as pkg
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


def test_warmup_failure_logs_exception_class(spark, monkeypatch, caplog):
    """A failing warm-up step is reported with its exception class, and
    the session is still served."""

    def boom(spark, base):
        raise RuntimeError("warm-up step crashed")

    monkeypatch.setattr(pkg, "_warm_mapping_path", boom)
    monkeypatch.setenv("RML_SPARK_WARMUP", "1")
    warmed = spark.conf.get("spark.rml.warmed", "")
    spark.conf.unset("spark.rml.warmed")
    try:
        with caplog.at_level(logging.WARNING, logger=pkg.__name__):
            assert get_spark("rml_spark_tests") is spark
    finally:
        if warmed:
            spark.conf.set("spark.rml.warmed", warmed)
    assert "RuntimeError" in caplog.text and "warm-up failed" in caplog.text
    assert spark.conf.get("spark.rml.warmed", "") == warmed
