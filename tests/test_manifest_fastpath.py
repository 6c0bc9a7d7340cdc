"""The driver-side manifest fast path must fail closed: it reads the
manifest with pyarrow only when the path provably lives on the local
filesystem, and a local read error falls back to Spark with one logged
reason instead of being swallowed."""

from __future__ import annotations

import logging

from pyspark.sql import functions as F

from boltspark.engine import encode_table, manifest


class _NoJvmContext:
    @property
    def _jsc(self):
        raise RuntimeError("no JVM gateway in this session")


class _NoJvmSession:
    """Stands in for a session without a reachable Hadoop conf (Spark
    Connect has no ``sparkContext._jsc``)."""

    sparkContext = _NoJvmContext()


def test_unreachable_hadoop_conf_is_not_local(tmp_path):
    fake = _NoJvmSession()
    assert manifest._default_fs_is_local(fake) is False
    assert manifest._local_dir(str(tmp_path), fake) is None
    # an explicit file: URI needs no default-FS lookup
    assert manifest._local_dir(f"file://{tmp_path}", fake) == str(tmp_path)


def test_unreadable_local_manifest_file_logs_and_falls_back(
        spark, tmp_path, caplog):
    b, m = str(tmp_path / "b"), str(tmp_path / "m")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 3).alias("v"))
    encode_table(df, b, m, key_cols=("k",), n_parts=2, resume=False,
                 run_id="r1")
    before = manifest.table_meta(spark, m)
    # an in-flight copy: Spark's file listing skips '._COPYING_' names,
    # pyarrow's dataset discovery does not and cannot parse it
    (tmp_path / "m" / "part-99999.parquet._COPYING_").write_bytes(b"junk")
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=manifest.__name__):
        after = manifest.table_meta(spark, m)
    assert after == before
    records = [r for r in caplog.records if r.name == manifest.__name__]
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert "falling back to a Spark read" in records[0].getMessage()
