"""Fallbacks are logged, not swallowed: each fallback of the encode
sizing (input listing, sample read, footer count) and the encoder's
stale codec choice emits exactly one log record when it fires, and a
sizing fallback gives the same answer through Spark."""

from __future__ import annotations

import logging

import pyarrow as pa
import pytest
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from boltspark.engine import partitioner
from boltspark.engine.encode import _make_encoder


def _records(caplog, logger):
    return [r.getMessage() for r in caplog.records if r.name == logger]


def _sized_logging(caplog, df):
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=partitioner.log.name):
        sized = partitioner.input_size(df, ["s"])[0]
    return sized, _records(caplog, partitioner.log.name)


@pytest.fixture
def files(spark, tmp_path):
    """A plain local parquet scan of 3 files of 100 short strings."""
    spark.range(300, numPartitions=3).select(
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("s")
    ).write.parquet(str(tmp_path / "src"))
    return spark.read.parquet(str(tmp_path / "src"))


def test_unlistable_input_logs_once(caplog, monkeypatch, files):
    exact, msgs = _sized_logging(caplog, files)
    assert msgs == []

    def unlistable(self):
        raise Py4JError("listing failed")

    monkeypatch.setattr(type(files), "inputFiles", unlistable)
    sized, msgs = _sized_logging(caplog, files)
    assert len(msgs) == 1 and "not listable" in msgs[0], msgs
    assert sized == exact


@pytest.mark.parametrize("reader", ["ParquetFile", "read_metadata"])
def test_unreadable_slice_or_footer_logs_once(caplog, monkeypatch, files,
                                              reader):
    """An input file pyarrow cannot read (its slice, or its footer for
    the row count) gives one warning, the Spark path and the same
    answer."""
    exact, _ = _sized_logging(caplog, files)

    def unreadable(*a, **kw):
        raise OSError("unreadable")

    monkeypatch.setattr(partitioner.pq, reader, unreadable)
    sized, msgs = _sized_logging(caplog, files)
    assert len(msgs) == 1 and "footer or slice unreadable" in msgs[0], msgs
    assert sized == exact


def test_stale_codec_choice_logs_once(caplog):
    """A partition whose later blocks break the cached codec (bitpack
    meets negatives) falls back to plain once, with one record."""
    n = 4000
    batch = pa.record_batch({
        partitioner.PART_COL: pa.array([0] * n, pa.int64()),
        "x": pa.array(list(range(n // 2)) + [-5] * (n // 2), pa.int64())})
    enc = _make_encoder(["x"], "r", 4096, None,
                        codec_override={"x": "bitpack"})
    logger = "boltspark.engine.encode"
    with caplog.at_level(logging.INFO, logger=logger):
        out = list(enc([batch]))
    codecs = [b.column("cols").field("x").field("codec")[0].as_py()
              for b in out]
    assert codecs[0] == "bitpack" and codecs[-1] == "plain", codecs
    assert codecs.count("bitpack") < len(codecs) - 1
    msgs = _records(caplog, logger)
    assert len(msgs) == 1 and "'bitpack'" in msgs[0], msgs
