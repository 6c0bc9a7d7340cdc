"""Fallbacks are logged, not swallowed: each fallback of the encode
sizing (input listing, sample read, footer count) and the encoder's
stale codec choice emits exactly one log record when it fires."""

from __future__ import annotations

import logging

import pyarrow as pa
from py4j.protocol import Py4JError

from boltspark.engine import partitioner
from boltspark.engine.encode import _make_encoder


class _Source:
    """The DataFrame surface ``bytes_below`` touches."""

    def __init__(self, files=None):
        self.files = files

    def inputFiles(self):
        if self.files is None:
            raise Py4JError("listing failed")
        return self.files

    def limit(self, n):
        return self

    def count(self):
        return 0


HEAD = [("x" * 10,)] * 4


def _records(caplog, logger):
    return [r.getMessage() for r in caplog.records if r.name == logger]


def test_unlistable_input_logs_once(caplog):
    with caplog.at_level(logging.INFO, logger=partitioner.log.name):
        assert partitioner.bytes_below(_Source(), ["s"], 100, HEAD, 4)
    msgs = _records(caplog, partitioner.log.name)
    assert len(msgs) == 1 and "not listable" in msgs[0], msgs


def test_unreadable_input_file_logs_once_per_fallback(caplog, tmp_path):
    bad = tmp_path / "part-0.parquet"
    bad.write_bytes(b"not parquet")
    with caplog.at_level(logging.INFO, logger=partitioner.log.name):
        assert partitioner._per_row_bytes_from_files(
            [str(bad)], ["s"], 64) is None
    msgs = _records(caplog, partitioner.log.name)
    assert len(msgs) == 1 and "sample unreadable" in msgs[0], msgs
    caplog.clear()
    # bytes_below hits both: the sample read, then the footer count
    with caplog.at_level(logging.INFO, logger=partitioner.log.name):
        assert partitioner.bytes_below(_Source([str(bad)]), ["s"], 100,
                                       HEAD, 4)
    msgs = _records(caplog, partitioner.log.name)
    assert len(msgs) == 2, msgs
    assert sum("sample unreadable" in m for m in msgs) == 1
    assert sum("footer unreadable" in m for m in msgs) == 1


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
