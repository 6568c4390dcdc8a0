"""The sizing policy (mysql2psql_spark/sizing.py): row width, byte width
and its fallback."""

from __future__ import annotations

import os

from mysql2psql_spark.sizing import bytes_width, rows_width
from tests.conftest import SF_DIR


def test_rows_width_pins():
    assert rows_width(0) == 4
    assert rows_width(999_999) == 4
    assert rows_width(1_000_000) == 5
    assert rows_width(2_000_000_000) == 1024


def _on_disk_bytes(path: str) -> int:
    if not os.path.isdir(path):
        return os.path.getsize(path)
    total = 0
    for e in os.scandir(path):
        if e.is_dir():
            total += sum(f.stat().st_size for f in os.scandir(e.path))
        else:
            total += e.stat().st_size
    return total


def test_bytes_width_matches_documents_widths(spark, tmp_path):
    width = spark.sparkContext.defaultParallelism
    path = f"{SF_DIR}/documents.parquet"
    nbytes = _on_disk_bytes(os.path.realpath(path))
    # minhash doc tables: 256 KiB of corpus per slot, at least 2
    doc = int(max(2, min(width, -(-nbytes // (256 << 10)))))
    # BPE vocab frames: 4 MiB of corpus per slot, at least 1
    bpe = int(max(1, min(width, -(-nbytes // (4 << 20)))))
    assert bytes_width(spark, path, 256 << 10, 2) == doc
    assert bytes_width(spark, path, 4 << 20, 1) == bpe

    # the clamp: 3 slots and one byte round up to 4, capped at the cluster
    big = tmp_path / "big.bin"
    big.write_bytes(b"\0" * (3 * (256 << 10) + 1))
    assert bytes_width(spark, str(big), 256 << 10, 2) == max(2, min(width, 4))


def test_bytes_width_falls_back_to_default_parallelism(spark, tmp_path):
    missing = str(tmp_path / "absent.parquet")
    assert bytes_width(spark, missing, 256 << 10, 2) == spark.sparkContext.defaultParallelism
