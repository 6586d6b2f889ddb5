"""Port of the reference's seeded-random round-trip property test
(TestFixedLengthInputFormat.java, SURVEY.md §5):

  * fixture generators write synthetic fixed-width files whose records
    carry '!' sentinels at both ends (TEST:108-112);
  * randomized trials over TOTAL_RECORDS / RECORD_LENGTH with forced edge
    cases (record length 1 — TEST:207-209; partition size < record
    length — TEST:235-237);
  * invariants per trial (TEST:302-326): value length == record length,
    sentinels intact at both ends (no partial/shifted records across
    split boundaries), keys are file-global offsets / correct slices,
    record count == generated count, partition sizes sum to file size.
"""

from __future__ import annotations

import os
import random
import string

import pytest

from hadoop_fixedlengthinputformat_spark.sources import fixedlen
from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
    FixedLenPartition,
    _Options,
    _plan_file,
)

# TEST:70 alphabet (shrunk to printable ASCII, same spirit)
ALPHABET = (string.ascii_letters + string.digits + " )(*&^%$#@-=><?:{}][;/.,").encode()


def _write_sentinel_file(tmp_path, rng, n_records: int, rec_len: int) -> tuple[str, list[bytes]]:
    records = []
    for _ in range(n_records):
        if rec_len == 1:
            rec = b"!"
        elif rec_len == 2:
            rec = b"!!"
        else:
            body = bytes(rng.choices(ALPHABET, k=rec_len - 2))
            rec = b"!" + body + b"!"
        records.append(rec)
    path = os.path.join(tmp_path, f"prop_{n_records}x{rec_len}.bin")
    with open(path, "wb") as f:
        f.write(b"".join(records))
    return path, records


def _read_all(spark, path: str, rec_len: int, max_partition_bytes: int):
    fixedlen.register(spark)
    return (
        spark.read.format("fixedlen")
        .option("recordLength", str(rec_len))
        .option("maxPartitionBytes", str(max_partition_bytes))
        .load(path)
    )


SEED = 20260813


@pytest.mark.parametrize("trial", range(12))
def test_roundtrip_default_key(spark, tmp_path, trial):
    rng = random.Random(SEED + trial)
    n_records = rng.randint(1, 400)
    rec_len = 1 if trial == 10 else rng.randint(1, 4096)
    if trial == 11:
        # force partition size < record length (TEST:235-237) — the
        # min-one-record bump (FLIF:283-285) must kick in
        max_pb = max(1, rec_len // 2)
    else:
        max_pb = rng.randint(rec_len, max(rec_len, n_records * rec_len))
    path, records = _write_sentinel_file(str(tmp_path), rng, n_records, rec_len)

    df = _read_all(spark, path, rec_len, max_pb)
    rows = df.orderBy("record_offset").collect()

    # record count == generated count (TEST:323-324)
    assert len(rows) == n_records
    for i, row in enumerate(rows):
        val = bytes(row.value)
        # value length == record length (TEST:302)
        assert len(val) == rec_len
        # sentinels at both ends — no partial/shifted records (TEST:304-305)
        assert val[:1] == b"!" and val[-1:] == b"!"
        # key == file-global byte offset (TEST:307-313)
        assert row.record_offset == i * rec_len
        assert val == records[i]

    # partition plan covers the file exactly (TEST:323-326)
    opts = _Options(rec_len, None, None, True, "fail", max_pb)
    parts = _plan_file(path, opts)
    assert sum(p.end - p.start for p in parts) == os.path.getsize(path)
    for p in parts:
        assert p.start % rec_len == 0 and p.end % rec_len == 0


@pytest.mark.parametrize("trial", range(6))
def test_roundtrip_slice_key(spark, tmp_path, trial):
    """Custom slice keys (TEST:142-181): record_key == bytes[start..end]."""
    rng = random.Random(SEED * 2 + trial)
    n_records = rng.randint(1, 200)
    rec_len = rng.randint(4, 512)
    start = rng.randint(0, rec_len // 2)
    end = rng.randint(start, rec_len - 1)
    path, records = _write_sentinel_file(str(tmp_path), rng, n_records, rec_len)

    fixedlen.register(spark)
    df = (
        spark.read.format("fixedlen")
        .option("recordLength", str(rec_len))
        .option("keyStartAt", str(start))
        .option("keyEndAt", str(end))
        .option("maxPartitionBytes", str(rng.randint(rec_len, 64 * 1024)))
        .load(path)
    )
    rows = df.orderBy("record_offset").collect()
    assert len(rows) == n_records
    for i, row in enumerate(rows):
        assert bytes(row.record_key) == records[i][start : end + 1]


def test_partition_plan_min_one_record(tmp_path):
    """One 1 MiB record with 64 KiB target -> single partition
    (FLIF:283-285 min-bump)."""
    rec_len = 1024 * 1024
    path = os.path.join(str(tmp_path), "big.bin")
    with open(path, "wb") as f:
        f.write(b"!" + b"x" * (rec_len - 2) + b"!")
    opts = _Options(rec_len, None, None, True, "fail", 64 * 1024)
    parts = _plan_file(path, opts)
    assert len(parts) == 1
    assert (parts[0].start, parts[0].end) == (0, rec_len)


def test_short_read_loop_handles_dribble(tmp_path):
    """P5: _read_aligned must tolerate readinto filling fewer bytes than
    asked (object-store streams)."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import _read_aligned

    class Dribble:
        def __init__(self, data: bytes):
            self.data = data
            self.pos = 0

        def seek(self, pos):
            self.pos = pos

        def readinto(self, buf):
            take = min(3, len(buf), len(self.data) - self.pos)  # at most 3 bytes
            buf[:take] = self.data[self.pos : self.pos + take]
            self.pos += take
            return take

    data = bytes(range(100)) * 10  # 1000 bytes
    chunks = list(_read_aligned(Dribble(data), 0, 1000, 7, 10))
    assert b"".join(chunks) == data
    assert all(len(c) % 10 == 0 for c in chunks)
