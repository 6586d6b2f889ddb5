"""Seeded benchmark inputs, cached per (kind, seed, size) under the work dir.

The fixed-width files are written here by a vectorized numpy writer, not
by the package's ``layout.encode_rows``: the scan checks compare what the
package decodes against what this module wrote, so an encoder bug cannot
hide a decoder bug.  Parquet for the analytics mix comes from running
``tests/gen_testdata.py``, unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixture_gen.LAYOUTS["lineitem"]: 110-byte records, 11 fields
LINEITEM_RL = 110
LINEITEM_LAYOUT = (
    "l_orderkey:0:12:long,l_partkey:12:10:long,l_suppkey:22:8:long,"
    "l_linenumber:30:2:int,l_quantity:32:12:double(2),"
    "l_extendedprice:44:12:double(2),l_discount:56:12:double(4),"
    "l_tax:68:12:double(4),l_returnflag:80:1:string,l_linestatus:81:1:string,"
    "l_shipdate:82:10:date"
)
NARROW_COLUMNS = "l_orderkey,l_quantity"

# write_select table: 64-byte records; ``ts`` ascends with the row id so
# the stats sidecar's per-block min/max are tight
EVENTS_RL = 64
EVENTS_LAYOUT = (
    "ev_id:0:10:long,ts:10:12:long,user_id:22:8:int,"
    "amount:30:12:double(2),kind:42:10:string,day:52:10:date"
)
EVENT_KINDS = np.array([b"click", b"view", b"purchase", b"login", b"error"])

_DAY0 = np.datetime64("1992-01-02", "D")


# "0000".."9999" as a (10000, 4) byte table: digits are written four at a
# time by one gather instead of one divide per digit
_DIGITS4 = (
    np.char.zfill(np.arange(10_000).astype("S4"), 4).view(np.uint8).reshape(-1, 4)
)


def _digits(mat: np.ndarray, col: int, values: np.ndarray, width: int) -> None:
    """Write non-negative integers as zero-padded decimal ASCII."""
    v = values.astype(np.int64)
    end = col + width
    while end > col:
        k = min(4, end - col)
        v, low = np.divmod(v, 10_000)
        mat[:, end - k : end] = _DIGITS4[low, 4 - k :]
        end -= k


def _fixed_point(mat, col, scaled, width, scale) -> None:
    """Write non-negative ``scaled / 10**scale`` as ``000123.45``-style text."""
    whole, frac = np.divmod(scaled.astype(np.int64), 10**scale)
    _digits(mat, col, whole, width - scale - 1)
    mat[:, col + width - scale - 1] = ord(".")
    _digits(mat, col + width - scale, frac, scale)


def _dates(mat, col, days) -> None:
    """Write day numbers (from ``_DAY0``) as ``YYYY-MM-DD``, via a table of
    the distinct dates."""
    span = np.arange(int(days.max()) + 1).astype("timedelta64[D]")
    text = np.datetime_as_string(_DAY0 + span).astype("S10")
    mat[:, col : col + 10] = text.view(np.uint8).reshape(-1, 10)[days]


def _chars(mat, col, values: np.ndarray, width: int) -> None:
    mat[:, col : col + width] = (
        values.astype(f"S{width}").view(np.uint8).reshape(-1, width)
    )
    # astype pads with NUL; the fixed-width convention pads with spaces
    blk = mat[:, col : col + width]
    blk[blk == 0] = ord(" ")


def lineitem_columns(seed: int, rows: int) -> dict[str, np.ndarray]:
    """TPC-H-shaped lineitem columns, ordered by ``l_orderkey``."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, rows // 2 + 8)  # mean 4 lines: enough orders
    orderkey = np.repeat(np.arange(1, len(lines) + 1), lines)[:rows]
    starts = np.r_[0, np.cumsum(lines)[:-1]]
    linenumber = (np.arange(rows) - np.repeat(starts, lines)[:rows] + 1)
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(1, 200_001, rows),
        "l_suppkey": rng.integers(1, 10_001, rows),
        "l_linenumber": linenumber.astype(np.int32),
        "qty_cents": rng.integers(1, 51, rows) * 100,
        "price_cents": rng.integers(90_000, 10_500_000, rows),
        "disc_bp": rng.integers(0, 1_001, rows),  # 1/10000 units
        "tax_bp": rng.integers(0, 801, rows),
        "l_returnflag": np.array([b"R", b"A", b"N"])[rng.integers(0, 3, rows)],
        "l_linestatus": np.array([b"O", b"F"])[rng.integers(0, 2, rows)],
        "ship_day": rng.integers(0, 2526, rows),
    }


def lineitem_records(c: dict[str, np.ndarray]) -> np.ndarray:
    n = len(c["l_orderkey"])
    mat = np.full((n, LINEITEM_RL), ord(" "), dtype=np.uint8)
    _digits(mat, 0, c["l_orderkey"], 12)
    _digits(mat, 12, c["l_partkey"], 10)
    _digits(mat, 22, c["l_suppkey"], 8)
    _digits(mat, 30, c["l_linenumber"], 2)
    _fixed_point(mat, 32, c["qty_cents"], 12, 2)
    _fixed_point(mat, 44, c["price_cents"], 12, 2)
    _fixed_point(mat, 56, c["disc_bp"], 12, 4)
    _fixed_point(mat, 68, c["tax_bp"], 12, 4)
    _chars(mat, 80, c["l_returnflag"], 1)
    _chars(mat, 81, c["l_linestatus"], 1)
    _dates(mat, 82, c["ship_day"])
    return mat


def lineitem_table(c: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "l_orderkey": c["l_orderkey"],
        "l_partkey": c["l_partkey"],
        "l_suppkey": c["l_suppkey"],
        "l_linenumber": c["l_linenumber"],
        "l_quantity": c["qty_cents"] / 100.0,
        "l_extendedprice": c["price_cents"] / 100.0,
        "l_discount": c["disc_bp"] / 10_000.0,
        "l_tax": c["tax_bp"] / 10_000.0,
        "l_returnflag": c["l_returnflag"].astype(str),
        "l_linestatus": c["l_linestatus"].astype(str),
        "l_shipdate": pa.array(_DAY0 + c["ship_day"].astype("timedelta64[D]")),
    })


def events_columns(seed: int, rows: int) -> dict[str, np.ndarray]:
    """Events table for write_select: ``ev_id`` 0..rows-1, ``ts`` strictly
    ascending with it, everything else random."""
    rng = np.random.default_rng(seed + 7_919)
    return {
        "ev_id": np.arange(rows, dtype=np.int64),
        "ts": 100_000_000_000 + np.cumsum(rng.integers(1, 1_000, rows)),
        "user_id": rng.integers(0, 50_000, rows).astype(np.int32),
        "amount_cents": rng.integers(0, 10_000_000, rows),
        "kind": EVENT_KINDS[rng.integers(0, len(EVENT_KINDS), rows)],
        "day": rng.integers(0, 2526, rows),
    }


def events_records(c: dict[str, np.ndarray]) -> np.ndarray:
    n = len(c["ev_id"])
    mat = np.full((n, EVENTS_RL), ord(" "), dtype=np.uint8)
    _digits(mat, 0, c["ev_id"], 10)
    _digits(mat, 10, c["ts"], 12)
    _digits(mat, 22, c["user_id"], 8)
    _fixed_point(mat, 30, c["amount_cents"], 12, 2)
    _chars(mat, 42, c["kind"], 10)
    _dates(mat, 52, c["day"])
    return mat


def events_table(c: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "ev_id": c["ev_id"],
        "ts": c["ts"],
        "user_id": c["user_id"],
        "amount": c["amount_cents"] / 100.0,
        "kind": c["kind"].astype(str),
        "day": pa.array(_DAY0 + c["day"].astype("timedelta64[D]")),
    })


def _write_records(path: str, mat: np.ndarray) -> None:
    with open(path, "wb") as f:
        f.write(mat.tobytes())


# inputs kept across runs, least recently used going first; ten scan_full
# seeds (305 MB each) fit, so a second set of runs on them generates nothing
CACHE_BYTES = 4 * 10**9


def _size(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _evict(root: str, keep: str) -> None:
    """Delete least recently used entries until the cache fits."""
    entries = [os.path.join(root, e) for e in os.listdir(root)]
    entries = sorted((e for e in entries if e != keep and ".tmp" not in e),
                     key=os.path.getmtime)
    total = sum(_size(e) for e in entries) + _size(keep)
    for e in entries:
        if total <= CACHE_BYTES:
            break
        total -= _size(e)
        shutil.rmtree(e, ignore_errors=True)


def _cached(root: str, key: str, build) -> tuple[str, dict]:
    """Build ``root/key`` once (atomically, via a tmp dir) and return it
    with its ``meta.json``."""
    out = os.path.join(root, key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        # flush the new files now, so their write-back does not land in
        # the timed loop
        os.sync()
    os.utime(out)
    _evict(root, out)
    with open(meta_path) as f:
        return out, json.load(f)


def scan_input(root: str, seed: int, rows: int) -> tuple[str, dict]:
    """lineitem as fixed-width (``lineitem.fixed``) plus its parquet twin."""

    def build(d: str) -> dict:
        c = lineitem_columns(seed, rows)
        _write_records(os.path.join(d, "lineitem.fixed"), lineitem_records(c))
        pq.write_table(lineitem_table(c), os.path.join(d, "lineitem.parquet"))
        return {"rows": rows, "fixed_bytes": rows * LINEITEM_RL}

    return _cached(root, f"scan-s{seed}-r{rows}", build)


def select_input(root: str, seed: int, rows: int, n_points: int,
                 n_ranges: int, range_width: int) -> tuple[str, dict]:
    """write_select inputs: the events table as parquet (the write op's
    source), the same rows as a fixed-width file sorted by ``ev_id`` (the
    point-lookup target), and the predicates with their expected counts."""

    def build(d: str) -> dict:
        c = events_columns(seed, rows)
        pq.write_table(events_table(c), os.path.join(d, "events.parquet"),
                       row_group_size=max(1, rows // 8))
        _write_records(os.path.join(d, "events_sorted.fixed"), events_records(c))
        rng = np.random.default_rng(seed + 104_729)
        points = [int(v) for v in rng.integers(0, rows, n_points)]
        ranges = []
        for lo_i in rng.integers(0, rows - range_width, n_ranges):
            lo, hi = int(c["ts"][lo_i]), int(c["ts"][lo_i + range_width - 1])
            # ts is strictly ascending, so [lo, hi] holds exactly
            # range_width rows; the amount sum checks the values too
            mask = (c["ts"] >= lo) & (c["ts"] <= hi)
            ranges.append({
                "lo": lo, "hi": hi, "count": int(mask.sum()),
                "amount_cents": int(c["amount_cents"][mask].sum()),
            })
        return {
            "rows": rows,
            "payload_bytes": rows * EVENTS_RL,
            "points": points,
            "point_user_ids": [int(c["user_id"][p]) for p in points],
            "ranges": ranges,
            "checksum": {
                "rows": rows,
                "sum_ts": int(c["ts"].sum()),
                "sum_amount_cents": int(c["amount_cents"].sum()),
            },
        }

    return _cached(root, f"select-s{seed}-r{rows}-p{n_points}-q{n_ranges}"
                         f"-w{range_width}", build)


def mix_input(root: str, repo: str, seed: int, scale: int) -> tuple[str, dict]:
    """Parquet tables from ``tests/gen_testdata.py <dir> <seed> --scale N``."""

    def build(d: str) -> dict:
        subprocess.run(
            [sys.executable, os.path.join(repo, "tests", "gen_testdata.py"),
             d, str(seed), "--scale", str(scale)],
            check=True, stdout=subprocess.DEVNULL,
        )
        tables = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                tables[fn[: -len(".parquet")]] = {
                    "rows": pq.ParquetFile(p).metadata.num_rows,
                    "bytes": os.path.getsize(p),
                }
        return {"scale": scale, "tables": tables}

    return _cached(root, f"mix-s{seed}-x{scale}", build)
