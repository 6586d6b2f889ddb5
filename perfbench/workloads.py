"""The benchmark's three workloads and the layer probes each one runs.

Every workload is a closed loop with one client: the next op starts when
the previous one has returned.  A workload supplies

* ``prepare()``: seeded inputs (untimed, excluded from set-up time);
* ``first_op()``: the first untimed op, which set-up time includes;
* ``check()``: answer checks that are not timed;
* ``warm_up()``: untimed loop steps, run before the timed loop;
* ``cycle(i)``: the ops of one loop step, each run through ``Bench.op``;
* ``end_to_end()``: the workload's main and side op timings, plus the
  workload-specific figures it prints by name;
* ``layers()``: per-layer numbers from the traced loop and in-process
  calls into the package's public functions.
"""

from __future__ import annotations

import os
import statistics
import time

import inputs

MIX_QUERIES = (
    # running-count windows
    "agg_percentile_exact", "agg_iqr_outliers", "agg_trimmed_mean",
    "agg_spearman",
    # iterative checkpoint rounds
    "graph_kcore_converged", "graph_pagerank",
    # LSH band join
    "llm_minhash_near_dedup",
    # shuffle joins
    "tpch_q5_local_supplier",
    # window as-of merge
    "join_asof",
)

# one lineitem field per decoded base type: (name, start, length, type)
DECODE_FIELDS = {
    "long": ("l_orderkey", 0, 12, "long"),
    "int": ("l_linenumber", 30, 2, "int"),
    "double": ("l_quantity", 32, 12, "double(2)"),
    "string": ("l_returnflag", 80, 1, "string"),
    "date": ("l_shipdate", 82, 10, "date"),
}
DECODE_PROBE_BYTES = 64 * 2**20
CHUNK_BYTES = 16 * 2**20
MB = 1e6


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))] if s else 0.0


def _options(**kv) -> "CaseInsensitiveDict":
    from pyspark.sql.datasource import CaseInsensitiveDict

    return CaseInsensitiveDict({k: str(v) for k, v in kv.items()})


def _reader(opts, filters=()):
    """``FixedLengthDataSource(opts).reader(schema)`` with ``filters``
    pushed, as Spark's planner drives it."""
    from hadoop_fixedlengthinputformat_spark.sources.fixedlen import (
        FixedLengthDataSource,
    )

    ds = FixedLengthDataSource(opts)
    reader = ds.reader(ds.schema())
    if filters:
        list(reader.pushFilters(list(filters)))
    return reader


def _planned_bytes(parts) -> int:
    return sum(p.end - p.start for p in parts if p.path)


class Workload:
    name = ""

    def __init__(self, bench):
        self.b = bench

    def min_cycles(self) -> int:
        return 1

    def warm_up(self) -> None:
        pass

    def _fixedlen(self, rl: int, layout: str, **extra):
        r = (
            self.b.spark.read.format("fixedlen")
            .option("recordLength", str(rl))
            .option("layout", layout)
            .option("includeOffset", "false")
        )
        for k, v in extra.items():
            r = r.option(k, str(v))
        return r

    def task_layers(self, kinds) -> dict:
        """task.* and handoff.* over the traced ops of ``kinds`` (medians
        are per op)."""
        reps = [r for k, _, r in self.b.reports if r and k in kinds]
        run = sum(r["run_s"] for r in reps)
        return {
            "task.count": _median([r["tasks"] for r in reps]),
            "task.run_core_s": _median([r["run_s"] for r in reps]),
            "task.cpu_ratio": sum(r["cpu_s"] for r in reps) / run if run else 0.0,
            "task.max_over_median": _median([r["max_over_median"] for r in reps]),
            "handoff.bytes_in": _median([r["py_bytes_in"] for r in reps]),
        }


class ScanFull(Workload):
    """Repeated scans of one lineitem fixed-width file to a ``noop`` sink,
    alternating the full 11-field layout and two ``columns``-pruned
    2-field scans."""

    name = "scan_full"
    ROWS, SMOKE_ROWS = 2_440_000, 20_000  # 268 MB; 2.2 MB

    def prepare(self) -> None:
        rows = self.SMOKE_ROWS if self.b.smoke else self.ROWS
        d, self.meta = inputs.scan_input(self.b.inputs, self.b.seed, rows)
        self.path = os.path.join(d, "lineitem.fixed")
        self.parquet = os.path.join(d, "lineitem.parquet")
        self.bytes = self.meta["fixed_bytes"]
        self.b.note(f"input lineitem.fixed rows={rows} bytes={self.bytes}")

    def _df(self, columns=None):
        extra = {"columns": columns} if columns else {}
        return self._fixedlen(
            inputs.LINEITEM_RL, inputs.LINEITEM_LAYOUT, **extra
        ).load(self.path)

    def first_op(self) -> None:
        """One checksum query over the full layout."""
        import pyspark.sql.functions as F

        df = self._df().agg(
            F.count(F.lit(1)), F.sum("l_orderkey"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")),
            F.min("l_shipdate"), F.max("l_shipdate"), F.count("l_shipdate"),
        )
        self.checksum = tuple(df.collect()[0])

    def check(self) -> None:
        import duckdb

        want = duckdb.connect().execute(
            "SELECT count(*), sum(l_orderkey)::BIGINT, "
            "sum(round(l_quantity * 100))::BIGINT, min(l_shipdate), "
            "max(l_shipdate), count(l_shipdate) FROM read_parquet(?)",
            [self.parquet],
        ).fetchone()
        self.b.verdict("scan checksum", tuple(want) == self.checksum,
                       f"spark={self.checksum} duckdb={tuple(want)}")

    def _scan(self, columns=None):
        t = self.b.tracer
        with t.span("df.load"):
            df = self._df(columns)
        with t.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    def cycle(self, i: int) -> None:
        self.b.op("scan_full", self._scan)
        # the pruned scan takes a quarter of the time of the full one and
        # its single runs spread wider: two per step give its median more
        # samples for little extra time
        for _ in range(2):
            self.b.op("scan_narrow", lambda: self._scan(inputs.NARROW_COLUMNS))

    def end_to_end(self) -> tuple[float, float]:
        full = _median(self.b.samples.get("scan_full", []))
        narrow = _median(self.b.samples.get("scan_narrow", []))
        n = len(self.b.samples.get("scan_full", []))
        self.b.note(f"scan_mb_per_s = {self.bytes / MB / full:.4f} MB/s "
                    f"(median of {n} full-layout scans)")
        self.b.note(f"scan_narrow_mb_per_s = {self.bytes / MB / narrow:.4f} "
                    f"MB/s (median of "
                    f"{len(self.b.samples.get('scan_narrow', []))} scans)")
        return full, narrow

    def layers(self) -> dict:
        from hadoop_fixedlengthinputformat_spark.sources.layout import (
            decode_chunk, parse_layout,
        )
        import pyarrow as pa

        t = self.b.tracer
        opts = _options(recordLength=inputs.LINEITEM_RL,
                        layout=inputs.LINEITEM_LAYOUT, includeOffset="false",
                        path=self.path)
        out = self.task_layers({"scan_full"})
        plan_s = []
        with t.op("probe.plan"):
            for _ in range(5):
                with t.span("plan"):
                    t0 = time.perf_counter()
                    reader = _reader(opts)
                    parts = reader.partitions()
                    plan_s.append(time.perf_counter() - t0)
        out["plan.s"] = _median(plan_s)
        out["plan.partitions"] = len(parts)
        out["plan.bytes_planned_ratio"] = _planned_bytes(parts) / self.bytes
        with t.op("probe.read"):
            t0 = time.perf_counter()
            for p in parts:
                with t.span("read"):
                    for _batch in reader.read(p):
                        pass
            out["read.core_s"] = time.perf_counter() - t0
        out["read.mb_per_s"] = self.bytes / MB / out["read.core_s"]
        with open(self.path, "rb") as f:
            data = f.read(DECODE_PROBE_BYTES - DECODE_PROBE_BYTES % inputs.LINEITEM_RL)
        step = CHUNK_BYTES - CHUNK_BYTES % inputs.LINEITEM_RL
        chunks = [data[i : i + step] for i in range(0, len(data), step)]
        for base, (name, start, length, ftype) in DECODE_FIELDS.items():
            with t.op(f"probe.decode.{base}"):
                t0 = time.perf_counter()
                with t.span("layout.parse_layout"):
                    fields = parse_layout(f"{name}:{start}:{length}:{ftype}",
                                          inputs.LINEITEM_RL)
                schema = pa.schema([pa.field(name, fields[0].arrow_type())])
                for c in chunks:
                    with t.span("layout.decode_chunk"):
                        decode_chunk(c, inputs.LINEITEM_RL, fields, 0, False,
                                     None, schema)
                out[f"decode.{base}_mb_per_s"] = (
                    len(data) / MB / (time.perf_counter() - t0)
                )
        full = [r for k, _, r in self.b.reports if r and k == "scan_full"]
        if full:
            tasks = _median([r["tasks"] for r in full])
            out["task.fixed_cost_s"] = (
                _median([r["run_s"] for r in full]) - out["read.core_s"]
            ) / tasks
            out["handoff.bytes_out_per_input_byte"] = (
                _median([r["py_bytes_in"] for r in full]) / self.bytes
            )
        # the select-planning figures of the probe keep this scan's plan.*
        for k, v in WriteSelect(self.b).probe().items():
            out.setdefault(k, v)
        return out


class WriteSelect(Workload):
    """Each cycle: one fixed-width ``write`` with a stats sidecar, then a
    batch of ``select`` ops, each collected."""

    name = "write_select"
    ROWS, SMOKE_ROWS = 100_000, 5_000
    WRITE_FILES = 8
    POINTS = RANGES = 8
    PER_CYCLE = 2  # point lookups and range selects per cycle, each

    def prepare(self) -> None:
        rows = self.SMOKE_ROWS if self.b.smoke else self.ROWS
        width = 50 if self.b.smoke else 1_000
        d, self.meta = inputs.select_input(
            self.b.inputs, self.b.seed, rows, self.POINTS, self.RANGES, width
        )
        self.parquet = os.path.join(d, "events.parquet")
        self.sorted_path = os.path.join(d, "events_sorted.fixed")
        self.out = os.path.join(self.b.work, "write_select_out")
        self.payload = self.meta["payload_bytes"]
        self.b.note(f"input events rows={rows} payload_bytes={self.payload}")

    def _write(self) -> None:
        t = self.b.tracer
        with t.span("df.build"):
            w = (
                self.b.spark.read.parquet(self.parquet)
                .write.format("fixedlen").mode("overwrite")
                .option("recordLength", str(inputs.EVENTS_RL))
                .option("layout", inputs.EVENTS_LAYOUT)
                .option("statsSidecar", "true")
            )
        with t.span("spark.execute"):
            w.save(self.out)

    def _read_back(self) -> None:
        """Untimed checksum of the dataset just written."""
        import pyspark.sql.functions as F

        got = tuple(
            self._fixedlen(inputs.EVENTS_RL, inputs.EVENTS_LAYOUT)
            .load(self.out)
            .agg(F.count(F.lit(1)), F.sum("ts"),
                 F.sum(F.round(F.col("amount") * 100).cast("long")))
            .collect()[0]
        )
        c = self.meta["checksum"]
        want = (c["rows"], c["sum_ts"], c["sum_amount_cents"])
        self.b.verdict("write read-back", got == want, f"got={got} want={want}")
        stored = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(self.out) for f in fs
        )
        self.stored_ratio = stored / self.payload

    def first_op(self) -> None:
        # split the source parquet (one row group per eighth of the rows)
        # into WRITE_FILES input partitions, so the write emits that many
        # part files, each an ascending run of ``ts``
        size = os.path.getsize(self.parquet)
        self.b.spark.conf.set("spark.sql.files.maxPartitionBytes",
                              str(size // self.WRITE_FILES + 1))
        self._write()

    def check(self) -> None:
        """Read back the first write, and run one select of each shape
        (their first runs also warm those paths up)."""
        self._read_back()
        self.b.verdict("point select", self._point_ok(0, self._point(0)))
        self.b.verdict("range select", self._range_ok(0, self._range(0)))

    def _point(self, k: int):
        import pyspark.sql.functions as F

        t = self.b.tracer
        with t.span("df.load"):
            df = (
                self._fixedlen(inputs.EVENTS_RL, inputs.EVENTS_LAYOUT,
                               sortedBy="ev_id")
                .load(self.sorted_path)
                .filter(F.col("ev_id") == self.meta["points"][k])
                .select("ev_id", "user_id")
            )
        with t.span("spark.execute"):
            return df.collect()

    def _range(self, k: int):
        import pyspark.sql.functions as F

        r = self.meta["ranges"][k]
        t = self.b.tracer
        with t.span("df.load"):
            df = (
                self._fixedlen(inputs.EVENTS_RL, inputs.EVENTS_LAYOUT)
                .load(self.out)
                .filter((F.col("ts") >= r["lo"]) & (F.col("ts") <= r["hi"]))
                .select("ts", "amount")
            )
        with t.span("spark.execute"):
            return df.collect()

    def _point_ok(self, k: int, rows) -> bool:
        want = (self.meta["points"][k], self.meta["point_user_ids"][k])
        return [tuple(r) for r in rows] == [want]

    def _range_ok(self, k: int, rows) -> bool:
        r = self.meta["ranges"][k]
        cents = sum(round(row["amount"] * 100) for row in rows)
        return len(rows) == r["count"] and cents == r["amount_cents"]

    def cycle(self, i: int) -> None:
        self.b.op("write", self._write)
        self._read_back()
        for j in range(self.PER_CYCLE):
            k = (i * self.PER_CYCLE + j) % self.POINTS
            self.b.op("select", lambda: self._point(k),
                      check=lambda rows: self._point_ok(k, rows))
            self.b.op("select", lambda: self._range(k),
                      check=lambda rows: self._range_ok(k, rows))

    def end_to_end(self) -> tuple[float, float]:
        writes = self.b.samples.get("write", [])
        sel = self.b.samples.get("select", [])
        write_s = _median(writes)
        self.b.note(f"write_mb_per_s = {self.payload / MB / write_s:.4f} MB/s "
                    f"(median of {len(writes)} writes)")
        self.b.note(f"select_p50_s = {_median(sel):.6f} s "
                    f"(n={len(sel)} selects)")
        self.b.note(f"select_p90_s = {_quantile(sel, 0.9):.6f} s "
                    f"(n={len(sel)} selects)")
        self.b.note(f"stored_bytes_ratio = {self.stored_ratio:.6f} ratio")
        return write_s, _median(sel)

    def layers(self) -> dict:
        out = self.task_layers({"select"})
        out["write.mb_per_s"] = (
            self.payload / MB / _median(self.b.samples.get("write", []))
        )
        out.update(self.probe_layers())
        return out

    def probe(self) -> dict:
        """The writing, encode and stats layers measured outside this
        workload's loop (from the scan_full traced run): a first write, a
        timed second one, the checks, then the in-process probes."""
        self.prepare()
        self.first_op()
        with self.b.tracer.op("probe.write"):
            t0 = time.perf_counter()
            self._write()
            write_s = time.perf_counter() - t0
        self.check()
        return {"write.mb_per_s": self.payload / MB / write_s,
                **self.probe_layers()}

    def probe_layers(self) -> dict:
        """encode_rows in process, and planning with the sorted-file and
        stats-sidecar pruning for every select predicate."""
        from pyspark.sql.datasource import (
            EqualTo, GreaterThanOrEqual, LessThanOrEqual,
        )
        from hadoop_fixedlengthinputformat_spark.sources.layout import (
            encode_rows, parse_layout,
        )
        import pyarrow.parquet as pq

        t = self.b.tracer
        out = {}
        rows = pq.read_table(self.parquet).slice(0, 50_000).to_pylist()
        with t.op("probe.encode"):
            t0 = time.perf_counter()
            with t.span("layout.encode_rows"):
                fields = parse_layout(inputs.EVENTS_LAYOUT, inputs.EVENTS_RL)
                encode_rows(rows, fields, inputs.EVENTS_RL)
            out["encode.mb_per_s"] = (
                len(rows) * inputs.EVENTS_RL / MB / (time.perf_counter() - t0)
            )
        base = dict(recordLength=inputs.EVENTS_RL, layout=inputs.EVENTS_LAYOUT,
                    includeOffset="false")
        sorted_opts = _options(sortedBy="ev_id", path=self.sorted_path, **base)
        out_opts = _options(path=self.out, **base)
        plan_s, stats_s, n_parts, pruned = [], [], [], []
        planned = matching = 0
        with t.op("probe.plan"):
            with t.span("plan"):
                all_parts = len(_reader(out_opts).partitions())
            for k, v in enumerate(self.meta["points"]):
                with t.span("plan"):
                    t0 = time.perf_counter()
                    parts = _reader(sorted_opts, [EqualTo(("ev_id",), v)]).partitions()
                    plan_s.append(time.perf_counter() - t0)
                n_parts.append(len(parts))
                planned += _planned_bytes(parts)
                matching += inputs.EVENTS_RL
            for r in self.meta["ranges"]:
                flt = [GreaterThanOrEqual(("ts",), r["lo"]),
                       LessThanOrEqual(("ts",), r["hi"])]
                with t.span("stats.plan"):
                    t0 = time.perf_counter()
                    parts = _reader(out_opts, flt).partitions()
                    stats_s.append(time.perf_counter() - t0)
                plan_s.append(stats_s[-1])
                n_parts.append(len(parts))
                pruned.append(all_parts - len(parts))
                planned += _planned_bytes(parts)
                matching += r["count"] * inputs.EVENTS_RL
        out.update({
            "plan.s": _median(plan_s),
            "plan.partitions": _median(n_parts),
            "plan.bytes_planned_ratio": planned / matching,
            "stats.plan_s": _median(stats_s),
            "stats.partitions_pruned": _median(pruned),
        })
        return out


class AnalyticsMix(Workload):
    """Repeated passes over registered queries on seed-generated parquet;
    the fixed-width source does no work here."""

    name = "analytics_mix"
    SCALE, SMOKE_SCALE = 3, 1
    WARM_UP_PASSES = 2

    def prepare(self) -> None:
        scale = self.SMOKE_SCALE if self.b.smoke else self.SCALE
        self.sf, meta = inputs.mix_input(self.b.inputs, self.b.root,
                                         self.b.seed, scale)
        self.input_bytes = sum(t["bytes"] for t in meta["tables"].values())
        rows = {k: v["rows"] for k, v in meta["tables"].items()}
        self.b.note(f"input parquet scale={scale} bytes={self.input_bytes} "
                    f"rows={rows}")
        self.results: dict[str, tuple[list, list]] = {}

    def _run(self, q: str):
        t = self.b.tracer
        with t.span("df.build"):
            df = self.queries[q](self.b.spark, self.sf)
        with t.span("spark.execute"):
            return df.columns, df.collect()

    def first_op(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        q = MIX_QUERIES[0]
        self.results[q] = self._run(q)

    def check(self) -> None:
        """Every query once against its DuckDB oracle (tests/parity.py);
        the value hash of each checked answer gates the timed runs."""
        parity = self.b.parity()
        con = parity.duck_con(self.sf)
        self.hashes = {}
        for q in MIX_QUERIES:
            try:
                if q not in self.results:
                    self.results[q] = self._run(q)
                cols, rows = self.results[q]
                problems = parity.compare(q, _Collected(cols, rows),
                                          self.oracles[q], con)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                problems = [f"{type(exc).__name__}: {exc}"]
            self.b.verdict(f"oracle {q}", not problems, "; ".join(problems))
            self.hashes[q] = self.value_hash(*self.results.get(q, ([], [])))

    def value_hash(self, cols, rows) -> int:
        parity = self.b.parity()
        normed = [tuple(parity._norm(v) for v in r) for r in rows]
        return hash((tuple(cols), tuple(sorted(normed, key=parity._sort_key))))

    def cycle(self, i: int) -> None:
        q = MIX_QUERIES[i % len(MIX_QUERIES)]
        self.b.op(f"query.{q}", lambda: self._run(q),
                  check=lambda res: self.value_hash(*res) == self.hashes[q])

    def min_cycles(self) -> int:
        return len(MIX_QUERIES)

    def warm_up(self) -> None:
        """WARM_UP_PASSES passes over the mix (answers still checked): a
        query's time keeps falling over its first few runs in a fresh JVM,
        so the timed loop starts from a steadier state."""
        for i in range(self.WARM_UP_PASSES * len(MIX_QUERIES)):
            self.cycle(i)

    def end_to_end(self) -> tuple[float, float]:
        per_q = {q: _median(self.b.samples.get(f"query.{q}", []))
                 for q in MIX_QUERIES}
        every = [x for q in MIX_QUERIES
                 for x in self.b.samples.get(f"query.{q}", [])]
        pass_s = sum(per_q.values())
        geo = statistics.geometric_mean(per_q.values())
        self.b.note(f"mix_pass_s = {pass_s:.4f} s (sum of per-query medians, "
                    f"{len(every)} query runs)")
        self.b.note(f"query_geomean_s = {geo:.4f} s")
        for q, v in per_q.items():
            self.b.note(f"query {q} = {v:.4f} s")
        return pass_s, geo

    def layers(self) -> dict:
        kinds = {f"query.{q}" for q in MIX_QUERIES}
        out = self.task_layers(kinds)
        for q in MIX_QUERIES:
            reps = [(dt, r) for k, dt, r in self.b.reports
                    if r and k == f"query.{q}"]
            out[f"query.{q}_s"] = _median([dt for dt, _ in reps])
            out[f"query.{q}.jobs"] = _median([r["jobs"] for _, r in reps])
            out[f"query.{q}.tasks"] = _median([r["tasks"] for _, r in reps])
            out[f"query.{q}.shuffle_write_mb"] = _median(
                [r["shuffle_write_bytes"] / MB for _, r in reps])
            out[f"query.{q}.spill_mb"] = _median(
                [r["spill_bytes"] / MB for _, r in reps])
        return out


class _Collected:
    """The two DataFrame members ``parity.compare`` reads, over rows
    already collected."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


WORKLOADS = {w.name: w for w in (ScanFull, AnalyticsMix, WriteSelect)}
