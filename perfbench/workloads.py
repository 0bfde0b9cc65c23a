"""The benchmark's two workloads, their seeded fixtures and the
independent output checks.

Each workload is a closed loop with one client on ``local[nproc]``: a
lap starts only after the previous lap and its output check end.

* ``full_suite``  — ``validate()`` over a parquet transcripts table with
  the conversations dimension, then ``violations.count()`` and
  ``report()``: the whole constraint suite (profile, verdicts, salted
  composite uniqueness over the skewed mega-conversation, RI anti-join,
  row-level listing). Each lap ends with the file leg: ``validate_files``
  on a CSV plus an XLSX data dictionary written with the package's own
  xlsx writer, the serial one-task reader and single-partition
  row-number window path.
* ``partition_resume`` — ``validate_partitioned`` over daily ``ts_date``
  partitions, three times against one manifest: cold, incremental after
  a fixed share of partitions was rewritten from a second seed, no-op.

Expected outputs are computed here with plain filter expressions over
the generated input (the seeded violation classes documented in
``schema_validata_spark.datagen``), never by the code under test,
except that the incremental and no-op partitioned outputs are compared
with a fresh ``partition_verdicts`` of the current table.
"""

from __future__ import annotations

import importlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import schema_validata_spark.session as session_mod
from schema_validata_spark.datagen import (gen_conversations, gen_transcripts,
                                           transcript_rules)
from schema_validata_spark.manifest import Manifest
from schema_validata_spark.plans import audit as audit_mod
from schema_validata_spark.rules import Rules
from schema_validata_spark.sources import readers as readers_mod
from schema_validata_spark.sources import tableio as tableio_mod
from schema_validata_spark.sources.xlsx import write_xlsx

from spans import COUNTER_LAYERS, Tracer, event_log_counters, self_time

# the package re-exports the ``validate`` function under the submodule's
# name, so take the module itself: its globals are what the entry points
# look their layers up through
validate_mod = importlib.import_module("schema_validata_spark.validate")

# Input sizes at scale 1.0 (``--scale`` shrinks them for the smoke test).
FULL_TURNS = 40_000
PART_TURNS = 30_000
PART_CONVS = 600            # ~40 daily partitions at 30k turns
PART_REWRITE_SHARE = 8      # every 8th partition is rewritten
FILE_ROWS = 5_000           # rows of the full_suite file leg's CSV

# Independent oracle vocabulary (generator classes, datagen docstring)
NA_SENTINELS = ["N/A", "not available", "-"]
ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["bash", "read", "write", "grep", "web"]
MAX_LENGTHS = {"conv_id": 16, "role": 16, "text": 4000, "tool": 32}
LABELS = {
    "allow_null": "Null Value",
    "regex_pattern": "Invalid Value Formatting",
    "allowed_value_list": "Unallowed Value",
}

PER_LAYER = [
    ("session.get_spark_s", "s"), ("datagen.write_s", "s"),
    ("profile.s", "s"), ("profile.jobs", "count"), ("profile.tasks", "count"),
    ("violations.count_s", "s"), ("violations.rows", "count"),
    ("uniqueness.duplicate_stats_s", "s"),
    ("uniqueness.duplicate_rows", "count"),
    ("integrity.referential_s", "s"), ("integrity.ri_violations", "count"),
    ("verdicts.verdicts_for_s", "s"), ("audit.assert_scalable_s", "s"),
    ("validate.self_s", "s"),
    ("partition_verdicts.batches", "count"),
    ("partition_verdicts.batch_s", "s"),
    ("partition_verdicts.jobs", "count"),
    ("fingerprints.s", "s"),
    ("manifest.done_identities_s", "s"), ("manifest.metrics_s", "s"),
    ("manifest.mark_done_many_s", "s"), ("manifest.rows_written", "count"),
    ("manifest.files", "count"), ("manifest.bytes", "bytes"),
    ("resume.recomputed_per_changed", "ratio"),
    ("readers.read_spreadsheet_s", "s"), ("readers.rows", "count"),
    ("tableio.metadata_s", "s"), ("rules.from_xlsx_s", "s"),
    ("report.report_s", "s"), ("report.rows_collected", "count"),
] + [(f"{layer}.{c}", u) for layer in COUNTER_LAYERS
     for c, u in (("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                  ("spill_bytes", "bytes"), ("task_skew", "ratio"),
                  ("failed_tasks", "count"))] + [
    ("trace.overhead_ratio", "ratio"), ("scaling_eff", "ratio"),
]


class CheckFailed(Exception):
    """A lap's output differs from the expected output."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------
def oracle_counts(df, n_convs: int, na_sentinels_null: bool,
                  partition_col: str | None = None) -> dict:
    """Expected violation counts per (column, check) from plain filters.

    ``na_sentinels_null``: the CSV reader turns the NA sentinel strings
    into NULLs, so they count as nulls and are not format-checked."""
    conv = F.col("conv_id")
    if na_sentinels_null:
        conv = F.when(conv.isin(NA_SENTINELS), None).otherwise(conv)
        conv_null = conv.isNull()
    else:
        conv_null = conv.isNull() | conv.isin(NA_SENTINELS)
    ti, role, text, tool = (F.col(c) for c in ("turn_idx", "role", "text",
                                                "tool"))
    checks = {
        ("conv_id", "allow_null"): conv_null,
        ("conv_id", "length"): F.length(conv) > MAX_LENGTHS["conv_id"],
        ("conv_id", "regex_pattern"):
            conv.isNotNull() & ~conv.rlike(r"^conv-[0-9]{8}$"),
        ("turn_idx", "allow_null"): ti.isNull(),
        ("turn_idx", "range_min"): ti < 0,
        ("turn_idx", "range_max"): ti > 100000,
        ("role", "allow_null"): role.isNull(),
        ("role", "length"): F.length(role) > MAX_LENGTHS["role"],
        ("role", "allowed_value_list"): role.isNotNull() & ~role.isin(ROLES),
        ("text", "length"): F.length(text) > MAX_LENGTHS["text"],
        ("tool", "length"): F.length(tool) > MAX_LENGTHS["tool"],
        ("tool", "regex_pattern"):
            tool.isNotNull() & ~tool.rlike(r"^[a-z_]{1,32}$"),
        ("tool", "allowed_value_list"): tool.isNotNull() & ~tool.isin(TOOLS),
        ("ts", "allow_null"): F.col("ts").isNull(),
    }
    known_conv = conv.rlike(r"^conv-[0-9]{8}$") & (
        F.substring(conv, 6, 8).cast("int") < n_convs)
    aggs = [F.count(F.when(cond, 1)).alias(f"c{i}")
            for i, cond in enumerate(checks.values())]
    aggs.append(F.count(F.when(conv.isNotNull() & ~known_conv, 1))
                .alias("ri"))
    row = df.agg(*aggs).collect()[0]
    out = {k: row[f"c{i}"] for i, k in enumerate(checks)}
    out[("conv_id", "referential")] = row["ri"]
    keys = ([partition_col] if partition_col else []) + ["conv_id",
                                                         "turn_idx"]
    dup = (df.groupBy(*keys).count().where("count > 1")
             .agg(F.count(F.lit(1)).alias("k"), F.sum("count").alias("r"))
             .collect()[0])
    out[("conv_id+turn_idx", "unique_value")] = dup["r"] or 0
    out[("conv_id+turn_idx", "duplicate_keys")] = dup["k"]
    return out


def listing_labels(counts: dict) -> dict:
    """Non-zero per-row checks keyed by (column, error_type label)."""
    out = {}
    for (col, chk), n in counts.items():
        if not n or "+" in col or chk == "referential":
            continue
        if chk == "length":
            label = f"Value Exceeds Max Length ({MAX_LENGTHS[col]})"
        elif chk == "range_min":
            label = "Below Minimum Allowed Value (0)"
        elif chk == "range_max":
            label = "Exceeds Maximum Allowed Value (100000)"
        else:
            label = LABELS[chk]
        out[(col, label)] = n
    return out


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------
class Run:
    """State of one benchmark run: the Spark session, the tracer, lap
    bookkeeping and the failure count."""

    def __init__(self, seed: int, trace: bool, scale: float, work: str):
        self.seed = seed
        self.trace = trace
        self.scale = scale
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = Tracer() if trace else None
        self.tracing = False
        self.spark = None
        self.lap_no = 0
        self.attempted = 0
        self.failed = 0
        self.diag: dict = {}
        self.lap_attrs: dict[int, dict] = {}

    def n(self, base: int) -> int:
        return max(1000, int(base * self.scale))

    def span(self, name: str):
        """A traced span while tracing is on, else a no-op context."""
        return self.tracer.span(name) if self.tracing else _NullSpan()

    def end_timed(self) -> None:
        """Stop tracing at the end of a lap's timed part, so the output
        checks that follow are not traced."""
        if self.tracing:
            self.tracer.uninstall()
            self.tracer.lap = None
            self.tracing = False

    # -- session -------------------------------------------------------
    def conf(self) -> dict:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self, master: str) -> None:
        if self.spark is not None:
            self.stop_session()
        self.spark = session_mod.get_spark(
            app_name="perfbench", master=master, extra_conf=self.conf())
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        if self.tracer is not None:
            self.tracer.sc = None
        self.spark.stop()
        self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def live_heap_mb(self) -> float:
        """JVM heap in use after a full collection: the data the driver
        holds live, whatever heap size the collector has grown to.

        Spark's context cleaner frees shuffle and broadcast blocks only
        after a collection finds their owners unreachable, so collect
        again until the figure settles."""
        jvm = self.spark._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        used = None
        for _ in range(5):
            jvm.java.lang.System.gc()
            now = (rt.totalMemory() - rt.freeMemory()) / 2**20
            if used is not None and abs(now - used) < 1.0:
                break
            used = now
            time.sleep(0.2)
        return now


class _NullSpan:
    def __enter__(self):
        return {"attrs": {}}

    def __exit__(self, *exc):
        return False


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_probe() -> float:
    """Fixed pure-Python compute probe (median of 3), a diagnostic of the
    host's speed at the time of the run."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    the share of time a virtual machine's CPUs waited for the host."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dp, f))
    return files, nbytes


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class FullSuite:
    name = "full_suite"
    SHEET = "TRANSCRIPTS_SCHEMA"
    warmup = 2          # discarded JIT warm-up laps
    min_laps = 3        # measured laps at least, whatever --seconds
    local1 = True       # traced run: also laps at local[1] (scaling_eff)
    lap_figures = ("file_validate_s",)

    def __init__(self, run: Run):
        self.run = run
        self.rules = transcript_rules()
        self.rows = run.n(FULL_TURNS)
        self.file_rows = run.n(FILE_ROWS)
        self.turns = self.rows + self.file_rows    # input turns per lap
        self.held = None    # the last lap's result, persisted violations

    def release(self) -> None:
        """Unpersist the last lap's result."""
        if self.held is not None:
            self.held.unpersist()
            self.held = None

    def make_fixture(self, d: str) -> dict:
        spark, seed = self.run.spark, self.run.seed
        fx = {"transcripts": os.path.join(d, "transcripts"),
              "conversations": os.path.join(d, "conversations"),
              "csv": os.path.join(d, "transcripts.csv"),
              "xlsx": os.path.join(d, "data_dictionary.xlsx")}
        with self.run.span("datagen.write"):
            (gen_transcripts(spark, self.rows, seed=seed).drop("ts_date")
             .repartition(2 * self.run.nproc)
             .write.parquet(fx["transcripts"]))
            gen_conversations(spark, self.rows, seed=seed) \
                .coalesce(1).write.parquet(fx["conversations"])
            self._write_file_inputs(fx, os.path.join(d, "csv_parts"))
        return fx

    def _write_file_inputs(self, fx: dict, tmp: str) -> None:
        """The file leg's CSV (its own seeded rows) and the XLSX data
        dictionary holding the same rules as ``transcript_rules()``."""
        (gen_transcripts(self.run.spark, self.file_rows,
                         seed=self.run.seed + 1).drop("ts_date")
         .coalesce(1).write
         .option("header", "true")
         .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
         .option("ignoreLeadingWhiteSpace", "false")
         .option("ignoreTrailingWhiteSpace", "false")
         .csv(tmp))
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.startswith("part-"))
        os.replace(os.path.join(tmp, part), fx["csv"])
        shutil.rmtree(tmp)
        cols = ["field_name", "required", "data_type", "allow_null",
                "length", "range_min", "range_max", "regex_pattern",
                "unique_value", "allowed_value_list"]
        rows = [cols]
        for fr in self.rules:
            rows.append([
                fr.field_name, fr.required, fr.data_type, fr.allow_null,
                fr.length, fr.range_min, fr.range_max, fr.regex_pattern,
                fr.unique_value,
                repr(list(fr.allowed_value_list))
                if fr.allowed_value_list else None])
        write_xlsx(fx["xlsx"], {self.SHEET: rows})

    def expected(self, fx: dict) -> dict:
        spark = self.run.spark
        counts = oracle_counts(spark.read.parquet(fx["transcripts"]),
                               max(1, self.rows // 8),
                               na_sentinels_null=False)
        listing = listing_labels(counts)
        # the file oracle reads the CSV as plain strings (no inference)
        # and applies the checks with the sentinel strings taken as nulls
        raw = (spark.read.option("header", "true")
               .option("multiLine", "true").option("escape", '"')
               .csv(fx["csv"])
               .withColumn("turn_idx", F.col("turn_idx").cast("int")))
        file_counts = oracle_counts(raw, max(1, self.file_rows // 8),
                                    na_sentinels_null=True)
        return {"counts": counts, "listing": listing,
                "total": sum(listing.values()),
                "file_listing": listing_labels(file_counts)}

    def lap(self, fx: dict, exp: dict, attrs: dict) -> float:
        spark = self.run.spark
        self.release()
        t0 = time.perf_counter()
        t = spark.read.parquet(fx["transcripts"])
        c = spark.read.parquet(fx["conversations"])
        res = validate_mod.validate(
            spark, t, self.rules, dataset_name="transcripts",
            dims={"conversations": c}, key_cols=["conv_id", "turn_idx"],
            ignore_errors=[])
        self.held = res
        with self.run.span("violations.count") as rec:
            n = res.violations.count()
            rec["attrs"]["rows"] = n
        rep = res.report()
        t1 = time.perf_counter()
        files_out = validate_mod.validate_files(
            spark, fx["csv"], fx["xlsx"],
            [{"dataset": "transcripts", "data_dict": self.SHEET}],
            ignore_errors=[])
        t2 = time.perf_counter()
        self.run.end_timed()
        attrs["file_validate_s"] = t2 - t1
        self._check_table(res, n, rep, exp)
        self._check_files(files_out, exp, attrs)
        return t2 - t0

    def _check_table(self, res, n: int, rep: dict, exp: dict) -> None:
        got = {(r["column_name"], r["error_type"]): r["count"]
               for r in res.violations.groupBy("column_name", "error_type")
               .count().collect()}
        _require(n == exp["total"], f"violations.count {n} != {exp['total']}")
        _require(got == exp["listing"], f"listing {got} != {exp['listing']}")
        counts = exp["counts"]
        _require(res.composite_uniqueness == {"conv_id+turn_idx": {
            "duplicate_keys": counts[("conv_id+turn_idx", "duplicate_keys")],
            "duplicate_rows": counts[("conv_id+turn_idx", "unique_value")]}},
            f"composite {res.composite_uniqueness}")
        _require(res.referential == {"conv_id->conversations.conv_id":
                                     counts[("conv_id", "referential")]},
                 f"referential {res.referential}")
        section = rep[res.uid]["results"]["transcripts"]
        ve = section["value_errors"]
        n_rep = len(next(iter(ve.values()))) if ve else 0
        _require(n_rep == min(n, 100_000), f"report rows {n_rep}")
        _require(section["referential_integrity"] == res.referential,
                 "report referential")
        _require(set(section["schema_violations"]) >= {
            col for col, _ in exp["listing"]}, "schema_violations columns")

    def _check_files(self, out: dict, exp: dict, attrs: dict) -> None:
        (body,) = out.values()
        section = body["results"]["transcripts"]
        ve = section["value_errors"]
        got: dict = {}
        if ve:
            for i in ve["Sheet Row"]:
                k = (ve["Column Name"][i], ve["Error Type"][i])
                got[k] = got.get(k, 0) + 1
        attrs["file_rows_collected"] = sum(got.values())
        want = exp["file_listing"]
        _require(got == want, f"file listing {got} != {want}")
        _require({"missing_col", "optional_missing"}
                 <= set(section["schema_violations"]),
                 "file schema_violations misses the absent columns")


class PartitionResume:
    name = "partition_resume"
    warmup = 1          # discarded JIT warm-up cycles
    min_laps = 2
    local1 = False
    lap_figures = ("partitioned_cold_s", "partitioned_resume_s",
                   "partitioned_noop_s")

    def __init__(self, run: Run):
        self.run = run
        self.rules = transcript_rules()
        self.rows = run.n(PART_TURNS)
        self.turns = self.rows
        self.n_convs = max(10, int(PART_CONVS * min(1.0, run.scale * 10)))

    def release(self) -> None:
        """A lap holds nothing once it returns."""

    def make_fixture(self, d: str) -> dict:
        spark, seed = self.run.spark, self.run.seed
        fx = {"a": os.path.join(d, "table_v1"),
              "b": os.path.join(d, "table_v2"),
              "dim": os.path.join(d, "conversations")}
        with self.run.span("datagen.write"):
            (gen_transcripts(spark, self.rows, seed=seed,
                             n_convs=self.n_convs)
             .repartition("ts_date").write.partitionBy("ts_date")
             .parquet(fx["a"]))
            dates = _partition_dirs(fx["a"])
            rng = random.Random(seed)
            rewrite = sorted(rng.sample(
                sorted(dates), max(1, len(dates) // PART_REWRITE_SHARE)))
            # version 2 of the table: a copy of version 1 whose rewritten
            # partitions hold a second seed's rows for those days
            shutil.copytree(fx["a"], fx["b"])
            (gen_transcripts(spark, self.rows, seed=seed + 7919,
                             n_convs=self.n_convs)
             .where(F.col("ts_date").cast("string").isin(rewrite))
             .repartition("ts_date").write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("ts_date").parquet(fx["b"]))
            gen_conversations(spark, self.rows, seed=seed,
                              n_convs=self.n_convs) \
                .coalesce(1).write.parquet(fx["dim"])
        # a rewritten day whose second-seed rows are empty keeps its files
        after = _partition_dirs(fx["b"])
        fx["changed"] = {p for p in rewrite if after[p] != dates[p]}
        return fx

    def _fresh(self, path: str, dim) -> list:
        pv = validate_mod.partition_verdicts(
            self.run.spark.read.parquet(path), self.rules, "ts_date",
            dims={"conversations": dim})
        return _norm(pv.collect())

    def expected(self, fx: dict) -> dict:
        spark = self.run.spark
        dim = spark.read.parquet(fx["dim"])
        counts = oracle_counts(spark.read.parquet(fx["a"]), self.n_convs,
                               na_sentinels_null=False,
                               partition_col="ts_date")
        del counts[("conv_id+turn_idx", "duplicate_keys")]
        # the no-op output rebuilds unchanged partitions from the cold
        # run's manifest rows, so comparing it with a fresh verdict set
        # of version 2 also checks the cold run partition by partition
        return {"totals": counts, "fresh_b": self._fresh(fx["b"], dim)}

    def lap(self, fx: dict, exp: dict, attrs: dict) -> float:
        spark = self.run.spark
        manifest = os.path.join(self.run.work, "manifests",
                                f"lap{self.run.lap_no}")
        walls, outs, t_marks = [], [], []
        t0 = time.perf_counter()
        for path in (fx["a"], fx["b"], fx["b"]):
            t_marks.append(time.time())
            ts = time.perf_counter()
            out = validate_mod.validate_partitioned(
                spark, spark.read.parquet(path), self.rules, "ts_date",
                manifest,
                dims={"conversations": spark.read.parquet(fx["dim"])})
            outs.append(_norm(out.collect()))
            walls.append(time.perf_counter() - ts)
        wall = time.perf_counter() - t0
        self.run.end_timed()
        attrs.update(zip(self.lap_figures, walls))
        totals: dict = {}
        for _, col, chk, cnt, _ in outs[0]:
            totals[(col, chk)] = totals.get((col, chk), 0) + cnt
        want = {k: v for k, v in exp["totals"].items()
                if k in totals or v}
        _require(totals == want, f"cold totals {totals} != {want}")
        _require(outs[1] == exp["fresh_b"], "incremental != fresh verdicts")
        _require(outs[2] == exp["fresh_b"], "no-op != fresh verdicts")
        tab = pq.read_table(manifest).to_pylist()
        incr = {r["partition_key"] for r in tab
                if t_marks[1] <= r["committed_at"] < t_marks[2]
                and (r["wall_s"] or 0) > 0}
        noop_rows = [r for r in tab if r["committed_at"] >= t_marks[2]]
        _require(incr >= fx["changed"],
                 f"stale partitions reused: {sorted(fx['changed'] - incr)}")
        _require(not noop_rows, f"no-op run wrote {len(noop_rows)} rows")
        attrs["recomputed_per_changed"] = len(incr) / len(fx["changed"])
        attrs["manifest_files"], attrs["manifest_bytes"] = _dir_stats(
            manifest)
        shutil.rmtree(manifest, ignore_errors=True)
        return wall


def _partition_dirs(table: str) -> dict[str, list[str]]:
    """{ts_date value: data file names} of a partitioned parquet table."""
    return {e.split("=", 1)[1]: sorted(os.listdir(os.path.join(table, e)))
            for e in os.listdir(table) if e.startswith("ts_date=")}


def _norm(rows) -> list:
    return sorted((str(r["partition_key"]), r["column_name"], r["check"],
                   int(r["violation_count"]), r["status"]) for r in rows)


WORKLOADS = {w.name: w for w in (FullSuite, PartitionResume)}


# ---------------------------------------------------------------------------
# tracing: which functions are wrapped, and where
# ---------------------------------------------------------------------------
def install_tracing(tracer: Tracer) -> None:
    p = tracer.patch
    for name in ("validate", "validate_datasets", "validate_files",
                 "validate_partitioned"):
        p(validate_mod, name, name)
    p(validate_mod, "profile", "profile")
    p(validate_mod, "duplicate_stats", "uniqueness.duplicate_stats",
      rows=lambda args, out: out["duplicate_rows"])
    p(validate_mod, "referential_violations", "integrity.referential",
      lazy_action="count", rows=lambda args, out: out)
    p(validate_mod, "verdicts_for", "verdicts.verdicts_for")
    p(audit_mod, "assert_scalable", "audit.assert_scalable")
    p(validate_mod, "partition_verdicts", "partition_verdicts.batch",
      lazy_action="collect")
    p(validate_mod, "partition_fingerprints", "fingerprints")
    p(Manifest, "done_identities", "manifest.done_identities")
    p(Manifest, "metrics", "manifest.metrics")
    p(Manifest, "mark_done_many", "manifest.mark_done_many",
      rows=lambda args, out: len(args[2]))
    p(readers_mod, "read_spreadsheet", "readers.read_spreadsheet")
    p(tableio_mod, "get_spreadsheet_metadata", "tableio.metadata")
    p(Rules, "from_xlsx", "rules.from_xlsx", classmethod_=True)
    p(validate_mod.ValidationResult, "report", "report.report",
      rows=lambda args, out: _report_rows(out))


def _report_rows(rep: dict) -> int:
    (body,) = rep.values()
    n = 0
    for section in body["results"].values():
        ve = section.get("value_errors")
        if ve:
            n += len(next(iter(ve.values())))
    return n


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------
def _median(xs):
    return statistics.median(xs) if xs else 0.0


def execute(workload: str, seed: int, seconds: float, trace: bool,
            scale: float, work: str) -> tuple[dict, dict]:
    """Run one benchmark run; return (metrics, diagnostics)."""
    run = Run(seed, trace, scale, work)
    wl = WORKLOADS[workload](run)
    run.diag["host_probe_s"] = host_probe()
    ticks0 = _cpu_ticks()
    run.diag["nproc"] = run.nproc
    master = f"local[{run.nproc}]"

    # -- set-up: JVM launch, session start and fixture generation ------
    # The process has no JVM yet, so this one set-up is cold; a second
    # one in the same process would only restart the SparkContext.
    if run.tracer is not None:
        run.tracing = True
        run.tracer.patch(session_mod, "get_spark", "session.get_spark")
    t0 = time.perf_counter()
    run.start_session(master)
    fx = wl.make_fixture(os.path.join(work, "fixture"))
    setup_s = time.perf_counter() - t0
    run.end_timed()
    run.diag["setup_s"] = setup_s
    exp = wl.expected(fx)

    def one_lap(phase: str, traced: bool = False) -> float | None:
        run.lap_no += 1
        attrs = run.lap_attrs.setdefault(run.lap_no, {"traced": traced,
                                                      "phase": phase})
        if traced:
            run.tracer.lap = run.lap_no
            run.tracing = True
            install_tracing(run.tracer)
        run.attempted += 1
        try:
            wall = wl.lap(fx, exp, attrs)
        except Exception:  # noqa: BLE001 — a lap boundary keeps running
            run.failed += 1
            traceback.print_exc(file=sys.stderr)
            wall = None
        finally:
            run.end_timed()
        if traced:
            run.tracer.record_job_counts(
                [s for s in run.tracer.spans if s["lap"] == run.lap_no])
        attrs["wall"] = wall
        return wall

    def loop(phase: str, budget: float, min_laps: int,
             alternate: bool = False) -> tuple:
        plain, traced = [], []
        t_end = time.perf_counter() + budget
        k = 0
        while k < min_laps or time.perf_counter() < t_end:
            # untraced, traced, traced, untraced, ...: a lap-time trend
            # (the JIT still warming) weighs on both kinds alike
            is_traced = alternate and k % 4 in (1, 2)
            w = one_lap(phase, is_traced)
            if w is not None:
                (traced if is_traced else plain).append(w)
            k += 1
        return plain, traced

    run.diag["warmup_laps_s"] = [one_lap("warmup")
                                 for _ in range(wl.warmup)]

    metrics: dict = {}
    if not trace:
        walls, _ = loop("nproc", seconds, wl.min_laps)
        if not walls:
            raise RuntimeError("no lap completed")
        lap_n = _median(walls)
        run.diag["laps_s"] = walls
        named = _named_e2e(run, wl)
        # once, after the last lap: a full collection would shrink the
        # heap and slow the lap after it
        live = run.live_heap_mb()
        wl.release()
        metrics = {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (wl.turns / lap_n, "1/s"),
            "live_heap_mb": (live, "MB"),
        }
        named["failed_ratio"] = (run.failed / run.attempted, "ratio")
        # resident memory follows how far the collector grew the heap,
        # which varies from run to run, so it is printed but not bounded
        named["peak_rss_mb"] = (_vm_hwm_mb(run.jvm_pid())
                                + _vm_hwm_mb("self"), "MB")
        run.diag["workload_metrics"] = {
            k: {"value": v, "unit": u} for k, (v, u) in named.items()}
    else:
        plain, traced = loop("nproc", seconds, max(4, wl.min_laps + 1),
                             alternate=True)
        if not plain or not traced:
            raise RuntimeError("no lap completed")
        run.diag["laps_s"] = plain
        run.diag["traced_laps_s"] = traced
        wl.release()
        scaling = 0.0
        if wl.local1:
            # the local[1] laps run in the same JVM after a session
            # restart, on the same files, so the JIT is already warm
            run.start_session("local[1]")
            walls1, _ = loop("local1", 0, 2)
            if not walls1:
                raise RuntimeError("no local[1] lap completed")
            run.diag["laps_local1_s"] = walls1
            scaling = _median(walls1) / (run.nproc * _median(plain))
        run.stop_session()   # flushes the event log
        counters = event_log_counters(os.path.join(work, "events"))
        metrics = _per_layer(run, counters)
        # the event log is on for the whole traced run, untraced laps
        # included, so this ratio leaves the event log's own cost out
        metrics["trace.overhead_ratio"] = (
            _median(traced) / _median(plain) - 1.0, "ratio")
        metrics["scaling_eff"] = (scaling, "ratio")
    if run.spark is not None:
        run.stop_session()
    ticks1 = _cpu_ticks()
    run.diag["cpu_steal_share"] = ((ticks1[0] - ticks0[0])
                                   / max(1, ticks1[1] - ticks0[1]))
    return {"metrics": metrics, "attempted": run.attempted,
            "failed": run.failed}, run.diag


def _named_e2e(run: Run, wl) -> dict:
    """The workload's own end-to-end figures (median over measured laps),
    printed as diagnostics."""
    measured = [a for a in run.lap_attrs.values()
                if a["phase"] == "nproc" and a.get("wall") is not None]
    return {k: (_median([a[k] for a in measured if k in a]), "s")
            for k in wl.lap_figures}


def _per_layer(run: Run, counters: dict) -> dict:
    spans = run.tracer.spans
    traced_laps = sorted(n for n, a in run.lap_attrs.items()
                         if a["traced"] and a.get("wall") is not None)
    per_lap: dict[str, list] = {name: [] for name, _ in PER_LAYER}

    def dur(s):
        return s["end"] - s["start"]

    for lap in traced_laps:
        ls = [s for s in spans if s["lap"] == lap and s["end"] is not None]
        attrs = run.lap_attrs[lap]

        def total(name, key=None):
            sel = [s for s in ls if s["name"] == name]
            if key is None:
                return sum(dur(s) for s in sel)
            return sum(s["attrs"].get(key, 0) for s in sel)

        v = {
            "profile.s": total("profile"),
            "profile.jobs": total("profile", "jobs"),
            "profile.tasks": total("profile", "tasks"),
            "violations.count_s": total("violations.count"),
            "violations.rows": total("violations.count", "rows"),
            "uniqueness.duplicate_stats_s": total("uniqueness.duplicate_stats"),
            "uniqueness.duplicate_rows":
                total("uniqueness.duplicate_stats", "rows"),
            "integrity.referential_s": total("integrity.referential"),
            "integrity.ri_violations": total("integrity.referential", "rows"),
            "verdicts.verdicts_for_s": total("verdicts.verdicts_for"),
            "audit.assert_scalable_s": total("audit.assert_scalable"),
            "validate.self_s": sum(self_time(ls, s) for s in ls
                                   if s["name"] == "validate"),
            "partition_verdicts.batches": len(
                [s for s in ls if s["name"] == "partition_verdicts.batch"]),
            "partition_verdicts.batch_s": _median(
                [dur(s) for s in ls if s["name"] == "partition_verdicts.batch"]),
            "partition_verdicts.jobs": total("partition_verdicts.batch", "jobs"),
            "fingerprints.s": total("fingerprints"),
            "manifest.done_identities_s": total("manifest.done_identities"),
            "manifest.metrics_s": total("manifest.metrics"),
            "manifest.mark_done_many_s": total("manifest.mark_done_many"),
            "manifest.rows_written": total("manifest.mark_done_many", "rows"),
            "manifest.files": attrs.get("manifest_files", 0),
            "manifest.bytes": attrs.get("manifest_bytes", 0),
            "resume.recomputed_per_changed":
                attrs.get("recomputed_per_changed", 0.0),
            "readers.read_spreadsheet_s": total("readers.read_spreadsheet"),
            "readers.rows": counters.get(("readers", lap), {}).get(
                "input_records", 0),
            "tableio.metadata_s": total("tableio.metadata"),
            "rules.from_xlsx_s": total("rules.from_xlsx"),
            "report.report_s": total("report.report"),
            "report.rows_collected": total("report.report", "rows"),
        }
        # validate_files builds its report after validate_datasets returns
        vf = [s for s in ls if s["name"] == "validate_files"]
        vd = [s for s in ls if s["name"] == "validate_datasets"]
        if vf and vd:
            v["report.report_s"] += vf[0]["end"] - vd[-1]["end"]
            v["report.rows_collected"] += attrs.get("file_rows_collected", 0)
        for layer in COUNTER_LAYERS:
            c = counters.get((layer, lap), {})
            for key in ("input_bytes", "shuffle_write_bytes", "spill_bytes",
                        "task_skew", "failed_tasks"):
                v[f"{layer}.{key}"] = c.get(key, 0)
        for name, val in v.items():
            per_lap[name].append(val)

    setup_spans = [s for s in spans if s["lap"] is None and s["end"]]
    out = {}
    for name, unit in PER_LAYER:
        if name == "session.get_spark_s":
            val = _median([dur(s) for s in setup_spans
                           if s["name"] == "session.get_spark"])
        elif name == "datagen.write_s":
            val = _median([dur(s) for s in setup_spans
                                     if s["name"] == "datagen.write"])
        elif name in ("trace.overhead_ratio", "scaling_eff"):
            continue
        else:
            val = _median(per_lap[name])
        out[name] = (val, unit)
    return out
