"""The workloads: inputs from ``sources.datagen``, a fixed operation
sequence per round, and a check of every output.

Each workload has ``setup()`` (input generation and table build,
counted in ``setup_s``), ``warm()`` (untimed; its checks still count)
and ``round(rec)``. A round always runs the same operations on the same
starting state, so a faster engine does not get a different sequence.
Table workloads copy a template table at the start of each round; the
copy is not timed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datalakequality_spark.maintenance import clustering, compaction, merge
from datalakequality_spark.plans import quality_gate
from datalakequality_spark.sources.datagen import (
    generate_merge_batch,
    generate_sequences,
)
from datalakequality_spark.sources.icemini import IceMiniTable
from datalakequality_spark.sources.state import StateStore
from datalakequality_spark.streaming.ingest import IceMiniUpsertSink

COLS = ["doc_id", "tokens", "n_tok", "source"]


def row_hash():
    """Order-independent row hash over the four columns (pmod first:
    Spark's ANSI mode rejects a sum of raw xxhash64 values that
    overflows)."""
    return F.pmod(F.xxhash64(*COLS), F.lit(2**31))


def content(df) -> tuple[int, int]:
    """(row count, sum of row hashes) — equal for equal multisets of
    rows, whatever the file layout."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash()).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def content_and_bytes(df) -> tuple[tuple[int, int], int]:
    """``content(df)`` plus the logical bytes of the rows as a user sees
    them (key and source strings, 4-byte token ids, 4-byte n_tok), in
    one pass."""
    logical = F.length("doc_id") + F.length("source") + 4 * F.size("tokens") + 4
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(row_hash()).alias("h"), F.sum(logical).alias("b")
    ).first()
    return (int(r["n"]), int(r["h"] or 0)), int(r["b"] or 0)


def stored_bytes(table: IceMiniTable) -> int:
    """Live data files, their key sidecars, live delete files and the
    whole metadata directory."""
    live = [*table.live_entries(), *table.live_delete_entries()]
    total = 0
    for e in live:
        total += e.size_bytes
        if e.key_bloom:
            total += os.path.getsize(table._abs(e.key_bloom))
    for dirpath, _, files in os.walk(table.meta_dir):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Recorder:
    """Latency samples, per-round values and the attempted/failed
    operation counts of one run."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed_ops: set[int] = set()

    @contextmanager
    def op(self, kind: str):
        """Time one operation; yields its id for ``check``."""
        self.attempted += 1
        op_id = self.attempted
        t0 = time.perf_counter()
        yield op_id
        self.samples.setdefault(kind, []).append((time.perf_counter() - t0) * 1000.0)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def value(self, name: str, v: float) -> None:
        self.values.setdefault(name, []).append(v)

    def check(self, ok: bool, what: str, op_id: int) -> None:
        if not ok:
            self.failed_ops.add(op_id)
            print(f"check failed: {what}", file=sys.stderr)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)


def _rounded(obj):
    """Floats to 12 significant digits: Spark's float sums depend on the
    order partial aggregates merge in, so a repeated report may differ
    in the last bits of a standard deviation."""
    if isinstance(obj, float):
        return float(f"{obj:.12g}")
    if isinstance(obj, dict):
        return {k: _rounded(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_rounded(v) for v in obj]
    return obj


def _fresh_copy(template: str, root: str) -> str:
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(template, root)
    return root


# ------------------------------------------------------------ bulk_maintain


BULK_MEAN_TOKENS = 64.0


@dataclass
class BulkSize:
    rows: int = 50_000
    file_rows: int = 1_250
    bad_rows: int = 200
    target_rows_per_file: int = 5_000


class BulkMaintain:
    """Small-files table plus injected contract-violating files →
    gated Z-order rewrite → range scans → copy-on-write MERGE → expire
    → key lookups → DataLakeQuality report."""

    name = "bulk_maintain"
    # (scan pruning arguments, residual predicate) — n_tok ranges and
    # source sets, so a rewrite that clusters worse pays in read time
    SCANS = [
        ({"min_n_tok": 10, "max_n_tok": 40}, "n_tok BETWEEN 10 AND 40"),
        ({"min_n_tok": 200}, "n_tok >= 200"),
        (
            {"sources": ["books", "code"], "min_n_tok": 50, "max_n_tok": 100},
            "source IN ('books', 'code') AND n_tok BETWEEN 50 AND 100",
        ),
    ]

    def __init__(self, spark, work: str, seed: int, size: BulkSize | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = size or BulkSize()
        self.template = os.path.join(work, "bulk-template")

    def _bad_files(self, t: IceMiniTable):
        """FIXTURES F1 variant (e): three files, one per check of the
        per-file gate — null n_tok in ~10% of rows, n_tok at its 8,192
        clip (a z-outlier) in ~20% of rows, an e-mail in every doc_id —
        written in one job by the fanout writer (one file per ``__bad``
        value). Null token arrays are not among them: the gate does not
        see them (see NOTES.md, "Output checks")."""
        s = self.size
        bad = generate_sequences(
            self.spark, 3 * s.bad_rows, start_id=10 * s.rows + 1_000_000,
            seed=self.seed, mean_tokens=BULK_MEAN_TOKENS,
        ).withColumn("__bad", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int"))
        pick = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(10))
        n_tok = (
            F.when((F.col("__bad") == 0) & (pick == 0), F.lit(None).cast("int"))
            .when((F.col("__bad") == 1) & (pick < 2), F.lit(8192))
            .otherwise(F.col("n_tok"))
        )
        bad = bad.withColumn("n_tok", n_tok).withColumn(
            "doc_id",
            F.when(F.col("__bad") == 2, F.concat("doc_id", F.lit("-owner@example.com"))).otherwise(F.col("doc_id")),
        )
        return t.write_data_files(bad.repartition(1).sortWithinPartitions("__bad"), split_col="__bad")

    def setup(self) -> None:
        s, spark = self.size, self.spark
        # generated once: the table, the expected table and the expected
        # scans all read it
        good = generate_sequences(spark, s.rows, seed=self.seed, mean_tokens=BULK_MEAN_TOKENS).persist()
        t = IceMiniTable.create(spark, self.template)
        t.append(good, target_file_rows=s.file_rows)
        bad = self._bad_files(t)
        t.commit("append", added=bad)
        self.bad_paths = {e.path for e in bad}
        self.input_rows = t.snapshot().summary["total_rows"]

        # the MERGE source is input data: materialised before timing
        self.source = generate_merge_batch(
            spark, s.rows, insert_rows=s.rows // 10, seed=self.seed, mean_tokens=BULK_MEAN_TOKENS
        ).persist()
        self.source_rows = self.source.count()

        # expected table = unmatched good rows + the MERGE source, tagged
        # by kind; one aggregation gives its content and one lookup row
        # per kind
        src_keys = self.source.select("doc_id")
        in_good = good.select("doc_id", F.lit(True).alias("in_good"))
        expected = good.join(src_keys, "doc_id", "left_anti").withColumn("kind", F.lit("untouched")).unionByName(
            self.source.join(in_good, "doc_id", "left")
            .withColumn("kind", F.when(F.col("in_good"), "updated").otherwise("inserted"))
            .drop("in_good")
        )
        by_kind = expected.groupBy("kind").agg(
            F.count(F.lit(1)).alias("n"), F.sum(row_hash()).alias("h"),
            F.min_by(F.struct(*COLS), "doc_id").alias("first"),
        ).collect()
        self.expected = (sum(r["n"] for r in by_kind), sum(int(r["h"] or 0) for r in by_kind))
        self.input_hash = self.expected[1]
        # the scans read the rewritten table, before the MERGE: the good
        # rows, the quarantined files left out
        scan_aggs = []
        for i, (_, pred) in enumerate(self.SCANS):
            scan_aggs += [
                F.sum(F.expr(pred).cast("long")).alias(f"n{i}"),
                F.sum(F.when(F.expr(pred), row_hash()).otherwise(0)).alias(f"h{i}"),
            ]
        r = good.agg(*scan_aggs).first()
        self.scan_expected = [(int(r[f"n{i}"] or 0), int(r[f"h{i}"] or 0)) for i in range(len(self.SCANS))]
        good.unpersist()
        # updated and inserted keys read back as the MERGE wrote them; a
        # key from a quarantined file must be absent
        self.lookups = [(r["first"]["doc_id"], [r["first"]]) for r in sorted(by_kind, key=lambda r: r["kind"]) if r["kind"] != "untouched"]
        self.lookups.append((min(e.min_doc_id for e in bad), []))

        # DataLakeQuality report state: the F1 contract. The warm round's
        # report creates the drift and schema baselines
        self.state = StateStore(os.path.join(self.work, "bulk-state"))
        self.state.save_contract(CONTRACT)
        self.reference = None

    def warm(self, rec: Recorder) -> None:
        self.round(rec, keep=True)
        # every report after the baselines exist repeats the same report
        with rec.op("report") as rp:
            self.reference = self._report(self.warm_table)
        self._check_report(rec, self.reference, rp)
        shutil.rmtree(self.warm_table.root, ignore_errors=True)

    def round(self, rec: Recorder, keep: bool = False) -> None:
        s = self.size
        root = _fresh_copy(self.template, os.path.join(self.work, "bulk-warm" if keep else "bulk-round"))
        t = IceMiniTable.load(self.spark, root)
        with rec.op("rewrite") as rw:
            clustering.rewrite_sorted(
                t, method="zorder", target_rows_per_file=s.target_rows_per_file,
                quality_gate=True,
            )
        with rec.span("bench.check"):
            quarantined = {q["path"] for snap in t.snapshots() for q in snap.quarantine}
            rec.check(quarantined == self.bad_paths, f"quarantined {sorted(quarantined)} != injected {sorted(self.bad_paths)}", rw)
            if rec.tracer is not None:
                rec.value("injected", len(self.bad_paths))
                rec.value("injected_quarantined", len(quarantined & self.bad_paths))
                rec.value("matched_files", self._files_with_source_keys(t))
        # the scans read the rewrite's layout, before the MERGE rewrites
        # every file that holds one of its keys
        for (kw, pred), want in zip(self.SCANS, self.scan_expected):
            with rec.op("read") as rd, rec.span("bench.read"):
                got = content(t.scan(**kw).where(pred))
            rec.check(got == want, f"scan {kw}: {got} != {want}", rd)

        with rec.op("merge") as mg:
            out = merge.merge_into(t, self.source)
        with rec.op("expire"):
            t.expire_snapshots(keep_last=1)
        cycle_s = sum(rec.samples[k][-1] for k in ("rewrite", "merge", "expire")) / 1000.0
        rec.samples.setdefault("cycle", []).append(cycle_s * 1000.0)
        rec.value("rows_per_s", self.input_rows / cycle_s)
        if rec.tracer is not None:
            rec.value("files_rewritten", len(out["input_files"]))

        for key, want in self.lookups:
            with rec.op("read") as rd, rec.span("bench.read"):
                got = t.scan().where(F.col("doc_id") == key).select(*COLS).collect()
            rec.check(got == want, f"lookup {key}: {len(got)} rows, expected {len(want)}", rd)

        with rec.span("bench.check"):
            got, logical = content_and_bytes(t.scan())
            rec.check(got == self.expected, f"table content {got} != expected {self.expected}", mg)
            rec.value("bytes_per_user_byte", stored_bytes(t) / logical)

        with rec.op("report") as rp:
            rep = self._report(t)
        self._check_report(rec, rep, rp)
        if keep:
            self.warm_table = t
        else:
            shutil.rmtree(root, ignore_errors=True)

    def _report(self, t: IceMiniTable) -> dict:
        rep = quality_gate.run_quality_gate(t.scan(), CONTRACT["dataset_name"], self.state, save_history=False)
        rep.pop("generated_at")
        return rep

    def _check_report(self, rec: Recorder, rep: dict, op_id: int) -> None:
        pii = {c["column"]: set(c["detected_types"]) for c in rep["pii"]["pii_columns"]}
        rec.check(rep["summary"]["row_count"] == self.expected[0], f"row_count {rep['summary']['row_count']}", op_id)
        rec.check(rep["contract"]["passed"] is True, f"contract verdict {rep['contract']}", op_id)
        # the generator plants e-mails and 12-digit runs in doc_id only
        rec.check(list(pii) == ["doc_id"] and {"email", "id_number"} <= pii["doc_id"], f"pii columns {pii}", op_id)
        if self.reference is not None:
            got, want = _rounded(rep), _rounded(self.reference)
            diff = sorted(k for k in got if got[k] != want.get(k))
            rec.check(not diff, f"report differs from the first repetition in {diff}", op_id)

    def _files_with_source_keys(self, t: IceMiniTable) -> int:
        """Live data files holding at least one MERGE key (the files a
        perfect copy-on-write MERGE rewrites)."""
        paths = [t._abs(e.path) for e in t.live_entries()]
        return (
            self.spark.read.schema(t.schema()).parquet(*paths)
            .select("doc_id", F.input_file_name().alias("f"))
            .join(self.source.select("doc_id"), "doc_id", "left_semi")
            .select("f").distinct().count()
        )

    def summary(self) -> dict:
        return {"op": "cycle", "rows": self.input_rows + self.source_rows}


# ------------------------------------------------------------ stream_ingest


STREAM_MEAN_TOKENS = 32.0


@dataclass
class StreamSize:
    base_rows: int = 6_000
    base_files: int = 8
    inserts: int = 150
    updates: int = 150
    recent: int = 2_000
    warm_batches: int = 2
    round_batches: int = 4
    lookup_every: int = 2


class StreamIngest:
    """A fragmented table (one commit per file) fed by one merge-on-read
    upsert writer with the gate on; lookups every few batches and delete
    compaction plus expire at the end of each round."""

    name = "stream_ingest"

    def __init__(self, spark, work: str, seed: int, size: StreamSize | None = None):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = size or StreamSize()
        self.template = os.path.join(work, "stream-template")
        self.batch_dir = os.path.join(work, "stream-batches")
        n = self.size.warm_batches + self.size.round_batches
        self.warm_epochs = list(range(self.size.warm_batches))
        self.round_epochs = list(range(self.size.warm_batches, n))

    def _batches(self):
        """All epochs in one frame: ``inserts`` new keys per epoch, plus
        about ``updates`` re-written keys per epoch drawn from the
        ``recent`` most recently appended base keys (each at most once)."""
        s, spark = self.size, self.spark
        n = len(self.warm_epochs) + len(self.round_epochs)
        ins = generate_sequences(
            spark, n * s.inserts, start_id=s.base_rows, seed=self.seed, mean_tokens=STREAM_MEAN_TOKENS
        ).withColumn("epoch", F.pmod(F.xxhash64("doc_id", F.lit(self.seed)), F.lit(n)))
        upd = generate_sequences(
            spark, s.recent, start_id=s.base_rows - s.recent, rev=1, seed=self.seed, mean_tokens=STREAM_MEAN_TOKENS
        ).withColumn("epoch", F.pmod(F.xxhash64("doc_id", F.lit(self.seed), F.lit("upd")), F.lit(s.recent // s.updates)))
        return ins.withColumn("kind", F.lit("insert")).unionByName(
            upd.where(F.col("epoch") < n).withColumn("kind", F.lit("update"))
        )

    def setup(self) -> None:
        s, spark = self.size, self.spark
        base = generate_sequences(spark, s.base_rows, seed=self.seed, mean_tokens=STREAM_MEAN_TOKENS)
        t = IceMiniTable.create(spark, self.template)
        for entry in sorted(t.write_data_files(base.repartition(s.base_files)), key=lambda e: e.path):
            t.commit("append", added=[entry])

        epochs = self.warm_epochs + self.round_epochs
        self._batches().coalesce(1).write.partitionBy("epoch").parquet(self.batch_dir)
        stored = spark.read.parquet(self.batch_dir)

        # last writer wins: base rows are epoch -1
        everything = base.withColumn("epoch", F.lit(-1)).unionByName(stored.drop("kind"))
        w = Window.partitionBy("doc_id").orderBy(F.col("epoch").desc())
        self.expected = content(everything.withColumn("r", F.row_number().over(w)).where("r = 1").drop("r", "epoch"))
        self.input_hash = self.expected[1]

        # the batches are small: count them and pick the lookups on the
        # driver. After every lookup_every-th round batch, its first
        # updated (then inserted, alternating) key must read back as
        # that batch wrote it
        rows = stored.collect()
        self.batch_rows = {e: sum(1 for r in rows if r["epoch"] == e) for e in epochs}
        self.lookups: dict[int, tuple] = {}
        lookup_epochs = self.round_epochs[s.lookup_every - 1 :: s.lookup_every]
        for i, e in enumerate(lookup_epochs):
            kind = ("update", "insert")[i % 2]
            r = min((r for r in rows if r["epoch"] == e and r["kind"] == kind), key=lambda r: r["doc_id"])
            self.lookups[e] = (r["doc_id"], [Row(**{c: r[c] for c in COLS})])

    def _sink(self, t: IceMiniTable) -> IceMiniUpsertSink:
        # one data file per batch: the gate judges a file by its share
        # of PII keys and outliers, and splitting a batch of generated
        # rows into many tiny files would quarantine some by chance
        return IceMiniUpsertSink(t, quality_gate=True, target_file_rows=2 * (self.size.inserts + self.size.updates))

    def _read_batch(self, e: int):
        return self.spark.read.parquet(os.path.join(self.batch_dir, f"epoch={e}")).select(*COLS)

    def warm(self, rec: Recorder) -> None:
        t = IceMiniTable.load(self.spark, self.template)
        sink = self._sink(t)
        for e in self.warm_epochs:
            with rec.op("warm-batch"):
                sink(self._read_batch(e), e)
        with rec.op("warm-read"):
            t.scan().where(F.col("doc_id") == "none").collect()

    def round(self, rec: Recorder) -> None:
        root = _fresh_copy(self.template, os.path.join(self.work, "stream-round"))
        t = IceMiniTable.load(self.spark, root)
        sink = self._sink(t)
        rows = 0
        t0 = time.perf_counter()
        for e in self.round_epochs:
            batch = self._read_batch(e)
            with rec.op("batch"):
                sink(batch, e)
            rows += self.batch_rows[e]
            if e in self.lookups:
                key, want = self.lookups[e]
                with rec.op("read") as rd, rec.span("bench.read"):
                    got = t.scan().where(F.col("doc_id") == key).select(*COLS).collect()
                rec.check(got == want, f"lookup {key} after epoch {e}: {got[:1]} != {want}", rd)
        with rec.op("compact"):
            compaction.compact_delete_files(t)
        with rec.op("expire") as ex:
            t.expire_snapshots(keep_last=1)
        rec.value("rows_per_s", rows / (time.perf_counter() - t0))
        with rec.span("bench.check"):
            got, logical = content_and_bytes(t.scan())
            rec.check(got == self.expected, f"table content {got} != last-writer-wins {self.expected}", ex)
            rec.value("bytes_per_user_byte", stored_bytes(t) / logical)
            if rec.tracer is not None:
                rec.value("injected", 0)
                rec.value("injected_quarantined", 0)
        shutil.rmtree(root, ignore_errors=True)

    def summary(self) -> dict:
        return {"op": "batch", "rows": sum(self.batch_rows[e] for e in self.round_epochs)}


CONTRACT = {
    "dataset_name": "sequences",
    "required_columns": COLS,
    "column_types": {"doc_id": "string", "n_tok": "integer", "source": "string"},
    "unique_keys": ["doc_id"],
    "policy": {
        "quality_threshold": 80,
        "fail_on": {
            "missing_ratio_gt": 0.05,
            "contract_violations_gt": 0,
            "overall_outlier_ratio_gt": 0.10,
            "has_drift": True,
            "psi_severity_in": ["severe"],
        },
    },
}


WORKLOADS = {w.name: w for w in (BulkMaintain, StreamIngest)}
