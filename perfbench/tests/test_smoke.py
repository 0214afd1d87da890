"""Tiny-scale runs of each workload with every output check on, the
traced run's per-layer metrics, and the seed self-check.

    python3 -m pytest perfbench/tests -q    (about two minutes)
"""

from __future__ import annotations

import pytest

from perfbench import run, trace
from perfbench.workloads import (
    BulkMaintain,
    BulkSize,
    Recorder,
    StreamIngest,
    StreamSize,
)

TINY_BULK = BulkSize(rows=2_000, file_rows=400, bad_rows=100, target_rows_per_file=1_000)
TINY_STREAM = StreamSize(
    base_rows=1_000, base_files=4, inserts=40, updates=40, recent=400,
    warm_batches=1, round_batches=2, lookup_every=1,
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session, _ = run.start_session(str(tmp_path_factory.mktemp("spark")), trace=False, cores=2)
    yield session
    run.stop_session(session)


def _run(wl, tracer=None) -> tuple[Recorder, Recorder]:
    wl.setup()
    warm = Recorder()
    wl.warm(warm)
    rec = Recorder(tracer)
    if tracer is None:
        wl.round(rec)
    else:
        with tracer.round():
            wl.round(rec)
    return warm, rec


def _checked(wl) -> Recorder:
    warm, rec = _run(wl)
    assert warm.failed == 0 and rec.failed == 0
    return rec


def test_bulk_maintain_outputs_check(spark, tmp_path):
    wl = BulkMaintain(spark, str(tmp_path), 7, TINY_BULK)
    rec = _checked(wl)
    assert {"rewrite", "merge", "expire", "cycle", "read", "report"} <= set(rec.samples)
    assert len(rec.samples["read"]) == len(BulkMaintain.SCANS) + len(wl.lookups)
    assert rec.values["bytes_per_user_byte"][0] > 0


def test_stream_ingest_outputs_check(spark, tmp_path):
    rec = _checked(StreamIngest(spark, str(tmp_path), 7, TINY_STREAM))
    assert len(rec.samples["batch"]) == 2 and len(rec.samples["read"]) == 2
    assert rec.values["rows_per_s"][0] > 0


def test_traced_round_reports_every_layer(spark, tmp_path):
    tracer = trace.Tracer()
    uninstall = trace.install(tracer)
    try:
        _run(BulkMaintain(spark, str(tmp_path), 7, TINY_BULK), tracer)
    finally:
        uninstall()
    from datalakequality_spark.sources.icemini import IceMiniTable

    assert not hasattr(IceMiniTable.commit, "__wrapped__")
    m = trace.layer_metrics(tracer, {}, {}, {})
    for name in ("clustering.rewrite_sorted.ms", "merge.merge_into.ms", "icemini.commit.ms",
                 "compaction.gate_batch.ms", "operators.profile_dataset.ms", "lineage.joblog.ms"):
        assert m[name]["value"] > 0, name
    assert m["clustering.shards"]["value"] >= 1
    assert m["merge.files_rewritten"]["value"] >= 1


def test_gate_quarantines_null_token_arrays(spark, tmp_path):
    """The injected-bad set of bulk_maintain leaves out null token
    arrays because the gate misses them: ``parquet_null_counts`` looks
    the column up by top-level name, but a list column's footer leaf is
    ``tokens.list.element``. This test fails until that is fixed."""
    from pyspark.sql import functions as F

    from datalakequality_spark.maintenance.clustering import rewrite_sorted
    from datalakequality_spark.sources.datagen import generate_sequences
    from datalakequality_spark.sources.icemini import IceMiniTable

    t = IceMiniTable.create(spark, str(tmp_path / "t"))
    t.append(generate_sequences(spark, 1_000, seed=7), target_file_rows=500)
    bad = generate_sequences(spark, 100, start_id=10_000, seed=7).withColumn(
        "tokens", F.when(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0, F.lit(None)).otherwise(F.col("tokens"))
    )
    [entry] = t.write_data_files(bad.coalesce(1))
    t.commit("append", added=[entry])
    rewrite_sorted(t, method="zorder", target_rows_per_file=1_000, quality_gate=True)
    assert {q["path"] for s in t.snapshots() for q in s.quarantine} == {entry.path}


def test_seed_reproduces_inputs_and_seeds_differ(spark, tmp_path):
    hashes = []
    for i, seed in enumerate((3, 3, 4)):
        wl = StreamIngest(spark, str(tmp_path / str(i)), seed, TINY_STREAM)
        wl.setup()
        hashes.append(wl.input_hash)
    assert hashes[0] == hashes[1] != hashes[2]
