"""Structured Streaming dedup surface: watermarked session assembly +
foreachBatch incremental dedup over file-source micro-batches."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.sources import transcripts as tg
from comparador_de_registros_spark.streaming.stream_dedup import (
    StreamingDedup,
    assemble_sessionized,
)

SPEC = tg.TranscriptSpec(n_base=30, seed=5)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    """Turn fixture split into 3 arrival files + a watermark-flush
    sentinel file (file source -> 4 micro-batches with
    maxFilesPerTrigger=1). The sentinel's far-future ts pushes the
    event-time watermark past every planted session so append-mode
    emits them; the sentinel conversation itself stays in state —
    the documented semantics of watermarked streams (a real deployment
    always has a next batch)."""
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "turns")
    os.makedirs(src)
    turns = tg.generate_transcripts(spark, SPEC).orderBy("conv_id", "turn_idx")
    pdf = turns.toPandas()
    import numpy as np

    # arrival files split by BASE index = event-time order (conv ts is
    # derived from the base index). Files out of time order would put
    # rows under an already-advanced watermark -> correctly dropped as
    # late; a real stream arrives roughly in time order.
    def base_of(cid: str) -> int:
        return int(cid.split("_")[1])

    bounds = [(0, 10), (10, 20), (20, 30)]
    for i, (lo, hi) in enumerate(bounds):
        part = pdf[pdf["conv_id"].map(lambda c: lo <= base_of(c) < hi)]
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/f{i}"
        )
        time.sleep(1.1)  # distinct mtimes -> stable batch order
    sentinel_ts = (pdf["ts"].max() + np.timedelta64(365, "D")).to_pydatetime()
    sentinel = spark.createDataFrame(
        [("__sentinel__", 0, "user", "flush", "", sentinel_ts)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    sentinel.coalesce(1).write.mode("overwrite").parquet(f"{src}/f3")
    return src, str(root / "work"), str(root / "ckpt")


def test_streaming_dedup_end_to_end(spark, stream_dirs):
    src, workdir, ckpt = stream_dirs
    stream = (
        spark.readStream.schema(tg.TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    sd = StreamingDedup(workdir=workdir, cfg=DedupConfig())
    q = sd.start(stream, checkpoint_dir=ckpt, gap="30 minutes")
    q.awaitTermination(600)

    docs = spark.read.parquet(f"{workdir}/docs_norm")
    got_ids = {r["conv_id"] for r in docs.select("conv_id").collect()}
    # every planted conversation whose session closed must be assembled
    expected = set()
    for base in range(SPEC.n_base):
        expected.add(tg.base_conv_id(base))
        if tg.truth_kind(base) is not None:
            expected.add(tg.dup_conv_id(base))
    assert expected <= got_ids, expected - got_ids

    verified = spark.read.parquet(f"{workdir}/verified")
    dups = {
        (min(r["a"], r["b"]), max(r["a"], r["b"]))
        for r in verified.where("is_dup").collect()
    }
    truth = {
        (r["a"], r["b"])
        for r in tg.truth_pairs(spark, SPEC).collect()
        if r["kind"] in ("exact", "near")  # LSH-band incremental path
    }
    missed = truth - dups
    assert not missed, f"streaming dedup missed planted pairs: {missed}"
    # decoys must not pair up
    for base in range(SPEC.n_base):
        if tg.truth_kind(base) == "decoy":
            a, b = sorted((tg.base_conv_id(base), tg.dup_conv_id(base)))
            assert (a, b) not in dups


def test_assembled_doc_matches_batch_semantics(spark, stream_dirs):
    """Streaming assembly must produce the same doc text as the batch
    assembler for every closed conversation (stable turn_idx order)."""
    src, workdir, _ = stream_dirs
    from comparador_de_registros_spark.operators.assembly import (
        assemble_conversations,
        normalize_doc_col,
    )

    turns = tg.generate_transcripts(spark, SPEC)
    batch = {
        r["conv_id"]: r["norm"]
        for r in assemble_conversations(turns)
        .select("conv_id", normalize_doc_col(F.col("doc")).alias("norm"))
        .collect()
    }
    streamed = {
        r["conv_id"]: r["norm"]
        for r in spark.read.parquet(f"{workdir}/docs_norm").collect()
    }
    for cid, norm in streamed.items():
        if cid == "__sentinel__":
            continue
        assert batch[cid] == norm, cid


def test_restart_replay_is_idempotent(spark, tmp_path):
    """Re-delivering a batch id (foreachBatch restart replay) must not
    duplicate verified/signature/docs_norm rows: each batch overwrites
    its own batch_id=N directory and reads only state from batches
    strictly before it."""
    spec = tg.TranscriptSpec(n_base=8, seed=11)
    from comparador_de_registros_spark.operators.assembly import (
        assemble_conversations,
    )

    turns = tg.generate_transcripts(spark, spec)
    docs = assemble_conversations(turns)

    base_num = F.substring_index("conv_id", "_", -1).cast("int")
    b0 = docs.where(base_num < 4)
    b1 = docs.where(base_num >= 4)

    sd = StreamingDedup(workdir=str(tmp_path / "work"), cfg=DedupConfig())
    sd.process_batch(b0, 0)
    sd.process_batch(b1, 1)

    def snapshot():
        ver = spark.read.parquet(f"{sd.workdir}/verified")
        sig = spark.read.parquet(f"{sd.workdir}/signatures")
        dn = spark.read.parquet(f"{sd.workdir}/docs_norm")
        pairs = sorted(
            (r["a"], r["b"], r["is_dup"], int(r["batch_id"]))
            for r in ver.collect()
        )
        return pairs, sig.count(), dn.count()

    before = snapshot()
    # simulate a restart that re-delivers the last batch
    sd.process_batch(b1, 1)
    after = snapshot()
    assert before == after
    # and replaying an OLDER batch also converges to the same state
    sd.process_batch(b0, 0)
    assert snapshot() == before


def test_failed_batch_releases_signature_cache(spark, tmp_path, monkeypatch):
    """A batch whose verify raises must not leave its signature cache
    pinned for the rest of the session."""
    from comparador_de_registros_spark.streaming import stream_dedup

    made = {}
    real_sign = stream_dedup.compute_signatures

    def sign(*args, **kwargs):
        made["sigs"] = real_sign(*args, **kwargs)
        return made["sigs"]

    def failing_verify(*args, **kwargs):
        raise RuntimeError("verify failed")

    monkeypatch.setattr(stream_dedup, "compute_signatures", sign)
    monkeypatch.setattr(stream_dedup, "verify_pairs", failing_verify)
    docs = spark.createDataFrame(
        [("c1", "hello there"), ("c2", "general kenobi")],
        "conv_id string, doc string",
    )
    sd = StreamingDedup(workdir=str(tmp_path / "work"), cfg=DedupConfig())
    with pytest.raises(RuntimeError, match="verify failed"):
        sd.process_batch(docs, 0)
    level = made["sigs"].storageLevel
    assert not (level.useMemory or level.useDisk)


def test_legacy_state_layout_fails_loudly(spark, tmp_path):
    """A pre-round-3 workdir (flat parquet files with a batch_id DATA
    column at the table root) must raise a migration error on restart —
    not be silently treated as an empty corpus by partition discovery."""
    spec = tg.TranscriptSpec(n_base=4, seed=13)
    from comparador_de_registros_spark.operators.assembly import (
        assemble_conversations,
    )

    turns = tg.generate_transcripts(spark, spec)
    docs = assemble_conversations(turns)

    sd = StreamingDedup(workdir=str(tmp_path / "work"), cfg=DedupConfig())
    # forge the legacy layout: root-level parquet with batch_id column
    docs.select("conv_id", F.lit("x").alias("norm"), F.lit(0).alias("batch_id")) \
        .write.mode("overwrite").parquet(f"{sd.workdir}/signatures")
    with pytest.raises(RuntimeError, match="legacy streaming-state layout"):
        sd.process_batch(docs, 1)
