"""Structured Streaming dedup surface: watermarked session assembly +
foreachBatch incremental dedup over file-source micro-batches."""

from __future__ import annotations

import dataclasses
import os
import time

import pytest
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import doc_dedup
from comparador_de_registros_spark.operators.assembly import (
    assemble_conversations,
)
from comparador_de_registros_spark.plans.configs import DedupConfig, LshConfig
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
        if r["kind"] in tg.DUP_KINDS
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


def _stream_rows(spark, workdir, batches, cfg):
    """Stream ``batches`` in order -> sorted (a, b, sources, is_dup)."""
    sd = StreamingDedup(workdir=workdir, cfg=cfg)
    for batch_id, batch in enumerate(batches):
        sd.process_batch(batch, batch_id)
    ver = spark.read.parquet(f"{workdir}/verified")
    return sorted(
        (r["a"], r["b"], tuple(r["sources"]), r["is_dup"])
        for r in ver.collect()
    )


def _batch_rows(docs, cfg):
    """The docs line over the same docs -> sorted (a, b, sources, is_dup)."""
    verified = doc_dedup.signature_dup_pairs(
        docs, cfg, id_col="conv_id", text_col="doc"
    )
    try:
        return sorted(
            (r["a"], r["b"], tuple(r["sources"]), r["is_dup"])
            for r in verified.collect()
        )
    finally:
        doc_dedup.release_signature_run(verified)


def test_stream_matches_batch_line(spark, tmp_path):
    """Streamed over four batches, the verified rows equal the docs
    line's rows over the same docs: same candidates from all three
    generators, same sources, same verdicts. The dups of every planted
    kind cross batch boundaries in both directions (dup before and
    after its base), and the last batch copies two docs whose exact
    dups arrived earlier, so its buckets hold pairs of old docs that
    must not be emitted again."""
    spec = tg.TranscriptSpec(n_base=30, seed=5)
    planted = assemble_conversations(
        tg.generate_transcripts(spark, spec)
    ).select("conv_id", "doc")
    is_base = F.col("conv_id").startswith("conv_")
    base_num = F.substring_index("conv_id", "_", -1).cast("int")
    copies = planted.where(
        is_base & base_num.isin(0, 1)
    ).withColumn("conv_id", F.concat(F.lit("copy_"), "conv_id"))
    batches = [
        planted.where(is_base & (base_num < 15)),
        planted.where(~is_base),
        planted.where(is_base & (base_num >= 15)),
        copies,
    ]
    docs = planted.unionByName(copies)
    cfg = DedupConfig()
    streamed = _stream_rows(spark, str(tmp_path / "work"), batches, cfg)
    assert streamed == _batch_rows(docs, cfg)
    dups = {(a, b) for a, b, _s, is_dup in streamed if is_dup}
    truth = {
        (r["a"], r["b"])
        for r in tg.truth_pairs(spark, spec).collect()
        if r["kind"] in tg.DUP_KINDS
    }
    assert truth <= dups, truth - dups


def test_stream_conv_id_in_two_batches_never_pairs_with_itself(
    spark, tmp_path
):
    """A session window can emit one conv_id twice; its state row and
    its new row share every bucket but must not become an a == b pair,
    and its planted dup is still found."""
    spec = tg.TranscriptSpec(n_base=6, seed=11)
    docs = assemble_conversations(tg.generate_transcripts(spark, spec)).select(
        "conv_id", "doc"
    )
    base = next(b for b in range(spec.n_base) if tg.truth_kind(b) == "exact")
    again = docs.where(F.col("conv_id") == tg.base_conv_id(base))
    rows = _stream_rows(
        spark, str(tmp_path / "work"), [docs, again], DedupConfig()
    )
    assert all(a < b for a, b, _s, _d in rows)
    pair = tuple(sorted((tg.base_conv_id(base), tg.dup_conv_id(base))))
    assert any((a, b) == pair and d for a, b, _s, d in rows)


def test_stream_bucket_cap_counts_state_members(spark, tmp_path):
    """A template family larger than ``max_bucket_size`` fills every
    bucket it shares; batch drops those buckets, and so must the stream,
    also when a later batch adds one more member (the cap counts the
    bucket's old members, not only the new ones)."""
    template = (
        "thank you for contacting support. your ticket has been received "
        "and an agent will reply within two business days. please keep "
        "this reference and do not reply to this automated message. "
    )
    spec = tg.TranscriptSpec(n_base=6, seed=11)
    others = assemble_conversations(
        tg.generate_transcripts(spark, spec)
    ).select("conv_id", "doc")
    family = spark.createDataFrame(
        [(f"tmpl_{i}", template) for i in range(7)],
        "conv_id string, doc string",
    )
    batches = [
        others.unionByName(family.where("conv_id != 'tmpl_6'")),
        family.where("conv_id = 'tmpl_6'"),
    ]
    cfg = dataclasses.replace(DedupConfig(), lsh=LshConfig(max_bucket_size=4))
    streamed = _stream_rows(spark, str(tmp_path / "work"), batches, cfg)
    assert streamed == _batch_rows(others.unionByName(family), cfg)
    assert not [r for r in streamed if r[0].startswith("tmpl_")]
    # the cap is what removed them: the uncapped stream pairs the family
    uncapped = _stream_rows(
        spark, str(tmp_path / "uncapped"), batches, DedupConfig()
    )
    assert sum(r[0].startswith("tmpl_") for r in uncapped) == 21


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
    """A batch whose verify raises must not leave its signature or
    candidate cache pinned for the rest of the session."""
    from comparador_de_registros_spark.streaming import stream_dedup

    made = {}
    real_sign = stream_dedup.compute_signatures
    real_cand = stream_dedup.unified_candidates

    def sign(*args, **kwargs):
        made["sigs"] = real_sign(*args, **kwargs)
        return made["sigs"]

    def candidates(*args, **kwargs):
        out = real_cand(*args, **kwargs)
        made["cand"] = out[0]
        return out

    def failing_verify(*args, **kwargs):
        raise RuntimeError("verify failed")

    monkeypatch.setattr(stream_dedup, "compute_signatures", sign)
    monkeypatch.setattr(stream_dedup, "unified_candidates", candidates)
    monkeypatch.setattr(stream_dedup, "verify_pairs", failing_verify)
    docs = spark.createDataFrame(
        [("c1", "hello there"), ("c2", "general kenobi")],
        "conv_id string, doc string",
    )
    sd = StreamingDedup(workdir=str(tmp_path / "work"), cfg=DedupConfig())
    with pytest.raises(RuntimeError, match="verify failed"):
        sd.process_batch(docs, 0)
    for name in ("sigs", "cand"):
        level = made[name].storageLevel
        assert not (level.useMemory or level.useDisk), name


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
