"""The benchmark's workloads: inputs made from a seed, one measured
pass through the engine's public entry points, and the output checks.

Every layer call in a pass is wrapped in a tracer span from the
outside; the engine itself is not instrumented.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import doc_dedup
from comparador_de_registros_spark.operators.assembly import normalize_doc_col
from comparador_de_registros_spark.operators.cluster import connected_components
from comparador_de_registros_spark.operators.pipeline import STAGES, DedupPipeline
from comparador_de_registros_spark.oracle import brute_force_oracle
from comparador_de_registros_spark.plans.configs import DedupConfig
from comparador_de_registros_spark.sources import transcripts as tg
from comparador_de_registros_spark.sources.catalog import ParquetCatalog
from comparador_de_registros_spark.streaming.stream_dedup import StreamingDedup

RECALL_GATE = 0.99


class CheckFailed(Exception):
    """A pass produced a wrong output."""


@dataclass
class PassResult:
    wall_s: float
    recall: float
    counts: dict[str, float]
    ckpt_bytes: int
    ckpt_files: int
    batch_s: list[float] = field(default_factory=list)


def table_sizes(counts: dict, root: str, tables: tuple[str, ...]) -> tuple[int, int]:
    """Record ``catalog.<table>.write_mb``/``files`` of the tables under
    ``root``, from the catalog's per-file lineage, into ``counts``.
    -> total (bytes, files)"""
    catalog = ParquetCatalog(root)
    total_bytes = total_files = 0
    for table in tables:
        lineage = catalog.partition_lineage(table)
        size = sum(n_bytes for _f, _rows, n_bytes in lineage)
        counts[f"catalog.{table}.write_mb"] = size / 2**20
        counts[f"catalog.{table}.files"] = len(lineage)
        total_bytes, total_files = total_bytes + size, total_files + len(lineage)
    return total_bytes, total_files


def co_clustered(cluster_of: dict[str, str], a: str, b: str) -> bool:
    return cluster_of.get(a) is not None and cluster_of.get(a) == cluster_of.get(b)


def _read(path: str):
    return pq.read_table(path).to_pandas()


def planted_shares(spec: tg.TranscriptSpec) -> dict[str, float]:
    kinds = [tg.truth_kind(b) or "singleton" for b in range(spec.n_base)]
    return {k: kinds.count(k) / len(kinds) for k in sorted(set(kinds))}


def truth_check(spec: tg.TranscriptSpec, cluster_of: dict[str, str]) -> float:
    """Planted-truth recall of co-clustered dup pairs; raises when a
    turn-reordered decoy is merged with its base or recall < gate."""
    hits = total = merged_decoys = 0
    for base in range(spec.n_base):
        kind = tg.truth_kind(base)
        same = co_clustered(cluster_of, tg.base_conv_id(base), tg.dup_conv_id(base))
        if kind in tg.DUP_KINDS:
            total += 1
            hits += same
        elif kind == "decoy" and same:
            merged_decoys += 1
    recall = hits / total if total else 1.0
    if merged_decoys:
        raise CheckFailed(f"{merged_decoys} turn-reordered decoys merged")
    if recall < RECALL_GATE:
        raise CheckFailed(f"dup_recall {recall:.4f} < {RECALL_GATE}")
    return recall


def verified_counts(verified) -> dict[str, float]:
    """Per-generator candidate and verify outcome counts from a
    verified table (pandas), with the runtime invariant
    n_candidates == n_dups + n_rejected."""
    n = len(verified)
    srcs = verified["sources"].map(lambda s: set(s) if s is not None else set())
    is_dup = verified["is_dup"]
    n_dups = int((is_dup == True).sum())  # noqa: E712 - NULL must not count
    n_rej = int((is_dup == False).sum())  # noqa: E712
    if n != n_dups + n_rej:
        raise CheckFailed(f"{n} candidates but {n_dups} dups + {n_rej} rejected")
    if verified.duplicated(["a", "b"]).any():
        raise CheckFailed("verified table repeats a candidate pair")
    has = lambda g: srcs.map(lambda s: g in s)  # noqa: E731
    return {
        "candidates.n_pairs": n,
        "candidates.n_lsh": int(has("lsh").sum()),
        "candidates.n_simhash": int(has("simhash").sum()),
        "candidates.n_substring": int(has("substring").sum()),
        "candidates.simhash_only_dups": int(
            (is_dup.astype(bool) & srcs.map(lambda s: s == {"simhash"})).sum()
        ),
        "candidates.dup_yield": n_dups / n if n else 0.0,
        "verify.n_dups": n_dups,
        "verify.n_rejected": n_rej,
        "verify.n_pruned": int(verified["jaccard"].isna().sum()),
        "verify.n_ladder": int(has("substring").sum()),
    }


def per_generator(counts: dict) -> dict[str, int]:
    return {g: counts[f"candidates.n_{g}"] for g in ("lsh", "simhash", "substring")}


def verify_plan(cfg: DedupConfig, n_candidates: int | None) -> str:
    """The verify plan the engine's count gate selects for a pass."""
    if n_candidates is None:
        return "large"
    if n_candidates <= cfg.verify_small_candidates_max:
        return "small"
    return "medium-or-large"


class Workload:
    name = ""

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        self.cfg = DedupConfig()
        self.props: dict = {}

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, workdir: str) -> PassResult:
        raise NotImplementedError

    def prepare_reference(self, spark) -> None:
        """Untimed per-input work the output checks need."""

    def kernel_sample(self, workdir: str) -> list[str]:
        """Normalized texts, in conv_id order, of the pass in ``workdir``."""
        raise NotImplementedError


class PipelineLongConv(Workload):
    """Long agent-style transcripts through the checkpointing
    pipeline, one ``DedupPipeline.run(stages=(s,))`` call per stage."""

    name = "pipeline-longconv"

    def __init__(self, root: str, seed: int) -> None:
        super().__init__(root, seed)
        self.spec = tg.TranscriptSpec(
            n_base=400, seed=seed, min_turns=16, max_turns=40, min_words=12, max_words=30
        )

    def prepare(self, spark) -> None:
        path = os.path.join(self.root, "input", "turns")
        tg.generate_transcripts(spark, self.spec).write.mode("overwrite").parquet(path)
        self.turns = spark.read.parquet(path)
        row = self.turns.agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.sum(F.octet_length("text")).alias("text_bytes"),
        ).first()
        self.n_turns = int(row["n_turns"])
        self.text_bytes = int(row["text_bytes"])
        self.props.update(
            n_convs=int(row["n_convs"]),
            n_turns=self.n_turns,
            text_mb=self.text_bytes / 2**20,
            planted_share=planted_shares(self.spec),
        )

    def run_pass(self, spark, tracer, workdir: str) -> PassResult:
        catalog = ParquetCatalog(workdir)
        pipe = DedupPipeline(catalog=catalog, cfg=self.cfg)
        t0 = time.perf_counter()
        for stage in STAGES:
            with tracer.span(stage):
                pipe.run(spark, self.turns, stages=(stage,))
        wall = time.perf_counter() - t0

        clusters = _read(catalog.path("clusters"))
        recall = truth_check(self.spec, dict(zip(clusters.conv_id, clusters.cluster_id)))
        verified = _read(catalog.path("verified"))
        counts = verified_counts(verified)
        n_cand = sum(rows for _f, rows, _b in catalog.partition_lineage("candidates"))
        if n_cand != counts["candidates.n_pairs"]:
            raise CheckFailed(f"{n_cand} candidates written, {counts['candidates.n_pairs']} verified")
        exact = _read(catalog.path("exact_map"))
        n_members = int((exact.conv_id != exact.rep_id).sum())
        counts.update(
            {
                "assemble.n_docs": len(exact),
                "exact.n_reps": len(exact) - n_members,
                "exact.n_members": n_members,
                "cluster.n_edges": counts["verify.n_dups"] + n_members,
                "cluster.n_clusters": int(clusters.cluster_id.nunique()),
            }
        )
        size, files = table_sizes(
            counts, workdir, ("docs", "exact_map", "signatures", "candidates",
                              "dropped_buckets", "verified", "clusters"),
        )
        self.props.update(
            exact_replica_share=n_members / len(exact),
            verify_plan=verify_plan(self.cfg, n_cand),
            candidates_per_generator=per_generator(counts),
        )
        return PassResult(wall, recall, counts, size, files)

    def kernel_sample(self, workdir: str) -> list[str]:
        docs = _read(ParquetCatalog(workdir).path("docs"))
        return list(docs.sort_values("conv_id").norm)


# the 30-word vocabulary of the sf0.1 documents table: word soup this
# narrow floods SimHash's Hamming buckets with candidates LSH rejects
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def document_text(seed: int, i: int) -> str:
    """Text of document ``i``, shaped like the sf0.1 documents table:
    8-96 words of vocabulary soup; 5% of documents copy an earlier one,
    half verbatim and half with a trailing ' dup' token. A function of
    (seed, i) alone, so generation can run on any worker."""
    rng = np.random.default_rng((seed << 20) ^ i)
    if i > 10 and rng.random() < 0.05:
        text = document_text(seed, int(rng.integers(0, i)))
        return text + " dup" if rng.random() < 0.5 else text
    return " ".join(rng.choice(DOC_WORDS, size=int(rng.integers(8, 97))))


def generate_documents(spark, n_docs: int, seed: int):
    """-> (doc_id, text) DataFrame, generated in the Python workers."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].astype(int)
            yield pd.DataFrame({"doc_id": ids, "text": [document_text(seed, i) for i in ids]})

    return spark.range(n_docs).repartition(4).mapInPandas(gen, "doc_id long, text string")


class DocsStream(Workload):
    """A generated documents table through the in-memory docs line
    (``signature_dup_pairs`` -> verified pairs -> connected components),
    preceded by the same documents arriving as K appended batches through
    ``StreamingDedup.process_batch`` in a closed loop. The batch line is
    the reference the increments must agree with."""

    name = "docs-stream"
    n_docs = 1000
    n_batches = 2

    def prepare(self, spark) -> None:
        path = os.path.join(self.root, "input", "documents")
        # crc32 split: a planted copy usually lands in another batch
        (
            generate_documents(spark, self.n_docs, self.seed)
            .withColumn("conv_id", F.col("doc_id").cast("string"))
            .withColumn("batch", F.abs(F.crc32("conv_id")) % self.n_batches)
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(path)
        )
        table = spark.read.parquet(path)
        self.batches = [
            table.where(F.col("batch") == b).select("conv_id", F.col("text").alias("doc"))
            for b in range(self.n_batches)
        ]
        self.corpus = table.select("doc_id", "text")
        texts = [r.text for r in self.corpus.select("text").collect()]
        # a document counts as a one-turn conversation
        self.n_turns = len(texts)
        self.text_bytes = sum(len(t.encode("utf-8")) for t in texts)
        self.props.update(
            n_convs=self.n_turns,
            n_turns=self.n_turns,
            text_mb=self.text_bytes / 2**20,
            n_batches=self.n_batches,
            planted_share={"dup_suffix": sum(t.endswith(" dup") for t in texts) / len(texts)},
            exact_replica_share=(len(texts) - len(set(texts))) / len(texts),
        )

    def prepare_reference(self, spark) -> None:
        """Brute-force oracle dup pairs, once per input (untimed)."""
        norms = self.corpus.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            normalize_doc_col(F.col("text")).alias("norm"),
        )
        self.oracle_pairs = brute_force_oracle(norms, self.cfg).dup_pairs
        self.props["oracle_dup_pairs"] = len(self.oracle_pairs)

    def run_pass(self, spark, tracer, workdir: str) -> PassResult:
        stream = StreamingDedup(workdir, self.cfg)
        t0 = time.perf_counter()
        batch_s = []
        for b, batch in enumerate(self.batches):
            tb = time.perf_counter()
            with tracer.span("stream", batch=b):
                stream.process_batch(batch, b)
            batch_s.append(time.perf_counter() - tb)
        with tracer.span("docs"):
            verified = doc_dedup.signature_dup_pairs(self.corpus, self.cfg)
        try:
            with tracer.span("verify"):
                ref = verified.select("a", "b", "jaccard", "is_dup", "sources").toPandas()
            with tracer.span("cluster"):
                edges = verified.where("is_dup").select("a", "b")
                comp = connected_components(edges).toPandas()
        finally:
            doc_dedup.release_signature_run(verified)
        wall = time.perf_counter() - t0

        cluster_of = dict(zip(comp.conv_id, comp.cluster_id))
        hits = sum(co_clustered(cluster_of, a, b) for a, b in self.oracle_pairs)
        recall = hits / len(self.oracle_pairs) if self.oracle_pairs else 1.0
        if recall < RECALL_GATE:
            raise CheckFailed(f"dup_recall {recall:.4f} < {RECALL_GATE} against the oracle")
        counts = verified_counts(ref)
        streamed = _read(os.path.join(workdir, "verified"))
        stream_counts = verified_counts(streamed)
        # differential check: every increment is verified against all
        # state before it, so the streamed (Jaccard) dups must equal the
        # batch line's dups at or above the threshold
        got = set(zip(streamed.a[streamed.is_dup], streamed.b[streamed.is_dup]))
        ref_j = ref[ref.is_dup & (ref.jaccard >= self.cfg.jaccard_threshold)]
        want = set(zip(ref_j.a, ref_j.b))
        if got != want:
            raise CheckFailed(
                f"streamed dups differ from the batch line: {len(got - want)} extra, "
                f"{len(want - got)} missing"
            )
        counts.update(
            {
                "stream.n_candidates": stream_counts["candidates.n_pairs"],
                "stream.n_dups": stream_counts["verify.n_dups"],
                "cluster.n_edges": counts["verify.n_dups"],
                "cluster.n_clusters": len(set(comp.cluster_id)),
            }
        )
        size, files = table_sizes(counts, workdir, ("signatures", "docs_norm", "verified"))
        counts["stream.state_mb"] = size / 2**20
        self.props.update(
            verify_plan={"stream": verify_plan(self.cfg, None),
                         "docs": verify_plan(self.cfg, counts["candidates.n_pairs"])},
            candidates_per_generator={
                "stream_lsh": stream_counts["candidates.n_pairs"], **per_generator(counts)
            },
        )
        return PassResult(wall, recall, counts, size, files, batch_s)

    def kernel_sample(self, workdir: str) -> list[str]:
        norms = _read(os.path.join(workdir, "docs_norm"))
        return list(norms.sort_values("conv_id").norm)


WORKLOADS = {w.name: w for w in (PipelineLongConv, DocsStream)}
