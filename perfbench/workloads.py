"""The benchmark's workloads.

Each workload makes its inputs from the seed in ``setup``, runs one timed
operation per ``op`` call (closed loop: the next starts when the previous
one has returned), and checks outputs outside the timed window: after each
operation in ``settle``, or on the final state in ``finish``. Inputs come
from ``graphrag_rs_spark.fixtures``; the program only ever sees the
generated transcripts table.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

import checks
from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import ScaledVocab, generate_conversation, transcripts_df
from graphrag_rs_spark.operators.assembly import assemble_documents
from graphrag_rs_spark.operators.chunking import chunk_documents
from graphrag_rs_spark.operators.extraction import extract_chunks
from graphrag_rs_spark.plans.pipeline import build_graph
from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink


def vocab_for(n_convs: int) -> ScaledVocab:
    # Zipf vocabulary scaled with the corpus plus one hub entity carrying
    # ~10% of all mentions (the skew-stress shape)
    return ScaledVocab(max(50, n_convs // 2), max(20, n_convs // 5), hub_rate=0.1)


def conv_bound(index: int) -> str:
    return f"conv{index:08d}"


def n_triples():
    """Raw triple occurrences of an extraction row (a NULL array counts 0)."""
    return F.greatest(F.coalesce(F.size("triples"), F.lit(0)), F.lit(0))


def raw_triples(extraction) -> int:
    return extraction.agg(F.sum(n_triples())).collect()[0][0] or 0


class Workload:
    name = ""
    n_convs = 0
    min_ops = 1  # operations per run at least, however short --seconds is
    cold_ops = 0  # leading operations that pay the JIT

    def __init__(self, spark, cores: int, work_dir: str, seed: int, pinned: dict):
        self.spark = spark
        self.cores = cores
        self.work_dir = work_dir
        self.seed = seed
        self.pinned = pinned.get(self.name, {}).get(str(seed))
        self.pinned_checked = False  # did any output meet a pinned digest
        self.config = PipelineConfig(shuffle_partitions=cores, min_shared_blocks=2)
        self.failures: list[str] = []
        self.failed_ops = 0
        self.op_triples: list[int] = []  # raw triple occurrences per op
        self.output_triples = 0  # raw triple occurrences behind self.last

    def transcripts(self, n_convs: int):
        df = transcripts_df(
            self.spark, n_convs, seed=self.seed, distributed=True,
            partitions=self.cores, vocab=vocab_for(n_convs),
            extreme_skew=True,
        ).cache()
        df.count()
        return df

    def oracle_rows(self, n_convs: int) -> list[dict]:
        vocab = vocab_for(n_convs)
        return [
            row
            for i in range(n_convs)
            for row in generate_conversation(
                i, seed=self.seed, vocab=vocab, extreme_skew=True
            )
        ]

    def exhausted(self) -> bool:
        return False

    def settle(self) -> None:
        """Check the last operation's outputs, untimed."""

    def reset_caches(self) -> None:
        # drop the build's caches, then re-cache the input, untimed
        self.spark.catalog.clearCache()
        self.input = self.input.cache()
        self.input.count()

    def finish(self, reference: bool = True) -> dict[str, float]:
        """Checks that need every operation done; timings, as details."""
        return {}

    def _fail(self, problems: list[str]) -> None:
        if problems:
            self.failed_ops += 1
            self.failures.extend(problems)


class CheckpointResume(Workload):
    """A checkpointed build from cold, then an immediate resume of it."""

    name = "checkpoint_resume"
    n_convs = 100
    # the timed build is the first in its JVM, as a submitted job's is
    cold_ops = 1

    def setup(self) -> None:
        self.ckpt_dir = os.path.join(self.work_dir, "checkpoint")
        self.input = self.transcripts(self.n_convs)

    def op(self, tracer=None) -> dict[str, float]:
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        t0 = time.perf_counter()
        # every stage, nodes/edges/node_stats included, is written with
        # its lineage and manifest before build_graph returns
        self.cold = build_graph(self.spark, self.input, self.config,
                                checkpoint_dir=self.ckpt_dir)
        t1 = time.perf_counter()
        self.resumed = build_graph(self.spark, self.input, self.config,
                                   checkpoint_dir=self.ckpt_dir)
        t2 = time.perf_counter()
        return {"op_s": t2 - t0, "build_s": t1 - t0, "resume_s": t2 - t1}

    def settle(self) -> None:
        cold, resumed = self.cold, self.resumed
        self.output_triples = raw_triples(cold["extraction"])
        self.op_triples.append(self.output_triples)
        self.last = {n: resumed[n] for n in checks.OUTPUTS}
        problems = checks.invariants(self.last)
        # The resume reads back the files the cold leg wrote, so comparing
        # the two legs would prove nothing. Instead the resume must compute
        # nothing, each output's files must match the lineage the cold leg
        # recorded, and what the resume returns must equal the digest
        # pinned from a build without checkpoints.
        ckpt = resumed["_checkpoint"]
        if ckpt.stages_computed:
            problems.append(f"resume recomputed {ckpt.stages_computed}")
        for name in checks.OUTPUTS:
            bad = ckpt.validate(name).count()
            if bad:
                problems.append(f"resumed {name}: {bad} data files fail lineage")
        if self.pinned:
            problems += checks.compare(
                "resumed vs pinned", checks.digests(self.last), self.pinned)
            self.pinned_checked = True
        self._fail(problems)
        self.reset_caches()

    def pin(self) -> dict:
        """Digests of a build without checkpoints at this seed, and its
        triple P/R against the oracle."""
        self.setup()
        ref = build_graph(self.spark, self.input, self.config)
        self._fail(checks.invariants(ref))
        rows = self.oracle_rows(self.n_convs)
        return {"digests": checks.digests(ref),
                "oracle_pr": checks.oracle_pr(ref["edges"], rows, self.config)}


class DeltaIngest(Workload):
    """Fixed-size deltas committed one after another into a seeded
    workspace through ``IncrementalGraphSink.process_batch``."""

    name = "delta_ingest"
    n_base = 100
    delta_convs = 10
    max_deltas = 6
    # One commit is ~11 s of mostly fixed cost on 4 cores, and the speed
    # of a shared host moves by up to a third within seconds. The median
    # of three commits keeps one slow commit from setting the run's
    # figure. (A warm-up commit in set-up cost as much as a timed one and
    # steadied the figure less.)
    min_ops = 3

    def setup(self) -> None:
        total = self.n_base + self.max_deltas * self.delta_convs
        # one corpus, one vocabulary: deltas mention the entities the
        # workspace already holds, as new conversations would
        self.corpus = self.transcripts(total)
        self.sink = IncrementalGraphSink(
            os.path.join(self.work_dir, "workspace"), self.config)
        base = self.corpus.where(F.col("conv_id") < conv_bound(self.n_base))
        self.sink.process_batch(base, 0)
        self.commits = 0

    def _bound(self, commits: int) -> str:
        return conv_bound(self.n_base + commits * self.delta_convs)

    def exhausted(self) -> bool:
        # the last delta is held back for a traced commit
        return self.commits >= self.max_deltas - 1

    def op(self, tracer=None) -> dict[str, float]:
        delta = self.corpus.where(
            (F.col("conv_id") >= self._bound(self.commits))
            & (F.col("conv_id") < self._bound(self.commits + 1))
        )
        t0 = time.perf_counter()
        self.sink.process_batch(delta, self.commits + 1)
        commit_s = time.perf_counter() - t0
        self.commits += 1
        return {"op_s": commit_s, "commit_s": commit_s}

    def workspace(self) -> dict:
        paths = {"nodes": "entities", "edges": "relationships",
                 "node_stats": "node_stats"}
        return {n: self.spark.read.parquet(os.path.join(self.sink.workspace_dir, p))
                for n, p in paths.items()}

    def finish(self, reference: bool = True) -> dict[str, float]:
        """Check the final workspace: invariants, the digest pinned for this
        seed and commit count and, with ``reference``, equality with a batch
        build over the union of everything committed (its time is
        returned)."""
        union = self.corpus.where(F.col("conv_id") < self._bound(self.commits))
        self.last = self.workspace()
        got = checks.digests(self.last)
        problems = checks.invariants(self.last)
        pinned = (self.pinned or {}).get(str(self.commits))
        if pinned:
            problems += checks.compare("pinned", got, pinned)
            self.pinned_checked = True
        timings = {}
        if reference:
            t0 = time.perf_counter()
            ref = build_graph(self.spark, union, self.config)
            want = checks.digests(ref)
            timings["reference_build_s"] = time.perf_counter() - t0
            problems += checks.compare("workspace vs batch build", got, want)
            self.output_triples = raw_triples(ref["extraction"])
        # a commit re-links and re-materializes the whole workspace, so its
        # throughput counts every raw triple behind the graph it publishes
        extraction = extract_chunks(
            chunk_documents(assemble_documents(union), self.config), self.config)
        index = (F.substring("conv_id", 5, 8).cast("int") - self.n_base) \
            / self.delta_convs
        per_delta = dict(
            extraction.groupBy(F.floor(index).alias("i"))
            .agg(F.sum(n_triples()).alias("n")).collect()
        )
        # negative indexes are the seed commit's conversations
        total = sum(n or 0 for i, n in per_delta.items() if i < 0)
        self.op_triples = []
        for i in range(self.commits):
            total += per_delta.get(i) or 0
            self.op_triples.append(total)
        if problems:
            # the final state cannot say which commit went wrong
            self.failed_ops = self.commits
            self.failures.extend(problems)
        return timings

    def pin(self) -> dict:
        self.setup()
        out = {}
        for _ in range(self.max_deltas):
            self.op()
            out[str(self.commits)] = checks.digests(self.workspace())
        self.finish()
        rows = self.oracle_rows(self.n_base + self.max_deltas * self.delta_convs)
        return {"digests": out,
                "oracle_pr": checks.oracle_pr(self.last["edges"], rows, self.config)}


WORKLOADS = {w.name: w for w in (CheckpointResume, DeltaIngest)}
