"""The benchmark's workloads. Each runs public functions of the package on inputs
generated from the seed and checks every op's output.

Hooks, in the order the runner calls them:
  prepare()        generate inputs (before the session; not in setup_s)
  setup()          build state and run the warm-up ops (in setup_s)
  stage(i)         untimed per-op input preparation
  op(i)            the timed op; returns (docs processed, result)
  check(i, res)    correctness gate of one op; returns error strings
  observe(i, res)  traced run only: untimed per-op counts for the layer metrics
  finish()         end-of-run gate; returns {op: errors}, op None = every op
  extras()         traced run only: isolated layer measurements
  layer_metrics()  traced run only: this workload's share of the layer table
"""

from __future__ import annotations

import os
import random
import statistics

from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark import oracle, pipeline
from ocr_toolkit_spark.operators import dedup, extract, incremental, skew

from . import corpora, gates

K, N_HASHES, BANDS, THRESHOLD = 5, 32, 8, 0.5


def dir_stats(path: str) -> tuple[int, float]:
    """(number of parquet files, their size in MB) under `path`."""
    n, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size / 2**20


class Workload:
    name = ""
    sizes: dict[str, int] = {}
    # Untimed warm-up ops, and the fewest timed ops a run makes. Op times
    # drift down over a fresh session's first ops (JIT, codegen caches), but
    # a run must stay near a minute: the warm-up skips the 2-3x slow first
    # ops and the median of five absorbs the rest of the drift.
    WARMUP = 0
    MIN_OPS = 5

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n = {k: max(1, int(v * ctx.scale)) for k, v in self.sizes.items()}
        self.per_op: dict[str, dict[int, float]] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def record(self, metric: str, op: int, value: float) -> None:
        self.per_op.setdefault(metric, {})[op] = value

    def recorded(self, metric: str) -> float:
        vals = self.per_op.get(metric)
        return statistics.median(vals.values()) if vals else 0.0

    def prepare(self) -> None: ...
    def setup(self) -> None: ...
    def stage(self, i: int) -> None: ...
    def observe(self, i: int, result) -> None: ...
    def extras(self) -> None: ...

    def finish(self) -> dict[int | None, list[str]]:
        return {}

    def layer_metrics(self, prof, ops: list[int]) -> dict[str, float]:
        return {}


class ExtractIngest(Workload):
    """run_extraction of the interleaved corpus into an empty table+lineage."""

    name = "extract_ingest"
    sizes = {"docs": 2000}
    WARMUP = 1
    SAMPLE = 24

    def prepare(self) -> None:
        docs = corpora.extraction_docs(self.n["docs"], self.ctx.seed)
        self.corpus = self.path("corpus.parquet")
        corpora.write_extraction_corpus(self.corpus, docs)
        self.results = oracle.extract_corpus(docs)
        self.expected = gates.oracle_totals(self.results)

    def _pick_sample(self) -> None:
        """The first two oversized docs plus SAMPLE // 4 docs from each of four
        output partitions: the two holding those docs and two drawn by the
        seed. Reading four partition directories instead of the whole table
        keeps the gate cheap."""
        pid = {
            r.doc_id: r.partition_id
            for r in pipeline.with_partition_id(
                tio.read_documents(self.spark, self.corpus).select("doc_id")).collect()
        }
        by_pid: dict[int, list[int]] = {}
        for i, r in enumerate(self.results):
            by_pid.setdefault(pid[r.doc_id], []).append(i)
        rng = random.Random(self.ctx.seed)
        oversized = [i for i, r in enumerate(self.results) if r.n_spans >= corpora.OVERSIZED_SPANS[0]]
        parts = {pid[self.results[i].doc_id] for i in oversized[:2]}
        parts |= set(rng.sample(sorted(set(by_pid) - parts), 4 - len(parts)))
        self.sample_parts = sorted(parts)
        picks = set(oversized[:2])
        for p in self.sample_parts:
            members = [i for i in by_pid[p] if i not in picks]
            picks |= set(rng.sample(members, min(len(members), self.SAMPLE // 4)))
        self.expected_sample = {
            self.results[i].doc_id: (
                [(s.kind, s.text, s.media_ref, s.order) for s in self.results[i].out_spans],
                self.results[i].success)
            for i in picks
        }

    def _run(self, i: int):
        with self.ctx.tracer.span("pipeline.run_extraction"):
            return pipeline.run_extraction(
                self.spark, self.corpus, self.path(f"op{i}", "table"),
                self.path(f"op{i}", "lineage"), run_id=f"op{i}")

    def setup(self) -> None:
        for i in range(-self.WARMUP, 0):
            self._run(i)

    def op(self, i: int):
        return self.n["docs"], self._run(i)

    def check(self, i: int, stats) -> list[str]:
        from pyspark.sql import functions as F

        if not hasattr(self, "sample_parts"):
            self._pick_sample()
        observed = {k: getattr(stats, k) for k in self.expected}
        table = self.path(f"op{i}", "table")
        rows = (
            self.spark.read.option("basePath", table)
            .parquet(*[os.path.join(table, f"partition_id={p}") for p in self.sample_parts])
            .where(F.col("doc_id").isin(list(self.expected_sample)))
            .select("doc_id", "out_spans", "success").collect()
        )
        sample = {
            r.doc_id: ([(s.kind, s.text, s.media_ref, s.order) for s in r.out_spans], r.success)
            for r in rows
        }
        return gates.check_extraction(observed, self.expected, sample, self.expected_sample)

    def observe(self, i: int, stats) -> None:
        files, mb = dir_stats(self.path(f"op{i}", "table"))
        self.record("io.files_written", i, files)
        self.record("io.output_mb", i, mb)

    def _pipeline_input(self):
        """The corpus as run_extraction hands it to the kernel: bucketed,
        salted and repartitioned."""
        shuffle_n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        docs = pipeline.salt_oversized(
            pipeline.with_partition_id(tio.read_documents(self.spark, self.corpus)))
        return docs.repartition(shuffle_n, "partition_id", "salt").select("doc_id", "spans")

    def extras(self) -> None:
        """The pipeline's input shape through the kernel alone (noop sink),
        with the section profiler, and a write of already-extracted rows."""
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        for label in ("kernel-0", "kernel-1"):
            tr.op = label
            with tr.span("extract.kernel"):
                extract.extract_spans(self._pipeline_input()).write.format("noop").mode("overwrite").save()
        tr.op = None
        sections = (
            extract.extract_spans(self._pipeline_input(), profile=True)
            .select(F.explode("section_ms"))
            .distinct()  # one map per Arrow batch, repeated on each of its rows
            .groupBy("key").agg(F.sum("value").alias("ms")).collect()
        )
        self.sections = {r.key: r.ms for r in sections}
        rows = skew.materialize(pipeline.with_partition_id(extract.extract_spans(self._pipeline_input())))
        tr.op = "write"
        with tr.span("io.write"):
            tio.write_extracted(rows, self.path("isolated_write"))
        tr.op = None

    def layer_metrics(self, prof, ops: list[int]) -> dict[str, float]:
        kernel = [prof.named(op, "extract.kernel")[0] for op in ("kernel-0", "kernel-1")]
        kernel_use = [prof.usage([s]) for s in kernel]
        m = {
            "extract.kernel_s": statistics.median(s.wall for s in kernel),
            "extract.exec_cpu_s": statistics.median(u.total("cpu_s") for u in kernel_use),
            "extract.gc_s": statistics.median(u.total("gc_s") for u in kernel_use),
            "io.write_s": prof.wall("write", "io.write"),
            "io.output_mb": self.recorded("io.output_mb"),
            "io.files_written": self.recorded("io.files_written"),
        }
        m.update({f"extract.section.{k}_ms": v for k, v in self.sections.items()})
        return m


class DedupDelta(Workload):
    """Repeated incremental_dedup_round calls against a growing signature
    state and corpus; each round appends to the state."""

    name = "dedup_delta"
    sizes = {"base": 1500, "delta": 6000}
    # A round plans ~25 jobs whatever its size. At 800 docs half of it was
    # driver time with the task cores mostly idle, and round medians spread
    # 12-28 % across seeds. At 6 000 docs the banded build and verify carry
    # two thirds of the round; medians spread 6 % while the host was quiet
    # and ~21 % while it was busy (extract_ingest: 10-14 % in the same
    # windows). The first rounds drift down with JIT; one
    # warm-up round and four timed ones are what the run budget allows (the
    # end-of-run gate grows with every round), the median does the rest.
    WARMUP = 1
    MIN_OPS = 4

    def prepare(self) -> None:
        self.texts = corpora.dedup_corpus(self.n["base"], self.ctx.seed)
        corpora.write_text_table(self.path("corpus", "r0"), 0, self.texts, n_files=8)
        self.round_ids = {0: range(0, len(self.texts))}
        self.round_pairs: dict[int, set[tuple[int, int]]] = {}
        self.state = self.path("state")
        self._shingles: dict[int, frozenset[str]] = {}

    def shingles(self, doc_id: int) -> frozenset[str]:
        if doc_id not in self._shingles:
            self._shingles[doc_id] = gates.shingle_set(self.texts[doc_id], K)
        return self._shingles[doc_id]

    def round_of(self, i: int) -> int:
        """Round 0 ingests the base; the WARMUP rounds after it have negative
        op ids; timed op i is round i + 1 + WARMUP."""
        return i + 1 + self.WARMUP

    def _round(self, r: int):
        paths = [self.path("corpus", f"r{j}") for j in range(r + 1)]
        new = self.spark.read.parquet(paths[-1])
        corpus = self.spark.read.parquet(*paths)
        with self.ctx.tracer.span("incremental.round"):
            rows = incremental.incremental_dedup_round(
                self.spark, new, corpus, self.state, f"round-{r}", k=K,
                n_hashes=N_HASHES, bands=BANDS, threshold=THRESHOLD).collect()
        pairs = [(x.id_a, x.id_b, x.jaccard) for x in rows]
        self.round_pairs[r] = {(a, b) for a, b, _ in pairs}
        return pairs

    def stage(self, i: int) -> None:
        r = self.round_of(i)
        new = corpora.delta_batch(self.texts, self.n["delta"], self.ctx.seed, r)
        self.round_ids[r] = range(len(self.texts), len(self.texts) + len(new))
        corpora.write_text_table(self.path("corpus", f"r{r}"), len(self.texts), new, n_files=4)
        self.texts += new

    def setup(self) -> None:
        self._round(0)
        for i in range(-self.WARMUP, 0):
            self.stage(i)
            self._round(self.round_of(i))

    def op(self, i: int):
        return self.n["delta"], self._round(self.round_of(i))

    def check(self, i: int, pairs) -> list[str]:
        return (gates.check_pairs(pairs, self.shingles, THRESHOLD)
                + gates.check_round_touches_new(pairs, self.round_ids[self.round_of(i)]))

    def observe(self, i: int, pairs) -> None:
        tr = self.ctx.tracer
        self.record("dedup.candidate_pairs", i,
                    tr.last["incremental.delta_candidate_pairs"].count())
        self.record("dedup.verified_pairs", i, len(pairs))
        self.record("dedup.buckets_capped", i, skew.oversized_bucket_stats(
            tr.last["dedup.minhash_banded_frame"], ["band", "band_hash"]).count())
        files, mb = dir_stats(self.state)
        self.record("incremental.state_files", i, files)
        self.record("incremental.state_mb", i, mb)

    def finish(self) -> dict[int | None, list[str]]:
        """Union of all rounds' pairs == one batch run over the final corpus.
        A wrong set-up round fails every timed op."""
        df = self.spark.read.parquet(*[self.path("corpus", f"r{r}") for r in self.round_ids])
        cand = dedup.minhash_lsh_candidates(df, k=K, n_hashes=N_HASHES, bands=BANDS)
        batch = {(r.id_a, r.id_b) for r in
                 dedup.jaccard_verify(cand, df, k=K, threshold=THRESHOLD).collect()}
        first = self.round_of(0)
        return {
            (r - first if r is not None and r >= first else None): errs
            for r, errs in gates.delta_failures(self.round_pairs, self.round_ids, batch).items()
        }

    def layer_metrics(self, prof, ops: list[int]) -> dict[str, float]:
        verified = self.recorded("dedup.verified_pairs")
        candidates = self.recorded("dedup.candidate_pairs")
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / candidates if candidates else 0.0,
            "dedup.buckets_capped": self.recorded("dedup.buckets_capped"),
            "incremental.delta_candidates": candidates,
            "incremental.state_files": self.per_op["incremental.state_files"][ops[-1]],
            "incremental.state_mb": self.per_op["incremental.state_mb"][ops[-1]],
        }


WORKLOADS = {w.name: w for w in (ExtractIngest, DedupDelta)}
