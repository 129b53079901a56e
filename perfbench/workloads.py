"""The closed-loop workloads.

One client runs jobs back to back.  Jobs come in fixed rounds, so every
run measures the same mix of job kinds whatever its speed:

* ``preprocess`` — one job per input shard: ``core.Pipeline`` of
  ``FilterMapper`` -> ``TokenizerMapper`` (in-repo WordPiece over the
  generator's vocab) -> ``SingleSequenceStriderMapper`` ->
  ``PackSequencesMapper``, written with ``sources.sinks.write_parquet``.
  The filter+tokenize prefix sits inside a caching bracket; the last
  job of each round re-packs the round's first shard at another block
  size, the only traffic that could hit ``sources.cache``.
* ``ingest`` — one job per micro-batch: a file lands in the feed
  directory and an AvailableNow ``streaming_dedup_to_snapshot`` query
  drains it, deduplicating it (exact digests + MinHash bands, from
  ``functions.dedup``) against the growing index and committing the
  survivors to a snapshot table.

Each workload makes a job's input before the job starts, outside its
timing, and checks every job's output after the loop.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from session import cores
from tracing import Tracer

FILTER_MIN_SCORE = 0.25
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
# ingest_dedup_batch's MinHash banding and the Jaccard a pair must
# reach to count as a verified near duplicate
NUM_HASHES, SHINGLE, BANDS, ROWS_PER_BAND = 16, 3, 4, 4
VERIFY_JACCARD = 0.5


@dataclass
class Job:
    kind: str
    docs: int
    seconds: float = 0.0
    error: str = ""
    traced: bool = False
    segment: int = 0  # which segment of the loop ran it
    warmup: bool = False  # untimed; checked like the others


@dataclass
class Check:
    """Outcome of the post-loop correctness checks."""

    failed_jobs: set = field(default_factory=set)
    notes: list = field(default_factory=list)
    # planted drops (duplicates; junk docs for preprocess) vs actual
    planted: int = 0
    dropped: int = 0
    planted_dropped: int = 0

    def fail(self, job: int, msg: str) -> None:
        self.failed_jobs.add(job)
        if len(self.notes) < 20:
            self.notes.append(f"job {job}: {msg}")

    def score(self, planted_ids: set, all_ids: set, kept_ids: set) -> None:
        dropped = all_ids - kept_ids
        self.planted += len(planted_ids)
        self.dropped += len(dropped)
        self.planted_dropped += len(planted_ids & dropped)


def job_growth(jobs: list) -> float:
    """Median seconds per doc of the last quarter of ``jobs`` (rounded
    up) over that of the first quarter."""
    per_doc = [j.seconds / j.docs for j in jobs]
    q = -(-len(jobs) // 4)
    return statistics.median(per_doc[-q:]) / statistics.median(per_doc[:q])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    round_kinds: tuple = ()
    DOCS = 0  # input docs per job
    # untimed jobs that open the run's own series of jobs: the first
    # pays most of the JVM's first-use compilation, and the first
    # batches into a new table are slower than the later ones even after
    # warm-up jobs on another table
    WARMUP_JOBS = 2
    # the functions module whose operators are the job's only wide
    # (shuffling) ones; its shuffle and spill counters come from them
    wide_module = ""

    def __init__(self, rng: np.random.Generator, lex: "gen.Lexicon", work_dir: str,
                 tracer: Tracer) -> None:
        self.rng = rng
        self.lex = lex
        self.dir = work_dir
        self.tracer = tracer
        self.docs = self.DOCS
        self.jobs: list = []
        os.makedirs(os.path.join(work_dir, "input"), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def kind(self, i: int) -> str:
        """Job ``i``'s kind; rounds start after the warm-up jobs, which
        are all of the first kind."""
        k = i - self.WARMUP_JOBS
        return self.round_kinds[k % len(self.round_kinds) if k >= 0 else 0]

    def prepare(self, i: int) -> Job:
        raise NotImplementedError

    def run(self, spark, i: int) -> None:
        raise NotImplementedError

    def check(self, spark) -> Check:
        raise NotImplementedError

    def disk_bytes(self) -> int:
        raise NotImplementedError

    def generated(self) -> str:
        raise NotImplementedError


class Preprocess(Workload):
    name = "preprocess"
    round_kinds = ("shard", "shard", "shard", "repack")
    DOCS = 1000
    WINDOW = 128
    BLOCK = 256
    REPACK_BLOCK = 512
    wide_module = "functions.packing"

    def __init__(self, rng, lex, work_dir, tracer) -> None:
        super().__init__(rng, lex, work_dir, tracer)
        from smashed_spark.functions.wordpiece import WordPieceTokenizer

        self.tok = WordPieceTokenizer(self.lex.vocab, model_max_length=1 << 30)
        self.shards: list = []  # Corpus per shard
        self.plan: list = []  # (shard index, block size) per job

    def shard_path(self, shard: int) -> str:
        return self.path("input", f"shard-{shard:04d}")

    def prepare(self, i: int) -> Job:
        kind = self.kind(i)
        if kind == "repack":
            shard, block = self.plan[i - (len(self.round_kinds) - 1)][0], self.REPACK_BLOCK
        else:
            shard, block = len(self.shards), self.BLOCK
            corpus = gen.make_corpus(
                self.rng, self.lex, self.docs, shard * self.docs, EXACT_SHARE, NEAR_SHARE
            )
            self.shards.append(corpus)
            # one file per core, so the scan splits the shard over every
            # core as it would a large input
            os.makedirs(self.shard_path(shard))
            n = cores()
            for k in range(n):
                lo, hi = k * self.docs // n, (k + 1) * self.docs // n
                pq.write_table(corpus.table.slice(lo, hi - lo),
                               os.path.join(self.shard_path(shard), f"part-{k}.parquet"))
        self.plan.append((shard, block))
        return Job(kind, self.docs)

    def pipeline(self, block: int):
        from smashed_spark.core import Pipeline
        from smashed_spark.functions.packing import PackSequencesMapper
        from smashed_spark.operators.filters import FilterMapper
        from smashed_spark.operators.hf_tokenize import TokenizerMapper
        from smashed_spark.operators.shape import SingleSequenceStriderMapper
        from smashed_spark.sources.cache import EndCachingMapper, StartCachingMapper

        return Pipeline([
            StartCachingMapper(self.path("cache")),
            FilterMapper("score", ">=", FILTER_MIN_SCORE),
            TokenizerMapper(
                self.tok, "text", return_attention_mask=False, return_word_ids=True
            ),
            EndCachingMapper(),
            # word_ids strides with the tokens, so (doc_id, word_ids)
            # orders a document's windows and keys them uniquely
            SingleSequenceStriderMapper(["input_ids", "word_ids"], self.WINDOW),
            PackSequencesMapper(
                "input_ids", ["doc_id", "word_ids"], block,
                separator=self.tok.sep_token_id,
            ),
        ])

    def run(self, spark, i: int) -> None:
        from smashed_spark.sources.sinks import write_parquet

        shard, block = self.plan[i]
        t = self.tracer
        with t.span("bench.read"):
            df = spark.read.parquet(self.shard_path(shard))
        with t.span("core.pipeline"):
            out = self.pipeline(block).map(df)
        with t.span("sources.sinks"):
            write_parquet(out, self.path("output", f"job-{i:04d}"), mode="overwrite")

    def _windows(self, ids: list) -> list:
        """SingleSequenceStriderMapper's windows, stride = length."""
        n, w = len(ids), self.WINDOW
        if n < w:
            return [ids]
        return [ids[s:s + w] for s in range(0, n - w + 1, w)]

    def _streams(self, corpus: "gen.Corpus") -> dict:
        """doc_id -> the doc's windows, each followed by the separator,
        from the tokenizer applied directly."""
        sep = self.tok.sep_token_id
        ids = corpus.table.column("doc_id").to_pylist()
        enc = self.tok(corpus.table.column("text").to_pylist(),
                       return_attention_mask=False)["input_ids"]
        return {d: [t for w in self._windows(e) for t in (*w, sep)] for d, e in zip(ids, enc)}

    def _kept(self, stream: list, docs: dict) -> set:
        """Docs whose token stream appears in the packed output: the
        stream cut before each [CLS] (each doc's first token)."""
        cls = self.tok.cls_token_id
        by_stream: dict = {}
        for d, s in docs.items():
            by_stream.setdefault(tuple(s), []).append(d)
        kept, start = set(), 0
        for k in range(1, len(stream) + 1):
            if k == len(stream) or stream[k] == cls:
                same = by_stream.get(tuple(stream[start:k]))
                if same:  # identical texts: each occurrence keeps one
                    kept.add(same.pop())
                start = k
        return kept

    def check(self, spark) -> Check:
        res = Check()
        streams: dict = {}
        for i, _ in enumerate(self.jobs):
            shard, block = self.plan[i]
            corpus = self.shards[shard]
            if shard not in streams:
                streams[shard] = self._streams(corpus)
            docs = streams[shard]
            all_ids = corpus.table.column("doc_id").to_numpy()
            keep = all_ids[corpus.table.column("score").to_numpy() >= FILTER_MIN_SCORE]
            expect = [t for d in sorted(keep.tolist()) for t in docs[d]]
            try:
                out = pq.read_table(self.path("output", f"job-{i:04d}")).sort_by("block_id")
            except (OSError, ValueError) as e:
                res.fail(i, f"unreadable output: {e}")
                continue
            bid = out.column("block_id").to_pylist()
            toks = out.column("tokens").to_pylist()
            ntok = out.column("n_tokens").to_pylist()
            if bid != list(range(len(bid))):
                res.fail(i, "block ids are not 0..n-1")
            if any(n != len(t) for n, t in zip(ntok, toks)):
                res.fail(i, "n_tokens disagrees with the block length")
            if not ntok or any(n != block for n in ntok[:-1]) or not 0 < ntok[-1] <= block:
                res.fail(i, f"a block other than the last is not {block} tokens")
            stream = [t for b in toks for t in b]
            if stream != expect:
                res.fail(i, "packed stream differs from direct tokenization")
            junk = set(all_ids[corpus.junk].tolist())
            res.score(junk, set(all_ids.tolist()), self._kept(stream, docs))
        return res

    def disk_bytes(self) -> int:
        return dir_bytes(self.path("output")) + dir_bytes(self.path("cache"))

    def generated(self) -> str:
        mb = sum(c.table.nbytes for c in self.shards) / 1e6
        return (f"{len(self.shards)} shards x {self.docs} docs, {mb:.2f} MB, "
                f"vocab {len(self.lex.vocab)}")


class Ingest(Workload):
    name = "ingest"
    round_kinds = ("batch",) * 4
    DOCS = 250
    # batch times still fall by a fifth from the third batch to the
    # sixth; a third warm-up batch takes part of that out of the timing
    WARMUP_JOBS = 3
    APP_ID = "perfbench-ingest"
    wide_module = "functions.dedup"

    def __init__(self, rng, lex, work_dir, tracer) -> None:
        super().__init__(rng, lex, work_dir, tracer)
        self.batches: list = []
        self.commits: list = []  # on_commit records, in order
        self.progress: list = []  # per job: the query's recentProgress
        self.pairs: list = []  # per traced job: (candidates, verified)
        os.makedirs(self.path("feed"), exist_ok=True)

    def batch_path(self, i: int) -> str:
        return self.path("feed", f"batch-{i:05d}.parquet")

    def prepare(self, i: int) -> Job:
        history = gen.concat(self.batches) if self.batches else None
        corpus = gen.make_corpus(
            self.rng, self.lex, self.docs, i * self.docs, EXACT_SHARE, NEAR_SHARE,
            history=history,
        )
        self.batches.append(corpus)
        # land the file whole: the file source must never list a
        # half-written part
        staged = self.path("input", f"batch-{i:05d}.parquet")
        pq.write_table(corpus.table, staged)
        os.rename(staged, self.batch_path(i))
        return Job("batch", self.docs)

    def run(self, spark, i: int) -> None:
        from smashed_spark.streaming.snapshot_sink import streaming_dedup_to_snapshot

        t = self.tracer
        with t.span("bench.read"):
            stream = (
                spark.readStream.schema("doc_id bigint, text string, score double")
                .option("maxFilesPerTrigger", 1)
                .parquet(self.path("feed"))
            )
        with t.span("streaming.snapshot_sink"):
            q = streaming_dedup_to_snapshot(
                stream,
                table_root=self.path("table"),
                state_dir=self.path("state"),
                checkpoint_dir=self.path("checkpoint"),
                app_id=self.APP_ID,
                stats_columns=["doc_id"],
                on_commit=self.commits.append,
            )
        with t.span("streaming.runner"):
            q.awaitTermination()
        self.progress.append(list(q.recentProgress))
        err = q.exception()
        if err is not None:
            raise RuntimeError(str(err))

    def count_pairs(self, spark, i: int) -> None:
        """Candidate pairs (a shared MinHash band) that batch ``i``
        forms with itself and the docs kept before it, and how many
        reach ``VERIFY_JACCARD``: what a Jaccard verify would keep."""
        from pyspark.sql import functions as F

        from smashed_spark.functions.dedup import MinHashLSHPairsMapper, MinHashMapper
        from smashed_spark.functions.hashing import word_shingles
        from smashed_spark.sources.snapshot import read_snapshot

        first = i * self.docs
        docs = spark.read.parquet(self.batch_path(i)).select("doc_id", "text")
        if i > 0:
            kept = read_snapshot(spark, self.path("table")).select("doc_id", "text")
            docs = docs.unionByName(kept.filter(F.col("doc_id") < first))
        docs = docs.withColumn("words", F.split("text", " "))
        signed = MinHashMapper(num_hashes=NUM_HASHES, shingle_size=SHINGLE).map(docs)
        pairs = MinHashLSHPairsMapper("doc_id", bands=BANDS, rows_per_band=ROWS_PER_BAND).map(signed)
        pairs = pairs.filter(F.col("id_b") >= first)
        sets = docs.select("doc_id", word_shingles(F.col("words"), SHINGLE).alias("sh"))
        a = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb"))
        jac = inter / (F.size("sa") + F.size("sb") - inter)
        row = (pairs.join(a, "id_a").join(b, "id_b")
               .agg(F.count(F.lit(1)), F.sum((jac >= VERIFY_JACCARD).cast("int")))
               .first())
        self.pairs.append((row[0], row[1] or 0))

    def check(self, spark) -> Check:
        from smashed_spark.sources.snapshot import read_snapshot

        res = Check()
        n = len(self.jobs)
        try:
            rows = read_snapshot(spark, self.path("table")).select("doc_id", "text").collect()
        except FileNotFoundError:
            for i in range(n):
                res.fail(i, "no snapshot table was published")
            return res
        kept_ids = {r[0] for r in rows}
        if len(self.commits) != n or any(c["skipped"] for c in self.commits):
            res.fail(n - 1, f"{len(self.commits)} commits for {n} batches")
        texts = [r[1] for r in rows]
        if len(set(texts)) != len(texts):
            res.fail(n - 1, "an exact-duplicate text survived")
        ids = np.array(sorted(kept_ids), dtype=np.int64)
        prev = 0
        for i, corpus in enumerate(self.batches[:n]):
            batch_ids = corpus.table.column("doc_id").to_numpy()
            # each commit must add exactly this batch's survivors
            survivors = int(((ids >= i * self.docs) & (ids < (i + 1) * self.docs)).sum())
            if i < len(self.commits):
                added = self.commits[i]["rows"] - prev
                prev = self.commits[i]["rows"]
                if added != survivors:
                    res.fail(i, f"commit added {added} rows, the table holds {survivors}")
            exact = set(batch_ids[corpus.kind == gen.KIND_EXACT].tolist())
            if exact & kept_ids:
                res.fail(i, f"{len(exact & kept_ids)} planted exact reposts survived")
            planted = set(batch_ids[corpus.kind != gen.KIND_ORIGINAL].tolist())
            all_ids = set(batch_ids.tolist())
            res.score(planted, all_ids, kept_ids & all_ids)
        if self.commits and self.commits[-1]["rows"] != len(rows):
            res.fail(n - 1, f"snapshot holds {len(rows)} rows, "
                            f"its manifest {self.commits[-1]['rows']}")
        return res

    def disk_bytes(self) -> int:
        return dir_bytes(self.path("state")) + dir_bytes(self.path("table"))

    def generated(self) -> str:
        mb = sum(c.table.nbytes for c in self.batches) / 1e6
        return f"{len(self.batches)} batches x {self.docs} docs, {mb:.2f} MB"


WORKLOADS = {w.name: w for w in (Preprocess, Ingest)}
