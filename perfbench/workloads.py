"""The benchmark's workloads: what one operation is, and how its output is
checked.

A query workload's operation builds one registered query over the seeded
tables and writes it to Spark's ``noop`` sink; its check collects the same
query and compares it with the query's DuckDB oracle. A ``run_job``
operation is one faithful WordCount job; its check reads every reducer
file it wrote.
"""

from __future__ import annotations

import os
import pickle
import shutil
import struct
from collections import Counter

import inputs
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators import mapreduce
from tools.parity import compare, duck_con

#: Short JVM-only queries: the per-query floor (construction, catalog reads,
#: Catalyst planning, job scheduling) is a large share of each one; no
#: Python workers, no ``catalog.spread``, no streaming.
SQL_RELATIONAL = (
    "wordcount_e2e", "agg_count", "tpch_q1", "tpch_q8", "tpch_q10",
    "tpch_q12", "tpch_q21", "join_equi", "join_multiway", "topk",
    "window_rank", "event_window", "range_join_follow", "stats_agg",
    "funnel_conversion", "retention_cohorts", "window_range_frame",
    "attribution_last_touch",
)

#: CPU-heavy text, dedup and similarity queries: Python/Arrow UDFs,
#: ``catalog.spread``, shuffled self-joins, and jobs launched while the
#: DataFrame is still being built.
LLM_PIPELINE = (
    "text_quality", "lang_id", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_embedding_cosine",
    "cosine_knn_exact", "ann_ivf_topk", "tfidf_top_terms",
    "dedup_lsh_jaccard_verified", "dedup_clusters", "pipeline_filter_quality",
    "decontaminate_ngram", "kmeans_assign", "pq_encode", "quality_gopher",
    "bm25_topk",
)

#: Stateful streaming topologies drained to memory sinks: time goes to
#: state-store commits and micro-batch planning inside construction.
STREAMING_DRAIN = (
    "streaming_window", "streaming_stateful", "streaming_dedup_watermarked",
    "streaming_stream_join", "streaming_stream_left_join",
    "streaming_session_window", "streaming_topk", "streaming_static_join",
    "streaming_incremental_dedup", "python_stream_source",
)

QUERY_WORKLOADS = {
    "sql_relational": SQL_RELATIONAL,
    "llm_pipeline": LLM_PIPELINE,
    "streaming_drain": STREAMING_DRAIN,
}

#: Queries registered without an oracle: checked for rows only.
ROWS_ONLY = frozenset({"streaming_stateful"})


class QueryWorkload:
    """Registry queries over one seed's permuted tables."""

    def __init__(self, names: tuple[str, ...], cache: str, seed: int, sf: float):
        self.ops = names
        self.sf_dir = inputs.permuted_dir(cache, seed, sf)
        self._oracles = _oracle_answers(cache, sf, names)

    def pass_order(self, rng) -> list[str]:
        return [self.ops[i] for i in rng.permutation(len(self.ops))]

    def run(self, ctx, name: str, check: bool):
        """One operation: build the query, then write it to ``noop`` or,
        with ``check``, collect it for ``verify``."""
        sc = ctx.spark.sparkContext
        sc.setJobGroup(f"perfbench-{ctx.op}-build", name)
        with ctx.tracer.span("plans.build"):
            df = ctx.queries[name](ctx.spark, self.sf_dir)
        ctx.mark_write()
        sc.setJobGroup(f"perfbench-{ctx.op}-write", name)
        try:
            with ctx.tracer.span("write"):
                if check:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def verify(self, name: str, got) -> list[str]:
        if got is None:  # written to noop: nothing to compare
            return []
        if name in ROWS_ONLY:
            return [] if len(got) else [f"{name}: no rows"]
        return [f"{name}: {p}" for p in compare(name, got, self._oracles[name])]


def _oracle_answers(cache: str, sf: float, names) -> dict:
    """DuckDB oracle answers over the unpermuted base tables, computed once
    per cache. The comparison sorts rows, so a row permutation of the input
    leaves every order-insensitive answer unchanged."""
    base = inputs.base_dir(cache, sf)
    path = os.path.join(base, "oracle.pkl")
    answers: dict = {}
    if os.path.exists(path):
        with open(path, "rb") as f:  # written by this module only
            answers = pickle.load(f)
    missing = [n for n in names if n not in answers and n not in ROWS_ONLY]
    if missing:
        con = duck_con(base)
        for n in missing:
            answers[n] = con.execute(registry.oracle_for(n)).df()
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(answers, f)
        os.replace(tmp, path)
    return answers


# -- run_job WordCount ----------------------------------------------------


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def _mix(h1: int, k1: int) -> int:
    k1 = _rotl((k1 * 0xCC9E2D51) & 0xFFFFFFFF, 15)
    h1 ^= (k1 * 0x1B873593) & 0xFFFFFFFF
    return (_rotl(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF


def spark_hash(word: str, seed: int = 42) -> int:
    """Spark SQL's ``hash()`` of a string: Murmur3_x86_32.hashUnsafeBytes,
    which mixes each trailing byte as a whole (sign-extended) block."""
    data = word.encode()
    n = len(data)
    aligned = n - n % 4
    h1 = seed
    for (k1,) in struct.iter_unpack("<i", data[:aligned]):
        h1 = _mix(h1, k1 & 0xFFFFFFFF)
    for b in data[aligned:]:
        h1 = _mix(h1, (b - 256 if b > 127 else b) & 0xFFFFFFFF)
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def expected_counts(lines: list[str], chunk_size: int, faithful: bool) -> Counter:
    """Word counts computed from the corpus itself. Faithful mode fuses the
    lines of a chunk without a separator and drops each chunk's last token
    (empty tokens included); the default joins with a space and keeps every
    non-empty token."""
    sep = "" if faithful else " "
    out: Counter = Counter()
    for i in range(0, len(lines), chunk_size):
        toks = sep.join(lines[i:i + chunk_size]).split(" ")
        out.update(toks[:-1] if faithful else [t for t in toks if t])
    return out


class MapReduceWorkload:
    """``run_job`` over a seeded corpus: each pass runs the default semantics
    (hash partitioner), then ``--faithful`` (first-character partitioner,
    fused lines, dropped trailing token)."""

    ops = ("default", "faithful")

    def __init__(self, cache: str, seed: int, lines: int, reducers: int, out_dir: str):
        self.chunk_size = max(1, lines // 8)
        self.dir = inputs.corpus_dir(cache, seed, lines, 12, max(200, lines // 4), self.chunk_size)
        self.reducers = reducers
        self.out_dir = out_dir
        with open(os.path.join(self.dir, "corpus.txt")) as f:
            corpus = f.read().split("\n")[:-1]
        self._expected = {
            m: expected_counts(corpus, self.chunk_size, m == "faithful") for m in self.ops
        }

    def pass_order(self, rng) -> list[str]:
        return list(self.ops)

    def config(self, mode: str) -> mapreduce.JobConfig:
        faithful = mode == "faithful"
        return mapreduce.JobConfig(
            job_name=f"wordcount_{mode}",
            num_reducer=self.reducers,
            delay=0,
            input_path=os.path.join(self.dir, "corpus.txt"),
            chunk_size=self.chunk_size,
            locality_config=os.path.join(self.dir, "locality.txt"),
            output_dir=self.out_dir,
            drop_trailing_token=faithful,
            fuse_chunk_lines=faithful,
            partition_fn="first_char" if faithful else "hash",
        )

    def run(self, ctx, mode: str, check: bool) -> dict:
        """One ``run_job`` call; ``verify`` checks every call's output."""
        return mapreduce.run_job(ctx.spark, self.config(mode))

    def verify(self, mode: str, outputs: dict) -> list[str]:
        files = [outputs[f"reducer_{r + 1}"] for r in range(self.reducers)]
        try:
            return self.check(mode, files)
        finally:
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def check(self, mode: str, files: list[str]) -> list[str]:
        r = self.reducers
        if mode == "faithful":
            part = lambda w: (ord(w[0]) if w else 0) % r  # noqa: E731
        else:
            part = lambda w: spark_hash(w) % r  # noqa: E731
        problems = []
        seen: Counter = Counter()
        for idx, path in enumerate(files):
            name = f"{mode} {os.path.basename(path)}"
            words = []
            with open(path) as f:
                for line in f:
                    word, sep, count = line.rstrip("\n").rpartition(" ")
                    if not sep or not count.isdigit():
                        problems.append(f"{name}: malformed line {line!r}")
                        break
                    words.append(word)
                    seen[word] += int(count)
            if any(a >= b for a, b in zip(words, words[1:])):
                problems.append(f"{name}: words not in strictly ascending order")
            wrong = [w for w in words if part(w) != idx]
            if wrong:
                problems.append(f"{name}: {len(wrong)} words of another reducer, e.g. {wrong[0]!r}")
        want = self._expected[mode]
        if seen != want:
            diff = {w for w in seen.keys() | want.keys() if seen[w] != want[w]}
            w = min(diff)
            problems.append(f"{mode}: {len(diff)} words with wrong counts, e.g. {w!r}: got {seen[w]}, want {want[w]}")
        return problems
