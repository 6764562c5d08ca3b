"""The benchmark workloads.

Each workload has two halves:

- ``generate(seed, data_dir)`` runs in the launcher, before the timed
  process starts: it writes the seeded inputs and whatever the output
  check needs, so input generation never counts as set-up.
- an instance built in the worker process with ``(spark, data_dir,
  tracer)``: ``prepare()`` does untimed work (oracles), ``run_pass()``
  is one timed pass and returns its outputs, ``check(outputs)`` returns a
  list of problems (empty = correct) and runs outside the timed window.

Imports of pyspark and of the program happen inside the worker-side
methods, so the launcher can import this module without starting Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np

from perfbench import datagen

# Input sizes (rows or bytes). They set the pass length; see README.md.
DEDUP_DOCS = 1000
MR_BYTES = 8 << 20


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _span_sum(tracer, pass_idx: int, prefix: str) -> float:
    return sum(
        s.t1 - s.t0 for s in tracer.spans if s.pass_idx == pass_idx and s.name.startswith(prefix)
    )


class DedupChain:
    """Registry dedup queries, each written to the noop sink.

    Two of the four heaviest job-chain rows of the registry: the nightly
    incremental dedup pipeline (MinHash LSH pair search, incremental
    connected components, ManifestTable commit + merge) and keep-best
    survivorship (prefix-filter pair search, connected components, one
    survivor per cluster). See README.md for why the other two are out."""

    name = "dedup_chain"
    nominal_pass_s = 10.0  # warm pass on a 4-core VM; sets the timed-pass count
    QUERIES = ("pipeline_incremental_dedup_table", "dedup_keep_best")

    @staticmethod
    def generate(seed: int, data_dir: str) -> None:
        datagen.write_documents(_rng(seed, 1), data_dir, DEDUP_DOCS)

    def __init__(self, spark, data_dir: str, tracer) -> None:
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer

    def prepare(self) -> None:
        import duckdb

        from gridmr_spark.queries import load_all

        reg = load_all()
        self.fns = {q: reg[q].fn for q in self.QUERIES}
        self.con = duckdb.connect()
        path = os.path.join(self.data_dir, "documents.parquet")
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        # Each oracle runs once per run; every pass is compared to its rows.
        for q in self.QUERIES:
            self.con.execute(f"CREATE TABLE oracle_{q} AS {reg[q].oracle}")

    def run_pass(self) -> list:
        out = []
        for q in self.QUERIES:
            with self.tracer.span(f"build:{q}"):
                df = self.fns[q](self.spark, self.data_dir)
            with self.tracer.span(f"exec:{q}"):
                df.write.format("noop").mode("overwrite").save()
            out.append((q, df))
        return out

    def check(self, outputs) -> list[str]:
        from gridmr_spark.testing import compare_query

        return [
            f"{q}: {p}"
            for q, df in outputs
            for p in compare_query(df, self.con, f"SELECT * FROM oracle_{q}")
        ]

    def layer_metrics(self, pass_idx: int, ev: dict) -> dict:
        return {}


class MrWordcount:
    """``compat.mapreduce.run_job`` with the reference word-count map and
    reduce over ~1 MB line-safe text shards."""

    name = "mr_wordcount"
    nominal_pass_s = 4.5

    @staticmethod
    def generate(seed: int, data_dir: str) -> None:
        counts, _ = datagen.write_text_shards(
            _rng(seed, 3), os.path.join(data_dir, "shards"), MR_BYTES
        )
        with open(os.path.join(data_dir, "expected_counts.json"), "w") as f:
            json.dump(counts, f)

    def __init__(self, spark, data_dir: str, tracer) -> None:
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer

    def prepare(self) -> None:
        with open(os.path.join(self.data_dir, "expected_counts.json")) as f:
            self.expected = json.load(f)

    def run_pass(self):
        from gridmr_spark.compat.mapreduce import run_job, wordcount_map, wordcount_reduce

        with self.tracer.span("build:compat.run_job"):
            df = run_job(
                self.spark,
                os.path.join(self.data_dir, "shards"),
                wordcount_map,
                wordcount_reduce,
            )
        with self.tracer.span("exec:collect"):
            return df.collect()

    def check(self, rows) -> list[str]:
        got: dict[str, int] = {}
        for (line,) in rows:
            word, _, n = line.partition("\t")
            if word in got:
                return [f"word {word!r} emitted by two reducers"]
            got[word] = int(n)
        if got == self.expected:
            return []
        diff = sorted(set(got.items()) ^ set(self.expected.items()))[:5]
        return [f"word counts differ from the generated text: {diff}"]

    def layer_metrics(self, pass_idx: int, ev: dict) -> dict:
        # A pass is nothing but the compat job, so its map tasks are every
        # ShuffleMapTask of the pass, whichever span launched the map stage
        # (today the schema-inference job inside run_job does).
        return {
            "compat.run_job_s": _span_sum(self.tracer, pass_idx, "build:compat.run_job"),
            "compat.map_tasks": ev["map_tasks"],
        }


WORKLOADS = {w.name: w for w in (DedupChain, MrWordcount)}
