"""The three workloads: inputs, reference, one operation, its check.

Sizes are fixed here; ``properties`` records them (they are printed on
the info line of every run and listed in README.md).
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import digest, gen, ops, refs

PANEL_ERAS = 24
PANEL_TICKERS = 400
PANEL_FILES = 8
ERAS_PER_GROUP = 5

LIVE_HISTORY = 20  # trailing eras read with each live era
LIVE_ERAS = 60
LIVE_TICKERS = 1000

CORPUS_DOCS = 1000
CORPUS_EVAL_DOCS = 200
CORPUS = dict(min_tokens=50, max_tokens=300, exponent=1.1, dup_frac=0.10,
              edit_frac=0.05, vocab_size=20_000)
MIN_PLANTED_RECALL = 0.9


class PanelBatch:
    """Full-history training-set build: every operation reads the whole
    panel and runs the full transform chain."""

    eras, tickers = PANEL_ERAS, PANEL_TICKERS
    # measured: the first warm operation is ~10% slower than the second (JIT)
    warmup_ops = 1

    def generate(self, seed: int, data: str) -> None:
        self.path = os.path.join(data, "panel")
        self.cols = gen.panel_frame(seed, self.eras, self.tickers)
        gen.write_panel(self.cols, self.path, PANEL_FILES, ERAS_PER_GROUP, self.tickers)
        self.properties = {
            "eras": self.eras, "tickers": self.tickers, "rows": self.eras * self.tickers,
            "features": gen.N_FEATURES, "files": PANEL_FILES,
            "row_groups_per_file": -(-self.eras // ERAS_PER_GROUP),
        }

    def reference(self) -> None:
        self.want = refs.panel_tail(refs.panel_features(self.cols))
        del self.cols

    def read(self, spark, op_id: int):
        return spark.read.parquet(self.path)

    def op(self, spark, tr, op_id: int):
        return tr.sink(ops.panel_sink(ops.panel_chain(tr, self.read(spark, op_id))))

    def expected(self, op_id: int) -> dict:
        return self.want

    def check(self, rows, op_id: int) -> list[str]:
        got = digest.fold([r.asDict() for r in rows], digest.PANEL_CHECKED + ["split"])
        bad = digest.mismatches(got, self.expected(op_id))
        return bad + digest.penalizer_problems([r.asDict() for r in rows], ops.FEATURES)

    def input_rows(self, op_id: int) -> int:
        return self.eras * self.tickers

    def trace_counts(self, spark, tracer) -> dict:
        return {}


class EraLive(PanelBatch):
    """Live-round scoring: each operation reads one new era plus its
    trailing history through a pushed-down era filter, runs the same
    chain and emits only the new era. Operations cycle through eras."""

    eras, tickers = LIVE_ERAS, LIVE_TICKERS

    def reference(self) -> None:
        full = refs.panel_features(self.cols)
        del self.cols
        self.targets = list(range(LIVE_HISTORY, self.eras))
        self.want = {e: refs.panel_tail(full[full["era"] == e].reset_index(drop=True))
                     for e in self.targets}

    def target(self, op_id: int) -> int:
        return self.targets[op_id % len(self.targets)]

    def read(self, spark, op_id: int):
        from pyspark.sql import functions as F

        e = self.target(op_id)
        return spark.read.parquet(self.path).where(F.col("era").between(e - LIVE_HISTORY, e))

    def op(self, spark, tr, op_id: int):
        chain = ops.panel_chain(tr, self.read(spark, op_id), live_era=self.target(op_id))
        return tr.sink(ops.panel_sink(chain))

    def expected(self, op_id: int) -> dict:
        return self.want[self.target(op_id)]

    def input_rows(self, op_id: int) -> int:
        return (LIVE_HISTORY + 1) * self.tickers


class CorpusDedup:
    """LLM-corpus cleaning: quality and language signals, MinHash-LSH
    near-dup pairs, connected-component dedup, eval-set contamination."""

    # measured: operation time falls by ~25% over the first two warm
    # operations (JIT) and is flat from the third on
    warmup_ops = 2

    def generate(self, seed: int, data: str) -> None:
        self.corpus, self.evals, self.planted = gen.corpus_frame(
            seed, CORPUS_DOCS, eval_docs=CORPUS_EVAL_DOCS, **CORPUS
        )
        self.path = os.path.join(data, "corpus")
        self.eval_path = os.path.join(data, "eval")
        gen.write_table(self.corpus, self.path, files=8, group_rows=64)
        gen.write_table(self.evals, self.eval_path, files=1, group_rows=64)
        words = np.concatenate([t.split(" ") for t in self.corpus["text"]])
        _, counts = np.unique(words, return_counts=True)
        self.properties = {
            "docs": CORPUS_DOCS, "eval_docs": CORPUS_EVAL_DOCS, **CORPUS,
            "planted_pairs": len(self.planted),
            "top_token_share": float(counts.max() / counts.sum()),
            "files": 8, "row_group_rows": 64,
        }

    def reference(self) -> None:
        self.want, recall = refs.corpus_reference(self.corpus, self.evals, self.planted)
        self.properties["planted_recall_exact"] = recall
        if recall < MIN_PLANTED_RECALL:
            raise RuntimeError(f"generator: planted near-dup recall {recall:.3f} too low")
        del self.corpus, self.evals

    def op(self, spark, tr, op_id: int):
        docs = spark.read.parquet(self.path)
        evals = spark.read.parquet(self.eval_path)
        return tr.sink(ops.corpus_sink(ops.corpus_chain(tr, docs, evals)))

    def check(self, rows, op_id: int) -> list[str]:
        got = digest.fold([r.asDict() for r in rows], ops.CORPUS_CHECKED)
        return digest.mismatches(got, self.want)

    def input_rows(self, op_id: int) -> int:
        return CORPUS_DOCS + CORPUS_EVAL_DOCS

    def trace_counts(self, spark, tracer) -> dict:
        """Candidate and verified pair counts of the MinHash layer, run
        once after the measured loop under the tag ``<workload>:-1:trace``."""
        from centimators_spark.dedup.minhash import minhash_band_candidates, minhash_lsh_pairs
        from centimators_spark.text.hashing_udf import minhash_signatures_udf

        tracer.begin_op(-1)
        docs = spark.read.parquet(self.path)

        def counts():
            sigs = minhash_signatures_udf(docs)
            return minhash_band_candidates(sigs).count(), minhash_lsh_pairs(docs).count()

        candidates, verified = tracer.call("trace", counts)
        return {"dedup.minhash.candidates": candidates, "dedup.minhash.verified_pairs": verified}


WORKLOADS = {"panel_batch": PanelBatch, "era_live": EraLive, "corpus_dedup": CorpusDedup}
