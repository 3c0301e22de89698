"""corpus_dedup: the LLM-data pipeline over seeded documents.

quality gate + scrub (operators.text) -> exact and MinHash-LSH dedup
(operators.dedup) -> connected-component clusters and token packing
(operators.corpus) -> parquet sink write and read-back (sources).  Each
stage's result is materialized at its boundary, so every layer's time
lands in its own span.  Executor- and shuffle-bound; bypasses core,
expr and delayed.  The seeded exact and near-duplicate shares set the
candidate-pair volume and the number of components rounds.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from dask_obj_spark.operators.corpus import connected_components, pack_bins
from dask_obj_spark.operators.dedup import exact_dedup_groups, minhash_candidate_pairs
from dask_obj_spark.operators.text import quality_scores, scrub_text
from dask_obj_spark.sources import load_table, read_parquet, write_sink
from gen import gen_documents

N_UNIQUE = 500
NEAR_RECALL_FLOOR = 0.6
PACK_BUDGET = 256


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Corpus:
    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(workdir, "corpus")
        self.truth = gen_documents(seed, self.dir, N_UNIQUE)
        self.n_docs = len(self.truth.texts)
        self.bytes_in = os.path.getsize(os.path.join(self.dir, "documents.parquet"))
        self.bytes_out = 0
        self.sink = os.path.join(workdir, "corpus_sink")
        self.layer_counts: dict[str, float] = {}

    def warm_up(self, tracer, stats) -> None:
        """The whole pipeline once, untimed and unchecked: loads classes,
        compiles the plans' code and lets the JIT see the hot paths."""
        self._pipeline(tracer)

    def finish(self, tracer, stats) -> None:
        pass

    def run_pass(self, tracer, stats) -> tuple[int, list[float]]:
        t0 = time.perf_counter()
        try:
            rows, pair_rows, rounds = self._pipeline(tracer)
        except Exception as exc:  # noqa: BLE001 - a failing pass is a measured outcome
            stats.attempted += 1
            stats.fail(f"pipeline: {type(exc).__name__}: {exc}")
            return self.n_docs, [(time.perf_counter() - t0) * 1000]
        ms = (time.perf_counter() - t0) * 1000
        self._check(rows, pair_rows, rounds, stats)
        self.bytes_out = dir_bytes(self.sink)
        return self.n_docs, [ms]

    def _pipeline(self, tracer):
        sp = self.spark
        with tracer.span("sources", "load_table"):
            docs = load_table(sp, self.dir, "documents").localCheckpoint(eager=True)
        with tracer.span("operators.text", "quality_scrub"):
            good = quality_scores(docs, "doc_id", "text").filter(F.col("quality") >= 0.3)
            kept = docs.join(good.select("doc_id"), "doc_id", "left_semi")
            scrubbed = scrub_text(kept, "doc_id", "text").join(
                kept.select("doc_id", "source"), "doc_id"
            ).localCheckpoint(eager=True)
        with tracer.span("operators.dedup", "exact_dedup_groups"):
            keepers = exact_dedup_groups(scrubbed, "doc_id", "scrubbed").select(
                F.col("keeper_id").alias("doc_id")
            )
            uniq = scrubbed.join(keepers, "doc_id", "left_semi").localCheckpoint(eager=True)
        with tracer.span("operators.dedup", "minhash_candidate_pairs"):
            pairs = minhash_candidate_pairs(uniq, "doc_id", "scrubbed").localCheckpoint(
                eager=True
            )
        rounds: list[int] = []
        with tracer.span("operators.corpus", "connected_components"):
            comp = connected_components(pairs, "id1", "id2", _rounds_out=rounds)
            survivors = (
                uniq.join(comp, uniq["doc_id"] == comp["id"], "left")
                .filter(F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id"))
                .select("doc_id", "source", "scrubbed")
                .localCheckpoint(eager=True)
            )
        with tracer.span("operators.corpus", "pack_bins"):
            packed = pack_bins(survivors, "doc_id", "scrubbed", "source", PACK_BUDGET).localCheckpoint(
                eager=True
            )
        with tracer.span("sources", "write_sink"):
            shutil.rmtree(self.sink, ignore_errors=True)
            write_sink(packed, self.sink, "parquet")
        with tracer.span("sources", "read_parquet"):
            rows = read_parquet(sp, self.sink).collect()
        pair_rows = pairs.select("id1", "id2").collect()
        return rows, pair_rows, rounds

    def _check(self, rows, pair_rows, rounds, stats) -> None:
        t = self.truth
        out = {r["doc_id"]: r for r in rows}
        # 1. every injected exact duplicate is removed: one survivor per group
        stats.attempted += 1
        bad = [g for g in t.exact_groups if sum(i in out for i in g) != 1]
        if bad:
            stats.fail(f"exact dedup: {len(bad)} groups without exactly one survivor")
        # 2. near-duplicate recall above the floor
        stats.attempted += 1
        removed = sum(len(g) - sum(i in out for i in g) for g in t.near_groups)
        injected = sum(len(g) - 1 for g in t.near_groups)
        recall = removed / injected if injected else 1.0
        if recall < NEAR_RECALL_FLOOR:
            stats.fail(f"near-dup recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
        # 3. packed token totals are conserved, per document and in sum
        stats.attempted += 1
        want = {i: len(t.texts[i].split()) for i in out}
        got = {i: r["n_tokens"] for i, r in out.items()}
        if got != want or sum(r["n_tokens"] for r in rows) != sum(want.values()):
            stats.fail("packing: token counts not conserved")
        # 4. no junk document survives the quality gate
        stats.attempted += 1
        if t.junk_ids & out.keys():
            stats.fail("quality gate: junk documents survived")
        truth_pairs = t.near_pairs()
        cand = {(min(a, b), max(a, b)) for a, b in pair_rows}
        hit = len(cand & truth_pairs)
        self.layer_counts = {
            "operators.dedup.candidate_pairs": float(len(cand)),
            "operators.dedup.pair_precision": hit / len(cand) if cand else 0.0,
            "operators.dedup.pair_recall": hit / len(truth_pairs) if truth_pairs else 0.0,
            "operators.corpus.cc_rounds": float(rounds[0]) if rounds else 0.0,
        }
