"""vector_search: exact and approximate top-k over seeded clustered vectors.

Per pass: exact ``cosine_topk_brute`` (top-20, of which the top-10 is
the ground truth the program reports), ``cosine_topk_ivf`` scored by
``ann_recall`` (operators.similarity), then ``mmr_rerank`` over the
exact top-20 and ``rrf_fuse`` of the exact and IVF lists of one probe
(operators.retrieval).  Bound by numeric kernels and broadcast /
cross-join work; the cluster spread sets IVF candidate counts and
recall.  Bypasses the text shuffles and the Python-object path.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

from dask_obj_spark.operators.retrieval import MMR_LAMBDA, RRF_K, mmr_rerank, rrf_fuse
from dask_obj_spark.operators.similarity import (
    CENTROID_MOD,
    DIM,
    NPROBE,
    ann_recall,
    cosine_sim_w,
    cosine_topk_brute,
    cosine_topk_ivf,
)
from dask_obj_spark.sources import load_table
from gen import gen_embeddings

N_VECS = 1500
PROBE_MOD = 38  # 40 probe queries per pass
K = 10
CAND = 20
RECALL_FLOOR = 0.5
MMR_PICKS = 3
TIE_EPS = 1e-9


class Vector:
    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(workdir, "vector")
        self.vecs = gen_embeddings(seed, self.dir, N_VECS, DIM).astype(np.float64)
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        self.probes = np.arange(0, N_VECS, PROBE_MOD)
        cos = unit[self.probes] @ unit.T
        cos[np.arange(len(self.probes)), self.probes] = -np.inf  # never self
        self.cos = cos
        self.truth = np.argsort(-cos, axis=1, kind="stable")[:, :CAND]
        self.layer_counts: dict[str, float] = {}
        self.bytes_in = self.bytes_out = 0
        self.unit = unit

    def warm_up(self, tracer, stats) -> None:
        """The whole request once, untimed and unchecked."""
        self._search(tracer)

    def finish(self, tracer, stats) -> None:
        pass

    def run_pass(self, tracer, stats) -> tuple[int, list[float]]:
        t0 = time.perf_counter()
        try:
            outputs = self._search(tracer)
        except Exception as exc:  # noqa: BLE001 - a failing pass is a measured outcome
            stats.attempted += 1
            stats.fail(f"search: {type(exc).__name__}: {exc}")
            return len(self.probes), [(time.perf_counter() - t0) * 1000]
        ms = (time.perf_counter() - t0) * 1000
        self._check(*outputs, stats)
        return len(self.probes), [ms]

    def _search(self, tracer):
        sp = self.spark
        emb = load_table(sp, self.dir, "embeddings")
        with tracer.span("operators.similarity", "cosine_topk_brute"):
            top = cosine_topk_brute(emb, "vec_id", "embedding", PROBE_MOD, k=CAND).localCheckpoint(eager=True)
            truth = top.filter(F.col("rank") <= K)
        with tracer.span("operators.similarity", "cosine_topk_ivf"):
            approx = cosine_topk_ivf(emb, "vec_id", "embedding", PROBE_MOD, k=K).localCheckpoint(eager=True)
        with tracer.span("operators.similarity", "ann_recall"):
            recall_rows = ann_recall(truth, approx, K).collect()
        with tracer.span("operators.retrieval", "mmr_rerank"):
            cand = top.select(F.col("id1").alias("pid"), F.col("id2").alias("cid"), F.col("cosine").alias("rel"))
            vec = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").cast("array<double>").alias("v"))
            cv = cand.join(vec, "cid")
            a = cv.select("pid", F.col("cid").alias("c1"), F.col("v").alias("va"))
            b = cv.select("pid", F.col("cid").alias("c2"), F.col("v").alias("vb"))
            pair_sim = (
                a.join(b, "pid")
                .filter(F.col("c1") != F.col("c2"))
                .select("pid", "c1", "c2", cosine_sim_w("va", "vb", DIM).alias("sim"))
                .localCheckpoint(eager=True)
            )
            mmr_rows = mmr_rerank(cand, pair_sim, picks=MMR_PICKS).collect()
        with tracer.span("operators.retrieval", "rrf_fuse"):
            # probe 0 exists in every table: vec_id 0 % PROBE_MOD == 0
            lex = truth.filter(F.col("id1") == 0).select(F.col("id2").alias("doc_id"), F.col("rank").alias("lex_rank"))
            sem = approx.filter(F.col("id1") == 0).select(F.col("id2").alias("doc_id"), F.col("rank").alias("sem_rank"))
            rrf_rows = rrf_fuse(lex, sem, "doc_id").collect()
        top_rows = top.collect()
        approx_rows = approx.select("id1", "id2", "rank").collect()
        return top_rows, approx_rows, recall_rows, mmr_rows, rrf_rows

    # -- independent references ------------------------------------------

    def _same_ranking(self, pi: int, got: list[int], depth: int) -> bool:
        want = self.truth[pi, :depth]
        if list(want) == got:
            return True
        # accept a swap only between neighbours whose exact cosines tie
        row = self.cos[pi]
        return len(got) == depth and all(
            abs(row[g] - row[w]) < TIE_EPS for g, w in zip(got, want)
        )

    def _check(self, top_rows, approx_rows, recall_rows, mmr_rows, rrf_rows, stats) -> None:
        pos = {int(p): i for i, p in enumerate(self.probes)}
        by_probe: dict[int, list] = {int(p): [] for p in self.probes}
        for r in top_rows:
            by_probe[r["id1"]].append(r)
        # 1. brute-force top-k equals a numpy top-k
        stats.attempted += 1
        bad = 0
        for p, rs in by_probe.items():
            got = [r["id2"] for r in sorted(rs, key=lambda r: r["rank"])]
            bad += not self._same_ranking(pos[p], got, CAND)
        if bad:
            stats.fail(f"brute top-k: {bad} probes differ from numpy")
        # 2. ANN recall above the floor, and the program's recall figure
        # equals the one computed here from the same two lists
        stats.attempted += 1
        approx: dict[int, set] = {int(p): set() for p in self.probes}
        for r in approx_rows:
            approx[r["id1"]].add(r["id2"])
        ours = {p: len(approx[p] & set(self.truth[pos[p], :K].tolist())) / K for p in approx}
        mean_recall = float(np.mean(list(ours.values())))
        theirs = {r["probe_id"]: r["recall"] for r in recall_rows}
        if mean_recall < RECALL_FLOOR:
            stats.fail(f"ANN recall {mean_recall:.3f} < {RECALL_FLOOR}")
        elif any(abs(theirs.get(p, 0.0) - v) > 1e-6 for p, v in ours.items()):
            stats.fail("ann_recall disagrees with the numpy recall")
        # 3. MMR picks equal a numpy greedy MMR over the same candidates
        stats.attempted += 1
        picks: dict[int, list] = {}
        for r in sorted(mmr_rows, key=lambda r: r["pick_order"]):
            picks.setdefault(r["id1"], []).append(r["id2"])
        bad = sum(picks.get(p) != self._mmr(p, by_probe[p]) for p in by_probe)
        if bad:
            stats.fail(f"mmr_rerank: {bad} probes differ from numpy")
        # 4. RRF of probe 0 equals the formula over the two lists
        stats.attempted += 1
        lex = {r["id2"]: r["rank"] for r in by_probe[0] if r["rank"] <= K}
        sem = {r["id2"]: r["rank"] for r in approx_rows if r["id1"] == 0}
        want = {
            i: round((1 / (RRF_K + lex[i]) if i in lex else 0.0) + (1 / (RRF_K + sem[i]) if i in sem else 0.0), 6)
            for i in set(lex) | set(sem)
        }
        got = {r["doc_id"]: r["rrf"] for r in rrf_rows}
        if got.keys() != want.keys() or any(abs(got[i] - want[i]) > 1e-6 for i in want):
            stats.fail("rrf_fuse differs from the reference formula")
        self.layer_counts = {
            "operators.similarity.recall_at_k": mean_recall,
            "operators.similarity.candidates_per_query": self._ivf_candidates(),
        }

    def _mmr(self, pid: int, rows) -> list[int]:
        rel = {r["id2"]: r["cosine"] for r in rows}
        left = sorted(rel)
        picked: list[int] = []
        while left and len(picked) < MMR_PICKS:
            def score(c):
                ms = max((float(self.unit[c] @ self.unit[q]) for q in picked), default=0.0)
                return (-(MMR_LAMBDA * rel[c] - (1 - MMR_LAMBDA) * ms), c)

            best = min(left, key=score)
            picked.append(best)
            left.remove(best)
        return picked

    def _ivf_candidates(self) -> float:
        """Mean corpus vectors a probe scores under the program's IVF
        index (centroids vid % CENTROID_MOD == 1, NPROBE nearest cells),
        counted here from the same vectors."""
        cents = np.arange(1, N_VECS, CENTROID_MOD)
        sim = self.unit @ self.unit[cents].T
        cell = np.argmax(sim, axis=1)
        sizes = np.bincount(cell, minlength=len(cents))
        near = np.argsort(-sim[self.probes], axis=1, kind="stable")[:, :NPROBE]
        return float(np.mean(sizes[near].sum(axis=1) - 1))
