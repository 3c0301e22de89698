"""object_facade: the paper's own surface under a seeded call mix.

Each pass makes at least 100 user calls against ``ObjectFrame``,
``Expr`` and ``DelayedObjects`` over native values and opaque
``Point`` instances.  A call is timed from the public API call until its
result sits on the driver, and every result is compared with the same
operation done in pure Python on the same objects.  The mix is a fixed
multiset of call kinds in a seeded order, so every seed does the same
kinds of work on different values.  Bypasses ``operators``.
"""

from __future__ import annotations

import random
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from dask_obj_spark import DelayedObjects, Expr, ObjectFrame, compile_expr
from objects import Point

N_ITEMS = 240
# call kind -> times per pass (104 calls).  Chosen for this benchmark,
# not taken from a traffic trace: every kind appears, and the slow kinds
# (zip join, analysis fallback, concurrent jobs) appear less often so
# that a pass fits the run's time budget.
MIX = {
    "ingest_native": 6,
    "ingest_opaque": 6,
    "attr_struct": 8,
    "attr_opaque": 6,
    "method_native": 8,
    "method_opaque": 6,
    "op_native": 8,
    "op_opaque": 4,
    "map_python": 6,
    "expr_native": 8,
    "expr_fallback": 3,
    "expr_arith": 6,
    "counts": 6,
    "reduction": 6,
    "zip_binop": 2,
    "take": 6,
    "compute": 5,
    "delayed_iter": 2,
}

EXPRS = {
    "expr_native": Expr().upper(),
    # string slicing: fails Column analysis today and takes the fallback
    "expr_fallback": Expr().upper()[0:3],
    "expr_arith": (Expr() + 5) * 2,
}


def _sq_mod(v):
    return v * v % 97


def _frame_sum(xs, spark, group):
    """One Spark job per item, run in a DelayedObjects pool thread.  Pool
    threads do not inherit the caller's job group, so while tracing the
    job is tagged with the group of the span that submitted it."""
    sc = spark.sparkContext
    if group:
        sc.setJobGroup(group, "delayed:_frame_sum")
    try:
        return ObjectFrame(xs, spark).sum()
    finally:
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)


class Facade:
    items_name = "calls"

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        rng = random.Random(seed)
        n = N_ITEMS
        self.ints = [rng.randrange(-1000, 1000) for _ in range(n)]
        self.ints2 = [rng.randrange(-1000, 1000) for _ in range(n)]
        self.floats = [round(rng.uniform(-50, 50), 3) for _ in range(n)]
        vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
        self.words = [rng.choice(vocab) + str(rng.randrange(3)) for _ in range(n)]
        self.dicts = [{"a": rng.randrange(100), "b": rng.choice(vocab)} for _ in range(n)]
        self.pts = [Point(round(rng.uniform(-9, 9), 3), round(rng.uniform(-9, 9), 3)) for _ in range(n)]
        self.chunks = [self.ints[i::8] for i in range(8)]
        self.plan = [k for k, c in MIX.items() for _ in range(c)]
        rng.shuffle(self.plan)
        self.expected = self._expected()
        self.base: dict = {}
        self.first_result_ms: list[float] = []
        self.traced = {"frames": 0, "pickled": 0, "native_s": 0.0, "pickled_s": 0.0}
        self.layer_counts: dict[str, float] = {}

    # -- one pass ---------------------------------------------------------

    def _base(self):
        """The frames later calls work on; their ingest is timed as the
        first ingest calls of every pass."""
        sp = self.spark
        self.base = {
            "ints": ObjectFrame(self.ints, sp),
            "ints2": ObjectFrame(self.ints2, sp),
            "floats": ObjectFrame(self.floats, sp),
            "words": ObjectFrame(self.words, sp),
            "dicts": ObjectFrame(self.dicts, sp),
            "pts": ObjectFrame(self.pts, sp),
        }

    def _expected(self) -> dict:
        """Each call kind's result, computed once in plain Python on the
        same objects, outside any timed window."""
        return {
            "ingest_native": len(self.ints),
            "ingest_opaque": len(self.pts),
            "attr_struct": [d["a"] for d in self.dicts],
            "attr_opaque": [p.x for p in self.pts],
            "method_native": [w.upper() for w in self.words],
            "method_opaque": [p.norm() for p in self.pts],
            "op_native": [v * 3 + 1 for v in self.ints],
            "op_opaque": [p * 2 for p in self.pts],
            "map_python": [v * v % 97 for v in self.ints],
            "expr_native": [w.upper() for w in self.words],
            "expr_fallback": [w.upper()[0:3] for w in self.words],
            "expr_arith": [(v + 5) * 2 for v in self.ints],
            "counts": Counter(self.words),
            "reduction": sum(self.ints),
            "zip_binop": [a + c for a, c in zip(self.ints, self.ints2)],
            "take": self.floats[:7],
            "compute": self.floats,
            "delayed_iter": sorted(sum(c) for c in self.chunks),
        }

    def _call(self, kind: str, tracer):
        """Returns (result frame or None, materialize())."""
        b, sp = self.base, self.spark
        if kind == "ingest_native":
            fr = ObjectFrame(self.ints, sp)
            return fr, fr.count
        if kind == "ingest_opaque":
            fr = ObjectFrame(self.pts, sp)
            return fr, fr.count
        if kind == "attr_struct":
            fr = b["dicts"].a
        elif kind == "attr_opaque":
            fr = b["pts"].x
        elif kind == "method_native":
            fr = b["words"].call("upper")
        elif kind == "method_opaque":
            fr = b["pts"].call("norm")
        elif kind == "op_native":
            fr = b["ints"] * 3 + 1
        elif kind == "op_opaque":
            fr = b["pts"] * 2
        elif kind == "map_python":
            fr = b["ints"].map(_sq_mod)
        elif kind in EXPRS:
            fr = (b["ints"] if kind == "expr_arith" else b["words"]).map(EXPRS[kind])
        elif kind == "zip_binop":
            fr = b["ints"] + b["ints2"]
        elif kind == "counts":
            return None, b["words"].counts
        elif kind == "reduction":
            return None, lambda: b["ints"].reduction(sum, sum)
        elif kind == "take":
            return None, lambda: b["floats"].take(7)
        elif kind == "compute":
            return None, b["floats"].compute
        elif kind == "delayed_iter":
            do = DelayedObjects(self.chunks, eager=True).map(_frame_sum, sp, tracer.current_group())
            return None, lambda: sorted(self._iter_delayed(do))
        else:
            raise ValueError(kind)
        return fr, fr.compute

    def _iter_delayed(self, do):
        out = []
        t0 = time.perf_counter()
        for v in do:  # completion order
            if not out:
                self.first_result_ms.append((time.perf_counter() - t0) * 1000)
            out.append(v)
        return out

    def warm_up(self, tracer, stats) -> None:
        """One call of every kind, untimed."""
        plan = self.plan
        self.plan = list(MIX)
        try:
            self.run_pass(tracer, stats)
        finally:
            self.plan = plan
        self.first_result_ms = []

    def finish(self, tracer, stats) -> None:
        if not tracer.enabled:
            return
        t = self.traced
        self.layer_counts = {
            "core.native_s": t["native_s"],
            "core.pickled_s": t["pickled_s"],
            "core.pickled_call_share": t["pickled"] / t["frames"] if t["frames"] else 0.0,
            "delayed.first_result_ms": statistics.median(self.first_result_ms or [0.0]),
            **self._expr_probe(tracer),
        }

    def run_pass(self, tracer, stats) -> tuple[int, list[float], float]:
        """Returns (calls completed, per-call latency ms, their sum);
        mismatches and exceptions go to ``stats``."""
        lat: list[float] = []
        with tracer.span("core", "ingest_base"):
            self._base()
        for kind in self.plan:
            layer = "delayed" if kind == "delayed_iter" else "core"
            t0 = time.perf_counter()
            stats.attempted += 1
            try:
                with tracer.span(layer, kind):
                    fr, mat = self._call(kind, tracer)
                    with tracer.span(layer, "materialize"):
                        got = mat()
                lat.append((time.perf_counter() - t0) * 1000)
                if got != self.expected[kind]:
                    stats.fail(f"{kind}: result differs from pure Python")
                if fr is not None and tracer.enabled:
                    # result mode of every frame-producing call, traced half only
                    t = self.traced
                    t["frames"] += 1
                    t["pickled"] += int(fr.is_pickled)
                    t["pickled_s" if fr.is_pickled else "native_s"] += lat[-1] / 1000
            except Exception as exc:  # noqa: BLE001 - a failing call is a measured outcome
                lat.append((time.perf_counter() - t0) * 1000)
                stats.fail(f"{kind}: {type(exc).__name__}: {exc}")
        return len(self.plan), lat, sum(lat)

    def _expr_probe(self, tracer) -> dict[str, float]:
        """compile_expr time, per-element eval time and the share of
        compile_expr calls (no fallback_type) whose Column passes
        analysis on the frame it targets."""
        frames = {"expr_arith": self.base["ints"].df}
        compile_s, ok, n = 0.0, 0, 0
        for kind, e in EXPRS.items():
            df = frames.get(kind, self.base["words"].df)
            for _ in range(MIX[kind]):
                n += 1
                t0 = time.perf_counter()
                with tracer.span("expr", "compile_expr"):
                    try:
                        col = compile_expr(e, F.col("value"))
                    except Exception:  # noqa: BLE001 - a compile failure is the measured outcome
                        col = None
                compile_s += time.perf_counter() - t0
                if col is None:
                    continue
                with tracer.span("expr", "analyze"):
                    try:
                        df.select(col).schema  # forces analysis
                        ok += 1
                    except Exception:  # noqa: BLE001 - an analysis failure is the measured outcome
                        pass
        evals = 0
        t0 = time.perf_counter()
        for kind, e in EXPRS.items():
            for v in self.ints if kind == "expr_arith" else self.words:
                e.eval(v)
                evals += 1
        eval_us = (time.perf_counter() - t0) / evals * 1e6
        return {"expr.compile_s": compile_s, "expr.eval_us": eval_us, "expr.native_ratio": ok / n}
