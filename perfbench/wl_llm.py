"""llm_data: the LLM-data operator layer, one closed-loop client.

Each pass makes three kinds of request in turn: the corpus_dedup
pipeline over the seeded document table (wl_corpus), one vector_search
request over the seeded embeddings (wl_vector), and FILES_PER_PASS
event files landed into the running event_stream queries (wl_stream).
FILES_PER_PASS is 12 so that p90 of the files does not rest on the
first file of a pass alone, which lands right after the batch parts
and is usually the slowest.
Executor- and shuffle-bound; bypasses core, expr and delayed.  The three
parts keep their own generators, references and checks.  They share one
run because separate runs would not fit the benchmark's time budget,
and the event stream alone, on a JVM that only its own warm-up had
warmed, was not steady from run to run.
"""

from __future__ import annotations

from wl_corpus import Corpus
from wl_stream import Stream
from wl_vector import Vector

FILES_PER_PASS = 12


class LlmData:
    items_name = "input items (documents + probe queries + events)"

    def __init__(self, spark, workdir: str, seed: int):
        self.corpus = Corpus(spark, workdir, seed)
        self.vector = Vector(spark, workdir, seed)
        self.stream = Stream(spark, workdir, seed)
        self.parts = (self.corpus, self.vector, self.stream)
        self.part_ms: dict[str, list[float]] = {type(p).__name__: [] for p in self.parts}

    def warm_up(self, tracer, stats) -> None:
        for part in self.parts:
            part.warm_up(tracer, stats)
        # the corpus pipeline's second warm pass is still ~18% faster
        # than its first (the vector search's is not): warm it twice, so
        # the measured pass is not on the steep part of the JIT's curve
        self.corpus.warm_up(tracer, stats)

    def run_pass(self, tracer, stats) -> tuple[int, list[float], float]:
        """Latency samples are the event files (per micro-batch, landing
        to commit); the corpus and search requests count in busy time."""
        items, busy, samples = 0, 0.0, []
        for part, reps in ((self.corpus, 1), (self.vector, 1), (self.stream, FILES_PER_PASS)):
            for _ in range(reps):
                n, (ms,) = part.run_pass(tracer, stats)
                items += n
                busy += ms
                self.part_ms[type(part).__name__].append(ms)
                if part is self.stream:
                    samples.append(ms)
        return items, samples, busy

    def finish(self, tracer, stats) -> None:
        for part in self.parts:
            part.finish(tracer, stats)
        print(
            "# part latencies (ms): "
            + "; ".join(f"{k} {' '.join(f'{v:.0f}' for v in vs)}" for k, vs in self.part_ms.items()),
            flush=True,
        )

    @property
    def layer_counts(self) -> dict[str, float]:
        out = {k: v for part in self.parts for k, v in part.layer_counts.items()}
        # bytes in the sinks (the last packed corpus, every stream
        # micro-batch) per byte of the inputs they came from
        out["sources.write_amp"] = sum(p.bytes_out for p in self.parts) / sum(p.bytes_in for p in self.parts)
        return out
