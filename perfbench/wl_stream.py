"""event_stream: seeded event files landing into a file-source stream.

``streaming.events_stream`` feeds two queries: the watermarked 5-minute
tumbling counts (``stream_tumbling_counts``, update mode) and the
bounded-state dedup (``stream_dedup_within_watermark`` on event_id).
Each query's micro-batches go to ``sources.to_avro`` through
foreachBatch; at the end both outputs are read back with ``read_avro``,
so writes sit beside reads.  One client lands one file, waits until
both queries have committed the batch holding it and the follow-up
batch that advances the watermark, then lands the next (closed loop).
A file's latency runs from landing until the last of those commits.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dask_obj_spark.sources import read_avro, to_avro
from dask_obj_spark.streaming.windows import (
    events_stream,
    stream_dedup_within_watermark,
    stream_tumbling_counts,
)
from gen import gen_event_files
from wl_corpus import dir_bytes

ROWS_PER_FILE = 500
WARM_FILES = 3
COMMIT_TIMEOUT_S = 60.0
IDLE_S = 0.2  # idle and no new batch for this long: the file's batches are done
WINDOW_S = 300


class Stream:
    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.root = os.path.join(workdir, "stream")
        shutil.rmtree(self.root, ignore_errors=True)
        self.src = os.path.join(self.root, "src", "events.parquet")
        os.makedirs(self.src)
        self.out = {k: os.path.join(self.root, k) for k in ("counts", "dedup")}
        self.files = gen_event_files(seed, ROWS_PER_FILE)
        self.landed: list = []
        self.bytes_in = 0
        self.bytes_out = 0
        self.queries: dict = {}
        self.tracer = None
        self.layer_counts: dict[str, float] = {}

    def _land(self) -> float:
        f = next(self.files)
        tmp = os.path.join(self.src, "." + f.name)
        pq.write_table(f.table, tmp)
        self.bytes_in += os.path.getsize(tmp)
        t = time.perf_counter()
        os.rename(tmp, os.path.join(self.src, f.name))  # atomic: hidden until named
        self.landed.append(f)
        return t

    def _sink(self, kind: str):
        path = self.out[kind]

        def write(batch_df, batch_id):
            with self.tracer.span("sources", f"to_avro:{kind}", tag_jobs=False):
                # one file per micro-batch keeps the read-back to a file a batch
                to_avro(batch_df.coalesce(1), path, mode="append", write_id=f"b{batch_id:06d}")

        return write

    def start(self, tracer) -> None:
        """Land the first file (the source needs one to read the schema)
        and start both queries; not timed."""
        self.tracer = tracer
        self._land()
        with tracer.span("streaming", "start_queries"):
            src = events_stream(self.spark, os.path.dirname(self.src))
            plans = {
                "counts": (stream_tumbling_counts(src), "update"),
                "dedup": (stream_dedup_within_watermark(src, ["event_id"]), "append"),
            }
            for kind, (sdf, mode) in plans.items():
                self.queries[kind] = (
                    sdf.writeStream.foreachBatch(self._sink(kind))
                    .outputMode(mode)
                    .option("checkpointLocation", os.path.join(self.root, f"ckpt_{kind}"))
                    .queryName(f"bench_{kind}")
                    .start()
                )
                tracer.extra_groups.append(str(self.queries[kind].runId))
        self._settle(0)

    def _settle(self, offset: int) -> float:
        """Wait until both queries have committed the batch holding file
        ``offset`` and every follow-up batch it caused (the watermark
        advance), then return when the last of them was seen committed.
        Landing the next file only then keeps results deterministic:
        Spark drops late rows against the previous batch's watermark, so
        a file landing before the follow-up batch could let late rows in."""
        deadline = time.perf_counter() + COMMIT_TIMEOUT_S
        seen, changed = None, time.perf_counter()
        while True:
            progress, busy = [], False
            for q in self.queries.values():
                if not q.isActive:
                    raise RuntimeError(f"streaming query died: {q.exception()}")
                progress.append(q.lastProgress)
                status = q.status
                busy = busy or status["isTriggerActive"] or status["isDataAvailable"]
            now = time.perf_counter()
            # an idle trigger reports the next batch's id too: the trigger
            # timestamp tells progress events apart
            ids = tuple((p["batchId"], p["timestamp"]) if p else None for p in progress)
            if ids != seen:
                seen, changed = ids, now
            ends = [re.search(r"logOffset\W+(\d+)", str(p["sources"][0]["endOffset"])) if p else None for p in progress]
            committed = all(m and int(m.group(1)) >= offset for m in ends)
            if committed and not busy and now - changed >= IDLE_S:
                return changed
            if now > deadline:
                raise TimeoutError(f"file {offset} not settled in {COMMIT_TIMEOUT_S}s")
            time.sleep(0.002)

    def warm_up(self, tracer, stats) -> None:
        self.start(tracer)
        for _ in range(WARM_FILES):
            self.run_pass(tracer, stats)

    def run_pass(self, tracer, stats) -> tuple[int, list[float]]:
        t = self._land()
        stats.attempted += 1
        try:
            with tracer.span("streaming", "micro_batch", tag_jobs=False):
                done = self._settle(len(self.landed) - 1)
        except (RuntimeError, TimeoutError) as exc:
            stats.fail(f"stream: {exc}")
            done = time.perf_counter()
        return self.landed[-1].table.num_rows, [(done - t) * 1000]

    def finish(self, tracer, stats) -> None:
        """Stop the queries, read both sinks back and compare with pandas
        oracles over the on-time events of every landed file."""
        progress = {k: q.recentProgress for k, q in self.queries.items()}
        for q in self.queries.values():
            q.stop()
        for q in self.queries.values():
            q.awaitTermination(COMMIT_TIMEOUT_S)
        data = [p for p in progress["dedup"] if p["numInputRows"] > 0]
        rows_in = sum(p["numInputRows"] for p in data)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0) for p in data for op in p["stateOperators"]
        )
        self.layer_counts = {
            "streaming.batch_ms": float(np.median([p["durationMs"]["triggerExecution"] for p in data])),
            "streaming.batches": float(sum(len(v) for v in progress.values())),
            "streaming.late_drop_ratio": dropped / rows_in if rows_in else 0.0,
        }
        ev = pd.concat(
            [
                pd.DataFrame(
                    {
                        "event_id": f.table.column("event_id").to_numpy(),
                        "ts_us": f.table.column("ts").cast(pa.int64()).to_numpy(),
                        "event_type": f.table.column("event_type").to_numpy(zero_copy_only=False),
                        "late": f.late,
                    }
                )
                for f in self.landed
            ],
            ignore_index=True,
        )
        on_time = ev[~ev["late"]]
        with tracer.span("sources", "read_avro"):
            counts = read_avro(self.spark, self.out["counts"]).toPandas()
            dedup = read_avro(self.spark, self.out["dedup"]).select("event_id").toPandas()
        self.bytes_out = sum(dir_bytes(p) for p in self.out.values())
        # 1. windowed counts equal a pandas oracle over on-time events
        stats.attempted += 1
        w = on_time["ts_us"] // 1_000_000 // WINDOW_S * WINDOW_S
        want = on_time.groupby([w.rename("w_start"), on_time["event_type"]]).size().to_dict()
        got = counts.groupby(["w_start", "event_type"])["n"].max().to_dict()
        bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        if bad:
            shown = ", ".join(f"{k}: got {got.get(k)} want {want.get(k)}" for k in bad[:4])
            stats.fail(f"windowed counts: {len(bad)} cells differ ({shown})")
        # 2. the dedup sink holds every on-time event exactly once
        stats.attempted += 1
        ids = dedup["event_id"]
        want_ids = set(on_time["event_id"])
        missing, extra = want_ids - set(ids), set(ids) - want_ids
        n_dup = int(ids.duplicated().sum())
        if missing or extra or n_dup:
            stats.fail(
                f"stream dedup: {len(missing)} on-time events missing, {len(extra)} unexpected, "
                f"{n_dup} repeated (e.g. missing {sorted(missing)[:3]}, unexpected {sorted(extra)[:3]})"
            )
