"""The ``ingest`` workload: binary frames -> decode -> dedup on
(token, sequence_number) -> date-partitioned Parquet, driven through
``streaming.ingest.ingest_to_parquet`` in its two modes.

Catch-up drain (closed loop): a seeded backlog of time-ordered frame
files is drained with ``availableNow`` in a few large epochs, each time
with a fresh sink and checkpoint, and each drain is timed from
``start()`` to termination. Big epochs put the time into decode and
dedup state: this phase gives the throughput.

Live (open loop): one generator thread writes a frame file every
``LIVE_FILE_S`` seconds at a fixed tick rate while the stream runs
micro-batches back to back. Each frame's ``exchange_timestamp`` is the
time it was due, so a committed row's ``ts`` is its due stamp and its
freshness is the end of the epoch that committed it minus that stamp.
Small epochs make fixed per-epoch cost dominate: this phase gives the
latency.

Both phases check their sinks against the generator's truth: the exact
multiset of non-corrupt, deduplicated ticks, every row in the partition
of its own date, and no row dropped by the watermark.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime
from statistics import median

from harness import multiset_diff, quantile

DUP_EVERY = 20  # every 20th frame is retransmitted
CORRUPT_EVERY = 200  # every 200th frame is truncated

DRAIN_FRAMES = 40_000
DRAIN_FILES = 8
DRAIN_FILES_PER_TRIGGER = 2
DRAIN_WARMUPS = 2  # after one cold drain the JIT is still settling
DRAIN_REPEATS = 3  # a median, not a mean: one slow drain does not move it

LIVE_RATE = 3_000  # original ticks per second; retransmits ride on top
# 0.25 s files (3-4 an epoch, against 1-2) would keep ~0.8 s epochs from
# locking onto the file schedule, but each file costs an epoch ~90 ms,
# and runs spread no less
LIVE_FILE_S = 0.5
LIVE_WARM_S = 3.0  # stream start-up: ticks due this early are not sampled

STREAM_TIMEOUT_S = 120
FRAME_SCHEMA = "frame binary"

SINK_SQL = """
SELECT token, epoch_ms(ts::TIMESTAMP) AS ts_ms, sequence_number,
       last_traded_price, open_price, high_price, low_price, close_price,
       volume,
       CAST(regexp_extract(filename, '/e([0-9]+)-[^/]*$', 1) AS BIGINT)
         AS epoch,
       date <> CAST(ts AS DATE) AS wrong_partition
FROM read_parquet('{glob}', hive_partitioning = true, filename = true)
"""


# ---------------------------------------------------------------------------
# truth, sink and progress
# ---------------------------------------------------------------------------
def expected_ticks(truth: list[dict], due_ms=None) -> list[tuple]:
    """The sink the decoder + dedup must produce from ``truth``: drop
    frames too short for their mode, keep the first frame of each
    (token, sequence_number), paise -> rupees. ``due_ms`` maps a
    sequence number to the stamp the live generator put on the wire."""
    from angelone_clickhouse_spark.sources.frames import FULL_LEN, HEADER_LEN

    seen: set = set()
    rows = []
    for r in truth:
        tail = r["mode"] >= 2
        if r["frame_len"] < (FULL_LEN if tail else HEADER_LEN):
            continue
        key = (r["token"], r["sequence_number"])
        if key in seen:
            continue
        seen.add(key)

        def rupees(k):
            return r[k] / 100.0 if tail else None

        rows.append(
            (
                r["token"],
                due_ms(r["sequence_number"]) if due_ms else r["exchange_timestamp_ms"],
                r["sequence_number"],
                r["ltp_paise"] / 100.0,
                rupees("open_paise"),
                rupees("high_paise"),
                rupees("low_paise"),
                rupees("close_paise"),
                float(r["volume"]) if tail else None,
            )
        )
    return rows


def read_sink(out_dir: str) -> tuple[list[tuple], list[int], int]:
    """(tick rows, committing epoch of each row, rows outside their
    date partition) of a committed sink."""
    import duckdb

    con = duckdb.connect()
    try:
        got = con.sql(
            SINK_SQL.format(glob=os.path.join(out_dir, "date=*", "*.parquet"))
        ).fetchall()
    finally:
        con.close()
    return (
        [r[:9] for r in got],
        [r[9] for r in got],
        sum(1 for r in got if r[10]),
    )


def check_sink(ctx, label: str, out_dir: str, expected: list[tuple]):
    """Compare a sink with the expected ticks; returns (epoch, ts_ms,
    sequence_number) per row, or None on a mismatch."""
    rows, epochs, wrong_part = read_sink(out_dir)
    missing, excess = multiset_diff(expected, rows)
    if missing or excess or wrong_part:
        ctx.mismatch(
            f"{label}: {missing} ticks missing, {excess} unexpected, "
            f"{wrong_part} outside their date partition"
        )
        return None
    return epochs, [r[1] for r in rows], [r[2] for r in rows]


def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def epoch_end_ms(progress: list[dict]) -> dict[int, float]:
    """Epoch id -> wall-clock end: trigger start + triggerExecution."""
    out = {}
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        out[p["batchId"]] = start.timestamp() * 1e3 + p["durationMs"]["triggerExecution"]
    return out


def epoch_log(progress: list[dict]) -> list[list]:
    """[epoch, input rows, triggerExecution ms] per data epoch."""
    return [
        [p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"]]
        for p in progress
        if p["numInputRows"] > 0
    ]


def late_dropped(progress: list[dict]) -> int:
    return sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators") or []
    )


def stream_layers(progress: list[dict], epochs: set[int]) -> dict:
    """Per-layer numbers of ``streaming.ingest`` from the public
    StreamingQueryProgress of the given data epochs."""
    data = [p for p in progress if p["batchId"] in epochs]
    ops = [op for p in data for op in p.get("stateOperators") or []]

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    return {
        "ingest.epochs": len(data),
        "ingest.rows_per_epoch": median([p["numInputRows"] for p in data]),
        "ingest.add_batch_ms": median([dur(p, "addBatch") for p in data]),
        "ingest.overhead_ms": median(
            [dur(p, "latestOffset", "getBatch", "queryPlanning", "walCommit") for p in data]
        ),
        "ingest.dup_dropped": sum(
            op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in ops
        ),
        "ingest.late_dropped": late_dropped(progress),
        "ingest.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "ingest.state_commit_ms": median([op["commitTimeMs"] for op in ops]) if ops else 0,
    }


def await_drain(q, what: str) -> None:
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{what} did not finish in {STREAM_TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(f"{what} failed: {q.exception()}")


def sink_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out_dir)
        for f in files
        if f.endswith(".parquet")
    )


def dedup_ms(progress: list[dict]) -> float:
    """Per-epoch median of the time the stream's dedup state operator
    spent updating and evicting its state (summed over its tasks), from
    the public StreamingQueryProgress."""
    return median(
        [
            sum(op["allUpdatesTimeMs"] + op["allRemovalsTimeMs"] for op in p["stateOperators"])
            for p in progress
            if p["numInputRows"] > 0
        ]
    )


def stage_for_commit(appended: str, staging: str, epoch: int) -> None:
    """Lay epoch ``epoch``'s committed files out again as a staged
    epoch (``date=<d>/part-*``), by copying, so the committer can be
    timed alone."""
    import shutil

    prefix = f"e{epoch}-"
    for dpart in os.listdir(appended):
        names = [n for n in os.listdir(os.path.join(appended, dpart)) if n.startswith(prefix)]
        if names:
            os.makedirs(os.path.join(staging, dpart))
        for n in names:
            shutil.copy(os.path.join(appended, dpart, n), os.path.join(staging, dpart, n[len(prefix):]))


def replay_epochs(ctx, spark, files_by_epoch: dict[int, list[str]], sink_dir: str) -> dict:
    """Traced static replay: each epoch's input files go through the
    program's ingest pieces under nested spans (decode_frames in
    wire_to_ticks in decode_tick_stream in the epoch appender), then
    ``commit_epoch_partitioned`` is timed alone on a copy of the
    epoch's committed files laid out as staged.

    Each inner layer's output is cached inside its span, and
    ``decode_tick_stream(frames)`` then reads the cached ticks in place
    of decoding again (Spark substitutes cached plans), so each span's
    self time is its own layer's work: the batch dedup for
    ``decode_tick_stream``, the staging write and commit for the
    appender."""
    from pyspark.sql import functions as F

    from angelone_clickhouse_spark.sources.decoder import decode_frames, wire_to_ticks
    from angelone_clickhouse_spark.streaming.epoch_commit import commit_epoch_partitioned
    from angelone_clickhouse_spark.streaming.ingest import decode_tick_stream, make_epoch_appender

    def materialize(df):
        df = df.cache()
        df.count()
        cached.append(df)
        return df

    tr = ctx.tracer
    replay = os.path.join(ctx.run_dir, "replay")
    appended = os.path.join(replay, "appended")
    appender = make_epoch_appender(appended)
    cached, decoded_by_epoch, files_per_epoch = [], [], []
    for e in sorted(files_by_epoch):
        with tr.span("replay_epoch"):
            frames = spark.read.schema(FRAME_SCHEMA).parquet(*files_by_epoch[e])
            with tr.span("make_epoch_appender(...)(batch, e)"):
                with tr.span("decode_tick_stream"):
                    with tr.span("wire_to_ticks"):
                        with tr.span("decode_frames"):
                            decoded = materialize(decode_frames(frames))
                        materialize(wire_to_ticks(decoded))
                    batch = materialize(decode_tick_stream(frames))
                appender(batch, e)
        staging = os.path.join(replay, f"stage-{e}")
        stage_for_commit(appended, staging, e)
        files_per_epoch.append(sum(len(names) for _, _, names in os.walk(staging)))
        with tr.span("commit_epoch_partitioned"):
            commit_epoch_partitioned(staging, os.path.join(replay, "committed"), e)
        decoded_by_epoch.append(decoded)
    frames_in = corrupt = 0
    for decoded in decoded_by_epoch:
        n, bad = decoded.agg(F.count(F.lit(1)), F.sum(F.col("is_corrupt").cast("long"))).first()
        frames_in += n
        corrupt += bad
    for df in cached:
        df.unpersist()
    n_ticks = len(read_sink(sink_dir)[0])
    rename_ms = median(tr.dur_by_name("commit_epoch_partitioned"))
    return {
        "decoder.frames_in": frames_in,
        "decoder.frames_corrupt": corrupt,
        "decoder.decode_ms": median(tr.self_by_name("decode_frames")),
        # the appender's own work is its staging write plus the commit
        "commit.stage_ms": median(tr.self_by_name("make_epoch_appender(...)(batch, e)"))
        - rename_ms,
        "commit.rename_ms": rename_ms,
        "commit.files_per_epoch": median(files_per_epoch),
        "commit.bytes_per_tick": sink_bytes(sink_dir) / n_ticks,
        "trace.self_cover_pct": 100.0 * tr.coverage({"replay_epoch"}),
    }


def files_by_epoch(epochs: list[int], seqs: list[int], file_of_seq, wanted: set[int]):
    out: dict[int, set[str]] = {}
    for e, s in zip(epochs, seqs):
        if e in wanted:
            out.setdefault(e, set()).add(file_of_seq(s))
    return {e: sorted(f) for e, f in out.items()}


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------
class FrameWriter(threading.Thread):
    """The one load-generator thread: file k holds the frames of the
    original ticks due in [t0 + k*LIVE_FILE_S, t0 + (k+1)*LIVE_FILE_S)
    and is written when its last tick is due. Files appear atomically
    (hidden temp name, then rename), so the stream never reads half a
    file."""

    def __init__(self, groups: list[list[dict]], out_dir: str, t0: float, due_ms):
        super().__init__(daemon=True)
        self.groups, self.out_dir, self.t0, self.due_ms = groups, out_dir, t0, due_ms
        self.written: list[tuple[int, float, float]] = []  # (file, due, done)
        self.stop_event = threading.Event()
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self._run()
        except Exception as exc:  # reported by the caller after join
            self.error = exc

    def _run(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from angelone_clickhouse_spark.sources.frames import encode_frame

        keys = (
            "ltq", "atp_paise", "volume", "total_buy_qty", "total_sell_qty",
            "open_paise", "high_paise", "low_paise", "close_paise",
        )
        for k, recs in enumerate(self.groups):
            due = self.t0 + (k + 1) * LIVE_FILE_S
            if self.stop_event.wait(max(0.0, due - time.time())):
                return
            chunk = []
            for r in recs:
                tail = {key: r[key] for key in keys if r[key] is not None}
                frame = encode_frame(
                    r["mode"], r["exchange_type"], r["token"], r["sequence_number"],
                    self.due_ms(r["sequence_number"]), r["ltp_paise"], **tail,
                )
                chunk.append(frame[: r["frame_len"]])
            tmp = os.path.join(self.out_dir, f".f{k:05d}.tmp")
            pq.write_table(pa.table({"frame": pa.array(chunk, type=pa.binary())}), tmp)
            os.rename(tmp, os.path.join(self.out_dir, f"f{k:05d}.parquet"))
            self.written.append((k, due, time.time()))


class Ingest:
    """Catch-up drain of a seeded backlog, then the same pipeline live
    at LIVE_RATE ticks/s in LIVE_FILE_S files."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.backlog = os.path.join(ctx.run_dir, "backlog")
        self.live_dir = os.path.join(ctx.run_dir, "live")
        self.per_file = int(LIVE_RATE * LIVE_FILE_S)

    def make_inputs(self) -> None:
        from angelone_clickhouse_spark.sources.frames import (
            generate_frames_and_truth,
            write_frames_parquet_ordered,
        )

        frames, truth = generate_frames_and_truth(
            DRAIN_FRAMES, seed=self.ctx.seed,
            duplicate_every=DUP_EVERY, corrupt_every=CORRUPT_EVERY,
        )
        write_frames_parquet_ordered(frames, self.backlog, n_files=DRAIN_FILES)
        self.backlog_ticks = expected_ticks(truth)
        per = -(-len(frames) // DRAIN_FILES)
        self.backlog_file = {}
        for i, r in enumerate(truth):
            self.backlog_file.setdefault(
                r["sequence_number"], os.path.join(self.backlog, f"file{i // per:03d}.parquet")
            )
        # the live stream is its own seeded sequence; its event time is
        # the wall clock, so it shares no dedup keys with the backlog
        n_files = int((LIVE_WARM_S + self.ctx.seconds) / LIVE_FILE_S) + 2
        _, live = generate_frames_and_truth(
            n_files * self.per_file, seed=self.ctx.seed + 1,
            duplicate_every=DUP_EVERY, corrupt_every=CORRUPT_EVERY,
        )
        self.groups = [[] for _ in range(n_files)]
        for r in live:
            self.groups[r["sequence_number"] // self.per_file].append(r)
        os.makedirs(self.live_dir)
        self.ctx.record["inputs"] = {
            "backlog_frames": len(frames), "backlog_files": DRAIN_FILES,
            "files_per_trigger": DRAIN_FILES_PER_TRIGGER,
            "backlog_ticks": len(self.backlog_ticks),
            "live_rate_ticks_per_s": LIVE_RATE, "live_file_s": LIVE_FILE_S,
            "live_files": n_files, "live_frames": len(live),
        }

    def _drain(self, spark, tag: str):
        from angelone_clickhouse_spark.streaming.ingest import ingest_to_parquet

        out = os.path.join(self.ctx.run_dir, f"sink-{tag}")
        with self.ctx.tracer.span("ingest_to_parquet"):
            t0 = time.time()
            q = ingest_to_parquet(
                spark, self.backlog, out, os.path.join(self.ctx.run_dir, f"ckpt-{tag}"),
                available_now=True, max_files_per_trigger=DRAIN_FILES_PER_TRIGGER,
            )
            await_drain(q, f"drain {tag}")
            t1 = time.time()
        return out, t0, t1, progress_of(q)

    def warm_up(self, spark) -> None:
        for i in range(DRAIN_WARMUPS):
            self._drain(spark, f"warm{i}")

    def measure(self, spark, seconds: float) -> dict:
        """Drain throughput from DRAIN_REPEATS drains, then freshness
        from ``seconds`` of live ingest."""
        return {
            "throughput": self._measure_drains(spark),
            "latencies_ms": self._measure_live(spark, seconds),
        }

    def _measure_drains(self, spark) -> float | None:
        ctx = self.ctx
        drains = [self._drain(spark, str(i)) for i in range(DRAIN_REPEATS)]
        rates = []
        for i, (out, t0, t1, progress) in enumerate(drains):
            n_epochs = sum(1 for p in progress if p["numInputRows"] > 0)
            ctx.attempted += n_epochs
            checked = check_sink(ctx, f"drain {i}", out, self.backlog_ticks)
            if checked is None or late_dropped(progress):
                if checked is not None:
                    ctx.mismatch(f"drain {i}: {late_dropped(progress)} ticks late-dropped")
                ctx.failed += n_epochs
                continue
            rates.append(len(checked[0]) / (t1 - t0))
            if i == 0:
                self.drain = (out, checked[0], checked[2], progress)
        ctx.record["drains"] = [
            {"wall_s": t1 - t0, "epochs": epoch_log(progress)}
            for _, t0, t1, progress in drains
        ]
        return median(rates) if rates else None

    def _measure_live(self, spark, seconds: float) -> list[float]:
        from angelone_clickhouse_spark.streaming.ingest import ingest_to_parquet

        ctx = self.ctx
        out = os.path.join(ctx.run_dir, "sink-live")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        with ctx.tracer.span("ingest_to_parquet"):
            q = ingest_to_parquet(
                spark, self.live_dir, out, os.path.join(ctx.run_dir, "ckpt-live"),
                available_now=False, processing_time="0 seconds",
            )
            t0 = time.time() + 0.2

            def due_ms(seq: int) -> int:
                return int(round((t0 + seq / LIVE_RATE) * 1e3))

            gen = FrameWriter(self.groups, self.live_dir, t0, due_ms)
            gen.start()
            gen.join(timeout=LIVE_WARM_S + seconds + 30)
            if gen.is_alive() or gen.error is not None:
                gen.stop_event.set()
                gen.join(timeout=10)
                q.stop()
                raise RuntimeError(f"frame generator failed: {gen.error!r}")
            q.processAllAvailable()
            q.stop()
        progress = progress_of(q)
        w0, w1 = (t0 + LIVE_WARM_S) * 1e3, (t0 + LIVE_WARM_S + seconds) * 1e3
        lag = [done - due for _, due, done in gen.written]
        self.lag_max_ms = 1e3 * max(lag)
        ctx.record["generator"] = {
            "files": len(gen.written), "lag_max_ms": self.lag_max_ms,
            "lag_median_ms": 1e3 * median(lag),
        }
        ctx.record["live_epochs"] = epoch_log(progress)

        ends = epoch_end_ms(progress)
        data = [p["batchId"] for p in progress if p["numInputRows"] > 0]
        ctx.attempted += len(data)
        expected = expected_ticks(
            [r for k, _, _ in gen.written for r in self.groups[k]], due_ms
        )
        checked = check_sink(ctx, "live sink", out, expected)
        if checked is None or late_dropped(progress):
            if checked is not None:
                ctx.mismatch(f"live: {late_dropped(progress)} ticks late-dropped")
            ctx.failed += len(data)
            return []
        epochs, ts_ms, seqs = checked
        # from the exact due time, not the millisecond stamp on the wire
        fresh = [
            ends[e] - (t0 + s / LIVE_RATE) * 1e3
            for e, ts, s in zip(epochs, ts_ms, seqs)
            if w0 <= ts < w1
        ]
        in_win = {e for e in data if w0 <= ends[e] <= w1}
        ctx.record["fresh_p99_ms"] = quantile(fresh, 0.99) if fresh else None
        ctx.record["fresh_samples"] = len(fresh)
        ctx.record["window_epochs"] = len(in_win)
        # files due by the window end whose ticks were not all committed then
        done_at: dict[int, float] = {}
        for e, s in zip(epochs, seqs):
            k = s // self.per_file
            done_at[k] = max(done_at.get(k, 0.0), ends[e])
        self.backlog_end = sum(
            1 for k, due, _ in gen.written if due * 1e3 <= w1 and done_at.get(k, 0) > w1
        )
        self.live = (progress, in_win)
        return fresh

    def layers(self, spark) -> dict:
        """``ingest.*`` from the live window's epochs, where per-epoch
        cost sets freshness, except ``ingest.dedup_ms``; that and the
        span replay from the first measured drain's epochs, where
        decode and dedup dominate."""
        progress, in_win = self.live
        layers = stream_layers(progress, in_win)
        out, epochs, seqs, drain_progress = self.drain
        wanted = {p["batchId"] for p in drain_progress if p["numInputRows"] > 0}
        layers.update(
            replay_epochs(
                self.ctx, spark,
                files_by_epoch(epochs, seqs, self.backlog_file.__getitem__, wanted), out,
            )
        )
        layers.update(
            {
                "ingest.dedup_ms": dedup_ms(drain_progress),
                "frames.gen_lag_max_ms": self.lag_max_ms,
                "frames.backlog_files_end": self.backlog_end,
            }
        )
        return layers
