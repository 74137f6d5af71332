"""The traced run: spans around the program's public calls, Spark's event
log, the waves/resume pass and the kernel-lane timings, folded into the
per-layer metrics.

Spans are recorded from outside the program: the catalog and pipeline
functions that ``run_extraction`` calls through module references are
wrapped for the life of the tracer, and every Spark job they submit carries
the span name and the pass label as local properties, so the event log can
be split by pass and by span.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import tracemalloc
from contextlib import ExitStack, contextmanager
from unittest import mock

import pyarrow.parquet as pq

from perfbench import digest, eventlog, spans
from perfbench.eventlog import PY_BOOT, PY_INIT, PY_RECV, PY_RUN, PY_SENT

MIB = 1024.0 * 1024.0
COVERAGE_MIN = 0.90

# waves/resume shape: 64 buckets in 8 waves, killed after 4, then resumed
WAVES = {"n_buckets": 64, "n_waves": 8}
KILL_AFTER = 4

# kernel lanes by detected content type; the fixtures produce no xml turns
LANES = {
    "text/plain": "plain",
    "text/html": "html",
    "application/pdf": "pdf",
    "application/x-dwg-mtext": "mtext",
    "application/zip": "zip",
    "application/gzip": "gzip",
    "application/octet-stream": "octet",
}
LANE_SAMPLE_ROWS = 1500
LANE_MIN_SECONDS = 0.3
BATCH_ROWS = 4096  # session.ARROW_MAX_RECORDS, the batch the engine sees


class _Collected:
    """A DataFrame whose rows were already collected: ``collect()`` returns
    them, anything else goes to the DataFrame."""

    def __init__(self, df, rows) -> None:
        self._df = df
        self._rows = rows

    def collect(self):
        return self._rows

    def __getattr__(self, name):
        return getattr(self._df, name)


class Tracer:
    """Spans and job tags for one Spark session."""

    def __init__(self, spark) -> None:
        from tika_addons_spark.plans import pipeline
        from tika_addons_spark.sources import catalog

        self.sc = spark.sparkContext
        self.rec = spans.Recorder()
        self.calls: dict[str, int] = {}
        self._lineage_start: float | None = None
        self._patches = ExitStack()
        wrapped = [
            (catalog, "catalog", n)
            for n in ("read_transcripts", "write_extracted")
        ]
        # driver-side plan building between the catalog calls
        wrapped += [
            (pipeline, "pipeline", n)
            for n in ("with_bucket", "bucket_salted_repartition", "extract_turns")
        ]
        for module, prefix, name in wrapped:
            fn = getattr(module, name)
            self._patches.enter_context(
                mock.patch.object(module, name, self._wrap(f"{prefix}.{name}", fn))
            )
        # the pipeline builds the lineage aggregate between these two calls
        real_read, real_append = catalog.read_extracted, catalog.append_checkpoint

        def read_extracted(*args, **kwargs):
            with self.span("catalog.read_extracted"):
                df = real_read(*args, **kwargs)
            self._lineage_start = time.time()
            return df

        def append_checkpoint(*args, **kwargs):
            if self._lineage_start is not None:
                self.rec.add("pipeline.lineage_plan", self._lineage_start, time.time())
                self._lineage_start = None
            with self.span("catalog.append_checkpoint"):
                return real_append(*args, **kwargs)

        self._patches.enter_context(mock.patch.object(catalog, "read_extracted", read_extracted))
        self._patches.enter_context(
            mock.patch.object(catalog, "append_checkpoint", append_checkpoint)
        )
        real_keys = catalog.completed_keys

        def completed_keys(spark, ckpt, run_id):
            # the pipeline collects the result at once: collecting inside
            # the span puts the checkpoint read job in it
            with self.span("catalog.completed_keys"):
                df = real_keys(spark, ckpt, run_id)
                return _Collected(df, df.collect())

        self._patches.enter_context(mock.patch.object(catalog, "completed_keys", completed_keys))

    def close(self) -> None:
        self._patches.close()

    def _wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    @contextmanager
    def span(self, name: str, group: str | None = None):
        prev = (self.sc.getLocalProperty(eventlog.GROUP), self.sc.getLocalProperty(eventlog.SPAN))
        with self.rec.span(name) as idx:
            if group is not None:
                self.sc.setLocalProperty(eventlog.GROUP, group)
            self.sc.setLocalProperty(eventlog.SPAN, name)
            try:
                yield idx
            finally:
                self.sc.setLocalProperty(eventlog.GROUP, prev[0])
                self.sc.setLocalProperty(eventlog.SPAN, prev[1])

    def call(self, label: str, fn):
        self._lineage_start = None
        with self.span("run_extraction", group=label) as idx:
            self.calls[label] = idx
            return fn()

    def after_timed(self, one_pass, dirs) -> dict:
        """Kill-and-resume waves run, then a no-op rerun, on one target."""
        out, ckpt = dirs("waves")
        killed_s, killed = one_pass("waves-killed", out, ckpt, fail_after_waves=KILL_AFTER, **WAVES)
        resume_s, resumed = one_pass("waves-resume", out, ckpt, **WAVES)
        noop_s, noop = one_pass("noop", out, ckpt, **WAVES)
        self.close()
        return {
            "killed_s": killed_s, "killed": killed, "resume_s": resume_s,
            "resumed": resumed, "noop_s": noop_s, "noop": noop,
        }

    def verify(self, expected, one_wave: digest.Check, dirs, extra: dict) -> tuple[int, int]:
        """The resumed waves output must equal the oracle and the clean
        one-wave output (resume is idempotent); the killed run must report
        the kill, the resumed run must finish and the rerun must find no
        bucket left. Returns (turns checked, turns failed)."""
        chk = digest.compare(expected, digest.output_hashes(dirs("waves")[0]))
        failed = chk.failed
        resumed_ok = (
            extra["killed"]["killed"]
            and not extra["resumed"]["killed"]
            and extra["noop"]["completed_buckets"] == 0
        )
        if failed == 0 and (chk.digest_actual != one_wave.digest_actual or not resumed_ok):
            failed = chk.expected
        return chk.expected, failed

    # ------------------------------------------------------------------
    def per_layer(
        self, passes, extra, session_s, peak, src, events_dir, dirs, out_path
    ) -> dict:
        """Per-layer metrics, also written with spans and per-pass detail to
        ``out_path``. A traced call whose child spans and stages cover less
        than COVERAGE_MIN of its wall is reported on stderr."""
        log = eventlog.load(events_dir)
        timed = [label for label, _, _ in passes]
        per_pass = [self._pass_layers(log, label) for label in timed]

        def med(key: str) -> float:
            return statistics.median(p[key] for p in per_pass)

        waves_groups = ("waves-killed", "waves-resume")
        waves_wall = extra["killed_s"] + extra["resume_s"]
        waves_extract = sum(
            s.wall_s for g in waves_groups for s in log.stages_in(g) if PY_RUN in s.sql
        )
        coverage = {
            label: self._coverage(log, label) for label in [*timed, *waves_groups, "noop"]
        }
        lanes = kernel_lanes(src)
        kernel_s = sum(v["us_per_turn"] * v["rows"] for v in lanes.values()) / 1e6
        out_files = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(dirs(timed[-1])[0]) for f in fs
        )
        resume_keys = [
            s for s in self._children("waves-resume") if s.name == "catalog.completed_keys"
        ]

        m = {
            "session.start_s": (session_s, "s"),
            "session.python_boot_s": (
                sum(s.sql.get(PY_BOOT, 0.0) for s in log.stages_in("cold")) / 1000.0, "s"),
            "catalog.scan_stage_s": (med("scan_stage_s"), "s"),
            "catalog.write_mb": (med("write_mb"), "MiB"),
            "catalog.files_written": (out_files, "count"),
            "catalog.write_extracted_s": (med("write_extracted_s"), "s"),
            "catalog.checkpoint_append_s": (med("checkpoint_append_s"), "s"),
            "catalog.checkpoint_read_s": (resume_keys[0].dur if resume_keys else 0.0, "s"),
            "catalog.lineage_reread_s": (med("lineage_reread_s"), "s"),
            "catalog.noop_rerun_s": (extra["noop_s"], "s"),
            "pipeline.jobs": (med("jobs"), "count"),
            "pipeline.stages": (med("stages"), "count"),
            "pipeline.tasks": (med("tasks"), "count"),
            "pipeline.wave_overhead_s": (
                (waves_wall - waves_extract) / WAVES["n_waves"], "s"),
            "pipeline.driver_gap_s": (med("driver_gap_s"), "s"),
            "pipeline.resume_s": (extra["resume_s"], "s"),
            "pipeline.shuffle_write_mb": (med("shuffle_write_mb"), "MiB"),
            "pipeline.shuffle_write_s": (med("shuffle_write_s"), "s"),
            "pipeline.shuffle_fetch_wait_s": (med("shuffle_fetch_wait_s"), "s"),
            "pipeline.extract_stage_s": (med("extract_stage_s"), "s"),
            "pipeline.extract_task_skew": (med("extract_task_skew"), "ratio"),
            "arrow.to_python_mb": (med("to_python_mb"), "MiB"),
            "arrow.from_python_mb": (med("from_python_mb"), "MiB"),
            "arrow.python_run_s": (med("python_run_s"), "s"),
            "arrow.python_init_s": (med("python_init_s"), "s"),
            "arrow.kernel_share": (kernel_s / med("python_run_s"), "ratio"),
            "jvm.gc_s": (med("gc_s"), "s"),
            "jvm.executor_cpu_s": (med("executor_cpu_s"), "s"),
            "jvm.peak_rss_mb": (peak["jvm"], "MiB"),
            "trace.turns_per_s": (
                statistics.median(s["n_turns"] / dt for _, dt, s in passes), "turns/s"),
            "trace.coverage": (min(coverage.values()), "ratio"),
        }
        for lane, v in lanes.items():
            m[f"kernel.us_per_turn.{lane}"] = (v["us_per_turn"], "us")
            m[f"kernel.rows.{lane}"] = (v["rows"], "count")
            m[f"kernel.share.{lane}"] = (v["us_per_turn"] * v["rows"] / 1e6 / kernel_s, "ratio")
            m[f"kernel.rejected.{lane}"] = (v["rejected"], "count")
            m[f"kernel.peak_alloc_mb.{lane}"] = (v["peak_alloc_mb"], "MiB")
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump({
                "metrics": metrics,
                "coverage": coverage,
                "per_pass": dict(zip(timed, per_pass)),
                "spans": self.rec.as_dicts(),
                "self_s_by_span": spans.self_time_by_name(self.rec.spans),
                "lanes": lanes,
            }, f, indent=1)
        low = {k: round(v, 3) for k, v in coverage.items() if v < COVERAGE_MIN}
        if low:
            print(f"perfbench: span+stage coverage below {COVERAGE_MIN}: {low}", file=sys.stderr)
        return metrics

    def _children(self, label: str) -> list[spans.Span]:
        root = self.calls[label]
        return [s for s in self.rec.spans if s.parent == root]

    def _coverage(self, log: eventlog.EventLog, label: str) -> float:
        """Share of one call's wall covered by its child spans and stages."""
        call = self.rec.spans[self.calls[label]]
        intervals = [(s.start, s.end) for s in self._children(label)]
        intervals += [
            (s.submit_ms / 1000.0, s.complete_ms / 1000.0) for s in log.stages_in(label)
            if s.submit_ms is not None and s.complete_ms is not None
        ]
        return spans.union_length(intervals, call.start, call.end) / call.dur

    def _pass_layers(self, log: eventlog.EventLog, label: str) -> dict:
        call = self.rec.spans[self.calls[label]]
        stages = log.stages_in(label)
        extract = [s for s in stages if PY_RUN in s.sql]
        scan = [
            s for s in stages
            if s.span == "catalog.write_extracted" and s.input_bytes and s.shuffle_write_bytes
        ]
        reread = [s for s in stages if s.span == "catalog.append_checkpoint" and s.input_bytes]
        children = self._children(label)

        def span_s(name: str) -> float:
            return sum(s.dur for s in children if s.name == name)

        task_ms = sorted(t for s in extract for t in s.task_run_ms)
        stage_iv = [(s.submit_ms / 1000.0, s.complete_ms / 1000.0) for s in stages]
        return {
            "wall_s": call.dur,
            "jobs": len(log.jobs_in(label)),
            "stages": len(stages),
            "tasks": sum(s.n_tasks for s in stages),
            "scan_stage_s": sum(s.wall_s for s in scan),
            "write_mb": sum(s.output_bytes for s in extract) / MIB,
            "write_extracted_s": span_s("catalog.write_extracted"),
            "checkpoint_append_s": span_s("catalog.append_checkpoint"),
            "lineage_reread_s": (
                span_s("catalog.read_extracted") + span_s("pipeline.lineage_plan")
                + sum(s.wall_s for s in reread)),
            "driver_gap_s": call.dur - spans.union_length(stage_iv, call.start, call.end),
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MIB,
            "shuffle_write_s": sum(s.shuffle_write_ns for s in stages) / 1e9,
            "shuffle_fetch_wait_s": sum(s.fetch_wait_ms for s in stages) / 1000.0,
            "extract_stage_s": sum(s.wall_s for s in extract),
            "extract_task_skew": (
                task_ms[-1] / max(statistics.median(task_ms), 1) if task_ms else 0.0),
            "to_python_mb": sum(s.sql.get(PY_SENT, 0.0) for s in extract) / MIB,
            "from_python_mb": sum(s.sql.get(PY_RECV, 0.0) for s in extract) / MIB,
            "python_run_s": sum(s.sql.get(PY_RUN, 0.0) for s in extract) / 1000.0,
            "python_init_s": sum(s.sql.get(PY_INIT, 0.0) for s in extract) / 1000.0,
            "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        }


def kernel_lanes(src: str) -> dict[str, dict]:
    """Single-threaded ``extract_batch_arrow`` on lane-pure batches cut from
    the workload's own rows: µs per turn, rows and rejected turns per lane
    over the whole input, and the Python-heap peak of one pass (tracemalloc;
    Arrow buffers are not counted)."""
    import pyarrow as pa

    from tika_addons_spark.operators.extract_arrow import extract_batch_arrow

    table = pq.read_table(src, columns=["conv_id", "turn_idx", "role", "ts", "text"])
    ctypes: list[str] = []
    status: list[str] = []
    for rb in table.to_batches(max_chunksize=BATCH_ROWS):
        out = extract_batch_arrow(rb)
        ctypes.extend(out.column("detected_content_type").to_pylist())
        status.extend(out.column("parse_status").to_pylist())

    lanes = {}
    for ctype, lane in LANES.items():
        idx = [i for i, c in enumerate(ctypes) if c == ctype]
        if not idx:  # e.g. no html turns in plain_bulk
            lanes[lane] = {
                "rows": 0, "sampled": 0, "us_per_turn": 0.0, "rejected": 0, "peak_alloc_mb": 0.0,
            }
            continue
        sample = table.take(pa.array(idx[:LANE_SAMPLE_ROWS])).to_batches(max_chunksize=BATCH_ROWS)
        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < LANE_MIN_SECONDS:
            for rb in sample:
                extract_batch_arrow(rb)
            reps += 1
        elapsed = time.perf_counter() - t0
        tracemalloc.start()
        for rb in sample:
            extract_batch_arrow(rb)
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        lanes[lane] = {
            "rows": len(idx),
            "sampled": min(len(idx), LANE_SAMPLE_ROWS),
            "us_per_turn": elapsed / (reps * min(len(idx), LANE_SAMPLE_ROWS)) * 1e6,
            "rejected": sum(status[i] == "rejected" for i in idx),
            "peak_alloc_mb": peak / MIB,
        }
    return lanes
