"""The benchmark's ops, their correctness gates and the metrics built from
them. Everything here calls the program only through its public functions:
session.get_spark, plans.ingest.ingest / decode_archive / search_archives,
plans.grep, plans.pipeline and functions.tokenizer_vec / render_vec."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import stats
from spans import engine_spans_and_metrics, read_event_log, self_time_by_name

OP_KINDS = ("ingest_full", "ingest_routed", "decode", "search")
ENGINE_METRICS = {
    "task_cpu_s": "s",
    "task_run_s": "s",
    "gc_s": "s",
    "tasks": "count",
    "jobs": "count",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "input_bytes": "B",
    "python_sent_bytes": "B",
    "python_received_bytes": "B",
    "python_exec_s": "s",
}
# only ingests write; decode and search output nothing
INGEST_ENGINE_METRICS = {"output_bytes": "B", "task_skew": "ratio"}

UNITS = {
    # end to end
    "setup_s": "s",
    "ingest_turns_per_s": "turns/s",
    "routed_turns_per_s": "turns/s",
    "archive_bytes_per_text_byte": "ratio",
    "search_p50_ms": "ms",
    "decode_turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
    # per layer
    "session.start_s": "s",
    "functions.encode_full_rows_per_s": "rows/s",
    "functions.encode_ids_rows_per_s": "rows/s",
    "functions.render_rows_per_s": "rows/s",
    "pipeline.bridge_floor_s": "s",
    "pipeline.parse_encode_s": "s",
    "pipeline.parse_encode_ids_s": "s",
    "pipeline.decode_plan_ms": "ms",
    "pipeline.decode_exec_s": "s",
    "ingest.messages_s": "s",
    "ingest.logtype_dict_s": "s",
    "ingest.var_dict_s": "s",
    "ingest.counts_s": "s",
    "ingest.lineage_s": "s",
    "ingest.plan_s": "s",
    "ingest.between_steps_s": "s",
    "ingest.finalize_s": "s",
    "ingest.unattributed_s": "s",
    "ingest.unattributed_share": "ratio",
    "ingest.messages_files": "count",
    "ingest.logtype_dict_entries": "count",
    "ingest.var_dict_entries": "count",
    "ingest.messages_bytes": "B",
    "ingest.dict_bytes": "B",
    "grep.plan_ms": "ms",
    "grep.exec_ms": "ms",
    "grep.jobs_per_query": "count",
    "grep.candidate_row_share": "ratio",
    "grep.decoded_per_match": "ratio",
    "grep.wontmatch_queries": "count",
    "caching.cold_plan_ms": "ms",
    # Python workers boot once, in set-up, and are reused by later ops
    "spark.python_boot_s": "s",
    "trace.ingest_turns_per_s": "turns/s",
    "trace.routed_turns_per_s": "turns/s",
    "trace.decode_turns_per_s": "turns/s",
    "trace.search_p50_ms": "ms",
}
for _k in OP_KINDS:
    for _m, _u in ENGINE_METRICS.items():
        UNITS[f"spark.{_k}.{_m}"] = _u
for _k in ("ingest_full", "ingest_routed"):
    for _m, _u in INGEST_ENGINE_METRICS.items():
        UNITS[f"spark.{_k}.{_m}"] = _u

BATCH_ROWS = 20_000  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
# Arrow batches holding any of these bytes take the encoder's pandas path.
_SLOW_BYTES = "[\\\\\\x00\\x11\\x12\\x13]"


# driver-side phases of an ingest outside the manifest's timed steps
_PHASES = ("plan", "between_steps", "finalize")


def _ingest_phases(out: str, step_secs: dict, t0: float, t1: float) -> list:
    """Spans (name, start, end) covering one ingest call from t0 to t1: each
    step the manifest timed, ending when its sink directory was committed
    (renamed into place, which sets the directory's ctime), and the driver
    phases around them: planning before the first step, the gaps between
    steps, and the finalize after the last."""
    steps = []
    for name, secs in step_secs.items():
        end = os.stat(os.path.join(out, name)).st_ctime
        steps.append((end - secs, end, name))
    phases, cur = [], t0
    for i, (start, end, name) in enumerate(sorted(steps)):
        if start > cur:
            phases.append(("ingest.plan" if i == 0 else "ingest.between_steps", cur, start))
        phases.append((f"ingest.step.{name}", max(start, cur), end))
        cur = max(cur, end)
    phases.append(("ingest.finalize", cur, max(cur, t1)))
    return phases


def _median(xs) -> float:
    """Median of the samples; NaN (reported as null) when there are none."""
    return statistics.median(xs) if xs else float("nan")


def _parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


@dataclass
class Corpus:
    path: str
    table: pa.Table
    text_bytes: int
    slow_batch_share: float
    ts_min_ms: int
    ts_max_ms: int
    counts_tool: dict
    counts_conv: dict

    @classmethod
    def generate(cls, wl, seed: int, work: str) -> "Corpus":
        table = wl.generate(seed, wl.rows)
        path = os.path.join(work, "input.parquet")
        pq.write_table(table, path)
        text = table.column("text")
        slow = pc.match_substring_regex(text, _SLOW_BYTES)
        n_batches = (len(text) + BATCH_ROWS - 1) // BATCH_ROWS
        slow_batches = sum(
            bool(pc.any(slow.slice(i * BATCH_ROWS, BATCH_ROWS)).as_py()) for i in range(n_batches)
        )
        ms = pc.divide(pc.cast(table.column("ts"), pa.int64()), 1000)
        tools = table.group_by("tool").aggregate([("tool", "count")])
        conv = (
            table.append_column("ms", ms)
            .group_by("conv_id")
            .aggregate([("ms", "count"), ("ms", "min"), ("ms", "max")])
        )
        return cls(
            path=path,
            table=table,
            text_bytes=pc.sum(pc.binary_length(text)).as_py(),
            slow_batch_share=slow_batches / n_batches,
            ts_min_ms=pc.min(ms).as_py(),
            ts_max_ms=pc.max(ms).as_py(),
            counts_tool=dict(zip(tools["tool"].to_pylist(), tools["tool_count"].to_pylist())),
            counts_conv={
                c: (n, lo, hi)
                for c, n, lo, hi in zip(
                    conv["conv_id"].to_pylist(),
                    conv["ms_count"].to_pylist(),
                    conv["ms_min"].to_pylist(),
                    conv["ms_max"].to_pylist(),
                )
            },
        )


@dataclass
class Samples:
    secs: dict = field(default_factory=lambda: {k: [] for k in OP_KINDS})
    ingests: list = field(default_factory=list)  # (kind, wall_s, step_secs, phases)
    archive_bytes: list = field(default_factory=list)
    plan_ms: list = field(default_factory=list)
    exec_ms: list = field(default_factory=list)
    jobs: list = field(default_factory=list)
    intervals: list = field(default_factory=list)  # (start, end) perf_counter of timed ops


class GateError(Exception):
    """An op returned a wrong answer."""


class Ops:
    def __init__(self, spark, wl, corpus: Corpus, work: str, tracer):
        from clp_spark.plans import grep

        self.spark = spark
        self.wl = wl
        self.corpus = corpus
        self.work = work
        self.tracer = tracer
        self.rows = corpus.table.num_rows
        if wl.dict_broadcast_limit is not None:
            grep.DICT_BROADCAST_LIMIT = wl.dict_broadcast_limit
        self.dict_limit = grep.DICT_BROADCAST_LIMIT
        self.queries = wl.queries(corpus.table)
        self.archive = os.path.join(work, "archive")
        self.samples = Samples()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.oracle_s = 0.0
        self.archive_info: dict = {}
        self.attribution: list[dict] = []
        self._n = 0

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        from clp_spark.plans.ingest import ingest

        self.df = self.spark.read.parquet(self.corpus.path)
        # the archive build is the warm-up op: it runs every ingest stage once
        with self.tracer.span("setup.build"):
            manifest = ingest(self.spark, self.df, self.archive, resume=False)
        self._guard(lambda: self._check_full(manifest, self.archive))
        self.archive_info = self._archive_info(self.archive, manifest)
        t = time.perf_counter()
        with self.tracer.span("setup.oracle"):
            self._oracles()
        self.oracle_s = time.perf_counter() - t
        # the first messages-only ingest and decode of a JVM ran 1.5-2x
        # slower than later ones; run each once untimed
        with self.tracer.span("setup.warm"):
            self._guard(lambda: self._ingest(full=False, record=False))
            self._guard(lambda: self._decode(record=False))

    def _oracles(self) -> None:
        """Expected answers from the raw input, by Spark over the parquet:
        decode's count and row-hash sum, and each query's match count with
        the benchmark's own wildcard translation run through `rlike`."""
        from pyspark.sql import functions as F

        span = self.corpus.ts_max_ms - self.corpus.ts_min_ms
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)")).alias("h"),
        ]
        self.windows = []
        for i, q in enumerate(self.queries):
            cond = F.col("text").rlike(stats.wildcard_to_java_regex(q.text, q.kw.get("ignore_case", False)))
            win = None
            if q.ts_window is not None:
                lo = self.corpus.ts_min_ms + int(span * q.ts_window[0])
                hi = self.corpus.ts_min_ms + int(span * q.ts_window[1])
                win = (lo, hi)
                ms = F.unix_millis(F.col("ts").cast("timestamp"))
                cond = cond & (ms >= lo) & (ms <= hi)
            self.windows.append(win)
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"q{i}"))
        row = self.df.agg(*aggs).first()
        self.expect_decode = (row["n"], row["h"])
        self.expect_hits = [row[f"q{i}"] for i in range(len(self.queries))]

    def _archive_info(self, path: str, manifest: dict) -> dict:
        msgs = os.path.join(path, "messages")
        lt, vd = os.path.join(path, "logtype_dict"), os.path.join(path, "var_dict")
        lt_tab = pq.ParquetDataset(lt).read(columns=["logtype_id", "logtype", "n_messages"])
        vd_strings = pq.ParquetDataset(vd).read(columns=["var_str"]).column("var_str").to_pylist()
        self.lt_rows = list(zip(lt_tab["logtype_id"].to_pylist(), lt_tab["logtype"].to_pylist()))
        self.lt_counts = dict(zip(lt_tab["logtype_id"].to_pylist(), lt_tab["n_messages"].to_pylist()))
        self.var_strings = vd_strings
        return {
            "archive_bytes": manifest["metrics"]["archive_bytes"],
            "messages_files": sum(len([f for f in fs if f.endswith(".parquet")]) for _, _, fs in os.walk(msgs)),
            "logtype_dict_entries": lt_tab.num_rows,
            "var_dict_entries": len(vd_strings),
            "messages_bytes": _parquet_bytes(msgs),
            "dict_bytes": _parquet_bytes(lt) + _parquet_bytes(vd),
        }

    # -- gates ---------------------------------------------------------------

    def _guard(self, op) -> None:
        """Run one op; one that raises or answers wrong is a failed op."""
        self.attempted += 1
        try:
            op()
        except Exception as e:  # counted, and the loop goes on
            self.failed += 1
            self.errors.append("".join(traceback.format_exception_only(type(e), e)).strip())

    def _check_routed(self, manifest: dict) -> None:
        if manifest["metrics"].get("n_turns") != self.rows:
            raise GateError(f"n_turns {manifest['metrics'].get('n_turns')} != {self.rows}")

    def _check_full(self, manifest: dict, out: str) -> None:
        self._check_routed(manifest)
        tool = pq.ParquetDataset(os.path.join(out, "counts_tool")).read()
        got = dict(zip(tool["tool"].to_pylist(), tool["cnt"].to_pylist()))
        if got != self.corpus.counts_tool:
            raise GateError("counts_tool differs from groupBy(tool) over the input")
        conv = pq.ParquetDataset(os.path.join(out, "counts_conv")).read()
        got = {
            c: (n, lo, hi)
            for c, n, lo, hi in zip(
                conv["conv_id"].to_pylist(),
                conv["n_turns"].to_pylist(),
                conv["first_ts_ms"].to_pylist(),
                conv["last_ts_ms"].to_pylist(),
            )
        }
        if got != self.corpus.counts_conv:
            raise GateError("counts_conv differs from groupBy(conv_id) over the input")
        lt = pq.ParquetDataset(os.path.join(out, "counts_logtype")).read()
        if pc.sum(lt["cnt"]).as_py() != self.rows:
            raise GateError("counts_logtype does not sum to the input rows")

    # -- ops -----------------------------------------------------------------

    def _fresh_dir(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"out{self._n}")
        shutil.rmtree(os.path.join(self.work, f"out{self._n - 1}"), ignore_errors=True)
        return d

    def _ingest(self, full: bool, record: bool = True) -> None:
        from clp_spark.plans.ingest import ingest

        out = self._fresh_dir()
        kind = "ingest_full" if full else "ingest_routed"
        steps = None if full else {"messages"}
        t, t_wall = time.perf_counter(), time.time()
        with self.tracer.span(kind) as sp:
            manifest = ingest(self.spark, self.df, out, resume=False, only_steps=steps)
        dt = time.perf_counter() - t
        if full:
            self._check_full(manifest, out)
        else:
            self._check_routed(manifest)
        if not record:
            return
        self.samples.secs[kind].append(dt)
        self.samples.intervals.append((t, t + dt))
        step_secs = manifest["metrics"]["step_secs"]
        phases = _ingest_phases(out, step_secs, t_wall, t_wall + dt)
        self.samples.ingests.append((kind, dt, step_secs, phases))
        for name, start, end in phases:
            self.tracer.record(name, sp.id if sp else None, start, end)
        if full:
            self.samples.archive_bytes.append(manifest["metrics"]["archive_bytes"])

    def _decode(self, record: bool = True) -> None:
        from pyspark.sql import functions as F

        from clp_spark.plans.ingest import decode_archive

        t = time.perf_counter()
        with self.tracer.span("decode"):
            with self.tracer.span("pipeline.decode_plan"):
                d = decode_archive(self.spark, self.archive)
            with self.tracer.span("pipeline.decode_exec"):
                row = d.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64("conv_id", "turn_idx", "text").cast("decimal(38,0)")).alias("h"),
                ).first()
        dt = time.perf_counter() - t
        if (row["n"], row["h"]) != self.expect_decode:
            raise GateError(f"decode (count, hash) {(row['n'], row['h'])} != {self.expect_decode}")
        if record:
            self.samples.secs["decode"].append(dt)
            self.samples.intervals.append((t, t + dt))

    def _search(self, i: int) -> None:
        from clp_spark.plans.ingest import search_archives

        q, win = self.queries[i], self.windows[i]
        kw = dict(q.kw)
        if win is not None:
            kw.update(begin_ts_ms=win[0], end_ts_ms=win[1])
        t = time.perf_counter()
        with self.tracer.span("search", query=q.kind) as sp:
            with self.tracer.span("grep.plan") as plan_span:
                d = search_archives(self.spark, [self.archive], q.text, **kw)
            t_plan = time.perf_counter()
            with self.tracer.span("grep.exec") as exec_span:
                n = d.count()
        t_end = time.perf_counter()
        if sp is not None:
            tracker = self.spark.sparkContext.statusTracker()
            self.samples.jobs.append(
                len(tracker.getJobIdsForGroup(plan_span.id)) + len(tracker.getJobIdsForGroup(exec_span.id))
            )
        if n != self.expect_hits[i]:
            raise GateError(f"query {q.kind} {q.text!r}: {n} rows, raw-text oracle {self.expect_hits[i]}")
        self.samples.secs["search"].append(t_end - t)
        self.samples.intervals.append((t, t_end))
        self.samples.plan_ms.append((t_plan - t) * 1000)
        self.samples.exec_ms.append((t_end - t_plan) * 1000)

    def round(self):
        """One round of the closed loop: a full ingest, two pairs of a
        messages-only ingest and a decode, then the workload's passes over
        the query mix. Each ingest
        commits new sinks and so clears the dictionary caches; the first
        query pays the dictionary load, as in a session that mixes writes
        and reads."""
        yield lambda: self._ingest(full=True)
        for _ in range(2):
            yield lambda: self._ingest(full=False)
            yield self._decode
        for _ in range(self.wl.query_passes):
            for i in range(len(self.queries)):
                yield lambda i=i: self._search(i)

    def loop(self, seconds: float) -> None:
        """Run whole rounds, at least one, and another only while it is
        expected (from the last round's length) to end within `seconds`.
        Every run therefore holds the same mix of samples."""
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            for op in self.round():
                self._guard(op)
            now = time.perf_counter()
            if now - start + (now - t) > seconds:
                return

    # -- metrics -------------------------------------------------------------

    def input_properties(self) -> dict:
        return {
            "rows": self.rows,
            "text_bytes": self.corpus.text_bytes,
            "distinct_logtypes": self.archive_info["logtype_dict_entries"],
            "var_dict_entries": self.archive_info["var_dict_entries"],
            "slow_path_batch_share": self.corpus.slow_batch_share,
            "dict_broadcast_limit": self.dict_limit,
        }

    def sample_secs(self) -> dict:
        return {k: [round(x, 4) for x in v] for k, v in self.samples.secs.items()}

    def p50_beyond(self) -> int:
        xs = self.samples.secs["search"]
        return stats.percentile(xs, 50)[1] if xs else 0

    def end_to_end(self, sampler) -> dict:
        """The end-to-end metrics but `setup_s`. Peak RSS is the median over
        the timed ops of each op's peak: the whole run's single peak ranged
        2.0-2.7 GB over ten runs of one workload."""
        s = self.samples.secs

        def per_s(kind):
            return self.rows / _median(s[kind])

        return {
            "ingest_turns_per_s": per_s("ingest_full"),
            "routed_turns_per_s": per_s("ingest_routed"),
            "archive_bytes_per_text_byte": statistics.median(
                self.samples.archive_bytes or [self.archive_info["archive_bytes"]]
            )
            / self.corpus.text_bytes,
            "search_p50_ms": _median(s["search"]) * 1000,
            "decode_turns_per_s": per_s("decode"),
            "peak_rss_mb": _median([sampler.peak_in(a, b) for a, b in self.samples.intervals]) / 2**20,
        }

    def probe_layers(self) -> dict:
        """Per-layer metrics of the traced run: in-process encoder and render
        rates, Spark-stage probes on a noop sink, the cold dictionary plan,
        ingest steps from the manifests and search internals."""
        out = {}
        out.update(self._function_probes())
        out.update(self._stage_probes())
        out.update(self._ingest_layers())
        out.update(self._grep_layers())
        return out

    def _function_probes(self) -> dict:
        from clp_spark.functions.render_vec import render_joined_batch
        from clp_spark.functions.tokenizer_vec import encode_full_arrow, encode_ids_arrow

        batch = self.corpus.table.column("text").slice(0, BATCH_ROWS).combine_chunks()
        n = len(batch)

        def rate(fn):
            reps, t = 0, time.perf_counter()
            while reps < 3 or time.perf_counter() - t < 0.5:
                fn()
                reps += 1
            return n * reps / (time.perf_counter() - t)

        with self.tracer.span("functions.encode_full"):
            full_rate = rate(lambda: encode_full_arrow(batch))
        with self.tracer.span("functions.encode_ids"):
            ids_rate = rate(lambda: encode_ids_arrow(batch))
        enc = encode_full_arrow(batch)
        args = (enc["logtype"], enc["encoded_vars"], enc["dict_vars"])
        with self.tracer.span("functions.render"):
            render_rate = rate(lambda: render_joined_batch(*args))

        def roundtrip():
            if not render_joined_batch(*args).equals(batch.cast(pa.string())):
                raise GateError("render_joined_batch(encode_full_arrow(text)) != text")

        self._guard(roundtrip)
        return {
            "functions.encode_full_rows_per_s": full_rate,
            "functions.encode_ids_rows_per_s": ids_rate,
            "functions.render_rows_per_s": render_rate,
        }

    def _stage_probes(self) -> dict:
        from clp_spark.caching import invalidate_dict_caches
        from clp_spark.plans import pipeline as P
        from clp_spark.plans.ingest import decode_archive, search_archives

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def identity(batches):
            yield from batches

        def timed(name, fn):
            t = time.perf_counter()
            with self.tracer.span(name):
                fn()
            return time.perf_counter() - t

        text = self.df.select("text")
        out = {
            "pipeline.bridge_floor_s": timed(
                "pipeline.bridge_floor", lambda: noop(text.mapInArrow(identity, text.schema))
            ),
            "pipeline.parse_encode_s": timed("pipeline.parse_encode", lambda: noop(P.parse_encode(self.df))),
            "pipeline.parse_encode_ids_s": timed(
                "pipeline.parse_encode_ids", lambda: noop(P.parse_encode_ids(self.df))
            ),
        }
        t = time.perf_counter()
        with self.tracer.span("pipeline.decode_plan"):
            d = decode_archive(self.spark, self.archive)
        out["pipeline.decode_plan_ms"] = (time.perf_counter() - t) * 1000
        out["pipeline.decode_exec_s"] = timed("pipeline.decode_exec", lambda: noop(d))
        invalidate_dict_caches()
        q = self.queries[0]
        t = time.perf_counter()
        with self.tracer.span("caching.cold_plan"):
            search_archives(self.spark, [self.archive], q.text, **q.kw)
        out["caching.cold_plan_ms"] = (time.perf_counter() - t) * 1000
        return out

    def _ingest_layers(self) -> dict:
        groups = {
            "messages": ("messages",),
            "logtype_dict": ("logtype_dict",),
            "var_dict": ("var_dict",),
            "counts": ("counts_logtype", "counts_tool", "counts_conv"),
            "lineage": ("lineage",),
        }
        per = {g: [] for g in [*groups, *_PHASES]}
        unattributed, shares = [], []
        for kind, wall, steps, phases in self.samples.ingests:
            layers = sum(end - start for _, start, end in phases)
            rest = wall - sum(steps.values())
            self.attribution.append(
                {
                    "op": kind,
                    "wall_s": wall,
                    "manifest_steps_s": wall - rest,
                    "layers_s": layers,
                    "ok": abs(wall - layers) <= 0.15 * wall,
                }
            )
            if kind != "ingest_full":
                continue
            for g, names in groups.items():
                per[g].append(sum(steps.get(s, 0.0) for s in names))
            for g in _PHASES:
                per[g].append(sum(end - start for name, start, end in phases if name == f"ingest.{g}"))
            unattributed.append(rest)
            shares.append(rest / wall)
        out = {f"ingest.{g}_s": _median(v) for g, v in per.items()}
        out["ingest.unattributed_s"] = _median(unattributed)
        out["ingest.unattributed_share"] = max(shares) if shares else float("nan")
        for k in ("messages_files", "logtype_dict_entries", "var_dict_entries", "messages_bytes", "dict_bytes"):
            out[f"ingest.{k}"] = self.archive_info[k]
        return out

    def _grep_layers(self) -> dict:
        from clp_spark.plans import grep

        lt_lower = [(i, s.lower()) for i, s in self.lt_rows]
        cand_rows = matched = wontmatch = 0
        for q, hits in zip(self.queries, self.expect_hits):
            if grep.query_wont_match(q.text, [s for _, s in self.lt_rows], self.var_strings):
                wontmatch += 1
                continue
            if q.kw.get("ignore_case"):
                cand = grep.candidate_logtype_ids(lt_lower, q.text.lower())
            else:
                cand = grep.candidate_logtype_ids(self.lt_rows, q.text)
            cand_rows += sum(self.lt_counts[c] for c in cand)
            matched += hits
        s = self.samples
        return {
            "grep.plan_ms": _median(s.plan_ms),
            "grep.exec_ms": _median(s.exec_ms),
            "grep.jobs_per_query": sum(s.jobs) / len(s.jobs) if s.jobs else float("nan"),
            "grep.candidate_row_share": cand_rows / (self.rows * len(self.queries)),
            "grep.decoded_per_match": cand_rows / matched if matched else float("nan"),
            "grep.wontmatch_queries": wontmatch,
        }

    def engine_layers(self, event_log_dir: str) -> tuple[dict, list]:
        """Per-op-kind task metrics from the event log (read after the
        session stopped, when the log is complete)."""
        events = read_event_log(event_log_dir)
        extra, per_kind, stage_tasks = engine_spans_and_metrics(events, self.tracer.spans)
        # a job submitted during an ingest phase becomes that phase's child
        phases = [s for s in self.tracer.spans if s.name.startswith("ingest.")]
        for job in extra:
            for ph in phases:
                if job.parent == ph.parent and ph.start <= job.start < ph.end:
                    job.parent = ph.id
                    break
        # task skew of each messages write: its stage with the most tasks
        by_id = {s.id: s for s in self.tracer.spans}
        kids = defaultdict(list)
        for sp in extra:
            kids[sp.parent].append(sp)
        skew = defaultdict(list)
        for ph in phases:
            if ph.name != "ingest.step.messages":
                continue
            stages = [stage_tasks.get(st.attrs["stage"], []) for job in kids[ph.id] for st in kids[job.id]]
            times = max(stages, key=len, default=None)
            if times and statistics.median(times) > 0:
                skew[by_id[ph.parent].name].append(max(times) / statistics.median(times))
        out = {"spark.python_boot_s": sum(m.get("python_boot_s", 0.0) for m in per_kind.values())}
        for kind in OP_KINDS:
            m = per_kind.get(kind, {})
            n_ops = max(len(self.samples.secs[kind]), 1)
            for name in ENGINE_METRICS:
                out[f"spark.{kind}.{name}"] = m.get(name, 0.0) / n_ops
            if kind in ("ingest_full", "ingest_routed"):
                out[f"spark.{kind}.output_bytes"] = m.get("output_bytes", 0.0) / n_ops
                out[f"spark.{kind}.task_skew"] = _median(skew[kind])
        return out, extra

    def write_trace(self, path: str, layers: dict, extra_spans) -> None:
        import json
        from dataclasses import asdict

        spans = [*self.tracer.spans, *extra_spans]
        with open(path, "w") as f:
            json.dump(
                {
                    "layers": layers,
                    "self_time_s": self_time_by_name(spans),
                    "ingest_attribution": self.attribution,
                    "spans": [asdict(s) for s in spans],
                },
                f,
            )
