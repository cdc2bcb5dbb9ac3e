"""The benchmark's workloads. Each is a closed loop from one driver
process: the next operation starts when the previous one returns.

A run measures a fixed number of *cycles* of its workload, sized from
``--seconds`` (see ``run.cycle_count``). Cycles repeat the same work,
so their timings are comparable. Every call into the program goes
through its public API.
"""

from __future__ import annotations

import os
import time
from statistics import median

from pyspark.sql import functions as F
from pyspark.sql import types as T

import accelerator_spark.functions.conversions as conversions
import accelerator_spark.operators.dedup as dedup_mod
import accelerator_spark.sources.csv as csv_source
import accelerator_spark.streaming.structured as structured
from accelerator_spark import BuildContext, Dataset, Urd
from accelerator_spark.streaming.incremental import ChainRunner

import gen

CHAIN = "events"
COLUMN_TYPES = {"user_id": "int64_10", "ts": "int64_10", "amount": "float64"}


class OutputCheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise OutputCheckFailed(what)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's _SUCCESS / crc and
    metadata files are not data."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    """One workload in one run: ``setup`` makes the inputs and warms the
    JVM, ``cycle`` does the measured work once, ``verify`` checks its
    outputs outside the timed region."""

    name = ""

    def __init__(self, spark, workdir, seed, tracer, collector):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.tracer = tracer
        self.collector = collector  # None in the untraced run
        self.attempted = 0  # operations started, set-up's included
        self.cycle_ops: list[str] = []  # op ids of the current cycle

    def timed(self, kind: str, fn, *args, **kwargs):
        """Run one operation; return (result, seconds, op_id)."""
        self.attempted += 1
        op_id = f"{kind}-{self.attempted}"
        self.cycle_ops.append(op_id)
        if self.collector is not None:
            self.collector.tag(op_id)
        with self.tracer.op(kind, op_id):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        return out, dt, op_id


# --------------------------------------------------------------------
# etl_chain
# --------------------------------------------------------------------

def ingest_day(spark, datasets, options):
    """One daily batch: csvimport -> dataset_type -> a hash-labelled
    write linked to the chain head recorded in urd."""
    raw = csv_source.csvimport(spark, options["path"]).default
    typed, _bad = conversions.dataset_type(raw, COLUMN_TYPES)
    head = Urd(options["workdir"]).latest(options["list"])
    prev = head["payload"]["dataset"] if head else None
    return lambda path: Dataset.write(typed, path, hashlabel="user_id",
                                      previous=prev)


def cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


def report_full(spark, datasets, options):
    """Per-user rows and amount over the whole chain."""
    return (datasets["head"].chain_df(spark).groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents("amount")).alias("cents")))


def report_range(spark, datasets, options):
    """Rows and amount of a time range; the zone maps skip the
    datasets outside it."""
    return (datasets["head"]
            .chain_df(spark, range_filter={"ts": (options["lo"],
                                                  options["hi"])})
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(cents("amount")).alias("cents")))


class EtlChain(Workload):
    """A build script: append K daily CSV batches through ChainRunner,
    run a full-chain and a 7-day report with build(), then re-run the
    script, where every step must memo-hit."""

    name = "etl_chain"
    days = 10
    rows = 10_000
    range_days = 7
    reports = 1  # each report is built this many times, as distinct jobs
    reruns = 10
    warm_days = 3
    warm_rows = 2_000

    def setup(self):
        self.inputs = gen.write_daily_csvs(
            os.path.join(self.workdir, "in"), self.seed, self.days,
            self.rows)
        lo, _ = gen.day_ts_range(self.days - self.range_days)
        _, hi = gen.day_ts_range(self.days - 1)
        self.range = (lo, hi)
        # warm-up: the whole script on a throwaway input with fewer
        # days and rows. An append costs mostly driver-side planning,
        # which the JIT speeds up over the first ~30 appends, so the
        # first measured cycle is still slower than the next; every
        # run measures the same cycles, so this is the same in each.
        warm = gen.write_daily_csvs(os.path.join(self.workdir, "warm-in"),
                                    self.seed + 1, self.warm_days,
                                    self.warm_rows)
        self._script(os.path.join(self.workdir, "warm"), warm["files"],
                     self.range, reruns=1)

    def _batches(self, wd: str, files: list[str]) -> dict:
        return {f"day-{i:03d}": {"path": p, "workdir": wd, "list": CHAIN}
                for i, p in enumerate(files)}

    def _script(self, wd: str, files: list[str], rng: tuple,
                reruns: int) -> dict:
        ctx = BuildContext(self.spark, wd)
        runner = ChainRunner(ctx, Urd(wd), CHAIN)
        batches = self._batches(wd, files)
        appends = []
        head = None
        for ts in sorted(batches):
            head, dt, _ = self.timed("append", runner.process,
                                     {ts: batches[ts]}, ingest_day)
            appends.append(dt)
        times: dict[str, list[float]] = {"report": [], "range_report": []}
        reports = []
        for rep in range(self.reports):
            for kind, fn, opts in self._report_steps(rng, rep):
                job, dt, _ = self.timed(kind, ctx.build, fn, options=opts,
                                        datasets={"head": head})
                times[kind].append(dt)
                reports.append(job)
        rerun_s, rerun_out = [], []
        for _ in range(reruns):
            out, dt, _ = self.timed("rerun", self._rerun, wd, batches, rng)
            rerun_s.append(dt)
            rerun_out.append(out)
        return {"head": head, "reports": reports, "appends": appends,
                "times": times, "reruns": rerun_s, "rerun_out": rerun_out}

    def _report_steps(self, rng: tuple, rep: int) -> list[tuple]:
        """(kind, step, options) of the two reports; ``rep`` tells the
        repeats apart, so each is its own job."""
        lo, hi = rng
        return [("report", report_full, {"rep": rep}),
                ("range_report", report_range, {"lo": lo, "hi": hi,
                                                "rep": rep})]

    def _rerun(self, wd: str, batches: dict, rng: tuple):
        ctx = BuildContext(self.spark, wd)
        head = ChainRunner(ctx, Urd(wd), CHAIN).process(batches, ingest_day)
        jobs = [ctx.build(fn, options=opts, datasets={"head": head})
                for rep in range(self.reports)
                for _, fn, opts in self._report_steps(rng, rep)]
        return head.path, [j.cached for j in jobs]

    def cycle(self, i: int) -> dict:
        wd = os.path.join(self.workdir, f"cycle{i}")
        r = self._script(wd, self.inputs["files"], self.range, self.reruns)
        return {
            "cycle_s": sum(r["appends"]),
            "op": r["appends"],
            "report": r["times"]["report"],
            "range_report": r["times"]["range_report"],
            "layers": {"build.rerun_s": median(r["reruns"])},
            "raw": r,
        }

    def verify(self, c: dict) -> dict:
        """Check the reports against the generator's totals and that
        the re-runs memo-hit every step. Returns output-derived
        per-layer figures."""
        r = c["raw"]
        head = r["head"]
        check(head.manifest.get("chain_depth") == self.days - 1,
              f"chain depth {head.manifest.get('chain_depth')}")
        lo_day = self.days - self.range_days
        want = [sum(n for n, _ in self.inputs["per_day"][lo_day:]),
                sum(c_ for _, c_ in self.inputs["per_day"][lo_day:])]
        for full, part in zip(r["reports"][::2], r["reports"][1::2]):
            got = {row["user_id"]: [row["n"], row["cents"]]
                   for row in full.df().collect()}
            check(got == self.inputs["per_user"], "full report totals")
            row = part.df().collect()[0]
            check([row["n"], row["cents"]] == want, "range report totals")
        for path, cached in r["rerun_out"]:
            check(path == head.path and all(cached),
                  "re-run did not memo-hit every step")
        chain = head.chain_entries()
        files, stored = zip(*(dir_stats(os.path.join(e["path"], "data"))
                              for e in chain))
        out = {"dataset.files_per_write": sum(files) / len(files),
               "dataset.stored_bytes_per_input_byte":
                   sum(stored) / self.inputs["bytes"]}
        if self.collector is not None:
            # datasets the 7-day range read kept, from the files it scans
            df = head.chain_df(self.spark, range_filter={
                "ts": (self.range[0], self.range[1])})
            read = {os.path.dirname(os.path.dirname(p.split(":", 1)[-1]))
                    for p in df.inputFiles()}
            out["dataset.chain_skip_ratio"] = 1 - len(read) / len(chain)
        return out

    def wrap_layers(self, tr):
        tr.wrap(csv_source, "csvimport", "sources.csvimport")
        tr.wrap(conversions, "dataset_type", "functions.dataset_type")
        tr.wrap(Dataset, "write", "dataset.write")
        tr.wrap(Dataset, "chain_df", "dataset.chain_df")
        tr.wrap(BuildContext, "build", "build.build",
                hit=lambda job: job.cached)
        tr.wrap(Urd, "add", "urd.add")
        tr.wrap(ChainRunner, "process", "incremental.process")


# --------------------------------------------------------------------
# dedup_stream
# --------------------------------------------------------------------

DOC_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])


class DedupStream(Workload):
    """A document stream that keeps arriving: every cycle, two new
    parquet files land in the source directory and the rolling text
    near-dedup stream is restarted from its checkpoint to drain them,
    one file per micro-batch, into the same kept and state stores.
    Then the kept corpus is read back whole and for the two newest
    batches, and the stream is restarted once more with nothing new.

    The stores are seeded in set-up by a drain of one small file, which
    is also the JVM's warm-up, so every measured micro-batch probes a
    non-empty state."""

    name = "dedup_stream"
    files_per_cycle = 2
    docs_per_file = 300
    warm_files = 1
    warm_docs = 100
    reads = 5  # each read-back is repeated this many times per cycle

    def setup(self):
        self.input_dir = os.path.join(self.workdir, "in")
        os.makedirs(self.input_dir)
        self.stores = {k: os.path.join(self.workdir, k)
                       for k in ("kept", "state", "ckpt")}
        self.batches: list[list[tuple[int, str]]] = []
        self.copies: set[int] = set()
        self.input_bytes = 0
        self.cycle_batches: list[range] = []  # batch ids of each cycle
        self.progress = BatchTimes(self.spark)
        self.streams = 0  # streams started so far
        # the first micro-batch of a JVM takes 10-15 s, the next 4-6 s;
        # every run measures the same batches after it, so the rest of
        # the warm-up curve is the same in each
        self._arrive(self.seed * 1000 + 999, self.warm_files,
                     self.warm_docs, dup_share=0.0)
        self._drain()

    def _arrive(self, seed: int, files: int, docs: int,
                dup_share: float = 0.2) -> range:
        """Write the next ``files`` files of the stream into the source
        directory; doc ids are offset so they are unique over the run.
        Returns the batch ids they will get."""
        first = len(self.batches)
        offset = (first + 1) * 10_000_000  # above make_corpus's ids
        batches, copies = gen.make_corpus(seed, files, docs, dup_share)
        batches = [[(d + offset, t) for d, t in bt] for bt in batches]
        stage = os.path.join(self.workdir, "stage")
        self.input_bytes += gen.write_corpus(stage, batches)
        for k in range(files):
            os.replace(os.path.join(stage, f"part-{k:04d}.parquet"),
                       os.path.join(self.input_dir,
                                    f"part-{first + k:04d}.parquet"))
        self.batches += batches
        self.copies |= {c + offset for c in copies}
        return range(first, first + files)

    def _drain(self) -> tuple[float, list[float]]:
        """Restart the stream on its checkpoint and drain what is new.
        Returns (seconds, micro-batch durations)."""
        n0 = self.progress.count()  # one progress event per file so far
        _, dt, op = self.timed("drain", self.drain)
        self.alias_stream(op)
        return dt, self.progress.wait(n0, len(self.batches) - n0)

    def drain(self):
        src = structured.stream_from_directory(
            self.spark, self.input_dir, DOC_SCHEMA, max_files_per_trigger=1)
        structured.stream_text_near_dedup(
            src, self.stores["kept"], self.stores["state"],
            self.stores["ckpt"])

    def alias_stream(self, op: str) -> None:
        """Attribute the jobs of the stream just run to ``op``."""
        self.streams += 1
        if self.collector is not None:
            self.collector.alias(self.progress.run_id(self.streams), op)

    def cycle(self, i: int) -> dict:
        ids = self._arrive(self.seed * 1000 + i, self.files_per_cycle,
                           self.docs_per_file)
        self.cycle_batches.append(ids)
        drain_s, batch_s = self._drain()
        kept_path = self.stores["kept"]

        def read_all():
            return {row["batch_id"]: row["n"] for row in
                    self.spark.read.parquet(kept_path).groupBy("batch_id")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}

        def read_recent():
            return (self.spark.read.parquet(kept_path)
                    .filter(F.col("batch_id") >= ids[0]).count())

        t_all, t_recent = [], []
        for _ in range(self.reads):
            per_batch, dt, _ = self.timed("report", read_all)
            t_all.append(dt)
            recent, dt, _ = self.timed("range_report", read_recent)
            t_recent.append(dt)
        n0 = self.progress.count()
        _, rerun_s, op = self.timed("rerun", self.drain)
        self.alias_stream(op)
        raw = {"ids": ids, "per_batch": per_batch, "recent": recent,
               "rerun_batches": self.progress.count() - n0}
        return {"cycle_s": drain_s, "op": batch_s,
                "report": t_all, "range_report": t_recent,
                "layers": {"structured.rerun_s": rerun_s}, "raw": raw}

    def verify(self, c: dict) -> dict:
        """Kept ids per batch must equal the pure-Python replay of the
        whole stream so far; every dropped document must be a planted
        copy; the read-backs must match the store as it was when they
        ran. The dedup guards are those of the first cycle, so they are
        the same for a seed however many cycles a run makes."""
        r = c["raw"]
        upto = r["ids"].stop
        if not hasattr(self, "_got"):
            self._expected = gen.expected_kept(self.batches)
            self._got: dict[int, set[int]] = {}
            for row in self.spark.read.parquet(self.stores["kept"]) \
                    .select("doc_id", "batch_id").collect():
                self._got.setdefault(row["batch_id"], set()).add(
                    row["doc_id"])
        got, want = self._got, self._expected
        for b in range(upto):
            check(got.get(b, set()) == want[b], f"kept ids of batch {b}")
        check(r["per_batch"] == {b: len(got[b]) for b in got if b < upto},
              "kept corpus read-back")
        check(r["recent"] == sum(len(got.get(b, ())) for b in r["ids"]),
              "recent-batch read-back")
        check(r["rerun_batches"] == 0, "re-drain processed new batches")
        all_ids = {d for bt in self.batches[:upto] for d, _ in bt}
        kept = set().union(*(got.get(b, set()) for b in range(upto)))
        check(all_ids - kept <= self.copies,
              "a dropped document is no planted copy")
        first = self.cycle_batches[0]
        docs = {d for b in first for d, _ in self.batches[b]}
        kept0 = set().union(*(got.get(b, set()) for b in first))
        dropped, copies = docs - kept0, docs & self.copies
        state_files, state_bytes = dir_stats(self.stores["state"])
        _, kept_bytes = dir_stats(self.stores["kept"])
        return {"dedup.kept_ratio": len(kept0) / len(docs),
                "dedup.recall": len(dropped & copies) / len(copies),
                "dedup.precision": (len(dropped & copies) / len(dropped)
                                    if dropped else 1.0),
                "structured.state_files": state_files / len(self.batches),
                "structured.store_bytes_per_input_byte":
                    (state_bytes + kept_bytes) / self.input_bytes}

    def wrap_layers(self, tr):
        tr.wrap(structured, "stream_text_near_dedup",
                "structured.stream_text_near_dedup")
        tr.wrap(structured, "text_near_dedup_micro_batch",
                "structured.micro_batch")
        tr.wrap(dedup_mod, "text_band_rows", "dedup.text_band_rows")
        tr.wrap(dedup_mod, "text_near_dedup_incremental",
                "dedup.text_near_dedup_incremental")


class BatchTimes:
    """Micro-batch durations as the stream itself reports them
    (``durationMs.triggerExecution`` of each progress event)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        started = self.started = []  # run id of each query started

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows > 0:
                    events.append(p.durationMs["triggerExecution"] / 1e3)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def count(self) -> int:
        return len(self.events)

    def wait(self, n0: int, n: int) -> list[float]:
        """Durations of the ``n`` batches after ``n0``."""
        _wait_for(lambda: len(self.events) >= n0 + n,
                  f"{n} batch progress events")
        return self.events[n0:n0 + n]

    def run_id(self, k: int) -> str:
        """Run id of the k-th stream started (1-based)."""
        _wait_for(lambda: len(self.started) >= k, f"start of stream {k}")
        return self.started[k - 1]


def _wait_for(ready, what: str, timeout: float = 30.0) -> None:
    """Listener events arrive asynchronously, after the fact."""
    deadline = time.monotonic() + timeout
    while not ready():
        if time.monotonic() > deadline:
            raise OutputCheckFailed(f"no {what} within {timeout:.0f} s")
        time.sleep(0.01)


WORKLOADS = {w.name: w for w in (EtlChain, DedupStream)}
