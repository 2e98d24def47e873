"""The benchmark's workloads.  Each is one closed-loop client: a pass is a
fixed list of operations run back to back, and every pass does the same
work on the same starting state.

- ``daily_backfill``: the reference DAG, one ``pipeline.run_day`` per
  operation, over a warehouse seeded with history so the timed days
  cross the 30-row indicator gate (day 30 fails Q4 by design).
- ``catalog_mix``: catalog entries (SQL over a TPC-H-ish star and
  ``events``; dedup, similarity and text over a corpus) in a
  seed-shuffled order, then the corpus folded as micro-batches through
  the BM25 ``foreachBatch`` sink and one query served from its index.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks, datagen
from perfbench.tracing import busy_time, read_event_log


@dataclass
class OpResult:
    name: str
    seconds: float
    failed: bool = False
    error: str = ""
    problems: list = field(default_factory=list)
    cold: bool = False
    cpu: float = 0.0
    span: object = None


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process and by ``root_pid`` with
    all its descendants (the driver JVM and the Python workers it forks),
    counting children they have already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick
    tree, todo = set(), [root_pid]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, pp in parent.items() if pp == p and c not in tree]
    t = os.times()
    return t.user + t.system + sum(cpu.get(p, 0.0) for p in tree)


def raised(err: BaseException) -> str:
    return f"raised {type(err).__name__}: {str(err)[:300]}"


def no_output(_, err) -> list[str]:
    """Check for an operation whose effect is verified by a later one."""
    return [] if err is None else [raised(err)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class Workload:
    """Template for a workload.  Subclasses fill in the hooks; the timed
    region is exactly the body of each operation."""

    name = ""

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        # landing zones are keyed by the data directory's basename: a
        # per-process name keeps this run's zones apart from any other
        self.data_dir = os.path.join(work, f"pb{os.getpid()}s{seed}")
        self.zone_glob = f"/tmp/spark_graft_*_{os.path.basename(self.data_dir)}_*"

    # hooks --------------------------------------------------------------
    def generate(self) -> None:
        """Make the inputs from the seed (not part of set-up time)."""

    def setup(self, spark) -> None:
        """Build warm state (counted in set-up time)."""

    def warmup(self, spark) -> None:
        """Run representative work once so the JVM and caches are warm."""

    def references(self, spark) -> None:
        """Compute reference outputs (not part of set-up time)."""

    def instrument(self, tracer) -> None:
        """Install child-span wrappers (traced runs only)."""

    def ops(self, spark, idx: int) -> list[tuple]:
        """(name, fn, check) for pass ``idx``.  ``check(out, err)`` gets
        the operation's output, or the exception it raised, and returns
        the problems it finds."""
        raise NotImplementedError

    def before_pass(self, spark, idx: int) -> None:
        pass

    def after_pass(self, spark, idx: int, results: list[OpResult]) -> None:
        pass

    # runner -------------------------------------------------------------
    def run_pass(self, spark, tracer, idx: int) -> list[OpResult]:
        self.before_pass(spark, idx)
        jvm = spark.sparkContext._gateway.proc.pid
        results = []
        for name, fn, check in self.ops(spark, idx):
            zones = set(glob.glob(self.zone_glob))
            err = out = None
            c0 = tree_cpu_s(jvm)
            t0 = time.perf_counter()
            with tracer.span(name) as sp:
                try:
                    out = fn()
                except Exception as exc:  # noqa: BLE001 — counted, not fatal
                    err = exc
            r = OpResult(name, time.perf_counter() - t0, span=sp)
            r.cpu = tree_cpu_s(jvm) - c0
            r.cold = bool(set(glob.glob(self.zone_glob)) - zones)
            try:
                r.problems = check(out, err)
            except Exception as exc:  # noqa: BLE001 — a broken output
                r.problems = [f"check raised {type(exc).__name__}: {exc}"]
            if err is not None:
                r.failed = True
                r.error = f"{type(err).__name__}: {str(err).splitlines()[0][:200]}"
            elif r.problems:
                r.failed = True
                r.error = "output mismatch"
            results.append(r)
        self.after_pass(spark, idx, results)
        return results

    # traced-run layer metrics --------------------------------------------
    def layer_metrics(self, tracer, log_dir, passes):
        """(metrics, absent) from the spans and the event log."""
        groups = read_event_log(log_dir)
        kids = tracer.children()
        layers: dict[str, tuple[float, str]] = {}
        absent: dict[str, str] = {}
        per_pass = []
        for results in passes:
            tot = {"jobs": 0, "stages": 0, "tasks": 0, "driver_idle_s": 0.0}
            tot_m: dict[str, float] = {}
            for r in results:
                sp = r.span
                ivs = []
                for s in tracer.subtree(sp, kids):
                    g = groups.get(s.sid)
                    if g is None:
                        continue
                    tot["jobs"] += g.jobs
                    tot["stages"] += g.stages
                    tot["tasks"] += g.tasks
                    ivs += g.job_intervals
                    for k, v in g.m.items():
                        tot_m[k] = tot_m.get(k, 0.0) + v
                tot["driver_idle_s"] += sp.dur - busy_time(ivs, sp.start, sp.end)
            per_pass.append({**tot, **tot_m})
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "driver_idle_s"):
            layers[f"spark.{k}"] = (_median(p.get(k, 0.0) for p in per_pass), "")
        for k in ("python_s", "to_python_mb", "from_python_mb"):
            v = _median(p.get(k, 0.0) for p in per_pass)
            layers[f"arrow.{k}"] = (v, "")
            if v == 0.0:
                absent[f"arrow.{k}"] = "no pandas-UDF or mapInPandas node ran"
        self.extra_layers(tracer, kids, groups, passes, layers, absent)
        return layers, absent

    def extra_layers(self, tracer, kids, groups, passes, layers, absent):
        pass


def _group_jobs(tracer, kids, groups, sp) -> int:
    return sum(groups[s.sid].jobs for s in tracer.subtree(sp, kids)
               if s.sid in groups)


# ============================================================ daily_backfill

_DQ_RE = re.compile(r"DQ check '([^']+)' failed")


class DailyBackfill(Workload):
    """Days ``HISTORY+1 .. HISTORY+NEW`` through ``run_day`` on a fresh
    copy of a warehouse that already holds days ``1 .. HISTORY``, then
    the last ``RERUN`` days again (idempotent re-runs)."""

    name = "daily_backfill"
    HISTORY = 29
    NEW = 2
    RERUN = 1
    STAGES = ("extract", "load_raw", "compute_daily_metrics",
              "enrich_indicators", "plot_report", "quality_checks")

    def generate(self) -> None:
        n = self.HISTORY + self.NEW
        self.pages = datagen.klines(self.seed, n)
        self.days = [datagen.day_str(i) for i in range(1, n + 1)]
        self.new_days = self.days[self.HISTORY:]
        self.plan = self.new_days + self.new_days[-self.RERUN:]
        self.input_bytes = sum(len(json.dumps(self.pages[d])) for d in self.plan)
        self.template = os.path.join(self.work, "wh-template")
        self.ref = checks.reference_metrics(self.pages, self.days)
        self._seed_history()

    def _warehouse(self, path):
        from airflow_crypto_btc_spark.pipeline import Warehouse

        return Warehouse(path)

    def _seed_history(self) -> None:
        """The warehouse as ``run_day`` leaves it after days 1..HISTORY:
        day extracts, day partitions of ``raw_prices`` and
        ``daily_metrics`` with indicators (the reference values, which
        every check below holds the pipeline's own rows to)."""
        import pyarrow as pa

        wh = self._warehouse(self.template)
        os.makedirs(wh.data_dir)
        for d in self.days[: self.HISTORY]:
            seen: dict[int, float] = {}
            for r in self.pages[d]:
                seen.setdefault(int(r[0]), float(r[4]))
            ts = [dt.datetime.fromtimestamp(t / 1000, dt.timezone.utc)
                  .strftime("%Y-%m-%dT%H:%M:%SZ") for t in sorted(seen)]
            px = [seen[t] for t in sorted(seen)]
            with open(wh.day_csv(d), "w") as fh:
                fh.write("ts_utc,price\n")
                fh.writelines(f"{t},{p!r}\n" for t, p in zip(ts, px))
            os.makedirs(wh.day_partition(d))
            pq.write_table(
                pa.table({"ts_utc": ts, "asset": ["BTC-USD"] * len(ts), "price": px}),
                os.path.join(wh.day_partition(d), "part-00000.parquet"))
        hist = self.ref.iloc[: self.HISTORY].assign(asset="BTC-USD")
        hist["date"] = pd.to_datetime(hist["date"]).dt.date
        os.makedirs(wh.daily_metrics)
        pq.write_table(
            pa.Table.from_pandas(hist[["date", "asset", *checks.OHLC,
                                       *checks.INDICATORS]], preserve_index=False),
            os.path.join(wh.daily_metrics, "part-00000.parquet"))

    def warmup(self, spark) -> None:
        from airflow_crypto_btc_spark import pipeline

        path = os.path.join(self.work, "wh-warmup")
        shutil.copytree(self.template, path)
        day = self.new_days[0]
        try:
            pipeline.run_day(spark, self._warehouse(path), day,
                             pipeline.normalize_klines(spark, self.pages[day]))
        except AssertionError as exc:  # the gate may fail here by design
            if not _DQ_RE.search(str(exc)):
                raise
        shutil.rmtree(path)

    def instrument(self, tracer) -> None:
        from airflow_crypto_btc_spark import pipeline

        self._written = {"files": 0, "bytes": 0}

        def count_writes(sp):
            # files the stage left behind that are newer than its start
            for r, _, fs in os.walk(self.wh.root):
                for f in fs:
                    p = os.path.join(r, f)
                    st = os.stat(p)
                    if st.st_mtime >= sp.start:
                        self._written["files"] += 1
                        self._written["bytes"] += st.st_size

        for st in self.STAGES:
            tracer.wrap(pipeline, st, f"pipeline.{st}", after=count_writes)

    def before_pass(self, spark, idx) -> None:
        path = os.path.join(self.work, f"wh-pass{idx}")
        shutil.copytree(self.template, path)
        self.wh = self._warehouse(path)

    def after_pass(self, spark, idx, results) -> None:
        shutil.rmtree(self.wh.root, ignore_errors=True)

    def ops(self, spark, idx):
        from airflow_crypto_btc_spark import pipeline

        out = []
        for i, day in enumerate(self.plan):
            name = f"day{self.days.index(day) + 1}"
            if i >= len(self.new_days):
                name += "_rerun"

            def run(day=day):
                src = pipeline.normalize_klines(spark, self.pages[day])
                return pipeline.run_day(spark, self.wh, day, src)

            def check(_, err, day=day):
                got = _DQ_RE.search(str(err)) if err is not None else None
                if err is not None and got is None:
                    return [raised(err)]
                problems, want = self._verdict(day)
                if got is None and want is not None:
                    problems.append(f"expected DQ failure {want}, run passed")
                elif got is not None and got.group(1) != want:
                    problems.append(f"DQ check {got.group(1)} failed, expected {want}")
                return problems

            out.append((name, run, check))
        return out

    def _verdict(self, day) -> tuple[list[str], str | None]:
        """Problems in ``daily_metrics`` against the reference, and the Q4
        failure the reference predicts for ``day`` at this history size."""
        got = pq.read_table(self.wh.daily_metrics).to_pandas()
        ref = self.ref.iloc[: len(got)]
        return checks.compare_metrics(got, ref), checks.expected_dq_failure(ref, day)

    def extra_layers(self, tracer, kids, groups, passes, layers, absent):
        for st in self.STAGES:
            spans = [s for s in tracer.spans if s.name == f"pipeline.{st}"]
            layers[f"pipeline.{st}.s"] = (
                _median(tracer.self_time(s, kids) for s in spans), "")
            layers[f"pipeline.{st}.jobs"] = (
                _median(_group_jobs(tracer, kids, groups, s) for s in spans), "")
        layers["pipeline.files_written"] = (self._written["files"] / len(passes), "")
        layers["pipeline.bytes_written_per_input_byte"] = (
            self._written["bytes"] / len(passes) / self.input_bytes, "")


# ================================================================ catalog_mix


class CatalogMix(Workload):
    """Catalog entries as users call them, ``ALL_QUERIES[name].fn(spark,
    dir)`` collected through Arrow in a seed-shuffled order, then the
    corpus ingested as micro-batches through the BM25 index sink
    (:class:`SinkIngest`).

    The SQL half is a TPC-H head and the recursive CTE (one iteration per
    event date); the corpus half is the Arrow ``mapInPandas`` boundary
    (SimHash pairs, BPE encode served warm from a model the set-up lands
    under /tmp) and a Lloyd loop (k-means)."""

    name = "catalog_mix"
    ENTRIES = (
        "q8_market_share", "sql_recursive_return_index",
        "dedup_simhash_pairs", "text_bpe_encode_from_model",
        "sim_kmeans_centroids",
    )
    # run once in set-up: the BPE serve's first call trains and lands the
    # model it serves from (and pays the JVM's first-job costs)
    WARM = ("text_bpe_encode_from_model",)
    SCALE = 1.0  # TPC-H sf0.01-sized star
    EVENT_DAYS = 6
    DOCS = 300

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.ingest = SinkIngest(seed, os.path.join(work, "ingest"))

    def generate(self) -> None:
        self.tables = datagen.tables(self.seed, self.SCALE, self.EVENT_DAYS,
                                     self.DOCS)
        datagen.write_tables(self.tables, self.data_dir)
        self.ingest.generate(self.data_dir, self.tables)

    def setup(self, spark) -> None:
        from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

        for name in self.WARM:
            ALL_QUERIES[name].fn(spark, self.data_dir).toPandas()
        self.ingest.setup(spark)

    def references(self, spark) -> None:
        from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

        oracle = checks.Oracle(self.data_dir, self.tables)
        try:
            self.want = {n: oracle.digest(ALL_QUERIES[n].sql) for n in self.ENTRIES}
        finally:
            oracle.close()
        self.ingest.references(spark)

    def instrument(self, tracer) -> None:
        self.tracer = tracer
        self.ingest.instrument(tracer)

    def before_pass(self, spark, idx) -> None:
        self.ingest.before_pass(spark, idx)

    def after_pass(self, spark, idx, results) -> None:
        self.ingest.after_pass(spark, idx, results)

    def ops(self, spark, idx):
        from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

        order = list(self.ENTRIES)
        random.Random(self.seed * 1000 + idx).shuffle(order)
        out = []
        for name in order:
            def run(name=name):
                with self.tracer.span("plans.build"):
                    df = ALL_QUERIES[name].fn(spark, self.data_dir)
                with self.tracer.span("plans.exec"):
                    return df.toPandas()

            def check(pdf, err, name=name):
                if err is not None:
                    return [raised(err)]
                got = checks.digest(pdf)
                if got != self.want[name]:
                    return [f"rows/hash {got[0]}/{got[1][:12]} != oracle "
                            f"{self.want[name][0]}/{self.want[name][1][:12]}"]
                return []

            out.append((name, run, check))
        return out + self.ingest.ops(spark, idx)

    def extra_layers(self, tracer, kids, groups, passes, layers, absent):
        build, execs = [], []
        for results in passes:
            b = e = 0.0
            for r in results:
                for c in kids.get(r.span.sid, ()):
                    if c.name == "plans.build":
                        b += c.dur
                    elif c.name == "plans.exec":
                        e += c.dur
            build.append(b)
            execs.append(e)
        layers["plans.build_s"] = (_median(build), "")
        layers["plans.exec_s"] = (_median(execs), "")
        for name in self.ENTRIES:
            rs = [r for p in passes for r in p if r.name == name]
            layers[f"plans.{name}.s"] = (_median(r.seconds for r in rs), "")
            layers[f"plans.{name}.jobs"] = (
                _median(_group_jobs(tracer, kids, groups, r.span) for r in rs), "")
        self.ingest.extra_layers(passes, layers)


# ================================================================ sink ingest


class SinkIngest:
    """Micro-batches, the second re-delivering some ids of the first,
    folded through ``bm25_index_sink`` by calling the ``foreachBatch``
    callback directly; then one query is served from the built index.
    Every pass starts from empty index tables.

    References: the postings and document lengths counted from the text
    (what the one-shot ``build_bm25_index`` stores) and, for the served
    query, the oracle of ``search_bm25_from_stream``."""

    BATCHES = 2
    REDELIVER = 0.1
    SINK = "bm25_index_sink"
    COLS = {"postings": ["token", "doc_id", "tf"], "doclen": ["doc_id", "dl"]}

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.data_dir = os.path.join(work, "batches")

    def generate(self, catalog_dir, tables) -> None:
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng([self.seed, 3])
        self.catalog_dir, self.tables = catalog_dir, tables
        docs = tables["documents"]
        os.makedirs(self.data_dir, exist_ok=True)
        bounds = np.linspace(0, docs.num_rows, self.BATCHES + 1).astype(int)
        self.batch_files = []
        for b in range(self.BATCHES):
            ids = np.arange(bounds[b], bounds[b + 1])
            if b:  # at-least-once source: re-deliver some earlier ids
                prev = rng.choice(bounds[b], size=int(len(ids) * self.REDELIVER),
                                  replace=False)
                ids = np.concatenate([ids, np.sort(prev)])
            path = os.path.join(self.data_dir, f"docs_b{b}.parquet")
            pq.write_table(docs.take(pa.array(ids)), path)
            self.batch_files.append(path)
        self.input_bytes = sum(os.path.getsize(p) for p in self.batch_files)

    def setup(self, spark) -> None:
        from airflow_crypto_btc_spark.operators.search import default_queries
        from airflow_crypto_btc_spark.sources.tables import load_table

        self.queries = default_queries(
            load_table(spark, self.catalog_dir, "documents")).localCheckpoint()

    def references(self, spark) -> None:
        from collections import Counter

        import pandas as pd

        from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

        oracle = checks.Oracle(self.catalog_dir, self.tables)
        try:
            served = oracle.digest(ALL_QUERIES["search_bm25_from_stream"].sql)
        finally:
            oracle.close()
        docs = self.tables["documents"].to_pandas()
        post, dlen = [], []
        for i, text in zip(docs["doc_id"], docs["text"]):
            toks = text.split()  # the generated text is single-spaced words
            dlen.append((int(i), len(toks)))
            post += [(tok, int(i), n) for tok, n in Counter(toks).items()]
        self.want = {
            "postings": checks.digest(pd.DataFrame(post, columns=self.COLS["postings"])),
            "doclen": checks.digest(pd.DataFrame(dlen, columns=self.COLS["doclen"])),
            "serve_bm25": served,
        }

    def instrument(self, tracer) -> None:
        from airflow_crypto_btc_spark.sources import snapshot_table
        from airflow_crypto_btc_spark.streaming import search_stream

        self.counts = {"commits": 0, "conflicts": 0}

        def on_commit(res):
            if res is True:
                self.counts["commits"] += 1
            elif res is False:  # lost the put-if-absent race
                self.counts["conflicts"] += 1

        def on_cas(res):
            if isinstance(res, snapshot_table.CommitConflictError):
                self.counts["conflicts"] += 1

        tracer.count(snapshot_table, "_try_commit", on_commit)
        tracer.count(snapshot_table, "commit", on_cas)
        for mod in (snapshot_table, search_stream):
            for fn in ("append", "read_snapshot", "read_snapshot_or_none"):
                tracer.wrap(mod, fn, f"sources.snapshot.{fn}")

    def before_pass(self, spark, idx) -> None:
        from airflow_crypto_btc_spark.streaming.search_stream import bm25_index_sink

        root = os.path.join(self.work, f"pass{idx}")
        self.t = {k: os.path.join(root, k) for k in self.COLS}
        self.sink = bm25_index_sink(self.t["postings"], self.t["doclen"],
                                    query_name=f"bm25-p{idx}")

    def after_pass(self, spark, idx, results) -> None:
        from airflow_crypto_btc_spark.sources.snapshot_table import current_snapshot

        self.live_parts = sum(len(current_snapshot(p).files) for p in self.t.values())
        self.table_bytes = sum(_dir_bytes(p) for p in self.t.values())
        shutil.rmtree(os.path.join(self.work, f"pass{idx}"), ignore_errors=True)

    def _digest_check(self, key):
        def check(pdf, err):
            if err is not None:
                return [raised(err)]
            got = checks.digest(pdf)
            return [] if got == self.want[key] else [
                f"{key}: rows/hash {got[0]}/{got[1][:12]} != one-shot "
                f"{self.want[key][0]}/{self.want[key][1][:12]}"]
        return check

    def ops(self, spark, idx):
        from airflow_crypto_btc_spark.operators.search import bm25_topk_from_index
        from airflow_crypto_btc_spark.sources.snapshot_table import read_snapshot

        def index_check(_, err):
            if err is not None:
                return [raised(err)]
            return [p for k, cols in self.COLS.items() for p in self._digest_check(k)(
                read_snapshot(spark, self.t[k]).toPandas()[cols], None)]

        out = []
        for b in range(self.BATCHES):
            def fold(b=b):
                return self.sink(spark.read.parquet(self.batch_files[b]), b)

            last = b == self.BATCHES - 1
            out.append((f"{self.SINK}.b{b}", fold, index_check if last else no_output))

        def serve():
            return bm25_topk_from_index(
                spark, self.t["postings"], self.t["doclen"], self.queries).toPandas()

        out.append(("serve_bm25", serve, self._digest_check("serve_bm25")))
        return out

    def extra_layers(self, passes, layers):
        rs = [r for p in passes for r in p if r.name.startswith(self.SINK + ".")]
        layers[f"streaming.{self.SINK}.batch_s"] = (_median(r.seconds for r in rs), "")
        first = sum(r.seconds for r in rs if r.name.endswith(".b0"))
        last = sum(r.seconds for r in rs if r.name.endswith(f".b{self.BATCHES - 1}"))
        layers["streaming.batch_growth"] = (last / first, "")
        n = len(passes)
        layers["sources.snapshot.commits"] = (self.counts["commits"] / n, "")
        layers["sources.snapshot.commit_conflicts"] = (self.counts["conflicts"] / n, "")
        layers["sources.snapshot.live_parts"] = (self.live_parts, "")
        layers["sources.snapshot.bytes_written_per_input_byte"] = (
            self.table_bytes / self.input_bytes, "")


WORKLOADS = {w.name: w for w in (DailyBackfill, CatalogMix)}
