"""The benchmark workloads. Each drives the package's public entry points on
inputs from :mod:`gen` and checks every answer against :mod:`oracle`.
Every timed operation records its wall-clock time and the CPU time of the
whole process tree it used.

A workload has three phases: ``prepare`` (generate inputs and oracle
answers; no Spark), ``warmup`` (the same pipeline on inputs of the real
size made from another seed, untimed) and ``measure`` (the pipeline on the
real input, a number of times set by the time budget). Every run, request
and check counts as one attempted operation; an exception or a
disagreement with the oracle counts as failed.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
import oracle
from tracing import ProgressCollector, Tracer, rest_jobs, rest_stages, submitted_in, tree_cpu_s

now = time.perf_counter


def cpu() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python workers). CPU time does not count the time a
    thread waits for a core, so on a shared machine it depends far less
    on the neighbours' load than wall-clock time does."""
    return tree_cpu_s(os.getpid())


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation, as numpy does."""
    return float(np.percentile(np.asarray(values, dtype=float), q * 100))


def concurrently(*fns) -> list:
    """Run ``fns`` on threads of their own and return their results;
    re-raise the first error. Independent paths share the cores this way."""
    with ThreadPoolExecutor(len(fns)) as ex:
        return [fut.result() for fut in [ex.submit(fn) for fn in fns]]


class Workload:
    """Accounting and resources shared by the phases of one run."""

    name = ""

    def __init__(self, tracer: Tracer, progress: ProgressCollector, tmp: str, seed: int):
        self.spark = None  # set by the runner once the session is up
        self.tracer = tracer
        self.progress = progress
        self.tmp = tmp
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.props: dict = {}
        self.info: dict = {}  # workload-specific figures for the report

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")
        return ok

    def attempt(self, what: str, fn):
        """Run ``fn`` as one operation; an exception counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # the run keeps going and reports it
            self.failed += 1
            self.failures.append(f"{what}: {type(exc).__name__}: {exc}")
            traceback.print_exc()
            return None

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    @staticmethod
    def count_for(seconds: float, nominal_s: float, least: int = 1) -> int:
        """How many operations of ``nominal_s`` seconds fill ``seconds``.
        The count depends on ``--seconds`` only, never on how fast this run
        goes: every run then measures the same operations at the same point
        of the JVM's warm-up, and a slow spell cannot change which ones."""
        return max(least, round(seconds / nominal_s))


# --------------------------------------------------------------------------
# upsert_serve: the streaming upsert fold, then the served table


class StreamPhase:
    """Changelog → table through ``latest_by_key_streaming_with_deletes``
    (explicit checkpoint and sink), then ``read_table_state`` and
    ``compact_upsert_log``. The changelog is replayed as two fat triggers
    that each touch almost every key, so per-key-group fold cost and
    per-trigger cost both show."""

    N_EVENTS, N_KEYS, N_FILES, FILES_PER_TRIGGER = 4_000, 500, 4, 2
    ITERATION_S = 8  # nominal wall time of one pipeline run
    TOMBSTONES, LATE = 0.05, 0.10

    def __init__(self, run: Workload):
        self.run = run
        self.queries = 0
        self.trigger_ms: list[float] = []
        self.iter_s: list[float] = []
        self.iter_cpu_s: list[float] = []

    def prepare(self) -> dict:
        self.replay = self.run.path("replay")
        props = gen.changelog(
            self.replay, self.run.seed, self.N_EVENTS, self.N_KEYS, self.N_FILES,
            self.FILES_PER_TRIGGER, self.TOMBSTONES, self.LATE)
        self.want = oracle.latest_rows(os.path.join(self.replay, "*.parquet"), True)
        return props

    def warmup(self) -> None:
        # a changelog of the real size: after a tiny one the first timed
        # iteration still paid ~20% more CPU (JIT compilation of the fold's
        # code paths was still under way)
        d = self.run.path("warm_stream")
        gen.changelog(os.path.join(d, "replay"), self.run.seed + 1, self.N_EVENTS, self.N_KEYS,
                      self.N_FILES, self.FILES_PER_TRIGGER, self.TOMBSTONES, self.LATE)
        self._pipeline(os.path.join(d, "replay"), d, None)

    def _pipeline(self, replay: str, d: str, want) -> tuple[float, float]:
        """Stream ``replay`` into a table and check it; returns the wall
        and CPU seconds from the call to the view read back."""
        from fs2_kafka_streams_spark.streaming import stateful

        run, spark, tracer = self.run, self.run.spark, self.run.tracer
        ckpt, sink = os.path.join(d, "ckpt"), os.path.join(d, "sink")
        os.makedirs(d, exist_ok=True)
        mark = len(run.progress.progress)
        c0, t0 = cpu(), now()
        with tracer.span("stream"):
            view = stateful.latest_by_key_streaming_with_deletes(
                spark, replay, tombstone_col="deleted", checkpoint=ckpt, sink_dir=sink)
        with tracer.span("view"):
            got = view.select("user_id", "event_id", "value").toPandas()
        elapsed = (now() - t0, cpu() - c0)
        self.queries += 1
        run.progress.wait_terminated(self.queries)
        if want is None:  # warm-up: the layers outside the timed region
            if tracer.traced:  # only matter to the per-layer figures
                stateful.compact_upsert_log(spark, sink, dead_col="_dead")
                stateful.read_table_state(spark, ckpt).count()
            return elapsed
        self.trigger_ms += [
            p["duration_ms"]["triggerExecution"] for p in run.progress.data_triggers(mark)]
        live = {k: v for k, v in want.items() if not v[2]}
        self._check_rows("view", got, live)
        if run.stream_only:  # the single-core baseline times the view only
            return elapsed
        with tracer.span("state"):
            state = stateful.read_table_state(spark, ckpt).select(
                "user_id", "event_id", "value").toPandas()
        self._check_rows("state", state, want)
        self.state_rows = len(state)
        if tracer.enabled:
            files = [os.path.join(r, f) for r, _, fs in os.walk(sink)
                     for f in fs if f.endswith(".parquet")]
            self.sink_stat = (len(files), sum(os.path.getsize(f) for f in files))
        with tracer.span("compact"):
            before, after = stateful.compact_upsert_log(spark, sink, dead_col="_dead")
        self.compact_rows = (before, after)
        run.check("compact rows", after == len(want), f"{after} rows, {len(want)} keys")
        # the compacted log holds exactly the head row of every key
        head = spark.read.parquet(sink).filter("NOT _dead").select(
            "user_id", "event_id", "value").toPandas()
        self._check_rows("view after compaction", head, live)
        state = stateful.read_table_state(spark, ckpt).select(
            "user_id", "event_id", "value").toPandas()
        self._check_rows("state after compaction", state, want)
        return elapsed

    def _check_rows(self, what: str, pdf, want: dict) -> None:
        got = {int(k): (int(e), float(v)) for k, e, v in
               zip(pdf["user_id"], pdf["event_id"], pdf["value"])}
        exp = {k: (v[0], v[1]) for k, v in want.items()}
        detail = ""
        bad = len(got) != len(pdf) or got != exp
        if bad:
            diff = {k for k in exp.keys() | got.keys() if exp.get(k) != got.get(k)}
            detail = f"{len(pdf)} rows vs {len(exp)} expected, {len(diff)} keys differ"
        self.run.check(what, not bad, detail)

    def measure(self, seconds: float) -> None:
        for i in range(self.run.count_for(seconds, self.ITERATION_S)):
            d = self.run.path(f"stream{i}")
            el = self.run.attempt("stream pipeline",
                                  lambda: self._pipeline(self.replay, d, self.want))
            if el is not None:
                self.iter_s.append(el[0])
                self.iter_cpu_s.append(el[1])

    def events_per_s(self) -> float:
        return self.N_EVENTS * len(self.iter_s) / sum(self.iter_s)

    def events_per_cpu_s(self) -> float:
        return self.N_EVENTS * len(self.iter_cpu_s) / sum(self.iter_cpu_s)

    def info(self) -> dict:
        tm = self.trigger_ms
        return {
            "events_per_s": (self.events_per_s(), "1/s"),
            "trigger_p50_s": (pct(tm, 0.5) / 1000, "s"),
            "trigger_p75_s": (pct(tm, 0.75) / 1000, "s"),
            "trigger_samples": (len(tm), "count"),
            "stream_iterations": (len(self.iter_s), "count"),
        }

    def layers(self) -> dict[str, float]:
        trig = self.run.progress.data_triggers()[-len(self.trigger_ms):]
        n, iters, tracer = len(trig), len(self.iter_s), self.run.tracer

        def mean_dur(key):
            return sum(p["duration_ms"].get(key, 0) for p in trig) / n

        def st_sum(key):
            return sum(s[key] for p in trig for s in p["state"])

        def custom(key):
            return sum(s["custom"].get(key, 0) for p in trig for s in p["state"]) / n

        add_batch = mean_dur("addBatch")
        rows_updated = st_sum("rows_updated")
        before, after = self.compact_rows
        return {
            "source.latest_offset_ms": mean_dur("latestOffset"),
            "source.get_batch_ms": mean_dur("getBatch"),
            "source.rows_per_trigger": sum(p["input_rows"] for p in trig) / n,
            "engine.triggers": n,
            "engine.query_planning_ms": mean_dur("queryPlanning"),
            "engine.wal_commit_ms": mean_dur("walCommit"),
            "engine.commit_offsets_ms": mean_dur("commitOffsets"),
            "engine.trigger_overhead_ms": mean_dur("triggerExecution") - add_batch,
            "fold.add_batch_ms": add_batch,
            "fold.state_update_ms": st_sum("all_updates_ms") / n,
            "fold.state_commit_ms": st_sum("commit_ms") / n,
            "fold.rows_updated": rows_updated / iters,
            "fold.ms_per_group": add_batch * n / max(rows_updated, 1),
            "fold.state_rows": self.state_rows,
            "fold.state_memory_bytes": sum(s["memory_bytes"] for s in trig[-1]["state"]),
            "fold.rocksdb_flush_ms": custom("rocksdbCommitFlushLatency"),
            "fold.rocksdb_checkpoint_ms": custom("rocksdbCommitCheckpointLatency"),
            "fold.rocksdb_file_sync_ms": custom("rocksdbCommitFileSyncLatencyMs"),
            "fold.rocksdb_changelog_commit_ms": custom("rocksdbChangeLogWriterCommitLatencyMs"),
            "fold.rocksdb_load_ms": custom("rocksdbLoadLatencyMs"),
            "sink.rows_appended": before,
            "sink.files": self.sink_stat[0],
            "sink.bytes": self.sink_stat[1],
            "sink.view_s": tracer.total_s("view") / iters,
            "compact.s": tracer.total_s("compact") / iters,
            "compact.rows_before": before,
            "compact.rows_after": after,
            "compact.keep_ratio": after / before,
        }


class ServePhase:
    """Topic → restored changelog → ``MaterializedTable`` scan, one
    ``join_with`` and a closed-loop client of get/get_all requests. The
    topic is produced with ``publish_topic`` into a fresh broker directory
    (a new file stamp, so no worker-side cache of an earlier run applies)
    and restored with ``read_wire`` → ``decode_wire`` into a parquet
    changelog, the reference's restore-from-topic path. Restoring is the
    server's start-up, so it happens in the warm-up, followed by untimed
    requests until request CPU time has settled."""

    N_EVENTS, N_KEYS, KEY_ZIPF = 20_000, 2_000, 0.5
    GET_ALL_KEYS, ABSENT, REQ_ZIPF = 100, 0.05, 1.1
    STREAM_ROWS = 10_000
    CYCLE_S = 3  # nominal wall time of one get, get, get, get_all cycle
    # the first requests of a fresh session cost up to twice the CPU of
    # later ones (their query code is still being JIT-compiled)
    WARM_REQUESTS = 4

    def __init__(self, run: Workload):
        self.run = run
        self.table = None
        self.lookup_ms: list[float] = []
        self.lookup_cpu_s: list[float] = []

    def prepare(self) -> dict:
        run = self.run
        self.src = run.path("topic.parquet")
        props = gen.events_file(self.src, run.seed + 3, self.N_EVENTS, self.N_KEYS, self.KEY_ZIPF)
        self.want = oracle.latest_rows(self.src, False)
        self.requests = gen.lookup_requests(
            run.seed + 7, 1_000, np.array(sorted(self.want)), self.N_KEYS,
            self.GET_ALL_KEYS, self.ABSENT, self.REQ_ZIPF)
        self.stream = run.path("stream.parquet")
        gen.stream_batch(self.stream, run.seed + 11, self.STREAM_ROWS, self.N_KEYS, self.ABSENT)
        self.stream_matched = oracle.count_matched(self.stream, self.src)
        return {**props, "get_all_share": 0.25, "absent_key_share": self.ABSENT}

    def warmup(self) -> None:
        from fs2_kafka_streams_spark.operators.table import join_with

        run = self.run
        self.table = run.attempt("restore", lambda: self._restore(self.src, run.path("serve")))
        if self.table is None:
            return
        run.check("restored events", self.restored_rows == self.N_EVENTS,
                  f"{self.restored_rows} of {self.N_EVENTS}")
        join_with(run.spark.read.parquet(self.stream), self.table).count()
        warm = gen.lookup_requests(
            run.seed + 5, self.WARM_REQUESTS, np.array(sorted(self.want)), self.N_KEYS,
            self.GET_ALL_KEYS, self.ABSENT, self.REQ_ZIPF)
        for kind, keys in warm:
            run.attempt(kind, lambda: self._lookup(kind, keys))
        self.lookup_ms.clear()
        self.lookup_cpu_s.clear()

    def _restore(self, src: str, d: str):
        from fs2_kafka_streams_spark.operators.table import MaterializedTable
        from fs2_kafka_streams_spark.sources import python_source as wire

        spark = self.run.spark
        broker, log = os.path.join(d, "broker"), os.path.join(d, "log")
        t0 = now()
        wire.publish_topic(spark.read.parquet(src), broker, "events")
        t1 = now()
        raw = wire.read_wire(spark, None, broker_dir=broker, topics=["events"])
        wire.decode_wire(raw).write.parquet(log)
        self.publish_s, self.restore_s = t1 - t0, now() - t1
        self.broker = broker
        changelog = spark.read.parquet(log)
        self.restored_rows = changelog.count()
        return MaterializedTable(
            changelog, ["user_id"], ["ts", "event_id"],
            ["event_id", "ts", "event_type", "value", "props"], unique_order=True)

    def _lookup(self, kind: str, keys: list[int]) -> None:
        run, tracer = self.run, self.run.tracer
        if kind == "get":
            with tracer.span("lookup", kind=kind, keys=1) as sp:
                c0, t0 = cpu(), now()
                row = self.table.get(keys[0])
                self.lookup_ms.append((now() - t0) * 1000)
                self.lookup_cpu_s.append(cpu() - c0)
            sp["attrs"]["found"] = int(row is not None)
            exp = self.want.get(keys[0])
            got = None if row is None else (row["event_id"], row["value"])
            run.check("get", got == (None if exp is None else exp[:2]),
                      f"key {keys[0]}: {got} vs {exp}")
            return
        with tracer.span("lookup", kind=kind, keys=len(keys)) as sp:
            c0, t0 = cpu(), now()
            df = self.table.get_all(keys)
            if tracer.enabled:  # split planning from execution
                df._jdf.queryExecution().executedPlan()
                sp["attrs"]["plan_ms"] = (now() - t0) * 1000
            t1 = now()
            rows = df.select("user_id", "event_id", "value").collect()
            self.lookup_ms.append((now() - t0) * 1000)
            self.lookup_cpu_s.append(cpu() - c0)
            sp["attrs"]["exec_ms"] = (now() - t1) * 1000
        got = {r[0]: (None if r[1] is None else (r[1], r[2])) for r in rows}
        exp = {k: (None if k not in self.want else self.want[k][:2]) for k in keys}
        sp["attrs"]["found"] = sum(v is not None for v in got.values())
        run.check("get_all", got == exp,
                  f"{sum(got.get(k) != v for k, v in exp.items())} of {len(exp)} keys differ")

    def measure(self, seconds: float) -> None:
        """Scan, join, then whole cycles of the 3:1 get:get_all mix (so
        the mean holds the mix), at least two, about ``seconds`` long."""
        from pyspark.sql import functions as F

        from fs2_kafka_streams_spark.operators.table import join_with

        run, tracer, table = self.run, self.run.tracer, self.table
        if table is None:
            return
        with tracer.span("scan"):
            snap = table.scan().select("user_id", "event_id").toPandas()
        got = dict(zip(snap["user_id"].astype(int), snap["event_id"].astype(int)))
        run.check("scan", got == {k: v[0] for k, v in self.want.items()},
                  f"{len(got)} rows vs {len(self.want)}")
        stream = run.spark.read.parquet(self.stream)
        t0 = now()
        with tracer.span("join"):
            res = run.attempt("join", lambda: join_with(stream, table).agg(
                F.count(F.lit(1)), F.count("event_id")).collect()[0])
        self.join_s = now() - t0
        if res is not None:
            want = (self.STREAM_ROWS, self.stream_matched)
            run.check("join rows", tuple(res) == want, f"{tuple(res)} vs {want}")
        for kind, keys in self.requests[:4 * run.count_for(seconds, self.CYCLE_S, 2)]:
            run.attempt(kind, lambda: self._lookup(kind, keys))

    def info(self) -> dict:
        lm = self.lookup_ms
        return {
            "restore.events_per_s": (self.N_EVENTS / self.restore_s, "1/s"),  # in set-up
            "lookup_p50_ms": (pct(lm, 0.5), "ms"),
            "lookup_p90_ms": (pct(lm, 0.9), "ms"),
            "lookup_samples": (len(lm), "count"),
            "join_rows_per_s": (self.STREAM_ROWS / self.join_s, "1/s"),
        }

    def layers(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from fs2_kafka_streams_spark.sources import python_source as wire

        spark, tracer = self.run.spark, self.run.tracer

        def raw():
            return wire.read_wire(spark, None, broker_dir=self.broker, topics=["events"])

        def noop_s(df) -> float:
            t0 = now()
            df.write.format("noop").mode("overwrite").save()
            return now() - t0

        # decode cost = (read + decode) - read, two no-op passes after one
        # that fills the workers' read caches, so both passes find them warm
        noop_s(raw())
        read_s = noop_s(raw())
        decode_s = noop_s(wire.decode_wire(raw())) - read_s
        records, value_bytes = raw().agg(F.count(F.lit(1)), F.sum(F.length("value"))).collect()[0]
        stages = rest_stages(spark)
        lookups = tracer.named("lookup")
        multi = [s for s in lookups if "plan_ms" in s["attrs"]]
        lk_stages = submitted_in(stages, lookups)
        found = sum(s["attrs"]["found"] for s in lookups)
        n = len(lookups)
        return {
            "wire.publish_s": self.publish_s,
            "wire.read_s": read_s,
            "wire.read_tasks": raw().rdd.getNumPartitions(),
            "wire.records": records,
            "wire.value_bytes": value_bytes,
            "decode.s": decode_s,
            "latest.fold_s": tracer.total_s("scan"),
            "latest.shuffle_bytes": sum(
                s["shuffle_write_bytes"] for s in submitted_in(stages, tracer.named("scan"))),
            "table.plan_ms": statistics.median(s["attrs"]["plan_ms"] for s in multi),
            "table.exec_ms": statistics.median(s["attrs"]["exec_ms"] for s in multi),
            "table.jobs_per_lookup": len(submitted_in(rest_jobs(spark), lookups)) / n,
            "table.tasks_per_lookup": sum(s["tasks"] for s in lk_stages) / n,
            "table.input_bytes_per_lookup": sum(s["input_bytes"] for s in lk_stages) / n,
            "table.rows_read_per_result": sum(s["input_records"] for s in lk_stages) / max(found, 1),
            "join.s": self.join_s,
            "join.shuffle_bytes": sum(
                s["shuffle_write_bytes"] for s in submitted_in(stages, tracer.named("join"))),
        }


class UpsertServe(Workload):
    """The paper's core in one run: a changelog streamed into a keyed table
    (:class:`StreamPhase`), then a table restored from a topic and served
    (:class:`ServePhase`). ``events_per_cpu_s`` is the streaming fold's
    throughput per CPU-second and ``op_cpu_ms`` the mean CPU time of a
    lookup request, so each phase has one gated metric. ``stream_only``
    runs the first phase alone (the single-core baseline does)."""

    name = "upsert_serve"
    stream_only = False

    def __init__(self, *args):
        super().__init__(*args)
        self.stream = StreamPhase(self)
        self.serve = ServePhase(self)

    def prepare(self):
        self.props = {f"stream.{k}": v for k, v in self.stream.prepare().items()}
        if not self.stream_only:
            self.props.update({f"serve.{k}": v for k, v in self.serve.prepare().items()})

    def warmup(self):
        # the single-core baseline (not gated) runs cold: its warm-up would
        # not fit in the traced run's time limit
        if not self.stream_only:
            concurrently(self.stream.warmup, self.serve.warmup)

    def measure(self, seconds: float) -> None:
        self.stream.measure(seconds / 2)
        if not self.stream_only:
            self.serve.measure(seconds / 2)

    def result(self) -> dict:
        self.info = self.stream.info()
        stream = {"events_per_cpu_s": self.stream.events_per_cpu_s()}
        if self.stream_only:
            return {**stream, "op_cpu_ms": 1000 * statistics.mean(self.stream.iter_cpu_s)}
        self.info.update(self.serve.info())
        return {**stream, "op_cpu_ms": 1000 * statistics.mean(self.serve.lookup_cpu_s)}

    def layers(self) -> dict[str, float]:
        return {**self.stream.layers(), **self.serve.layers()}


# --------------------------------------------------------------------------
# corpus_dedup


class CorpusDedup(Workload):
    """Exact dedup → MinHash-LSH pairs → connected components / keep-best,
    plus embedding LSH near-duplicates: the LLM-pipeline operators.
    ``events_per_cpu_s`` counts documents; ``op_cpu_ms`` is one whole pass."""

    name = "corpus_dedup"
    N_DOCS, DUP_SHARE, EXACT_SHARE, DIM = 2_000, 0.15, 0.05, 64
    JACCARD, COSINE = 0.5, 0.9
    RECALL_J = 0.75  # planted pairs at or above this Jaccard must be found
    MIN_RECALL = 0.98
    WARM_PASSES = 1
    PASS_S = 8  # nominal wall time of one pass

    def prepare(self):
        self.docs, self.emb = self.path("docs.parquet"), self.path("emb.parquet")
        c = gen.corpus(self.docs, self.emb, self.seed, self.N_DOCS,
                       self.DUP_SHARE, self.EXACT_SHARE, self.DIM)
        self.props = c["props"]
        self.exact = oracle.exact_groups(self.docs)
        self.shingles = oracle.shingle_sets(c["texts"], c["doc_ids"])
        self.planted = c["planted_pairs"]
        self.must_find = {p for p in self.planted
                          if oracle.jaccard(self.shingles, *p) >= self.RECALL_J}
        self.vectors = np.empty(c["vectors"].shape, dtype=np.float64)
        self.vectors[c["doc_ids"]] = c["vectors"]  # row i = doc id i
        self.doc_ids, self.quality = c["doc_ids"], c["quality"]
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []

    def _text_stages(self, docs_path: str):
        from fs2_kafka_streams_spark.operators import clusters, dedup

        spark, tracer = self.spark, self.tracer
        docs = spark.read.parquet(docs_path)
        with tracer.span("dedup.exact"):
            exact = dedup.exact_dedup(docs, "text", "doc_id").select("keep_id", "n_dups").collect()
        with tracer.span("dedup.minhash"):
            pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=self.JACCARD).collect()
        # the verified pairs feed the clustering stage, as a pipeline would
        pairs_df = spark.createDataFrame([(p[0], p[1]) for p in pairs], "id_a long, id_b long")
        with tracer.span("clusters"):
            kept = clusters.dedup_keep_best(docs, pairs_df, "doc_id", "quality").select(
                "doc_id").collect()
        self.rounds = clusters.LAST_ROUNDS
        return exact, pairs, kept

    def _vector_stage(self, emb_path: str):
        from fs2_kafka_streams_spark.operators import similarity

        with self.tracer.span("similarity"):
            return similarity.embedding_neardup_pairs_lsh(
                self.spark.read.parquet(emb_path), threshold=self.COSINE,
                bits_per_band=None).select("id_a", "id_b", "cos").collect()

    def warmup(self):
        # a pass over a corpus of the real size: after one over half of it
        # the first timed pass used ~50% more CPU than the third (JIT
        # compilation of the generated query code was still under way)
        d, e = self.path("warm_docs.parquet"), self.path("warm_emb.parquet")
        gen.corpus(d, e, self.seed + 1, self.N_DOCS, self.DUP_SHARE,
                   self.EXACT_SHARE, self.DIM)
        for _ in range(self.WARM_PASSES):
            self._pass(d, e)

    def _pass(self, docs_path: str, emb_path: str) -> tuple:
        """One pass: the text stages and the independent vector stage side
        by side, as a pipeline with spare cores would run them."""
        text, vec = concurrently(lambda: self._text_stages(docs_path),
                                 lambda: self._vector_stage(emb_path))
        return (*text, vec)

    def measure(self, seconds: float) -> None:
        # at least two passes: one ~10 s pass alone carried the host's
        # short slow spells straight into the run's figure
        for _ in range(self.count_for(seconds, self.PASS_S, 2)):
            c0, t0 = cpu(), now()
            out = self.attempt("pipeline", lambda: self._pass(self.docs, self.emb))
            if out is not None:
                self.pass_s.append(now() - t0)
                self.pass_cpu_s.append(cpu() - c0)
                self._checks(*out)

    def _checks(self, exact, pairs, kept, vec_pairs) -> None:
        got = {(int(r[0]), int(r[1])) for r in exact}
        self.check("exact groups", got == self.exact, f"{len(got)} groups vs {len(self.exact)}")
        found = {(int(p[0]), int(p[1])) for p in pairs}
        bad = [p for p in pairs if p[2] < self.JACCARD
               or abs(p[2] - oracle.jaccard(self.shingles, p[0], p[1])) > 1e-9]
        self.check("minhash pair jaccard", not bad, f"{len(bad)} pairs disagree")
        recall = len(self.must_find & found) / len(self.must_find)
        self.check("minhash recall", recall >= self.MIN_RECALL, f"recall {recall:.4f}")
        self.minhash_found = found
        want_kept = oracle.keep_best(self.doc_ids, self.quality, found)
        got_kept = {int(r[0]) for r in kept}
        self.check("keep best", got_kept == want_kept, f"{len(got_kept)} kept vs {len(want_kept)}")
        v = self.vectors
        bad = [(a, b) for a, b, c in vec_pairs if c < self.COSINE or abs(
            c - v[a] @ v[b] / np.linalg.norm(v[a]) / np.linalg.norm(v[b])) > 1e-4]
        self.check("embedding pair cosine", not bad, f"{len(bad)} pairs disagree")
        vfound = {(int(a), int(b)) for a, b, _ in vec_pairs}
        vrecall = len(self.planted & vfound) / len(self.planted)
        self.check("embedding recall", vrecall >= self.MIN_RECALL, f"recall {vrecall:.4f}")

    def result(self) -> dict:
        med = statistics.median(self.pass_s)
        med_cpu = statistics.median(self.pass_cpu_s)
        self.info = {"docs_per_s": (self.N_DOCS / med, "1/s"),
                     "pass_p50_ms": (med * 1000, "ms"),
                     "passes": (len(self.pass_s), "count")}
        return {"events_per_cpu_s": self.N_DOCS / med_cpu, "op_cpu_ms": med_cpu * 1000}

    def layers(self) -> dict[str, float]:
        stages = rest_stages(self.spark)
        iters, tracer = len(self.pass_s), self.tracer
        spans = [s for s in tracer.spans
                 if s["name"] in ("dedup.exact", "dedup.minhash", "clusters", "similarity")]
        found = self.minhash_found
        return {
            "dedup.exact_s": tracer.total_s("dedup.exact") / iters,
            "dedup.minhash_s": tracer.total_s("dedup.minhash") / iters,
            "dedup.candidate_pairs": len(found),
            "dedup.true_pair_ratio": len(found & self.planted) / max(len(found), 1),
            "clusters.s": tracer.total_s("clusters") / iters,
            "clusters.iterations": self.rounds,
            "similarity.s": tracer.total_s("similarity") / iters,
            "dedup.shuffle_bytes": sum(
                s["shuffle_write_bytes"] for s in submitted_in(stages, spans)) / iters,
        }


WORKLOADS = {w.name: w for w in (UpsertServe, CorpusDedup)}
