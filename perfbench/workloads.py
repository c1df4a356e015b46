"""The benchmark workloads.

Each workload generates its inputs from the seed, warms the session at
target scale, runs its measured operations, checks every output against a
DuckDB oracle outside the timed window, and can run a traced pass whose
spans give the per-layer numbers.

A Spark run pays about 9 s of session start and 20-25 s of cold first pass
before it measures anything, so the benchmark has two workloads, each a
composite of the layers that share that cost:

- transcript_pipeline: one closed-loop batch pass of the headline path, then
  an open-loop stream segment (a separate feeder process offers files on a
  fixed schedule) through the same parse, enrich and route functions.
- registry_queries: closed loop over the registry queries the transcript path
  bypasses: minhash_dedup_cc over planted near-duplicate documents and two
  module filesets of different shapes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import duckdb

import gen
import spans

HERE = os.path.dirname(os.path.abspath(__file__))

# layer name -> registry query: a fused grok chain (three dependent banks
# in one Arrow exchange) and a structured fileset with no grok and no Python
# UDF, two shapes the transcript path's single grok bank does not have. The
# other four oracled filesets are left out to keep a run inside its time
# budget.
MODULE_QUERIES = {
    "system_auth": "module_system_auth",
    "redis_slowlog": "module_redis_slowlog",
}


def canon(rows: list[dict]) -> list[str]:
    """Order-insensitive form of a result for equality checks."""
    def norm(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        return repr(v)

    return sorted(
        "|".join(f"{k}={norm(r[k])}" for k in sorted(r)) for r in rows
    )


def spark_rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class Oracle:
    """DuckDB over the generated parquet, with the registry's view names."""

    def __init__(self, input_dir: str, tables: list[str], threads: int):
        self.con = duckdb.connect(config={"threads": threads})
        for t in tables:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")

    def rows(self, sql: str) -> list[dict]:
        rel = self.con.sql(sql)
        cols = rel.columns
        return [dict(zip(cols, r)) for r in rel.fetchall()]

    def close(self) -> None:
        self.con.close()


class Pass:
    """One closed-loop operation: wall time, CPU, output, error."""

    def __init__(self, wall_s, cpu_s, output, error, latencies):
        self.wall_s, self.cpu_s = wall_s, cpu_s
        self.output, self.error = output, error
        self.latencies = latencies


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Inputs from a seed, a warm-up, a measured section and a traced one.

    measure() returns a dict with `rows_per_s`, `latencies` (s, one per
    operation or source file), `cpu_s`, `op_s` (wall time of the operations
    the traced run repeats), `attempted`, `failed` and `detail`, and a
    stream's `backlog`.
    trace() returns per-layer metrics from one traced repetition."""

    name = ""

    def __init__(self, work: str, seed: int, threads: int, seconds: float):
        self.work, self.seed, self.threads = work, seed, threads
        self.seconds = seconds
        self.input = os.path.join(work, "input")

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        raise NotImplementedError

    def measure(self, spark, jvm_pid: int) -> dict:
        raise NotImplementedError

    def trace(self, spark, tracer, jvm_pid: int) -> dict[str, float]:
        raise NotImplementedError


class ClosedLoop(Workload):
    """Starts a pass only when the previous one has finished."""

    tables: list[str] = []
    rows = 0  # input rows one pass consumes

    def run_pass(self, spark):
        """Run one pass; return (output, per-operation latencies or None
        for the pass wall time)."""
        raise NotImplementedError

    def cleanup_pass(self, spark) -> None:
        pass

    def failures(self, outputs: list) -> int:
        """How many operations' outputs do not match the oracle."""
        raise NotImplementedError

    def ops_per_pass(self) -> int:
        return 1

    def trace_pass(self, spark, tracer) -> dict[str, float]:
        raise NotImplementedError

    def oracle(self) -> Oracle:
        return Oracle(self.input, self.tables, self.threads)

    def warm(self, spark):
        self.run_pass(spark)
        self.cleanup_pass(spark)

    def measure(self, spark, jvm_pid):
        """Passes until `seconds` have gone (at least one)."""
        passes = []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < self.seconds:
            c0, t0 = spans.tree_cpu_s(jvm_pid), time.perf_counter()
            try:
                output, lat = self.run_pass(spark)
                error = None
            except Exception:  # counted as failed; the loop keeps measuring
                output, lat, error = None, None, traceback.format_exc()
                print(error, file=sys.stderr)
            wall = time.perf_counter() - t0
            cpu = spans.tree_cpu_s(jvm_pid) - c0
            passes.append(Pass(wall, cpu, output, error, lat or [wall]))
            self.cleanup_pass(spark)
        return {
            "rows_per_s": statistics.median(self.rows / p.wall_s for p in passes),
            "latencies": [x for p in passes for x in p.latencies],
            "cpu_s": statistics.median(p.cpu_s for p in passes),
            "op_s": statistics.median(p.wall_s for p in passes),
            "attempted": len(passes) * self.ops_per_pass(),
            "failed": self.failures([p.output for p in passes]),
            "detail": [{"wall_s": p.wall_s, "cpu_s": p.cpu_s,
                        "latencies": p.latencies, "error": p.error}
                       for p in passes],
        }

    def trace(self, spark, tracer, jvm_pid):
        layers = self.trace_pass(spark, tracer)
        self.cleanup_pass(spark)
        return layers


# -- transcript_pipeline: batch part ----------------------------------------


class BatchPipeline(ClosedLoop):
    """The ROADMAP headline path over heavy-tailed generated transcripts."""

    tables = ["events"]
    N_EVENTS = 16_000
    N_CONVS = 160

    def generate(self):
        gen.write_table(
            gen.events_table(self.seed, self.N_EVENTS, self.N_CONVS),
            os.path.join(self.input, "events.parquet"))
        self.rows = self.N_EVENTS

    def _sinks(self) -> str:
        return os.path.join(self.work, "sinks")

    def run_pass(self, spark):
        from beats_spark.pipeline import combined_aggregates, full_pipeline
        from beats_spark.routing import fan_out

        fan_out(full_pipeline(spark, self.input), self._sinks())
        aggs, rollups = combined_aggregates(spark.read.parquet(self._sinks()))
        return (spark_rows(aggs), rollups.count()), None

    def cleanup_pass(self, spark):
        spark.catalog.clearCache()  # the mid-grain persist
        shutil.rmtree(self._sinks(), ignore_errors=True)

    def failures(self, outputs):
        """Per-(sink, role) aggregates against the sink_aggregates oracle,
        and one rollup row per conversation."""
        from beats_spark import queries as Q

        o = self.oracle()
        try:
            want = canon(o.rows(Q.ORACLES["sink_aggregates"]))
            convs = o.rows("SELECT count(DISTINCT user_id) AS n FROM events")[0]["n"]
        finally:
            o.close()
        return sum(
            out is None or canon(out[0]) != want or out[1] != convs
            for out in outputs
        )

    def trace_pass(self, spark, tracer):
        """One span per plan prefix: a noop write for the inner layers, the
        real fan_out and aggregate collect at the end. A layer's self time
        is its span minus the previous prefix's."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from beats_spark.data.transcripts import load_transcripts
        from beats_spark.operators.parse import FLAGS_COL, GROK_FAIL_FLAG
        from beats_spark.pipeline import (
            combined_aggregates, enrich_stage, parse_stage, route_stage)
        from beats_spark.routing import fan_out

        def prefix(name, df, flag):
            """Noop-write df under a span; return (window, span wall time,
            share of rows where flag holds, rows)."""
            obs = Observation(name)
            out = df.observe(obs, F.count(F.lit(1)).alias("n"),
                             F.sum(flag.cast("long")).alias("k"))
            _, w = tracer.span(name, lambda: _noop(out))
            got = obs.get
            return w, tracer.spans[-1]["wall_s"], got["k"] / got["n"], got["n"]

        m: dict[str, float] = {}
        t = load_transcripts(spark, self.input)
        w, prev, _, n = prefix("data.transcripts", t, F.lit(True))
        m["data.transcripts.self_s"] = prev
        m["data.transcripts.rows"] = float(n)
        m["data.transcripts.shuffle_bytes"] = w.stage_sum("shuffle_bytes")
        last = w.stages[-1]["task_s"] if w.stages else [0.0]
        med = spans.quantile(last, 0.5)
        m["data.transcripts.task_skew"] = max(last) / med if med else 0.0

        p = parse_stage(t)
        failed = F.array_contains(
            F.coalesce(F.col(FLAGS_COL), F.array().cast("array<string>")),
            GROK_FAIL_FLAG)
        w, cur, m["operators.parse.matched_frac"], _ = prefix(
            "operators.parse", p, ~failed)
        m["operators.parse.self_s"], prev = cur - prev, cur
        for k, v in w.python_metrics().items():
            m[f"operators.parse.{k}"] = v

        e = enrich_stage(p)
        w, cur, m["operators.enrich.default_frac"], _ = prefix(
            "operators.enrich", e,
            (F.col("role_group") == "unknown") | (F.col("tool_kind") == "none"))
        m["operators.enrich.self_s"], prev = cur - prev, cur
        m["operators.enrich.broadcast_bytes"] = w.node_sum(
            "data size", "BroadcastExchange")

        r = route_stage(e)
        w, cur, m["routing.route.deadletter_frac"], _ = prefix(
            "routing.route", r, F.col("_sink") == "deadletter")
        m["routing.route.self_s"], prev = cur - prev, cur

        _, w = tracer.span("routing.fan_out", lambda: fan_out(r, self._sinks()))
        m["routing.fan_out.self_s"] = tracer.spans[-1]["wall_s"] - prev
        m["routing.fan_out.files_written"] = w.node_sum("number of written files")
        m["routing.fan_out.bytes_written"] = w.node_sum("written output")

        def aggregate():
            aggs, rollups = combined_aggregates(spark.read.parquet(self._sinks()))
            return spark_rows(aggs), rollups.count()

        (aggs, _), w = tracer.span("pipeline.aggregate", aggregate)
        m["pipeline.aggregate.self_s"] = tracer.spans[-1]["wall_s"]
        m["pipeline.aggregate.scan_bytes"] = w.node_sum("size of files read", "Scan")
        m["pipeline.aggregate.shuffle_bytes"] = w.stage_sum("shuffle_bytes")
        m["pipeline.aggregate.spill_bytes"] = w.stage_sum("spill_bytes")
        m["pipeline.aggregate.probes_per_key"] = w.node_max(
            "avg hash probes per key", "HashAggregate")
        m["pipeline.aggregate.mid_rows"] = float(sum(a["n_convs"] for a in aggs))
        return m


# -- transcript_pipeline: stream part ----------------------------------------


class StreamPipeline(Workload):
    """Open loop: files offered on a schedule to the streaming pipeline."""

    FILE_ROWS = 500
    # files per second: about half the drain rate, which maxFilesPerTrigger
    # (8) over a micro-batch of 2.5-3.5 s caps near 3 files/s
    RATE = 1.6
    WARM_FILES = 8  # one warm-up micro-batch

    def _segment_files(self) -> int:
        return int(self.RATE * self.seconds)

    def generate(self):
        # the measured segment and the traced one each take their own files
        n_files = 2 * self._segment_files() + self.WARM_FILES
        events = gen.events_table(self.seed, n_files * self.FILE_ROWS, 2000)
        staged = gen.stream_files(events, self._dir("staged"),
                                  self.FILE_ROWS, self.threads)
        os.makedirs(self._dir("warm_src"))
        for name in staged[-self.WARM_FILES:]:
            os.rename(os.path.join(self._dir("staged"), name),
                      os.path.join(self._dir("warm_src"), name))

    def _dir(self, *parts) -> str:
        return os.path.join(self.work, "stream", *parts)

    def _query(self, spark, src, tag, available_now):
        from beats_spark.streaming.pipeline import (
            stream_pipeline, stream_transcripts, write_sinks)

        return write_sinks(
            stream_pipeline(stream_transcripts(spark, src)),
            self._dir(f"out_{tag}"), self._dir(f"ck_{tag}"),
            trigger_available_now=available_now)

    def start_warm(self, spark):
        """Start the warm-up query; the caller awaits its termination."""
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        return self._query(spark, self._dir("warm_src"), "warm", True)

    def segment(self, spark, jvm_pid: int, tag: str) -> dict:
        """Offer RATE files/s for `seconds`, drain, and time every file
        from its due time to the commit of the micro-batch that consumed
        it."""
        src, staging = self._dir(f"src_{tag}"), self._dir(f"offer_{tag}")
        os.makedirs(src)
        os.makedirs(staging)
        names = sorted(os.listdir(self._dir("staged")))[:self._segment_files()]
        for name in names:
            os.rename(os.path.join(self._dir("staged"), name),
                      os.path.join(staging, name))
        query = self._query(spark, src, tag, False)
        c0 = spans.tree_cpu_s(jvm_pid)
        t0 = time.time() + 0.5
        log = self._dir(f"feed_{tag}.json")
        feeder = subprocess.Popen([
            sys.executable, os.path.join(HERE, "gen.py"), "feed", staging,
            src, repr(t0), repr(self.RATE), log])
        try:
            time.sleep(max(0.0, t0 + self.seconds - time.time()))
            window_end = time.time()
            if feeder.wait(timeout=60) != 0:
                raise RuntimeError("stream feeder failed")
            query.processAllAvailable()
            progress = [p for p in query.recentProgress if p["numInputRows"]]
        finally:
            query.stop()
            if feeder.poll() is None:
                feeder.kill()
            feeder.wait()
        cpu = spans.tree_cpu_s(jvm_pid) - c0
        with open(log) as f:
            fed = json.load(f)
        batch_of = self._file_batches(tag)
        commit = self._commit_times(tag)
        lat, backlog, consumed = [], 0, []
        for name, t_due in zip(fed["names"], fed["due"]):
            b = batch_of.get(name)
            if b is None or b not in commit:
                raise RuntimeError(f"{name} was never committed")
            lat.append(commit[b] - t_due)
            backlog += t_due <= window_end < commit[b]
            consumed.append(os.path.join(src, name))
        return {
            "latencies": lat, "backlog": backlog, "cpu_s": cpu,
            "files": consumed, "progress": progress,
            "gen_lag_s": max(d - s for s, d in zip(fed["due"], fed["done"])),
        }

    def _file_batches(self, tag) -> dict[str, int]:
        """File name -> batch id, from the file source's offset log."""
        out = {}
        for path in glob.glob(self._dir(f"ck_{tag}", "sources", "0", "*")):
            with open(path) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
        return out

    def _commit_times(self, tag) -> dict[int, float]:
        d = self._dir(f"ck_{tag}", "commits")
        return {int(n): os.stat(os.path.join(d, n)).st_mtime
                for n in os.listdir(d) if n.isdigit()}

    def failures(self, spark, tag: str, files: list[str]) -> int:
        """Per-sink routed-row counts against the routing CASE over the
        consumed files; a mismatching sink counts as one failure."""
        from beats_spark import queries as Q

        out = spark.read.parquet(self._dir(f"out_{tag}"))
        got = {r["_sink"]: r["count"] for r in out.groupBy("_sink").count().collect()}
        con = duckdb.connect(config={"threads": self.threads})
        try:
            want = dict(con.sql(
                f"SELECT {Q._sink_case_sql()} AS _sink, count(*) AS n "
                f"FROM read_parquet({files!r}) GROUP BY 1").fetchall())
        finally:
            con.close()
        return sum(got.get(s) != want.get(s) for s in set(got) | set(want))

    def measure(self, spark, jvm_pid):
        t0 = time.perf_counter()
        res = self.segment(spark, jvm_pid, "run")
        return {
            "latencies": res["latencies"], "cpu_s": res["cpu_s"],
            "op_s": time.perf_counter() - t0,
            "attempted": len(res["files"]),
            "failed": self.failures(spark, "run", res["files"]),
            "detail": {k: res[k] for k in ("latencies", "backlog", "gen_lag_s")},
        }

    def trace(self, spark, tracer, jvm_pid):
        """A second segment, read from its micro-batch progress reports and
        the status store window it spans."""
        res, window = tracer.span(
            "streaming", lambda: self.segment(spark, jvm_pid, "trace"))
        prog = res["progress"]
        dur = [p["durationMs"] for p in prog]

        def q(key, p):
            return spans.quantile([d.get(key, 0) / 1e3 for d in dur], p)

        return {
            "streaming.batches": float(len(prog)),
            "streaming.batch_rows_p50": spans.quantile(
                [p["numInputRows"] for p in prog], 0.5),
            "streaming.trigger_s_p50": q("triggerExecution", 0.5),
            "streaming.trigger_s_p90": q("triggerExecution", 0.9),
            "streaming.add_batch_s_p50": q("addBatch", 0.5),
            "streaming.planning_s_p50": q("queryPlanning", 0.5),
            "streaming.commit_s_p50": q("commitOffsets", 0.5),
            "streaming.py_init_s": window.python_metrics()["py_init_s"],
            "streaming.backlog_end_files": float(res["backlog"]),
            "gen.lag_s": res["gen_lag_s"],
        }


class TranscriptPipeline(Workload):
    """The batch part measures for a quarter of `seconds` (one pass at
    today's speed), then the stream part offers files for `seconds`."""

    name = "transcript_pipeline"

    def __init__(self, work, seed, threads, seconds):
        super().__init__(work, seed, threads, seconds)
        self.batch = BatchPipeline(work, seed, threads, seconds / 4)
        self.stream = StreamPipeline(work, seed, threads, seconds)

    def generate(self):
        self.batch.generate()
        self.stream.generate()

    def warm(self, spark):
        # the stream's warm-up query runs on its own thread beside the batch
        # warm-up pass: both are mostly single-threaded planning, code
        # generation and worker start-up, which overlap on separate cores
        query = self.stream.start_warm(spark)
        try:
            self.batch.warm(spark)
        finally:
            query.awaitTermination()

    def measure(self, spark, jvm_pid):
        b = self.batch.measure(spark, jvm_pid)
        s = self.stream.measure(spark, jvm_pid)
        return {
            "rows_per_s": b["rows_per_s"],
            "latencies": s["latencies"],
            "cpu_s": b["cpu_s"] + s["cpu_s"],
            "op_s": b["op_s"] + s["op_s"],
            "attempted": b["attempted"] + s["attempted"],
            "failed": b["failed"] + s["failed"],
            "backlog": s["detail"]["backlog"],
            "detail": {"batch": b["detail"], "stream": s["detail"]},
        }

    def trace(self, spark, tracer, jvm_pid):
        return {**self.batch.trace(spark, tracer, jvm_pid),
                **self.stream.trace(spark, tracer, jvm_pid)}


# -- registry_queries ---------------------------------------------------------


def _materialized(sql: str) -> str:
    """The minhash oracle with its all-pairs CTEs computed once. DuckDB
    inlines a CTE at every reference, so the brute-force pair join would
    otherwise run three times; the result is the same."""
    return sql.replace("d AS (", "d AS MATERIALIZED (", 1).replace(
        "\np AS (", "\np AS MATERIALIZED (", 1)


class RegistryQueries(ClosedLoop):
    """Registry queries outside the transcript path: minhash_dedup_cc over
    documents with planted near-duplicate clusters (shuffle, join and
    aggregate, no Python UDF, no write), then the module filesets, whose
    parsers have other shapes than the transcript grok bank."""

    name = "registry_queries"
    tables = ["documents", "events"]
    N_DOCS = 80  # the brute-force oracle is quadratic: 5 s at 150 docs
    N_EVENTS = 4_000  # log lines per module
    DEDUP = "minhash_dedup_cc"

    def generate(self):
        gen.write_table(gen.documents_table(self.seed, self.N_DOCS),
                        os.path.join(self.input, "documents.parquet"))
        gen.write_table(gen.events_table(self.seed, self.N_EVENTS, 200),
                        os.path.join(self.input, "events.parquet"))
        self.rows = self.N_DOCS + self.N_EVENTS * len(MODULE_QUERIES)

    def queries(self) -> list[str]:
        return [self.DEDUP, *MODULE_QUERIES.values()]

    def warm(self, spark):
        """The dedup on a second thread beside the modules: the cold pass
        is mostly single-threaded planning and code generation."""
        from concurrent.futures import ThreadPoolExecutor

        from beats_spark import queries as Q

        def run(names):
            for q in names:
                Q.QUERIES[q](spark, self.input).collect()

        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(run, [self.DEDUP]),
                       pool.submit(run, list(MODULE_QUERIES.values()))]
            for f in futures:
                f.result()

    def ops_per_pass(self):
        return len(self.queries())

    def run_pass(self, spark):
        from beats_spark import queries as Q

        outputs, lat = {}, []
        for q in self.queries():
            t0 = time.perf_counter()
            outputs[q] = spark_rows(Q.QUERIES[q](spark, self.input))
            lat.append(time.perf_counter() - t0)
        return outputs, lat

    def failures(self, outputs):
        from beats_spark import queries as Q

        o = self.oracle()
        try:
            want = {q: canon(o.rows(Q.ORACLES[q])) for q in MODULE_QUERIES.values()}
            want[self.DEDUP] = canon(o.rows(_materialized(Q.ORACLES[self.DEDUP])))
        finally:
            o.close()
        return sum(out is None or canon(out[q]) != want[q]
                   for out in outputs for q in self.queries())

    def trace_pass(self, spark, tracer):
        m = self._trace_dedup(spark, tracer)
        m.update(self._trace_modules(spark, tracer))
        return m

    def _trace_dedup(self, spark, tracer):
        from pyspark.sql import functions as F

        from beats_spark import queries as Q
        from beats_spark.dedup import minhash_lsh_pairs

        # the registry query's own input slice and parameters
        docs = spark.read.parquet(f"{self.input}/documents.parquet").where(
            F.col("doc_id") < 2000).where(F.col("text").isNotNull())
        pairs, w1 = tracer.span("dedup.minhash", lambda: minhash_lsh_pairs(
            docs, threshold=0.6, num_hashes=64, bands=64).collect())
        wall1 = tracer.spans[-1]["wall_s"]
        _, w2 = tracer.span("graph.cc", lambda: spark_rows(
            Q.QUERIES[self.DEDUP](spark, self.input)))
        # every candidate pair meets one shingle row in each verify join, so
        # the smallest join output is the candidate set
        joins = [m["number of output rows"] for n, m in w1.nodes
                 if n.endswith("Join") and "number of output rows" in m]
        cand = min(joins, default=0.0)
        return {
            "dedup.minhash.self_s": wall1,
            "dedup.minhash.candidates": cand,
            "dedup.minhash.verified_pairs": float(len(pairs)),
            "dedup.minhash.verify_yield": len(pairs) / cand if cand else 0.0,
            "dedup.minhash.shuffle_bytes": w1.stage_sum("shuffle_bytes"),
            "dedup.minhash.single_task_stage_s": sum(
                s["run_s"] for s in w2.stages if s["tasks"] == 1),
            "graph.cc.self_s": tracer.spans[-1]["wall_s"] - wall1,
            "graph.cc.jobs": float(len(w2.jobs) - len(w1.jobs)),
        }

    def _trace_modules(self, spark, tracer):
        from pyspark.sql import functions as F

        from beats_spark import queries as Q
        from beats_spark.operators import parse as P

        # remember each grok output and the struct column that is NULL
        # where it failed, so failures can be counted after the span; the
        # frames the program runs are left untouched
        groks = []
        real_grok, real_chain = P.grok, P.grok_chain

        def grok(df, *a, **kw):
            out = real_grok(df, *a, **kw)
            groks.append((out, kw.get("target_prefix", "grok")))
            return out

        def grok_chain(df, stages, *a, **kw):
            out = real_chain(df, stages, *a, **kw)
            groks.append((out, stages[0]["target"]))
            return out

        m: dict[str, float] = {}
        py = {"py_init_s": 0.0, "py_run_s": 0.0}
        P.grok, P.grok_chain = grok, grok_chain
        try:
            for short, q in MODULE_QUERIES.items():
                _, w = tracer.span(f"modules.{short}", lambda q=q: spark_rows(
                    Q.QUERIES[q](spark, self.input)))
                m[f"modules.{short}.self_s"] = tracer.spans[-1]["wall_s"]
                pm = w.python_metrics()
                for k in py:
                    py[k] += pm[k]
        finally:
            P.grok, P.grok_chain = real_grok, real_chain
        n = failed = 0
        for df, prefix in groks:
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.count_if(F.col(prefix).isNull()).alias("f")).collect()[0]
            n, failed = n + row["n"], failed + row["f"]
        m["modules.parsed_rows"] = float(n)
        m["modules.parse_fail_frac"] = failed / n if n else 0.0
        m["modules.py_init_s"] = py["py_init_s"]
        m["modules.py_run_s"] = py["py_run_s"]
        return m


WORKLOADS = {w.name: w for w in (TranscriptPipeline, RegistryQueries)}
