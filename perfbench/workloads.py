"""The benchmark's workloads.  Each drives the package only through its
public entry points and checks every output against `expected`.

A workload has four steps, called in this order by `run.py`:

- ``setup(ctx)``  stage seeded inputs and compute expected outputs;
- ``warm(ctx)``   one untimed pass, so JIT, Python-worker start and
                  first-batch costs land before the clock starts;
- ``op(ctx)``     one timed operation; returns an `Op`.  `run.py` repeats
                  it for --seconds and at least `min_ops` times;
- ``layers(ctx)`` traced runs only: returns (self times per layer, the
                  wall time they decompose, other per-layer readings).

A streaming workload also gives `job_windows()`, to label the jobs its
foreachBatch starts, and `folded_layers(folded)`, readings taken from the
folded event log.

Workloads whose outputs are files check them after the timed loop in
``verify(ctx)``; the others check each operation as it returns.

Sizes are set for a 4-core host; one `op` takes a few seconds.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

import duckdb

import datagen
import expected as X

GEN_ROWS = 200_000
WARM_CALLS = 3
TABLE_ROWS = 300_000
STREAM_FILES, STREAM_ROWS = 3, 20_000
LEAF_SF = 0.01
# the first pass over the leaves is cold (~3x a warm one) and the second
# still spends ~25% more CPU than the third (JIT); two warm passes put the
# timed ones past that slope
WARM_PASSES = 2
# Four of the heaviest declared queries, covering every module no other
# workload runs: operators.dedup (dd2's MinHash/LSH near-dup join; dd8 the
# semantic dedup), operators.similarity (dd8 clusters with sim4's k-means),
# functions.grok (gk2) and ottl (cm2).  pl7, dd7, sim4 and cm3 are left out
# so that a run, its cold pass included, fits the benchmark's time budget on
# 4 cores.
LEAVES = (
    "dd2_minhash_near_dups",
    "dd8_semantic_dedup",
    "gk2_grok_apache_log",
    "cm2_ottl_compiled_pipeline",
)


@dataclass
class Op:
    """One timed operation: its wall time, the input sequences it consumed,
    the latencies of the batches inside it, and its sub-operations counted
    for `attempted` / `failed`."""

    wall_s: float
    seqs: int
    batch_s: list[float]
    attempted: int
    failed: int = 0


def dir_bytes(path: str) -> int:
    """Bytes under `path`; files that vanish while it walks are skipped."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefix_self_times(ctx, prefixes: dict) -> tuple[dict[str, float], float]:
    """Materialize each prefix (name -> function returning its DataFrame,
    in chain order) with a noop sink inside its own span.  A layer's self time is its
    prefix's time minus the previous prefix's; returns the self times and
    the last prefix's time."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, build in prefixes.items():
        with ctx.tracer.span(name) as s:
            _noop(build())
        out[name] = s.dur - prev
        prev = s.dur
    return out, prev


def _timed_op(ctx, fn, *args) -> tuple[float, object]:
    """Wall time and result of `fn(*args)` inside the span "pass"; an
    exception is logged and returned as the result, so the caller counts it
    as a failed operation."""
    with ctx.tracer.span("pass"):
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:
            ctx.log(f"{fn.__name__}: {e!r}")
            out = e
    return time.perf_counter() - t0, out


def _corrupt(rows: dict[str, list[tuple]]) -> dict[str, list[tuple]]:
    """A deliberately wrong expectation for the self-check: one more log row."""
    return {**rows, "logs": [(rows["logs"][0][0] + 1,)]}


class GenCount:
    """`run_pipeline(spark, n)` in count-only mode on the generated source."""

    name = "gen_count"
    # the run's median is then never the first timed call, which still
    # spends ~10% more CPU than the later ones
    min_ops = 4

    def setup(self, ctx) -> None:
        from liatrio_otel_collector_spark.sources.sequences import duckdb_sequences_cte

        self.n = ctx.scaled(GEN_ROWS) + 8 * (ctx.seed % 1000)
        seq_sql = f"WITH {duckdb_sequences_cte(self.n)} SELECT * FROM sequences"
        rows = X.sink_rows(duckdb.connect(), seq_sql)
        self.expected = X.sink_counts(_corrupt(rows) if ctx.corrupt else rows)

    def warm(self, ctx) -> None:
        from liatrio_otel_collector_spark.plans.pipeline import run_pipeline

        # the first full-size calls still speed up call over call (JIT);
        # three of them bring the timed calls close to a steady rate
        for _ in range(WARM_CALLS):
            run_pipeline(ctx.spark, self.n)

    def op(self, ctx) -> Op:
        from liatrio_otel_collector_spark.plans.pipeline import run_pipeline

        wall, counts = _timed_op(ctx, run_pipeline, ctx.spark, self.n)
        if isinstance(counts, Exception):
            return Op(wall, self.n, [wall], len(self.expected), len(self.expected))
        failed = sum(counts.get(k) != v for k, v in self.expected.items())
        return Op(wall, self.n, [wall], len(self.expected), failed)

    def layers(self, ctx):
        """Self times of the prefix chain sequences -> parse_stage ->
        enrich_stage -> build_enriched -> run_pipeline, each prefix
        materialized with a noop sink; a layer's self time is its prefix
        minus the prefix before it.  The last two come from
        `run_pipeline(timings=...)`."""
        from liatrio_otel_collector_spark.plans.pipeline import (
            build_enriched, enrich_stage, parse_stage, run_pipeline,
        )
        from liatrio_otel_collector_spark.sources.sequences import enrich_dim, sequences

        spark, n = ctx.spark, self.n
        prefixes = {
            "sources.sequences.gen_s": lambda: sequences(spark, n),
            "functions.tokens.parse_s": lambda: parse_stage(sequences(spark, n)),
            "plans.pipeline.enrich_s": lambda: enrich_stage(
                parse_stage(sequences(spark, n)), enrich_dim(spark)),
            "plans.pipeline.exchange_s": lambda: build_enriched(spark, n),
        }
        samples: dict[str, list[float]] = {}
        for _ in range(2):
            timings: dict[str, float] = {}
            with ctx.tracer.span("chain"):
                layer, prev = _prefix_self_times(ctx, prefixes)
                with ctx.tracer.span("plans.pipeline.run_pipeline") as run:
                    run_pipeline(spark, n, timings=timings)
            layer["plans.pipeline.stage_write_s"] = timings["parse_enrich_stage_write_sec"] - prev
            layer["plans.pipeline.route_aggregate_s"] = timings["route_aggregate_sinks_sec"]
            layer["wall"] = run.dur
            for k, v in layer.items():
                samples.setdefault(k, []).append(v)
        med = {k: statistics.median(v) for k, v in samples.items()}
        return med, med.pop("wall"), {}


class TableSinks:
    """`run_pipeline` over a seeded skewed table with every sink written.

    One row in ten carries its markers off positions 0-2.  The package's
    default parse reads only the 3-token head, so those rows parse
    differently from the full-array contract; the checks count that as failed
    sinks and `functions.tokens.misparsed_rows` counts the rows."""

    name = "table_sinks"
    min_ops = 1

    def setup(self, ctx) -> None:
        self.rows = ctx.scaled(TABLE_ROWS)
        self.table = os.path.join(ctx.scratch, "table_T")
        datagen.write_skewed_table(self.table, ctx.seed, self.rows)
        con = duckdb.connect()
        seq_sql = f"SELECT * FROM read_parquet('{self.table}/*.parquet')"
        rows = X.sink_rows(con, seq_sql)
        self.expected = _corrupt(rows) if ctx.corrupt else rows
        self.misparsed = X.misparsed_rows(con)
        self.outputs: list[tuple[str, dict[str, int]]] = []

    def _run(self, ctx, out_dir: str) -> dict[str, int]:
        from liatrio_otel_collector_spark.plans.pipeline import PipelineConfig, run_pipeline

        source = ctx.spark.read.parquet(self.table)
        return run_pipeline(ctx.spark, self.rows, PipelineConfig(output_dir=out_dir),
                            source_df=source)

    def warm(self, ctx) -> None:
        self._run(ctx, os.path.join(ctx.scratch, "table_warm"))

    def op(self, ctx) -> Op:
        out_dir = os.path.join(ctx.scratch, f"table_out_{len(self.outputs)}")
        wall, counts = _timed_op(ctx, self._run, ctx, out_dir)
        if isinstance(counts, Exception):
            return Op(wall, self.rows, [wall], len(self.expected), len(self.expected))
        self.outputs.append((out_dir, counts))
        return Op(wall, self.rows, [wall], 0)

    def verify(self, ctx) -> tuple[int, int]:
        """Each sink of each run is one operation: it fails when its rows
        differ from the full-array contract, when the returned count differs
        from what was written, or when its `_lineage` total does not
        reconcile with the written rows."""
        con = duckdb.connect()
        attempted = failed = 0
        for out_dir, counts in self.outputs:
            for name, want in self.expected.items():
                got = X.written_rows(con, os.path.join(out_dir, name), name)
                n_written = got[0][0] if name in ("logs", "traces") else len(got)
                lineage = X.lineage_total(con, os.path.join(out_dir, "_lineage", name))
                attempted += 1
                failed += got != want or counts.get(name) != n_written or lineage != n_written
        return attempted, failed

    def layers(self, ctx):
        """Prefix self times as in GenCount, from a scan of T; then sink
        writes and lineage manifests timed apart over one staged copy of the
        enriched frame."""
        from pyspark.sql import functions as F

        from liatrio_otel_collector_spark.plans.lineage import lineage_manifest
        from liatrio_otel_collector_spark.plans.pipeline import (
            PipelineConfig, build_enriched, build_pipeline, enrich_stage, parse_stage, run_pipeline,
        )
        from liatrio_otel_collector_spark.sources.sequences import enrich_dim

        spark, cfg = ctx.spark, PipelineConfig()
        src = spark.read.parquet(self.table)
        prefixes = {
            "sources.table.scan_s": lambda: src,
            "functions.tokens.parse_s": lambda: parse_stage(src),
            "plans.pipeline.enrich_s": lambda: enrich_stage(parse_stage(src), enrich_dim(spark)),
            "plans.pipeline.exchange_s": lambda: build_enriched(spark, self.rows, cfg, src),
        }
        timings: dict[str, float] = {}
        with ctx.tracer.span("chain"):
            out, prev = _prefix_self_times(ctx, prefixes)
            with ctx.tracer.span("plans.pipeline.run_pipeline") as run:
                run_pipeline(spark, self.rows, PipelineConfig(output_dir=os.path.join(
                    ctx.scratch, "table_traced")), source_df=src, timings=timings)
        out["plans.pipeline.stage_write_s"] = timings["parse_enrich_stage_write_sec"] - prev
        out["plans.pipeline.route_aggregate_sinks_s"] = timings["route_aggregate_sinks_sec"]

        stage = os.path.join(ctx.scratch, "table_stage")
        build_enriched(spark, self.rows, cfg, src).write.parquet(stage)
        sinks = build_pipeline(spark, self.rows, cfg, enriched=spark.read.parquet(stage))
        with ctx.tracer.span("plans.pipeline.sink_write_s") as w:
            for name, df in sinks.items():
                writer = df.write.mode("overwrite")
                if name in ("logs", "traces"):
                    writer = writer.partitionBy("source")
                writer.parquet(os.path.join(ctx.scratch, "table_sinks_only", name))
        with ctx.tracer.span("plans.lineage.manifest_s") as m:
            for name, df in sinks.items():
                _noop(lineage_manifest(df, name))
        per_part = build_enriched(spark, self.rows, cfg, src).groupBy(
            F.spark_partition_id()).count().collect()
        sizes = sorted(r["count"] for r in per_part)
        extra = {
            "plans.pipeline.sink_write_s": w.dur,
            "plans.lineage.manifest_s": m.dur,
            "plans.pipeline.exchange_partition_skew": sizes[-1] / statistics.median(sizes),
            "plans.pipeline.sink_bytes": dir_bytes(os.path.join(ctx.scratch, "table_sinks_only")),
            "plans.pipeline.stage_bytes": dir_bytes(stage),
            "functions.tokens.misparsed_rows": self.misparsed,
        }
        return out, run.dur, extra


class StreamDrain:
    """`start_stream(available_now=True)` over seeded parquet files, one file
    per micro-batch (maxFilesPerTrigger=1): a closed-loop catch-up drain.
    Each batch is below `stage_threshold_rows`, so the persist fan-out runs."""

    name = "stream_drain"
    min_ops = 1

    def setup(self, ctx) -> None:
        self.rows = ctx.scaled(STREAM_ROWS)
        self.input = os.path.join(ctx.scratch, "stream_in")
        datagen.write_stream_files(self.input, ctx.seed, STREAM_FILES, self.rows)
        self.warm_input = os.path.join(ctx.scratch, "stream_warm_in")
        datagen.write_stream_files(self.warm_input, ctx.seed + 1, 1, self.rows // 4)
        con = duckdb.connect()
        self.expected = []
        for k in range(STREAM_FILES):
            rows = X.sink_rows(con, f"SELECT * FROM read_parquet('{self.input}/part-{k:03d}.parquet')")
            self.expected.append(_corrupt(rows) if ctx.corrupt and k == 0 else rows)
        self.drains: list[tuple[str, str, list]] = []

    def _drain(self, ctx, input_dir: str, tag: str):
        from liatrio_otel_collector_spark.streaming.job import StreamingConfig, start_stream

        out = os.path.join(ctx.scratch, f"stream_out_{tag}")
        cfg = StreamingConfig(input_dir=input_dir, output_dir=out,
                              checkpoint_dir=os.path.join(ctx.scratch, f"stream_ckpt_{tag}"))
        q = start_stream(ctx.spark, cfg, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        return out, str(q.id), progress

    def warm(self, ctx) -> None:
        self.warm_drain = self._drain(ctx, self.warm_input, "warm")

    def op(self, ctx) -> Op:
        wall, drained = _timed_op(ctx, self._drain, ctx, self.input, str(len(self.drains)))
        if isinstance(drained, Exception):
            return Op(wall, STREAM_FILES * self.rows, [], STREAM_FILES, STREAM_FILES)
        out, qid, progress = drained
        self.drains.append((out, qid, progress))
        batches = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        return Op(wall, STREAM_FILES * self.rows, batches, 0)

    def verify(self, ctx) -> tuple[int, int]:
        """Each micro-batch is one operation.  Its sinks must equal the
        expected rows of the file it read (found from the ids in its logs
        sink); its `_lineage/_input` and `_metrics` rows must count that
        file; its row-sink lineage totals must equal the written rows."""
        con = duckdb.connect()
        attempted = failed = 0
        for out, _, progress in self.drains:
            seen = set()
            for p in progress:
                attempted += 1
                try:
                    ok = self._check_batch(con, out, p.batchId, seen)
                except Exception as e:  # e.g. a batch that wrote no logs partition
                    ctx.log(f"batch {p.batchId} of {out}: {e!r}")
                    ok = False
                failed += not ok
            failed += STREAM_FILES - len(seen)  # a file no batch read
            attempted += STREAM_FILES - len(seen)
        return attempted, failed

    def _check_batch(self, con, out: str, b: int, seen: set) -> bool:
        part = f"batch_id={b}"
        lo = con.sql(f"SELECT min(id) FROM read_parquet('{out}/logs/{part}/*.parquet')").fetchall()[0][0]
        k = int(lo) // self.rows
        ok = 0 <= k < STREAM_FILES and k not in seen
        seen.add(k)
        if ok:
            for name, want in self.expected[k].items():
                ok &= X.written_rows(con, os.path.join(out, name, part), name) == want
            ok &= X.lineage_total(con, os.path.join(out, "_lineage", "_input", part)) == self.rows
            for name in ("logs", "traces"):
                ok &= X.lineage_total(con, os.path.join(out, "_lineage", name, part)) == \
                    self.expected[k][name][0][0]
            ok &= con.sql(
                f"SELECT input_rows FROM read_parquet('{out}/_metrics/*.parquet') "
                f"WHERE batch_id = {b}").fetchall() == [(self.rows,)]
        return ok

    def job_windows(self) -> list[tuple[str, int, int]]:
        """Each micro-batch's trigger window in epoch ms, labelled like the
        tracer's spans ("warm/..." or "pass/...")."""
        from datetime import datetime

        out = []
        for phase, drains in (("warm", [self.warm_drain]), ("pass", self.drains)):
            for _, qid, progress in drains:
                for p in progress:
                    lo = int(datetime.fromisoformat(p.timestamp).timestamp() * 1e3)
                    out.append((f"{phase}/query={qid}/batch={p.batchId}", lo,
                                lo + p.durationMs["triggerExecution"]))
        return out

    @staticmethod
    def folded_layers(folded) -> dict[str, float]:
        return {"streaming.job.spark_jobs_per_batch": statistics.median(
            v["jobs"] for k, v in folded.items() if k.startswith("pass/query="))}

    def layers(self, ctx):
        """The trigger's durationMs breakdown per steady batch (batch 0 is
        reported apart as the first batch).  Input rows are the rows staged;
        numInputRows over them is the scan amplification."""
        steady = [p for _, _, prog in self.drains for p in prog if p.batchId > 0]
        keys = sorted({k for p in steady for k in p.durationMs} - {"triggerExecution"})
        out = {f"streaming.job.{k}_s": statistics.median(p.durationMs.get(k, 0) for p in steady) / 1e3
               for k in keys}
        every = [p for _, _, prog in self.drains for p in prog]
        extra = {
            "streaming.job.trigger_overhead_s": statistics.median(
                p.durationMs["triggerExecution"] - p.durationMs["addBatch"] for p in steady) / 1e3,
            "streaming.job.first_batch_s": statistics.median(
                p.durationMs["triggerExecution"] for p in every if p.batchId == 0) / 1e3,
            "streaming.job.scan_amplification": statistics.median(
                p.numInputRows / self.rows for p in every),
        }
        wall = statistics.median(p.durationMs["triggerExecution"] for p in steady) / 1e3
        return out, wall, extra


class _Collected:
    """Rows already collected from a leaf, in the shape `oracle.compare`
    reads (`columns`, `collect()`), so the check reuses the timed result."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


class HeavyLeaves:
    """Heavy declared queries over seeded tables.  Each pass collects every
    leaf's full result (every column, so pruning cannot skip work); after the
    clock stops, the timed passes' results are checked against the leaves'
    DuckDB oracles."""

    name = "heavy_leaves"
    # at least three passes, so each leaf's time is a median of three
    min_ops = 3

    def setup(self, ctx) -> None:
        from liatrio_otel_collector_spark import oracle

        self.sf_dir = os.path.join(ctx.scratch, "leaves", f"sf{LEAF_SF}")
        sizes = datagen.write_leaf_tables(self.sf_dir, ctx.seed, LEAF_SF)
        # input rows per pass: dd2 reads the documents, dd8 the embeddings,
        # gk2 and cm2 the events
        self.seqs = sizes["documents"] + sizes["embeddings"] + 2 * sizes["events"]
        self.con = oracle.duckdb_connection(self.sf_dir)
        self.leaf_s: dict[str, list[float]] = {q: [] for q in LEAVES}
        self.pass_s: list[float] = []
        self.results: list[dict[str, _Collected]] = []

    def warm(self, ctx) -> None:
        from liatrio_otel_collector_spark.entry_queries import QUERIES

        for _ in range(WARM_PASSES):
            for q in LEAVES:
                _Collected(QUERIES[q](ctx.spark, self.sf_dir))

    def op(self, ctx) -> Op:
        from liatrio_otel_collector_spark.entry_queries import QUERIES

        results: dict[str, _Collected | None] = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            for q in LEAVES:
                with ctx.tracer.span(f"entry_queries.{q}") as s:
                    try:
                        results[q] = _Collected(QUERIES[q](ctx.spark, self.sf_dir))
                    except Exception as e:  # a leaf that raises is a failed operation
                        ctx.log(f"{q}: {e!r}")
                        results[q] = None
                self.leaf_s[q].append(s.dur)
        wall = time.perf_counter() - t0
        self.pass_s.append(wall)
        self.results.append(results)
        return Op(wall, self.seqs, [], 0)

    def summary(self) -> tuple[float, float]:
        """(seq_per_s, batch_p50_s) for the run: a pass is summarized by the
        sum of the leaves' median times over the timed passes."""
        pass_s = sum(statistics.median(v) for v in self.leaf_s.values())
        return self.seqs / pass_s, pass_s

    def verify(self, ctx) -> tuple[int, int]:
        """Each leaf of each timed pass is one operation; it fails when it
        raised or its rows differ from its oracle's.  A leaf's oracle runs
        once: `oracle.compare` checks its first pass, and each later pass
        must return the same normalized rows as a pass that matched."""
        from liatrio_otel_collector_spark import oracle
        from liatrio_otel_collector_spark.entry_queries import ORACLES

        attempted = failed = 0
        for i, q in enumerate(LEAVES):
            sql = ORACLES[q]
            if ctx.corrupt and i == 0:
                sql = f"SELECT * FROM ({sql}) OFFSET 1"
            matched = None  # normalized rows of a pass that matched the oracle
            for results in self.results:
                got = results[q]
                if got is None:
                    ok = False
                elif matched is None:
                    try:
                        ok, msg = oracle.compare(got, self.con, sql)
                    except Exception as e:  # the oracle itself failed
                        ok, msg = False, repr(e)
                    if ok:
                        matched = oracle.normalize_rows(got.collect(), got.columns)
                    else:
                        ctx.log(f"{q}: {msg}")
                else:
                    ok = oracle.normalize_rows(got.collect(), got.columns) == matched
                attempted += 1
                failed += not ok
        return attempted, failed

    def layers(self, ctx):
        out = {f"entry_queries.{q}_s": statistics.median(v) for q, v in self.leaf_s.items()}
        return out, statistics.median(self.pass_s), {}


WORKLOADS = {w.name: w for w in (GenCount, TableSinks, StreamDrain, HeavyLeaves)}
