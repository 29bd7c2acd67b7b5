"""The benchmark's workloads.

A workload runs in passes. A pass is a fixed list of operations issued
by one client in a closed loop: each operation starts only after the
previous one has finished. Every operation's output is checked against
the seed's expectation after its timed interval.

* ``curate``: construction-heavy curation queries over ``documents``;
  almost all of their wall is spent building the query, where eager
  ``materialize`` jobs and operator pipelines run.
* ``ingest``: the documents as single-file micro-batches drained
  through ``streaming.line_dedup_stream`` from empty state, the only
  workload that writes (versioned seen-set state, ``meta.json``). It
  never calls ``materialize``: the no-change control for cuts on the
  ``curate`` side.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import layertrace


@dataclass
class Context:
    """What a workload needs from the run: the session, the seed's
    tables, a scratch directory and the (possibly disabled) tracer."""
    spark: object
    workload: str
    sf_dir: Path
    rows: dict[str, int]
    work: Path
    cache: Path
    rec: layertrace.Recorder  # enabled only on traced passes

    def phase(self, op: str, phase: str, pass_no: int) -> None:
        if self.rec.enabled:
            self.spark.sparkContext.setJobGroup(
                f"{self.workload}:{op}:{phase}:{pass_no}", phase)


@dataclass
class PassResult:
    wall: float = 0.0
    latencies: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rows: int = 0


class QueryMix:
    """A fixed list of registry queries, each built and collected once
    per pass. ``queries`` maps each query to the tables it reads."""

    def __init__(self, queries: dict[str, tuple[str, ...]]):
        self.queries = queries
        self.expected: dict[str, tuple] = {}

    def prepare(self, ctx: Context) -> None:
        self.expected = inputs.oracle_expectations(
            list(self.queries), ctx.sf_dir, ctx.cache)

    def run_pass(self, ctx: Context, pass_no: int) -> PassResult:
        from myhadoop_spark import registry
        from myhadoop_spark.oracle import canon_rows, compare

        res = PassResult()
        for name in self.queries:
            fn = registry.get(name).fn
            res.attempted += 1
            try:
                with ctx.rec.op(name) as op:
                    t0 = time.perf_counter()
                    ctx.phase(name, "build", pass_no)
                    with ctx.rec.span("queries.build"):
                        df = fn(ctx.spark, str(ctx.sf_dir))
                    ctx.phase(name, "action", pass_no)
                    with ctx.rec.span("action"):
                        rows = df.collect()
                    res.latencies[name] = time.perf_counter() - t0
                if op is not None:
                    op.plan = layertrace.plan_phases(df)
                ok, notes = compare(*canon_rows(df.columns, [tuple(r) for r in rows]),
                                    *self.expected[name])
            except Exception:  # noqa: BLE001 - a failed query is counted, the run goes on
                traceback.print_exc()
                ok, notes = False, ["raised"]
            if not ok:
                res.failed += 1
                print(f"FAIL {name} pass {pass_no}: {'; '.join(notes[:3])}",
                      flush=True)
            res.rows += sum(ctx.rows[t] for t in self.queries[name])
        # the pass's timed intervals only: output checks stay outside
        res.wall = sum(res.latencies.values())
        return res


class Ingest:
    """The documents, in the seed's row order, split into ``batches``
    single-file micro-batches and drained through the line-dedup stream
    (``availableNow``, one file per trigger) from empty state."""

    SCHEMA = "doc_id long, text string"
    WORDS_PER_LINE = 3

    def __init__(self, batches: int):
        self.batches = batches
        self.src: Path | None = None
        self.expected: tuple[dict, set] = ({}, set())
        self.input_bytes = 0
        self.batch_rows = 0

    def prepare(self, ctx: Context) -> None:
        docs = pq.read_table(ctx.sf_dir / "documents.parquet",
                             columns=["doc_id", "text"]).to_pylist()
        per = -(-len(docs) // self.batches)
        parts = [[(d["doc_id"], d["text"]) for d in docs[i:i + per]]
                 for i in range(0, len(docs), per)]
        self.src = ctx.work / "ingest_src"
        self.src.mkdir(parents=True)
        stamp = time.time() - 3600
        for b, part in enumerate(parts):
            path = self.src / f"batch-{b:03d}.parquet"
            pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in part], pa.int64()),
                                     "text": pa.array([t for _, t in part], pa.string())}),
                           path)
            # the file source orders files by modification time
            os.utime(path, (stamp + b, stamp + b))
            self.input_bytes += path.stat().st_size
        self.batch_rows = len(docs)
        self.expected = inputs.line_dedup_expectation(parts, self.WORDS_PER_LINE)

    def _state_bytes_hook(self, op):
        counted: set[str] = set()

        def hook(spark, path, payload):
            # meta.json is written right after the new seen version and
            # before old versions are swept: count each version once
            root = Path(path).parent
            for d in root.glob("seen_v*"):
                if d.name not in counted:
                    counted.add(d.name)
                    op.state_bytes += sum(f.stat().st_size for f in d.rglob("*")
                                          if f.is_file())
            op.state_bytes += len(payload.encode())
        return hook

    def run_pass(self, ctx: Context, pass_no: int) -> PassResult:
        from myhadoop_spark.operators.line_filter import word_lines
        from myhadoop_spark.streaming.line_dedup_stream import start_line_dedup_stream

        res = PassResult(attempted=1, rows=self.batch_rows)
        state = ctx.work / f"ingest_state_{pass_no}"
        ckpt = ctx.work / f"ingest_ckpt_{pass_no}"
        query = None
        try:
            with ctx.rec.op("drain") as op:
                if op is not None:
                    op.input_bytes = self.input_bytes
                    ctx.rec.hooks["fsutil.write_small_file"] = self._state_bytes_hook(op)
                t0 = time.perf_counter()
                with ctx.rec.span("streaming.drain"):
                    stream = (ctx.spark.readStream.schema(self.SCHEMA)
                              .option("maxFilesPerTrigger", 1)
                              .parquet(str(self.src))
                              .withColumn("_l", word_lines("text", self.WORDS_PER_LINE)))
                    query = start_line_dedup_stream(stream, path=str(state),
                                                    checkpoint=str(ckpt),
                                                    lines_col_name="_l")
                    if not query.awaitTermination(150):
                        raise TimeoutError("ingest drain did not finish")
                res.wall = time.perf_counter() - t0
            progress = {p["batchId"]: p for p in query.recentProgress
                        if p.get("numInputRows", 0) > 0}
            for b, p in sorted(progress.items()):
                res.latencies[f"batch{b}"] = p["durationMs"]["triggerExecution"] / 1000
            if op is not None:
                op.progress = list(progress.values())
                op.versions_live = len(list(state.glob("seen_v*")))
            ok = self._check(state, len(progress))
        except Exception:  # noqa: BLE001 - a failed drain is counted, the run goes on
            traceback.print_exc()
            ok = False
        finally:
            if query is not None and query.isActive:
                query.stop()
            ctx.rec.hooks.pop("fsutil.write_small_file", None)
        if not ok:
            res.failed = 1
            print(f"FAIL ingest pass {pass_no}", flush=True)
        shutil.rmtree(state, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        return res

    def _check(self, state: Path, n_batches: int) -> bool:
        clean, seen = self.expected
        if n_batches != self.batches:
            print(f"ingest: {n_batches} batches, expected {self.batches}")
            return False
        got = pq.read_table(state / "clean",
                            columns=["batch_id", "doc_id", "clean_text"]).to_pylist()
        got_clean = {(int(r["batch_id"]), r["doc_id"]): r["clean_text"] for r in got}
        last = max(int(d.name[len("seen_v"):]) for d in state.glob("seen_v*"))
        got_seen = set(pq.read_table(state / f"seen_v{last}").column("key").to_pylist())
        if len(got) != len(got_clean) or got_clean != clean:
            print(f"ingest: clean output differs ({len(got)} rows, expected {len(clean)})")
            return False
        if got_seen != seen:
            print(f"ingest: seen set differs ({len(got_seen)} keys, expected {len(seen)})")
            return False
        return True


WORKLOADS = {
    "curate": lambda: QueryMix({"curate_lines": ("documents",)}),
    "ingest": lambda: Ingest(batches=3),
}
