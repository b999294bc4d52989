"""The benchmark's workloads.

Both are closed loops with one client: a cycle starts when the previous
one has finished. Every cycle first frees the engine's session caches
and Spark's cache (new data has arrived), then runs its steps in order;
a step calls its registered query builder and then an action. The first
cycles of a run are an untimed warm-up that pays JIT and codegen.

- ``signal_refresh``, the nightly refresh: the action keeps a seeded
  trailing window of dates through ``Warehouse.execute_query`` and
  MERGEs it into the warehouse with ``Warehouse.upsert`` on the step's
  output grain. The first warm-up cycle seeds the warehouse with
  ``write_table`` instead.
- ``corpus_refresh``, the document pipeline: the action collects the
  op's rows, as a reader of its output would.

The layer of a step is the engine package its builder lives in
(``operators``, ``signals``, ``plans``, ``text`` or ``similarity``).
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

from economic_data_project_spark import caches, registry
from economic_data_project_spark.sources.warehouse import Warehouse

from . import gen
from .checks import compare, duckdb_connect, oracle_rows
from .spans import MB, Tracer

#: JIT compilation keeps speeding cycles up for several passes; two
#: untimed cycles leave the timed ones on the flatter part of the curve.
WARMUP_CYCLES = 2

#: The trailing window a cycle re-derives and upserts, in days before
#: the newest ship date; each cycle after the seeding one draws its own.
WINDOW_DAYS = (30, 90)


def layer_of(query: str) -> str:
    """``economic_data_project_spark.<layer>.<module>`` -> ``<layer>``."""
    return registry.QUERIES[query].__module__.split(".")[1]


@dataclass
class Run:
    """State that the phases of one workload run share."""

    spark: object
    src: str  # directory of the generated input tables
    wh: Warehouse
    seed: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: (cycle index, query or "free", seconds), traced or not
    step_times: list[tuple[int, str, float]] = field(default_factory=list)
    #: (op, query, (columns, rows)) of every collect, for the check
    outputs: list[tuple[str, str, tuple]] = field(default_factory=list)

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.problems.append(f"{op}: {why}")
        print(f"perfbench: FAILED {op}: {why}", file=sys.stderr)


class Refresh:
    name = ""
    steps: tuple[str, ...] = ()  # registered query names, in cycle order

    def cycle(self, run: Run, i: int) -> None:
        """Cycle ``i`` of the run; the first ``WARMUP_CYCLES`` are the
        untimed warm-up."""
        tr = run.tracer
        tag = f"w{i}" if i < WARMUP_CYCLES else f"c{i - WARMUP_CYCLES}"
        with tr.span("cycle", "bench", tag, leaf=False):
            t = time.perf_counter()
            free_caches(run)
            run.step_times.append((i, "free", time.perf_counter() - t))
            for query in self.steps:
                op = f"{tag}/{query}"
                run.attempted += 1
                t = time.perf_counter()
                try:
                    with tr.span("build", layer_of(query), op):
                        df = registry.QUERIES[query](run.spark, run.src)
                    self.act(run, query, op, df, i)
                except Exception:
                    traceback.print_exc()
                    run.fail(op, "raised")
                run.step_times.append((i, query, time.perf_counter() - t))

    def act(self, run: Run, query: str, op: str, df, i: int) -> None:
        raise NotImplementedError

    def check(self, run: Run) -> None:
        """Compare the outputs with the DuckDB oracles; a mismatch fails
        its op. Runs after the timed cycles."""
        raise NotImplementedError

    def rows_upserted(self, run: Run) -> dict[int, int]:
        """Rows each traced upsert merged, by span id."""
        return {}


def free_caches(run: Run) -> None:
    """Free the engine's session caches, then Spark's cache. A traced
    free records what it released: the registry's entry count and the
    storage Spark held."""
    tr, spark = run.tracer, run.spark
    held = tr.enabled and {
        "entries": len(caches._SESSION_CACHES) + len(caches._SESSION_CHECKPOINTS),
        "stored_mb": stored_mb(spark),
    }
    with tr.span("free_session_caches", "caches") as s:
        caches.free_session_caches()
    if s is not None:
        s.attrs.update(held)
    with tr.span("clear_cache", "caches"):
        spark.catalog.clearCache()


def stored_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def window_start(seed: int, i: int) -> date:
    """First day of the trailing window cycle ``i`` refreshes; the
    seeding cycle 0 writes everything older than the shortest window."""
    days = WINDOW_DAYS[0]
    if i:
        days = np.random.default_rng([seed, i]).integers(
            WINDOW_DAYS[0], WINDOW_DAYS[1] + 1
        )
    return gen.LAST_SHIPDATE - timedelta(days=int(days))


class SignalRefresh(Refresh):
    name = "signal_refresh"
    #: Each step's output grain, the upsert's MERGE keys. Every output
    #: is dated by ``d``, the column the trailing window is cut on.
    keys = {
        "rolling_stats": ("flag", "d"),
        "signal_fear_greed": ("d",),
        "signal_chain_events": ("flag", "d", "indicator_name", "signal_name"),
    }
    steps = tuple(keys)

    def act(self, run: Run, query: str, op: str, df, i: int) -> None:
        """Cycle 0 writes the rows before the shortest window; later
        cycles upsert the rows inside their window, so cycle 1 inserts
        rows and later ones replace them."""
        tr = run.tracer
        since = window_start(run.seed, i)
        newer = i > 0
        with tr.span("execute_query", "warehouse", op):
            rows = self.select(run, query, df, since, newer)
        if not newer:
            with tr.span("write_table", "warehouse", op):
                run.wh.write_table(rows, query)
            return
        with tr.span("upsert", "warehouse", op) as s:
            run.wh.upsert(rows, query, list(self.keys[query]))
        if s is not None:
            s.attrs.update(op_layer=layer_of(query), query=query, since=str(since))

    def select(self, run: Run, query: str, df, since: date, newer: bool):
        """The step's rows from ``since`` on (or before it), selected
        through the warehouse's parameterized read API."""
        view = f"perfbench_{query}"
        df.createOrReplaceTempView(view)
        op = ">=" if newer else "<"
        return run.wh.execute_query(
            f"SELECT * FROM {view} WHERE d {op} @since", {"since": since}
        )

    def check(self, run: Run) -> None:
        """Each warehouse table must equal its step's full oracle
        result: the upserts inserted, replaced and kept the right rows."""
        con = duckdb_connect(run.src)
        for query in self.steps:
            op = f"check/{query}"
            path = run.wh.table_path(query)
            left = [p for p in (path + "__staging", path + "__old") if os.path.exists(p)]
            if left:
                run.fail(op, f"upsert left {left} behind")
                continue
            try:
                got = oracle_rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
            except Exception as e:  # duckdb.Error: table missing or unreadable
                run.fail(op, f"unreadable warehouse table: {e}")
                continue
            why = compare(got, oracle_rows(con, registry.ORACLES[query]))
            if why:
                run.fail(op, why)

    def rows_upserted(self, run: Run) -> dict[int, int]:
        """Counted in the final tables, which hold every cycle's window
        unchanged once the check has passed."""
        con = duckdb_connect(run.src)
        out = {}
        for s in run.tracer.spans:
            if s.name == "upsert" and "query" in s.attrs:
                path = run.wh.table_path(s.attrs["query"])
                out[s.id] = con.execute(
                    f"SELECT count(*) FROM read_parquet('{path}/*.parquet')"
                    f" WHERE d >= DATE '{s.attrs['since']}'"
                ).fetchone()[0]
        return out


class CorpusRefresh(Refresh):
    name = "corpus_refresh"
    steps = (
        "doc_chunks",
        "doc_tfidf_topterms",
        "fts_postings_index",
        "dedup_semantic_semdedup",
        "ann_ivf_topk",
    )

    def act(self, run: Run, query: str, op: str, df, i: int) -> None:
        layer = layer_of(query)
        with run.tracer.span("collect", layer, op) as s:
            rows = [tuple(r) for r in df.collect()]
        if s is not None:
            s.attrs["op_layer"] = layer
        run.outputs.append((op, query, (df.columns, rows)))

    def check(self, run: Run) -> None:
        """Every cycle's collected rows, warm-up included, against the
        op's oracle."""
        con = duckdb_connect(run.src)
        want = {q: oracle_rows(con, registry.ORACLES[q]) for q in self.steps}
        for op, query, got in run.outputs:
            why = compare(got, want[query])
            if why:
                run.fail(op, why)


WORKLOADS = {w.name: w for w in (SignalRefresh(), CorpusRefresh())}
