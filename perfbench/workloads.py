"""The benchmark's workloads.

Each workload has these phases, driven by ``run.py``:

- ``prepare`` writes the seeded inputs (no Spark yet) and returns their
  properties;
- ``warm`` is the workload's part of set-up: it warms the input tables or
  builds the service, on a fresh session;
- ``op`` runs one operation — a report cycle or one API request — through
  the engine's public functions and returns an :class:`OpResult`; its
  ``post`` step, if any, runs after the operation's clock has stopped;
- ``check`` verifies the outputs after the timed window;
- ``end_to_end``, ``layers`` and ``engine_s`` turn the recorded operations
  into metrics.

Every call into an engine module goes through ``tracer.call``, which gives
it a Spark job group and, in traced operations, a span named after the
module's public function.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
from typing import Callable

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import api
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.service import (
    CleaningService,
    clean_texts_df,
)
from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources import sinks, tables

import gen
from mirror import rows_digest
from spans import duration


@dataclasses.dataclass
class OpResult:
    rows: int  # input rows (trips, texts) the operation processed
    info: dict = dataclasses.field(default_factory=dict)
    post: Callable[[], None] | None = None  # bookkeeping outside the clock


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _spans(tracer, op: int, name: str) -> list[dict]:
    return [s for s in tracer.spans if s.get("op") == op and s["name"] == name]


def _calls(tracer, op: int, name: str, **attrs) -> list[dict]:
    return [
        c for c in tracer.calls
        if c["op"] == op and c["name"] == name and all(c.get(k) == v for k, v in attrs.items())
    ]


def _count(tracer, ops, name: str, key: str, **attrs) -> float:
    """Median over operations of one job count, summed over the
    operation's calls named ``name`` (operations without such a call are
    left out)."""
    vals = []
    for o in ops:
        calls = _calls(tracer, o["op"], name, **attrs)
        if calls:
            vals.append(sum(c["counts"][key] for c in calls))
    return _median(vals)


def _share(tracer, traced, name: str) -> float:
    """Median over traced operations of the share of the operation's wall
    time spent in calls named ``name``."""
    shares = []
    for o in traced:
        (op,) = _spans(tracer, o["op"], "op")
        shares.append(sum(duration(s) for s in _spans(tracer, o["op"], name)) / duration(op))
    return _median(shares)


def _failed_tasks(tracer, name: str) -> int:
    return sum(c["counts"]["failed_tasks"] for c in tracer.calls if c["name"] == name and c["counts"])


# the oracles' master-stage columns that depend on the trip text alone
TRIPS_TEXT_COLUMNS = (
    "toks", "norm_full", "resolved", "hitlist", "locs", "end_clean", "Trip_Type", "num_locations"
)


class TripsReport:
    """The reference's report cycle: the four trip reports built by
    ``plans.trips`` and written as BOM-prefixed CSVs by
    ``sources.sinks.write_report_csv``."""

    name = "trips_report"
    rows = 5_000
    # the JVM keeps compiling the cycle's code paths for about four cycles
    # (the first takes three times as long as a warm one, and the CPU time
    # per cycle falls until the fourth); the fastest of the next four
    # cycles stands for the run
    warmup_ops = 3
    min_ops = 4
    outputs = {
        "trips_master_fuzzy": trips.trips_master_fuzzy,
        "location_pairs": trips.location_pairs,
        "location_stats": trips.location_stats,
        "multi_location_details": trips.multi_location_details,
    }
    checked = ("location_pairs", "location_stats", "multi_location_details")

    def prepare(self, work: str, seed: int, cores: int) -> dict:
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        os.makedirs(self.in_dir)
        return gen.write_events(os.path.join(self.in_dir, "events.parquet"), self.rows, seed, cores)

    def warm(self, spark, tracer) -> None:
        with tracer.call("sources.tables.load_table"):
            tables.load_table(spark, self.in_dir, "events").count()

    def op(self, spark, tracer, i: int) -> OpResult:
        res = OpResult(rows=self.rows)
        for name, build in self.outputs.items():
            with tracer.call(f"plans.trips.{name}", output=name):
                df = build(spark, self.in_dir)
            with tracer.call("sources.sinks.write_report_csv", output=name):
                sinks.write_report_csv(df, os.path.join(self.out_dir, name))
            # the plans' cut-point caches live until the caller clears them
            spark.catalog.clearCache()

        def post():
            res.info["bytes_written"] = _dir_bytes(self.out_dir)

        res.post = post
        return res

    def end_to_end(self, ops) -> dict:
        best = min(o["wall"] for o in ops)
        return {"rows_per_s": self.rows / best, "op_best_ms": best * 1000.0}

    def layers(self, ops, traced, tracer) -> dict:
        m = {}
        for out in self.outputs:
            call = f"plans.trips.{out}"
            m[f"{call}.build_share"] = _share(tracer, traced, call)
            # the output's jobs: the build's eager actions and its write
            for key in ("jobs", "tasks"):
                m[f"{call}.{key}"] = _count(tracer, ops, call, key) + _count(
                    tracer, ops, "sources.sinks.write_report_csv", key, output=out
                )
        m["sources.sinks.write_share"] = _share(tracer, traced, "sources.sinks.write_report_csv")
        m["sources.sinks.bytes_written"] = _median(o["info"]["bytes_written"] for o in ops)
        m["plans.trips.failed_tasks"] = sum(_failed_tasks(tracer, f"plans.trips.{o}") for o in self.outputs)
        m["sources.sinks.failed_tasks"] = _failed_tasks(tracer, "sources.sinks.write_report_csv")
        return m

    def engine_s(self, tracer, op: int) -> float:
        return sum(duration(s) for s in tracer.spans if s.get("op") == op and s["name"] != "op")

    def _part(self, name: str) -> str:
        d = os.path.join(self.out_dir, name)
        (part,) = [f for f in os.listdir(d) if f.startswith("part-")]
        return os.path.join(d, part).replace("'", "''")

    @staticmethod
    def _oracle_master_stage(con, shared: str) -> None:
        """The oracles' master stage as table ``master_stage``, with every
        text-derived column evaluated once per distinct trip text. DuckDB
        1.0's list lambdas give a wrong location list for single rows of a
        large table (with seed 12, one of 151 rows of one text resolved
        differently from the other 150); on a table of one row per text
        they do not."""
        con.execute(f"CREATE TABLE full_stage AS {shared} SELECT * FROM master_stage")
        # one event per trip-text class (plans.trips picks the text by
        # event_id modulo the number of texts)
        con.execute(
            "CREATE TABLE text_events AS SELECT * FROM events QUALIFY row_number() OVER ("
            f"PARTITION BY event_id % {len(trips.GOLDEN_TEXTS)} ORDER BY event_id) = 1"
        )
        if shared.count("FROM events") != 1:
            raise RuntimeError("the master stage no longer reads events once")
        per_text = ", ".join(TRIPS_TEXT_COLUMNS)
        con.execute(
            f"CREATE TABLE text_stage AS {shared.replace('FROM events', 'FROM text_events')} "
            f"SELECT end_location, {per_text} FROM master_stage "
            "QUALIFY row_number() OVER (PARTITION BY end_location ORDER BY id) = 1"
        )
        cols = [r[0] for r in con.execute("DESCRIBE full_stage").fetchall()]
        if not set(TRIPS_TEXT_COLUMNS) <= set(cols):
            raise RuntimeError(f"the master stage lacks text columns: {sorted(set(TRIPS_TEXT_COLUMNS) - set(cols))}")
        rest = ", ".join(f"f.{c}" for c in cols if c not in TRIPS_TEXT_COLUMNS)
        con.execute(
            f"CREATE TABLE master_stage AS SELECT {rest}, {', '.join('t.' + c for c in TRIPS_TEXT_COLUMNS)} "
            "FROM full_stage f JOIN text_stage t USING (end_location)"
        )
        n, want = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("master_stage", "events"))
        if n != want:
            raise RuntimeError(f"the oracle master stage has {n} rows for {want} events")

    def check(self, spark) -> list[str]:
        """The three reports that have a DuckDB oracle must match it; the
        fuzzy master must keep every trip; every report carries the BOM."""
        import duckdb

        errors = []
        shared = trips._sql_master_stage()
        con = duckdb.connect()
        try:
            path = os.path.join(self.in_dir, "events.parquet").replace("'", "''")
            con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{path}')")
            # every oracle shares the master-stage CTE chain: evaluate it
            # once and run each oracle's own tail against it
            self._oracle_master_stage(con, shared)
            for name in self.checked:
                sql = trips.ORACLES[name]
                if not sql.startswith(shared):
                    raise RuntimeError(f"oracle {name} no longer starts with the master stage")
                tail = sql[len(shared):]
                res = con.execute("WITH _ AS (SELECT 1)" + tail if tail.lstrip().startswith(",") else tail)
                want = rows_digest([d[0] for d in res.description], res.fetchall())
                # the report the last timed cycle wrote, read back as text
                res = con.execute(
                    f"SELECT * FROM read_csv('{self._part(name)}', header=true, all_varchar=true)"
                )
                got = rows_digest([d[0] for d in res.description], res.fetchall())
                if got != want:
                    errors.append(f"{name}.csv {got} != duckdb oracle {want}")
            n = con.execute(
                f"SELECT count(*) FROM read_csv('{self._part('trips_master_fuzzy')}', header=true, all_varchar=true)"
            ).fetchone()[0]
            if n != self.rows:
                errors.append(f"trips_master_fuzzy.csv has {n} rows, want {self.rows}")
        finally:
            con.close()
        for name in self.outputs:
            with open(self._part(name), "rb") as f:
                if f.read(3) != sinks.UTF8_BOM:
                    errors.append(f"{name}.csv lacks the UTF-8 BOM")
        return errors


class CleanApi:
    """One closed-loop client calling the ``/clean`` and ``/clean/batch``
    endpoint functions of one ``CleaningService`` (fuzzy on, the reference
    default)."""

    name = "clean_api"
    # the first request starts the Python workers; the next ones let the
    # JVM compile the request path (request times level off after about
    # ten requests)
    warmup_ops = 8
    # one block of request sizes (1 = /clean, more = /clean/batch): the
    # timed requests start at a block boundary, and min_ops is one block
    block = (1, 1, 2, 8)
    min_ops = len(block)
    requests = 400
    pool = 200

    def prepare(self, work: str, seed: int, cores: int) -> dict:
        self.warm_reqs, _ = gen.request_stream(seed + 1, self.warmup_ops, self.pool, (1,))
        self.reqs, props = gen.request_stream(seed, self.requests, self.pool, self.block)
        self.sent: list[tuple[list[str], list[dict]]] = []
        return props

    def warm(self, spark, tracer) -> None:
        with tracer.call("service.CleaningService"):
            self.svc = CleaningService(spark)

    def op(self, spark, tracer, i: int) -> OpResult:
        if i < self.warmup_ops:
            kind, texts = self.warm_reqs[i]
        else:  # past the generated requests the timed stream starts over
            kind, texts = self.reqs[(i - self.warmup_ops) % len(self.reqs)]
        with tracer.call(f"api.{kind}_endpoint") as call:
            if kind == "clean":
                resp = api.clean_endpoint(self.svc, texts[0])
                results, service_ms = [resp], resp["processing_ms"]
            else:
                resp = api.clean_batch_endpoint(self.svc, texts)
                results, service_ms = resp["results"], resp["processing_ms"]
        call["service_ms"] = service_ms
        if len(results) != len(texts):
            raise RuntimeError(f"{kind}: {len(results)} results for {len(texts)} texts")
        self.sent.append((texts, results))
        return OpResult(rows=len(texts))

    def end_to_end(self, ops) -> dict:
        # the block's mean texts per request at the fastest request
        best = min(o["wall"] for o in ops)
        return {
            "rows_per_s": statistics.mean(self.block) / best,
            "op_best_ms": best * 1000.0,
        }

    def layers(self, ops, traced, tracer) -> dict:
        m = {}
        for kind in ("clean", "clean_batch"):
            call = f"api.{kind}_endpoint"
            for key in ("jobs", "tasks"):
                m[f"service.{kind}.{key}"] = _count(tracer, ops, call, key)
            m[f"service.{kind}.failed_tasks"] = _failed_tasks(tracer, call)
        return m

    def engine_s(self, tracer, op: int) -> float:
        # the service's own clock: the response's processing_ms
        return sum(c["service_ms"] for c in tracer.calls if c["op"] == op and "service_ms" in c) / 1000.0

    def check(self, spark) -> list[str]:
        """Every response equals ``service.clean_texts_df`` over the same
        texts."""
        texts = sorted({t for ts, _ in self.sent for t in ts})
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        ref = {
            r["text"]: (r["main_location"], list(r["all_locations"]), r["trip_type"])
            for r in clean_texts_df(
                df, "text", self.svc.fuzzy_enabled, self.svc.index, cutoff=self.svc.fuzzy_cutoff
            ).collect()
        }
        spark.catalog.clearCache()
        errors = []
        for ts, results in self.sent:
            for t, r in zip(ts, results):
                have = (r["main_location"], r["all_locations"], r["trip_type"])
                if r["original"] != t or have != ref[t]:
                    errors.append(f"{t!r}: response {have} != clean_texts_df {ref[t]}")
        return errors[:20]


WORKLOADS = {w.name: w for w in (TripsReport, CleanApi)}
