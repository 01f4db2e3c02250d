"""The benchmark's workloads.  Each is a closed loop with one client.

A workload has three parts the runner calls in order: ``setup`` (inputs
and history, untimed), ``op`` (one timed operation, called untimed for
warm-up and then in the timed loop) and ``gate`` (correctness checks on
the program's outputs, after the timed phase).  ``op`` returns the
operation's latency plus, when tracing, its per-layer detail.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from collections import Counter
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.streaming.loader import LoaderConfig, read_loaded

from fixtures import HOUR_US, EPOCH_2024_US, event_columns, write_event_files, write_tables
from tracing import phase_sums


# Input files per load: the partitions of the topic the files stand in for.
TOPIC_PARTITIONS = 8


def _utc_dh(ts_us: int) -> tuple[str, int]:
    t = datetime.fromtimestamp(ts_us / 1e6, tz=timezone.utc)
    return t.strftime("%Y-%m-%d"), t.hour


def _files_and_bytes(root: str, suffix: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _loaded_rows(spark, target: str) -> list[tuple[int, int, str, int]]:
    """(event_id, ts, d, h) of every loaded row, read back through
    ``read_loaded``.  ``d``/``h`` are normalised to 'YYYY-MM-DD' and int so
    the check holds whichever types the read-back infers."""
    rows = read_loaded(spark, target).select("payload", F.col("d").cast("string"), F.col("h").cast("int")).collect()
    out = []
    for payload, d, h in rows:
        rec = json.loads(payload)
        out.append((rec["event_id"], rec["ts"], d, h))
    return out


class Backfill:
    """Load one seeded history into an empty target, then count it back."""

    name = "backfill"

    def __init__(self, run, events: int = 10_000, hours: int = 72, warmup: int = 8) -> None:
        self.run, self.events, self.hours, self.warmup = run, events, hours, warmup
        self.input = os.path.join(run.work, "backfill-input")
        self.last_target: str | None = None

    def sizes(self) -> dict:
        return {"events": self.events, "hours": self.hours, "input_files": TOPIC_PARTITIONS}

    def setup(self) -> None:
        rng = np.random.default_rng([self.run.seed, 2])
        self.ev = event_columns(rng, self.events, 0, EPOCH_2024_US,
                                self.hours * HOUR_US, 1_500)
        write_event_files(self.input, self.ev, TOPIC_PARTITIONS, "history")
        self.bytes_in = sum(os.path.getsize(os.path.join(self.input, f))
                            for f in os.listdir(self.input))

    def op(self, i: int) -> dict:
        run = self.run
        base = os.path.join(run.work, "backfill", str(i))
        target = os.path.join(base, "out")
        cfg = LoaderConfig(input_path=self.input, target_path=target,
                           checkpoint_path=os.path.join(base, "checkpoint"))
        t0 = time.perf_counter()
        with run.tracer.span("loader.run_loader", op=str(i)) as run_span:
            result = run.load(cfg)
        with run.tracer.span("loader.read_loaded", op=str(i)) as read_span:
            n = read_loaded(run.spark, target).count()
        latency = time.perf_counter() - t0
        if n != self.events or result["rows_written"] != self.events:
            raise RuntimeError(f"backfill read back {n} rows, loader reported "
                               f"{result['rows_written']}, expected {self.events}")
        self.last_target = target
        detail = {"latency_s": latency}
        if run.listener is not None:
            files, bytes_out = _files_and_bytes(target, ".parquet")
            detail.update(_loader_detail(run, run_span, read_span, result, files,
                                         bytes_out, self.bytes_in, files))
        return detail

    def named_metrics(self, timed: list[dict]) -> dict:
        return {"load_s": median([d["latency_s"] for d in timed])}

    def gate(self) -> list[str]:
        rows = _loaded_rows(self.run.spark, self.last_target)
        problems = []
        if Counter(r[0] for r in rows) != Counter(self.ev["event_id"].tolist()):
            problems.append("backfill: read-back event_id multiset differs from the input")
        bad = [r for r in rows if (r[2], r[3]) != _utc_dh(r[1])]
        if bad:
            problems.append(f"backfill: {len(bad)} rows in the wrong d/h, e.g. {bad[0]}")
        return problems


class LiveTail:
    """Append one small file in the current hour, load it, count its hour."""

    name = "live_tail"

    def __init__(self, run, history_events: int = 10_000, history_hours: int = 72,
                 increment: int = 2_000, per_hour: int = 5, warmup: int = 10) -> None:
        self.run = run
        self.history_events, self.history_hours = history_events, history_hours
        self.increment, self.per_hour = increment, per_hour
        self.warmup = warmup
        self.input = os.path.join(run.work, "live-input")
        self.target = os.path.join(run.work, "live", "out")
        self.cfg = LoaderConfig(input_path=self.input, target_path=self.target,
                                checkpoint_path=os.path.join(run.work, "live", "checkpoint"))
        self.sent: dict[int, int] = {}  # increment -> hour index
        self.hour_files: dict[int, tuple[int, int]] = {}  # hour -> (files, bytes) so far

    def sizes(self) -> dict:
        return {"history_events": self.history_events, "history_hours": self.history_hours,
                "increment_events": self.increment, "increments_per_hour": self.per_hour}

    def setup(self) -> None:
        rng = np.random.default_rng([self.run.seed, 3])
        ev = event_columns(rng, self.history_events, 0, EPOCH_2024_US,
                           self.history_hours * HOUR_US, 1_500)
        write_event_files(self.input, ev, TOPIC_PARTITIONS, "history")
        self.run.load(self.cfg)

    def _hour_of(self, i: int) -> int:
        return self.history_hours + (i - 1) // self.per_hour

    def op(self, i: int) -> dict:
        run = self.run
        hour = self._hour_of(i)
        rng = np.random.default_rng([run.seed, 4, i])
        first = self.history_events + (i - 1) * self.increment
        ev = event_columns(rng, self.increment, first, EPOCH_2024_US + hour * HOUR_US,
                           HOUR_US, 1_500)
        d, h = _utc_dh(EPOCH_2024_US + hour * HOUR_US)
        write_event_files(self.input, ev, 1, f"live-{i:05d}")
        t0 = time.perf_counter()  # the increment has landed
        with run.tracer.span("loader.run_loader", op=str(i)) as run_span:
            result = run.load(self.cfg)
        with run.tracer.span("loader.read_loaded", op=str(i)) as read_span:
            n = read_loaded(run.spark, self.target).where(
                (F.col("d").cast("string") == d) & (F.col("h").cast("int") == h)
            ).count()
        latency = time.perf_counter() - t0
        self.sent[i] = hour
        expected = self.increment * sum(1 for hr in self.sent.values() if hr == hour)
        if n != expected or result["rows_written"] != self.increment:
            raise RuntimeError(f"live_tail hour {d}/{h}: counted {n}, expected {expected};"
                               f" loader wrote {result['rows_written']}")
        detail = {"latency_s": latency}
        if run.listener is not None:
            part = os.path.join(self.target, f"d={d}", f"h={h:02d}")
            files, size = _files_and_bytes(part, ".parquet")
            before = self.hour_files.get(hour, (0, 0))
            self.hour_files[hour] = (files, size)
            bytes_in = os.path.getsize(os.path.join(self.input, f"live-{i:05d}-00.json"))
            detail.update(_loader_detail(run, run_span, read_span, result, files - before[0],
                                         size - before[1], bytes_in, files))
        return detail

    def named_metrics(self, timed: list[dict]) -> dict:
        lat = [d["latency_s"] for d in timed]
        return {"fresh_p50_s": median(lat), "increments": len(lat),
                # p90 needs ten samples beyond it to mean anything
                "fresh_p90_s": statistics.quantiles(lat, n=10)[8] if len(lat) >= 100 else None}

    def gate(self) -> list[str]:
        live = [r for r in _loaded_rows(self.run.spark, self.target)
                if r[0] >= self.history_events]
        problems = []
        ids = Counter(r[0] for r in live)
        expected_ids = len(self.sent) * self.increment
        dup = [k for k, c in ids.items() if c != 1]
        if len(ids) != expected_ids or dup:
            problems.append(f"live_tail: {len(ids)} distinct increment ids of {expected_ids},"
                            f" {len(dup)} seen more than once")
        for event_id, ts, d, h in live:
            i = (event_id - self.history_events) // self.increment + 1
            want = _utc_dh(EPOCH_2024_US + self._hour_of(i) * HOUR_US)
            if (d, h) != want or _utc_dh(ts) != want:
                problems.append(f"live_tail: event {event_id} landed in {d}/{h}, not {want}")
                break
        return problems


def _loader_detail(run, run_span, read_span, result, files, bytes_out, bytes_in,
                   readback_files) -> dict:
    batches = run.listener.run_batches(run.loads)
    phases = phase_sums(batches)
    run_s = run_span["end"] - run_span["start"]
    return {
        "loader.run_s": run_s,
        "loader.trigger_s": phases["triggerExecution"],
        "loader.outside_trigger_s": run_s - phases["triggerExecution"],
        "loader.add_batch_s": phases["addBatch"],
        "loader.query_planning_s": phases["queryPlanning"],
        "loader.latest_offset_s": phases["latestOffset"],
        "loader.get_batch_s": phases["getBatch"],
        "loader.wal_commit_s": phases["walCommit"],
        "loader.commit_offsets_s": phases["commitOffsets"],
        "loader.batches": float(result["batches"]),
        "loader.files_written": float(files),
        "loader.rows_per_file": result["rows_written"] / max(files, 1),
        "loader.bytes_out_per_byte_in": bytes_out / max(bytes_in, 1),
        "loader.readback_s": read_span["end"] - read_span["start"],
        "loader.readback_files": float(readback_files),
    }


ITERATIVE = ("spatial_dbscan_grid", "graph_connected_components")
ONESHOT = ("dedup_ngram_jaccard", "knn_cosine_bruteforce", "tpch_q9_product_profit",
           "tpch_q18_large_orders", "events_hourly", "window_session_batch",
           "join_salted_skew", "bm25_rank")


GROUPS = {"iterative": ITERATIVE, "oneshot": ONESHOT}
# Module that defines each query, for the per-module sums.
MODULES = {
    "spatial_dbscan_grid": "operators.spatial",
    "graph_connected_components": "operators.graph",
    "dedup_ngram_jaccard": "operators.dedup",
    "knn_cosine_bruteforce": "operators.similarity",
    "tpch_q9_product_profit": "operators.tpch2",
    "tpch_q18_large_orders": "operators.tpch2",
    "events_hourly": "streaming.batch_windows",
    "window_session_batch": "streaming.batch_windows",
    "join_salted_skew": "operators.joins",
    "bm25_rank": "operators.search",
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class QueryMix:
    """One pass over the mix's registered queries, each through ``noop``.

    The last warm-up pass collects each query's rows instead; the gate
    compares them with the DuckDB oracles after the timed phase.  That
    pass runs after the first has built the memoized indexes, so it takes
    the same path as the timed passes, and the gate needs no extra pass.
    """

    name = "query_mix"

    def __init__(self, run, sf: float = 0.002, warmup: int = 2) -> None:
        self.run, self.sf, self.warmup = run, sf, warmup
        self.data = os.path.join(run.work, "tables")
        self.order = random.Random(run.seed)
        self.results: dict = {}  # name -> (DataFrame, collected rows)
        self.failed_queries: set[str] = set()

    def sizes(self) -> dict:
        return {"sf": self.sf, **self.rows}

    def setup(self) -> None:
        self.rows = write_tables(self.data, self.run.seed, self.sf)

    def op(self, i: int) -> dict:
        """Per query: (build_s, exec_s, wall start, wall end); the wall
        bounds are for matching the event log."""
        run, reg = self.run, self.run.registry
        collect = i == self.warmup
        names = list(ITERATIVE + ONESHOT)
        self.order.shuffle(names)
        detail: dict = {"queries": {}, "failed": 0, "attempted": len(names)}
        t0 = time.perf_counter()
        for name in names:
            with run.tracer.span(f"q.{name}", op=str(i)):
                w0, b0 = time.time(), time.perf_counter()
                try:
                    with run.tracer.span("build", op=str(i)):
                        df = reg[name].fn(run.spark, self.data)
                    b1 = time.perf_counter()
                    with run.tracer.span("exec", op=str(i)):
                        if collect:
                            self.results[name] = (df, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                    detail["failed"] += 1
                    self.failed_queries.add(name)
                    print(f"query_mix {name} failed: {type(e).__name__}: {str(e)[:300]}",
                          file=sys.stderr)
                    continue
                b2 = time.perf_counter()
            detail["queries"][name] = (b1 - b0, b2 - b1, w0, time.time())
        detail["latency_s"] = time.perf_counter() - t0
        return detail

    def named_metrics(self, timed: list[dict]) -> dict:
        out = {"mix_s": median([d["latency_s"] for d in timed]), "passes": len(timed),
               "query_s": {q: median([sum(d["queries"][q][:2]) for d in timed])
                           for q in ITERATIVE + ONESHOT}}
        for group, members in GROUPS.items():
            out[f"{group}_s"] = median(
                [sum(sum(d["queries"][q][:2]) for q in members) for d in timed])
        return out

    def gate(self) -> list[str]:
        import duckdb
        from driver_sim import pandas_canon, vhash
        from typecanon import oracle_arrow_schema, type_mismatches

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"):
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        problems = []
        for name in ITERATIVE + ONESHOT:
            oracle = self.run.registry[name].oracle
            try:
                sdf, srows = self.results[name]
                pandas_canon(srows, sdf.columns)
                res = con.execute(oracle)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                tmis = type_mismatches(sdf.schema, oracle_arrow_schema(con, oracle))
                ok = (len(srows) == len(orows) and sorted(sdf.columns) == sorted(ocols)
                      and vhash(srows, sdf.columns) == vhash(orows, ocols) and not tmis)
                detail = f"{len(srows)}/{len(orows)} rows, types {tmis or 'ok'}"
            except Exception as e:  # noqa: BLE001 - reported as a failed gate
                ok, detail = False, f"{type(e).__name__}: {str(e)[:300]}"
            if not ok:
                self.failed_queries.add(name)
                problems.append(f"query_mix {name}: does not match its oracle ({detail})")
        con.close()
        return problems


WORKLOADS = {w.name: w for w in (Backfill, LiveTail, QueryMix)}
