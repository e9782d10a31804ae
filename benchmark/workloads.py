"""The benchmark's workloads: closed-loop, one-client op sequences.

Each workload replays one seeded op sequence in a fresh work directory.
An op has a sync phase (an increment lands and the package makes it
visible) and a read phase (a reader asks for the fresh state).  Results
are checked against the benchmark's own Python replay of the generated
events, outside the timed intervals.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import statistics
import time
from decimal import Decimal

import gen
from spans import catalyst_phases

EPOCH = datetime.datetime(1970, 1, 1)


def typed(row: dict, table: str) -> dict:
    """A wire-format row with the package's recovered types: decimal
    strings as ``Decimal`` and epoch microseconds as naive datetimes."""
    from cdc_local_data_pipeline_docker_spark.catalog import (
        CDC_DECIMAL_COLUMNS,
        CDC_EPOCH_MICROS_COLUMNS,
    )

    out = dict(row)
    for c in CDC_DECIMAL_COLUMNS[table]:
        out[c] = Decimal(out[c])
    for c in CDC_EPOCH_MICROS_COLUMNS[table]:
        out[c] = EPOCH + datetime.timedelta(microseconds=out[c])
    return out


def same_state(df, model: dict[int, dict], table: str) -> bool:
    """The live rows of ``df`` equal the replayed model, key by key."""
    got = df.drop("last_offset").toPandas()
    if len(got) != len(model):
        return False
    cols = list(got.columns)
    key_at = cols.index(gen.PRIMARY_KEYS[table])
    rows = {r[key_at]: r for r in got.itertuples(index=False, name=None)}
    for key, row in model.items():
        want = typed(row, table)
        if rows.get(key) != tuple(want[c] for c in cols):
            return False
    return True


def _dir_files(path: str) -> tuple[int, int]:
    """(count, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def _median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


class Workload:
    """Common shape: ``setup`` seeds the state, ``op(k)`` runs op ``k`` and
    returns its record, ``final_check`` compares the whole state."""

    name = ""
    increment_events = 1000
    warmup_ops = 0
    #: Ops per trace block; traced and untraced blocks alternate.
    block = 1
    #: Span name prefix of the read phase, after the package layer it reads.
    read_layer = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer, counters):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.counters = counters
        self.events_dir = os.path.join(work_dir, "events")
        self.out_dir = os.path.join(work_dir, "out")
        os.makedirs(self.events_dir)
        os.makedirs(self.out_dir)
        self.reads: list[dict] = []  # traced read detail, per traced op

    def instrument(self) -> None:
        """Span calls the program makes on its own; none by default."""

    def traced_read(self, build, rec: dict) -> list:
        """Build and collect one reader frame, timing each half.  When
        tracing, also record Catalyst phases and the reader's engine time
        through the ``noop`` sink, after the timed interval."""
        t0 = time.perf_counter()
        with self.tracer.span(f"{self.read_layer}.build"):
            df = build()
        t1 = time.perf_counter()
        with self.tracer.span(f"{self.read_layer}.collect") as span:
            rows = df.collect()
        t2 = time.perf_counter()
        rec["read_s"] = t2 - t0
        if span is not None:
            detail = {"build_s": t1 - t0, "collect_s": t2 - t1, "rows": len(rows)}
            detail.update(self.counters.jobs_detail(span["job0"], span["job1"]))
            detail["catalyst"] = catalyst_phases(df)
            t3 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            detail["noop_s"] = time.perf_counter() - t3
            self.reads.append(detail)
        return rows

    def read_layers(self) -> dict[str, float]:
        """Per-layer metrics of the traced reads (medians per read)."""
        r = self.reads

        def med(key):
            return _median([d[key] for d in r])

        def phase(name):
            return _median([d["catalyst"].get(name, 0.0) for d in r])

        return {
            "catalyst.analysis_s": phase("analysis"),
            "catalyst.optimization_s": phase("optimization"),
            "catalyst.planning_s": phase("planning"),
            "spark.exec_s": med("noop_s"),
            "spark.jobs": med("jobs"),
            "spark.stages": med("stages"),
            "spark.tasks": med("tasks"),
            "spark.shuffle_bytes": med("shuffle_bytes"),
            "convert_s": _median([d["collect_s"] - d["noop_s"] for d in r]),
            "rows_out": med("rows"),
        }


class CdcSync(Workload):
    """The reference's Glue job: offset-resumed batch ingest per topic,
    then a latest-state freshness read of that topic."""

    name = "cdc_sync"
    read_layer = "cdc.latest_state"
    tables = ("customers", "orders", "order_items", "products")
    snapshot_rows = 5_000
    warmup_ops = 4
    block = 4

    def setup(self) -> None:
        from cdc_local_data_pipeline_docker_spark.cdc import ingest as ING

        self.ING = ING
        self.streams = {t: gen.TopicStream(t, self.seed) for t in self.tables}
        self.models: dict[str, dict] = {}
        self.ingests: list[dict] = []
        self.events_total = 0
        for t in self.tables:
            events = self.streams[t].snapshot(self.snapshot_rows)
            path = os.path.join(self.events_dir, f"{t}-000000.jsonl")
            gen.write_jsonl(path, events)
            r = ING.ingest_table(self.spark, path, t, self.out_dir)
            if (r["n_rows"], r["n_quarantined"]) != gen.counts(events):
                raise RuntimeError(f"snapshot ingest of {t} returned {r}")
            self.models[t] = gen.replay(events, gen.PRIMARY_KEYS[t])
            self.events_total += len(events)

    def op(self, k: int) -> dict:
        from pyspark.sql import functions as F

        table = self.tables[k % len(self.tables)]
        pk = gen.PRIMARY_KEYS[table]
        events = self.streams[table].increment(self.increment_events)
        path = os.path.join(self.events_dir, f"{table}-{k + 1:06d}.jsonl")
        gen.write_jsonl(path, events)
        model = gen.replay(events, pk, self.models[table])
        rec = {"kind": table, "events": len(events)}

        t0 = time.perf_counter()
        with self.tracer.span("cdc.ingest", table=table) as span:
            result = self.ING.ingest_table(self.spark, path, table, self.out_dir)
        rec["sync_s"] = time.perf_counter() - t0
        rows = self.traced_read(
            lambda: self.ING.materialize_latest(self.spark, self.out_dir, table).agg(
                F.count(F.lit(1)).alias("n"), F.sum(pk).alias("key_sum")
            ),
            rec,
        )
        valid, bad = gen.counts(events)
        rec["ok"] = (
            (result["n_rows"], result["n_quarantined"]) == (valid, bad)
            and (rows[0]["n"], rows[0]["key_sum"] or 0) == (len(model), sum(model))
        )
        self.events_total += len(events)
        if span is not None:
            self.ingests.append(
                {"wall_s": span["end"] - span["start"],
                 "jobs": span["job1"] - span["job0"],
                 "rows_ratio": result["n_rows"] / valid,
                 "quarantined": result["n_quarantined"]}
            )
        return rec

    def final_check(self) -> bool:
        return all(
            same_state(
                self.ING.materialize_latest(self.spark, self.out_dir, t), self.models[t], t
            )
            for t in self.tables
        )

    def layers(self) -> dict[str, float]:
        files = size = 0
        for t in self.tables:
            n, b = _dir_files(os.path.join(self.out_dir, f"{t}_parquet"))
            files += n
            size += b
        ing = self.ingests
        reads = self.reads
        return {
            "cdc.ingest.wall_s": _median([d["wall_s"] for d in ing]),
            "cdc.ingest.jobs": _median([d["jobs"] for d in ing]),
            "cdc.ingest.rows_ratio": _median([d["rows_ratio"] for d in ing]),
            "cdc.ingest.quarantined": _median([d["quarantined"] for d in ing]),
            "cdc.latest_state.build_s": _median([d["build_s"] for d in reads]),
            "cdc.latest_state.exec_s": _median([d["collect_s"] for d in reads]),
            "cdc.latest_state.jobs": _median([d["jobs"] for d in reads]),
            "cdc.latest_state.tasks": _median([d["tasks"] for d in reads]),
            "cdc.changelog.files": files,
            "cdc.changelog.bytes_per_event": size / self.events_total,
        }


class LakeUpsert(Workload):
    """The ``run_pipeline --tablelog`` path: each increment is drained by
    an availableNow stream into the transaction-log table, one MERGE
    commit per batch, followed by a point read of a key that just changed."""

    name = "lake_upsert"
    read_layer = "sources.tablelog.read"
    table = "orders"
    seed_rows = 100_000
    warmup_ops = 2
    #: Maintenance every 4th batch, bin-packing the table's files whenever
    #: two or more exist: it does real work each cycle yet runs on a
    #: quarter of the syncs.
    maintain_every = 4
    maintain_kwargs = {"small_file_trigger": 2, "small_max_rows": 1_000_000}
    block = maintain_every  # each trace block holds one maintenance cycle

    def setup(self) -> None:
        from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
        from cdc_local_data_pipeline_docker_spark.streaming import tablelog_upsert as TU

        self.TL, self.TU = TL, TU
        self.root = os.path.join(self.dir, "table")
        self.stream = gen.TopicStream(self.table, self.seed)
        self.rng = random.Random(f"{self.seed}:point-reads")
        self.syncs: list[dict] = []
        events = self.stream.snapshot(self.seed_rows)
        gen.write_jsonl(os.path.join(self.events_dir, f"{self.table}-000000.jsonl"), events)
        self.model = gen.replay(events, gen.PRIMARY_KEYS[self.table])
        self._drain()

    def _drain(self):
        return self.TU.start_tablelog_upsert_stream(
            self.spark, self.events_dir, self.table, self.root, self.out_dir,
            auto_maintain_every=self.maintain_every,
            maintain_kwargs=self.maintain_kwargs,
        )

    def op(self, k: int) -> dict:
        from pyspark.sql import functions as F

        pk = gen.PRIMARY_KEYS[self.table]
        events = self.stream.increment(self.increment_events)
        gen.write_jsonl(
            os.path.join(self.events_dir, f"{self.table}-{k + 1:06d}.jsonl"), events
        )
        gen.replay(events, pk, self.model)
        changed = [json.loads(e["key"])[pk] for e in events if e["_kind"] != "malformed"]
        key = self.rng.choice(changed)
        rec = {"kind": "sync", "events": len(events)}

        t0 = time.perf_counter()
        with self.tracer.span("streaming.sync") as span:
            query = self._drain()
        rec["sync_s"] = time.perf_counter() - t0
        rows = self.traced_read(
            lambda: self.TU.read_live(self.spark, self.root, self.table).filter(
                F.col(pk) == key
            ),
            rec,
        )
        expected = [typed(self.model[key], self.table)] if key in self.model else []
        got = [{c: v for c, v in r.asDict().items() if c != "last_offset"} for r in rows]
        rec["ok"] = got == expected
        if span is not None:
            progress = {}
            for p in query.recentProgress:
                for name, ms in p["durationMs"].items():
                    progress[name] = progress.get(name, 0) + ms / 1000.0
            detail = {"wall_s": span["end"] - span["start"], "progress": progress}
            detail.update(self.counters.jobs_detail(span["job0"], span["job1"]))
            self.syncs.append(detail)
        return rec

    def final_check(self) -> bool:
        return same_state(
            self.TU.read_live(self.spark, self.root, self.table), self.model, self.table
        )

    def layers(self) -> dict[str, float]:
        syncs = self.syncs

        def prog(name):
            return _median([d["progress"].get(name, 0.0) for d in syncs])

        merges = self.tracer.by_name("sources.tablelog.merge")
        maint = self.tracer.by_name("sources.tablelog.maintenance")
        history = [
            h for h in self.TL.log_history(self.root, include_metrics=True)
            if h["action"] == "cdc_merge" and h["version"] > 0
        ]
        merged_events = self.increment_events * len(history)
        return {
            "streaming.sync.wall_s": _median([d["wall_s"] for d in syncs]),
            "streaming.trigger_s": prog("triggerExecution"),
            "streaming.add_batch_s": prog("addBatch"),
            "streaming.wal_commit_s": prog("walCommit"),
            "streaming.latest_offset_s": prog("latestOffset"),
            "streaming.query_planning_s": prog("queryPlanning"),
            "streaming.start_stop_s": _median(
                [d["wall_s"] - d["progress"].get("triggerExecution", 0.0) for d in syncs]
            ),
            "sources.tablelog.merge_s": _median([s["end"] - s["start"] for s in merges]),
            "sources.tablelog.maintenance_s": _median(
                [s["end"] - s["start"] for s in maint]
            ),
            "sources.tablelog.maintenance_runs": len(maint),
            "sources.tablelog.files_removed_per_commit": _median(
                [h["n_removed"] for h in history]
            ),
            "sources.tablelog.rows_written_per_event": (
                sum(h["rows_written"] for h in history) / merged_events
                if merged_events else 0.0
            ),
            "sources.tablelog.live_files": self.TL.log_detail(self.root)["num_files"],
            "sources.tablelog.read_s": _median([d["collect_s"] + d["build_s"] for d in self.reads]),
            "sources.tablelog.read_jobs": _median([d["jobs"] for d in self.reads]),
            "spark.jobs_per_sync": _median([d["jobs"] for d in syncs]),
            "spark.tasks_per_sync": _median([d["tasks"] for d in syncs]),
        }

    def instrument(self) -> None:
        """Span the two calls the program makes inside its own stream."""
        self.tracer.wrap(self.TU, "log_merge_cdc", "sources.tablelog.merge")
        self.tracer.wrap(self.TL, "log_maintenance", "sources.tablelog.maintenance")


WORKLOADS = {w.name: w for w in (CdcSync, LakeUpsert)}
