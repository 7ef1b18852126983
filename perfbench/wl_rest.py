"""rest_event_ingest: async ``insert`` requests POSTed to the HTTP
service's ``/ingest/{db}/{table}`` on an append-only table, with a POST
to ``/tables/{db}/{table}/flush`` after every ``BATCH`` requests. One
client, one request at a time. The path runs no Spark jobs: HTTP, JSON
conversion, the fsync'd journal and the pyarrow row-buffer commit.

Every ack must be a 200; the final snapshot must hold exactly the rows
sent (count and content hash)."""

from __future__ import annotations

import bisect
import http.client
import json
import os
import random
import shutil
import time
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

import layers
from measure import (WriteCounter, amplification, content_hash, median,
                     row_bytes)

BATCH = 100
SEED_BATCHES = 2
WARM_BATCHES = 3
COLUMNS = ("id", "ts", "user", "amount", "kind")
KINDS = ("click", "view", "buy", "share")
DB, TABLE = "bench", "events"


class State:
    def __init__(self, path, backend, table, service, rng):
        self.path = path
        self.backend = backend
        self.table = table
        self.service = service
        self.rng = rng
        self.sent: list[tuple] = []
        self.user_bytes = 0
        self.writes: WriteCounter | None = None


class Workload:
    # state builds per run: two throwaway (the first one is warmed up),
    # the last one measured; setup_s counts their median
    build_reps = 3
    # the client's request is the benchmark's own span: coverage counts
    # every engine span the server runs inside it
    entry_spans: dict[str, str] = {}

    def __init__(self, ctx):
        self.ctx = ctx
        from pyspark.sql import types as T

        self.schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user", T.StringType()),
            T.StructField("amount", T.LongType()),
            T.StructField("kind", T.StringType()),
        ])
        self.batch = ctx.scaled(BATCH, floor=10)
        self._open: list[State] = []

    # -- state -----------------------------------------------------------

    def build(self, d: str) -> State:
        from harness import Recorder
        from moonlink_spark.backend import MoonlinkBackend
        from moonlink_spark.service import MoonlinkService
        from moonlink_spark.table.identity import IdentityProp

        os.makedirs(d)
        be = MoonlinkBackend(self.ctx.spark, os.path.join(d, "wh"))
        t = be.create_table(DB, TABLE, self.schema, IdentityProp.none())
        st = State(d, be, t, MoonlinkService(be).start(),
                   random.Random(self.ctx.seed))
        self._open.append(st)
        rec = Recorder(None)
        for _ in range(SEED_BATCHES):
            self._cycle(st, rec)
        if rec.failed:
            raise RuntimeError(f"seeding failed: {rec.errors}")
        return st

    def discard(self, st: State) -> None:
        self._close_state(st)
        shutil.rmtree(st.path, ignore_errors=True)

    def warm(self, throwaway: State, _real: State) -> None:
        from harness import Recorder

        rec = Recorder(None)
        for _ in range(WARM_BATCHES):
            self._cycle(throwaway, rec)
        if rec.failed:
            raise RuntimeError(f"warm-up failed: {rec.errors}")

    # -- timed loop ------------------------------------------------------

    def loop(self, st: State, deadline: float, rec) -> None:
        st.writes = WriteCounter(st.table.path)
        st.user_bytes = 0
        while time.perf_counter() < deadline:
            self._cycle(st, rec)

    def _post(self, st: State, path: str, body: dict) -> tuple[int, dict]:
        host, port = st.service.httpd.server_address
        conn = http.client.HTTPConnection(host, port, timeout=60)
        try:
            conn.request("POST", path, json.dumps(body),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"{}")
        finally:
            conn.close()

    def _cycle(self, st: State, rec) -> None:
        total = 0.0
        for _ in range(self.batch):
            row = self._event(st)
            try:
                with rec.op("request"):
                    with rec.span("service.request"):
                        status, body = self._post(
                            st, f"/ingest/{DB}/{TABLE}",
                            {"operation": "insert", "data": row,
                             "request_mode": "async"})
            except Exception as e:  # noqa: BLE001 - counted, the loop goes on
                rec.fail(f"request: {e!r}")
                continue
            if status != 200 or body.get("committed") is not False:
                rec.fail(f"request ack {status}: {body}")
                continue
            st.sent.append(tuple(row[c] for c in COLUMNS))
            st.user_bytes += row_bytes(row)
            total += rec.last("request")
            rec.units += 1
        if st.writes:
            st.writes.observe()  # before the flush truncates the journal
        try:
            with rec.op("flush"):
                with rec.span("service.request"):
                    status, body = self._post(
                        st, f"/tables/{DB}/{TABLE}/flush", {})
        except Exception as e:  # noqa: BLE001 - counted, the loop goes on
            rec.fail(f"flush: {e!r}")
            return
        rec.check(status == 200 and isinstance(body.get("version"), int),
                  f"flush ack {status}: {body}")
        if st.writes:
            st.writes.observe()
        rec.cycles.append(total + rec.last("flush"))

    def _event(self, st: State) -> dict[str, Any]:
        rng = st.rng
        i = len(st.sent)
        return {
            "id": i,
            "ts": 1_700_000_000_000 + 37 * i,
            "user": f"user-{rng.randrange(5_000):05d}",
            "amount": rng.randrange(100_000),
            "kind": KINDS[rng.randrange(len(KINDS))],
        }

    # -- checks and report ----------------------------------------------

    def final_check(self, st: State, rec) -> bool:
        # append-only, so the snapshot is exactly its data files; read them
        # without Spark, which this workload otherwise never starts a job on
        m = st.table.manifest
        tab = pa.concat_tables(
            pq.read_table(os.path.join(st.table.data_path, f.path),
                          columns=list(COLUMNS))
            for f in m.data_files)
        got = content_hash(zip(*(tab.column(c).to_pylist() for c in COLUMNS)))
        return (not m.delete_files and m.live_rows == len(st.sent)
                and got == content_hash(st.sent))

    def report(self, st: State, rec) -> dict[str, Any]:
        m = st.table.manifest
        stored = sum(f.bytes for f in m.data_files)
        live = sum(row_bytes(dict(zip(COLUMNS, r))) for r in st.sent)
        return {
            "ingest_rows_per_s": (rec.units / rec.op_time, "rows/s"),
            "request_p50_s": (median(rec.lat["request"]), "s"),
            "commit_p50_s": (median(rec.lat["flush"]), "s"),
            "write_amp": (amplification(st.writes.bytes_written,
                                        st.user_bytes), "ratio"),
            "space_amp": (amplification(stored, live), "ratio"),
        }

    # -- tracing ---------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from moonlink_spark.ingest.rest import RestSink
        from moonlink_spark.table.fs import LocalFS

        layers.install_table(tracer)
        tracer.wrap(RestSink, "ingest", "ingest.rest_ingest")
        tracer.wrap(RestSink, "flush", "ingest.rest_flush")

        def journal(sp, args, kwargs, result):
            sp.attrs["bytes"] = len(args[2].encode("utf-8"))

        tracer.wrap(LocalFS, "append_text_durable", "table.fs.journal_append",
                    after=journal)

    def layer_metrics(self, tracer, st: State, rec) -> dict[str, tuple]:
        out = layers.table_metrics(tracer, st.table)
        ingests = tracer.by_name("ingest.rest_ingest")
        appends = tracer.by_name("table.fs.journal_append")
        out["ingest.rest_ingest_s"] = (median([s.dur for s in ingests]), "s")
        out["ingest.rest_flush_s"] = (
            median([s.dur for s in tracer.by_name("ingest.rest_flush")]), "s")
        out["table.fs.journal_append_s"] = (
            median([s.dur for s in appends]), "s")
        out["table.fs.journal_bytes"] = (
            sum(s.attrs["bytes"] for s in appends), "bytes")
        # the server handles each request on its own thread: pair every
        # client-side request span with the ingest span inside it
        ingests.sort(key=lambda s: s.start)
        starts = [s.start for s in ingests]
        selfs = []
        for req in tracer.by_name("service.request"):
            i = bisect.bisect_left(starts, req.start)
            if i < len(ingests) and ingests[i].end <= req.end:
                selfs.append(req.dur - ingests[i].dur)
        out["service.request_self_s"] = (median(selfs), "s")
        out["table.write_amp"] = (
            amplification(st.writes.bytes_written, st.user_bytes), "ratio")
        return out

    def close(self) -> None:
        for st in list(self._open):
            self._close_state(st)

    def _close_state(self, st: State) -> None:
        self._open.remove(st)
        st.service.stop()
        st.service.httpd.server_close()
