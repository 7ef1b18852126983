"""cdc_upsert_stream: Postgres-shaped transactions through
``CdcSink.apply`` into a keyed table with the key index on, one commit
per transaction, each followed by a read of its last-written key at the
commit's LSN; optimize + vacuum every ``OPTIMIZE_EVERY`` commits.

A pure-Python model replays the same events; every read and the final
snapshot are checked against it."""

from __future__ import annotations

import os
import random
import shutil
import time
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

import layers
from measure import WriteCounter, amplification, content_hash, median, row_bytes

SEED_ROWS = 50_000
TXN_EVENTS = 200
OPTIMIZE_EVERY = 3
# event mix: the rest (20%) are deletes
P_UPDATE, P_INSERT = 0.5, 0.3
# mean distance, in insertion order, of an updated/deleted key from the
# newest key: keys are skewed toward recent inserts
RECENCY = 2_000
LSN_STEP = 16
COLUMNS = ("id", "acct", "amount", "note")
WARM_TXNS = 2


class State:
    def __init__(self, table, sink, path: str, rng: random.Random, next_id: int,
                 model: dict[int, tuple]):
        self.table = table
        self.sink = sink
        self.path = path
        self.rng = rng
        self.next_id = next_id
        self.model = model
        self.order = list(model)  # keys in insertion order (lazily pruned)
        self.lsn = table.last_lsn
        self.user_bytes = 0
        self.writes: WriteCounter | None = None


class Workload:
    # state builds per run: two throwaway (the first one is warmed up),
    # the last one measured; setup_s counts their median
    build_reps = 3
    # the engine call each operation consists of: the traced run's
    # coverage counts only the layer spans below it
    entry_spans = {"commit": "ingest.cdc_apply",
                   "optimize": "table.maintenance.optimize",
                   "vacuum": "table.maintenance.vacuum"}

    def __init__(self, ctx):
        self.ctx = ctx
        from pyspark.sql import types as T

        self.schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("acct", T.LongType()),
            T.StructField("amount", T.LongType()),
            T.StructField("note", T.StringType()),
        ])
        self.seed_rows = ctx.scaled(SEED_ROWS, floor=1_000)
        self.txn_events = ctx.scaled(TXN_EVENTS, floor=20)

    # -- state -----------------------------------------------------------

    def build(self, d: str) -> State:
        from moonlink_spark.ingest.cdc import CdcSink
        from moonlink_spark.table.identity import IdentityProp
        from moonlink_spark.table.table import MoonlinkTable

        rng = random.Random(self.ctx.seed)
        n = self.seed_rows
        rows = [_row(rng, i, "seed") for i in range(n)]
        os.makedirs(d)
        src = os.path.join(d, "seed.parquet")
        pq.write_table(
            pa.table({c: [r[i] for r in rows] for i, c in enumerate(COLUMNS)},
                     schema=pa.schema([("id", pa.int64()), ("acct", pa.int64()),
                                       ("amount", pa.int64()),
                                       ("note", pa.string())])),
            src,
        )
        t = MoonlinkTable.create(self.ctx.spark, os.path.join(d, "table"),
                                 self.schema, IdentityProp.single("id"),
                                 key_index=True)
        t.load_files([src], copy=True)
        t.commit(lsn=LSN_STEP)
        os.unlink(src)
        return State(t, CdcSink(t), d, rng, n, {r[0]: r for r in rows})

    def discard(self, st: State) -> None:
        shutil.rmtree(st.path, ignore_errors=True)

    def warm(self, st: State, _real: State) -> None:
        from harness import Recorder

        rec = Recorder(None)
        for _ in range(WARM_TXNS):
            self._cycle(st, rec)
        self._maintain(st, rec)
        if rec.failed:
            raise RuntimeError(f"warm-up failed: {rec.errors}")

    # -- timed loop ------------------------------------------------------

    def loop(self, st: State, deadline: float, rec) -> None:
        st.writes = WriteCounter(st.table.path)
        st.user_bytes = 0
        while time.perf_counter() < deadline:  # whole groups, at least one
            for _ in range(OPTIMIZE_EVERY):
                self._cycle(st, rec)
            self._maintain(st, rec)

    def _cycle(self, st: State, rec) -> None:
        events, last_key, user_bytes = self._txn(st)
        try:
            with rec.op("commit"):
                st.sink.apply(events)
            with rec.op("read_at_lsn"):
                with rec.span("spark.keys"):
                    keys = self.ctx.spark.createDataFrame([(last_key,)],
                                                          "id long")
                df = st.table.scan_keys(keys, lsn=st.lsn)
                with rec.span("spark.action"):
                    got = df.collect()
        except Exception as e:  # noqa: BLE001 - counted, the loop goes on
            rec.fail(f"txn at lsn {st.lsn}: {e!r}")
            return
        want = st.model.get(last_key)
        rec.check(
            [tuple(r[c] for c in COLUMNS) for r in got]
            == ([want] if want else []),
            f"read of key {last_key} at lsn {st.lsn}",
        )
        rec.cycles.append(rec.last("commit") + rec.last("read_at_lsn"))
        rec.units += len(events) - 2
        st.user_bytes += user_bytes
        if st.writes:
            st.writes.observe()

    def _maintain(self, st: State, rec) -> None:
        # looked up per call, so a traced run's wrappers are the ones called
        from moonlink_spark.table.maintenance import optimize, vacuum

        try:
            with rec.op("optimize"):
                optimize(st.table)
            if st.writes:
                st.writes.observe()
            with rec.op("vacuum"):
                vacuum(st.table)
        except Exception as e:  # noqa: BLE001 - counted, the loop goes on
            rec.fail(f"maintenance: {e!r}")

    def _txn(self, st: State) -> tuple[list, int, int]:
        """One transaction's events; applies them to the model as it goes.
        Returns (events, last written key, user bytes in the fixed
        encoding)."""
        from moonlink_spark.ingest.cdc import CdcEvent

        rng = st.rng
        st.lsn += LSN_STEP
        events = [CdcEvent.begin(st.lsn - 1)]
        last_key = None
        nbytes = 0
        for _ in range(self.txn_events):
            r = rng.random()
            if r < P_INSERT:
                row = _row(rng, st.next_id, "ins")
                st.next_id += 1
                st.model[row[0]] = row
                st.order.append(row[0])
                events.append(CdcEvent.insert(_as_dict(row)))
            elif r < P_INSERT + P_UPDATE:
                old = st.model[self._pick(st)]
                row = _row(rng, old[0], "upd")
                st.model[row[0]] = row
                events.append(CdcEvent.update(_as_dict(old), _as_dict(row)))
            else:
                old = st.model.pop(self._pick(st))
                events.append(CdcEvent.delete(_as_dict(old)))
                nbytes += 8  # the key
                continue
            last_key = row[0]
            nbytes += row_bytes(_as_dict(row))
        if last_key is None:  # all deletes: read one of them back as gone
            last_key = events[-1].row["id"]
        events.append(CdcEvent.commit(st.lsn))
        return events, last_key, nbytes

    def _pick(self, st: State) -> int:
        """A live key, skewed toward recent inserts."""
        rng, order = st.rng, st.order
        if len(order) > 2 * len(st.model):
            st.order = order = [k for k in order if k in st.model]
        while True:
            i = len(order) - 1 - int(rng.expovariate(1.0 / RECENCY))
            k = order[i] if i >= 0 else order[rng.randrange(len(order))]
            if k in st.model:
                return k

    # -- checks and report ----------------------------------------------

    def final_check(self, st: State, rec) -> bool:
        tab = st.table.scan(lsn=st.lsn).toArrow()
        got = content_hash(zip(*(tab.column(c).to_pylist() for c in COLUMNS)))
        want = content_hash(st.model.values())
        return got == want

    def report(self, st: State, rec) -> dict[str, Any]:
        m = st.table.manifest
        stored = sum(f.bytes for f in m.data_files + m.delete_files)
        live = sum(row_bytes(_as_dict(r)) for r in st.model.values())
        return {
            "ingest_rows_per_s": (rec.units / rec.op_time, "rows/s"),
            "commit_p50_s": (median(rec.lat["commit"]), "s"),
            "visible_p50_s": (median(rec.cycles), "s"),
            "write_amp": (amplification(st.writes.bytes_written,
                                        st.user_bytes), "ratio"),
            "space_amp": (amplification(stored, live), "ratio"),
        }

    # -- tracing ---------------------------------------------------------

    def install_trace(self, tracer) -> None:
        layers.install_table(tracer)
        from moonlink_spark.ingest.cdc import CdcSink
        from moonlink_spark.table import maintenance

        tracer.wrap(CdcSink, "apply", "ingest.cdc_apply",
                    after=_note_apply_stats)
        tracer.wrap(maintenance, "optimize", "table.maintenance.optimize",
                    after=_note_rewrite)
        tracer.wrap(maintenance, "vacuum", "table.maintenance.vacuum")

    def layer_metrics(self, tracer, st: State, rec) -> dict[str, tuple]:
        out = layers.table_metrics(tracer, st.table)
        applies = tracer.by_name("ingest.cdc_apply")
        kids = tracer.children()
        out["ingest.cdc_apply_self_s"] = (median(
            [tracer.self_time(s, "table.commit", kids) for s in applies]), "s")
        staged = sum(s.attrs.get("staged", 0) for s in applies)
        dml = sum(s.attrs.get("dml", 0) for s in applies)
        out["ingest.cdc_squash_ratio"] = (staged / dml, "ratio")
        out["table.maintenance.optimize_s"] = (median(
            [s.dur for s in tracer.by_name("table.maintenance.optimize")]), "s")
        out["table.maintenance.vacuum_s"] = (median(
            [s.dur for s in tracer.by_name("table.maintenance.vacuum")]), "s")
        out["table.maintenance.bytes_rewritten"] = (sum(
            s.attrs.get("bytes_rewritten", 0)
            for s in tracer.by_name("table.maintenance.optimize")), "bytes")
        out["table.write_amp"] = (
            amplification(st.writes.bytes_written, st.user_bytes), "ratio")
        return out

    def close(self) -> None:
        pass


def _note_rewrite(sp, args, kwargs, version) -> None:
    m = args[0].manifest
    if m.version == version and m.operation == "optimize":
        sp.attrs["bytes_rewritten"] = sum(f.bytes for f in m.data_files)


def _note_apply_stats(sp, args, kwargs, stats) -> None:
    sp.attrs["dml"] = stats.inserts + stats.updates + stats.deletes


def _row(rng: random.Random, key: int, tag: str) -> tuple:
    return (key, rng.randrange(10_000), rng.randrange(1_000_000),
            f"{tag}-{rng.getrandbits(40):010x}")


def _as_dict(row: tuple) -> dict[str, Any]:
    return dict(zip(COLUMNS, row))
