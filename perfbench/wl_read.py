"""snapshot_read_mix: reads of a fragmented, DV-carrying keyed snapshot,
no writes. One closed-loop client cycles through five operations:

- ``scan``: a full live-row group-by (Spark);
- ``lookup``: a 50-key ``scan_keys`` point lookup through the key index;
- ``range``: a key-range ``scan_where``;
- ``external``: DuckDB over the RPC scan blob (``attach_moonlink_table``);
- ``ann``: ``MoonlinkBackend.query_vector_index`` top-5 over a PQ index.

Set-up bulk-loads generated lineitem-shaped files, upserts 1% of the keys
in one ``CdcSink`` transaction (which leaves DV files behind), and builds
the vector index. Every answer is checked against one computed at
set-up: from the generated rows for the first four; for ``ann``, the
first answer an index built from the same seed gave, on a throwaway
state during the warm-up."""

from __future__ import annotations

import os
import shutil
import time
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import layers
from measure import content_hash, median

ROWS = 120_000
FILES = 48
UPSERT_FRAC = 0.01
LOOKUP_KEYS = 50
LOOKUP_FILES = 10
RANGE_WIDTH = 1_000
MIN_CYCLES = 10
VARIANTS = MIN_CYCLES  # distinct key sets / ranges, one per cycle
VECTORS = 1_000
DIM = 64
CLUSTERS = 16
ANN_QUERIES = 5
ANN_TOPK = 5
PQ = {"m": 8, "ksub": 64, "iters": 2}
COLUMNS = ("id", "qty", "price_cents", "flag", "status", "comment")
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
EXTERNAL_SQL = ("SELECT flag, count(*), sum(qty), sum(price_cents) "
                "FROM li GROUP BY flag")
OPS = ("scan", "lookup", "range", "external", "ann")
VARIED = ("lookup", "range")  # operations whose input changes per cycle


class State:
    def __init__(self, path, backend, table, rpc, cols, key_sets, ranges,
                 queries):
        self.path = path
        self.backend = backend
        self.table = table
        self.rpc = rpc
        self.cols = cols  # the live rows, column-wise, indexed by id
        self.key_sets = key_sets
        self.ranges = ranges
        self.queries = queries
        self.expect: dict[str, Any] = {}
        self.duck = None
        self.cycle = 0


class Workload:
    # state builds per run: two throwaway (the first one is warmed up),
    # the last one measured; setup_s counts their median
    build_reps = 3
    # every operation is a planning call plus a Spark action (or a DuckDB
    # query), not one engine call: every layer span inside it counts
    entry_spans: dict[str, str] = {}

    def __init__(self, ctx):
        self.ctx = ctx
        from pyspark.sql import types as T

        self.schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("qty", T.LongType()),
            T.StructField("price_cents", T.LongType()),
            T.StructField("flag", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("comment", T.StringType()),
        ])
        self.emb_schema = T.StructType([
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ])
        self.rows = ctx.scaled(ROWS, floor=4 * FILES * 100)
        self.vectors = ctx.scaled(VECTORS, floor=600)
        self._open: list[State] = []
        self.ann_ref = None

    # -- state -----------------------------------------------------------

    def build(self, d: str) -> State:
        import duckdb

        from moonlink_spark.backend import MoonlinkBackend
        from moonlink_spark.ingest.cdc import CdcEvent, CdcSink
        from moonlink_spark.rpc import MoonlinkRpcServer
        from moonlink_spark.table.identity import IdentityProp
        from moonlink_spark.table.keyindex import KEY_INDEX_PROP, XXHASH64_ALGO

        rng = np.random.default_rng(self.ctx.seed)
        n = self.rows
        cols = _gen_rows(rng, np.arange(n, dtype=np.int64))
        os.makedirs(d)
        be = MoonlinkBackend(self.ctx.spark, os.path.join(d, "wh"))
        t = be.create_table(
            "bench", "lineitem", self.schema, IdentityProp.single("id"),
            properties={KEY_INDEX_PROP: {"algo": XXHASH64_ALGO, "entries": []}},
        )
        parts = np.array_split(np.arange(n), FILES)
        srcs = []
        for f, part in enumerate(parts):
            p = os.path.join(d, f"src{f}.parquet")
            pq.write_table(pa.table({c: cols[c][part] for c in COLUMNS}), p)
            srcs.append(p)
        t.load_files(srcs, copy=True)
        t.commit(lsn=1)
        for p in srcs:
            os.unlink(p)
        # one CDC transaction upserts UPSERT_FRAC of the keys: DV files
        keys = rng.choice(n, max(1, int(n * UPSERT_FRAC)), replace=False)
        upserted = {int(k) for k in keys}
        new = _gen_rows(rng, keys.astype(np.int64))
        events = [CdcEvent.begin(1)]
        for i, k in enumerate(keys):
            old = _row(cols, int(k))
            for col in COLUMNS[1:]:
                cols[col][k] = new[col][i]
            events.append(CdcEvent.update(dict(zip(COLUMNS, old)),
                                          dict(zip(COLUMNS, _row(cols, int(k))))))
        events.append(CdcEvent.commit(2))
        CdcSink(t).apply(events)

        centers = rng.standard_normal((CLUSTERS, DIM)).astype(np.float32)
        nv = self.vectors
        emb = (centers[np.arange(nv) % CLUSTERS]
               + 0.3 * rng.standard_normal((nv, DIM)).astype(np.float32))
        te = be.create_table("bench", "emb", self.emb_schema,
                             IdentityProp.single("vec_id"))
        te.append_rows([{"vec_id": i, "embedding": emb[i].tolist()}
                        for i in range(nv)])
        te.commit(lsn=1)
        be.build_vector_index("bench", "emb", "embedding", k=CLUSTERS // 2,
                              iters=2, pq=PQ)

        st = State(
            d, be, t, MoonlinkRpcServer(be).start(), cols,
            [_lookup_keys(rng, parts, upserted) for _ in range(VARIANTS)],
            [_key_range(rng, parts) for _ in range(VARIANTS)],
            sorted(int(q) for q in rng.choice(nv, ANN_QUERIES, replace=False)),
        )
        st.duck = duckdb.connect()
        self._open.append(st)
        self._expect(st)
        return st

    def _expect(self, st: State) -> None:
        """Answers of the first four operations, from the generated rows."""
        c = st.cols
        groups: dict[tuple, list[int]] = {}
        for f in FLAGS:
            for s in STATUSES:
                m = (c["flag"] == f) & (c["status"] == s)
                if m.any():
                    groups[(str(f), str(s))] = [int(m.sum()), int(c["qty"][m].sum())]
        st.expect["scan"] = groups
        st.expect["lookup"] = [sorted(_row(c, k) for k in ks)
                               for ks in st.key_sets]
        st.expect["range"] = [content_hash(_row(c, k) for k in range(lo, hi))
                              for lo, hi in st.ranges]
        ext = {}
        for f in FLAGS:
            m = c["flag"] == f
            ext[str(f)] = (int(m.sum()), int(c["qty"][m].sum()),
                           int(c["price_cents"][m].sum()))
        st.expect["external"] = ext

    def discard(self, st: State) -> None:
        self._close_state(st)
        shutil.rmtree(st.path, ignore_errors=True)

    def warm(self, throwaway: State, _real: State) -> None:
        """One pass over every operation on a throwaway state; the two
        state builds before it have run the same Spark code paths."""
        from harness import Recorder

        rec = Recorder(None)
        self._cycle(throwaway, rec)
        if rec.failed:
            raise RuntimeError(f"warm-up failed: {rec.errors}")

    # -- timed loop ------------------------------------------------------

    def loop(self, st: State, deadline: float, rec) -> None:
        while len(rec.cycles) < MIN_CYCLES or time.perf_counter() < deadline:
            self._cycle(st, rec)

    def _cycle(self, st: State, rec) -> None:
        v = st.cycle % VARIANTS
        st.cycle += 1
        total = 0.0
        for op in OPS:
            try:
                with rec.op(op):
                    got = getattr(self, f"_op_{op}")(st, v, rec)
            except Exception as e:  # noqa: BLE001 - counted, the loop goes on
                rec.fail(f"{op}: {e!r}")
                continue
            if op == "ann" and self.ann_ref is None:
                # the first answer an index built from this seed gave (on
                # the throwaway state, in the warm-up) is the reference
                self.ann_ref = got
            exp = self.ann_ref if op == "ann" else st.expect[op]
            rec.check(got == (exp[v] if op in VARIED else exp),
                      f"{op} answer, variant {v}")
            total += rec.last(op)
            rec.units += 1
        rec.cycles.append(total)

    def _op_scan(self, st: State, v: int, rec):
        from pyspark.sql import functions as F

        df = st.table.scan().groupBy("flag", "status").agg(
            F.count(F.lit(1)).alias("n"), F.sum("qty").alias("q"))
        with rec.span("spark.action"):
            rows = df.collect()
        return {(r["flag"], r["status"]): [r["n"], r["q"]] for r in rows}

    def _op_lookup(self, st: State, v: int, rec):
        with rec.span("spark.keys"):
            keys = self.ctx.spark.createDataFrame(
                [(k,) for k in st.key_sets[v]], "id long")
        df = st.table.scan_keys(keys)
        with rec.span("spark.action"):
            rows = df.collect()
        return sorted(tuple(r[c] for c in COLUMNS) for r in rows)

    def _op_range(self, st: State, v: int, rec):
        lo, hi = st.ranges[v]
        df = st.table.scan_where(f"id >= {lo} AND id < {hi}")
        with rec.span("spark.action"):
            rows = df.collect()
        return content_hash(tuple(r[c] for c in COLUMNS) for r in rows)

    def _op_external(self, st: State, v: int, rec):
        from moonlink_spark.integrations import duckdb_provider

        host, port = st.rpc.server.server_address
        duckdb_provider.attach_moonlink_table(
            st.duck, host, port, "bench", "lineitem", view_name="li")
        with rec.span("integrations.duckdb_query", layer=True):
            rows = st.duck.execute(EXTERNAL_SQL).fetchall()
        return {r[0]: (int(r[1]), int(r[2]), int(r[3])) for r in rows}

    def _op_ann(self, st: State, v: int, rec):
        df = st.backend.query_vector_index(
            "bench", "emb", "embedding", st.queries,
            topk=ANN_TOPK, nprobe=2, rerank=4 * ANN_TOPK)
        with rec.span("spark.action"):
            rows = df.collect()
        return sorted((r["query_id"], r["rn"], r["neighbor_id"]) for r in rows)

    # -- checks and report ----------------------------------------------

    def final_check(self, st: State, rec) -> bool:
        # nothing is written during the run; every answer was checked
        return True

    def report(self, st: State, rec) -> dict[str, Any]:
        names = {"scan": "scan", "lookup": "lookup", "range": "range",
                 "external": "external_read", "ann": "ann"}
        return {f"{names[op]}_p50_s": (median(rec.lat[op]), "s")
                for op in OPS if rec.lat[op]}

    # -- tracing ---------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from moonlink_spark.backend import MoonlinkBackend
        from moonlink_spark.integrations import duckdb_provider
        from moonlink_spark.rpc import MoonlinkRpcClient

        layers.install_table(tracer)

        def blob(sp, args, kwargs, result):
            sp.attrs["position_deletes"] = len(result.position_deletes)
            sp.attrs["bytes"] = len(result.encode())

        tracer.wrap(MoonlinkRpcClient, "scan_table_begin", "rpc.scan_begin",
                    after=blob)
        tracer.wrap(duckdb_provider, "attach_moonlink_table",
                    "integrations.attach")
        tracer.wrap(MoonlinkBackend, "query_vector_index",
                    "backend.query_vector_index")

    def layer_metrics(self, tracer, st: State, rec) -> dict[str, tuple]:
        out = layers.table_metrics(tracer, st.table)
        begins = tracer.by_name("rpc.scan_begin")
        out["rpc.scan_begin_s"] = (median([s.dur for s in begins]), "s")
        out["rpc.blob_bytes"] = (median([s.attrs["bytes"] for s in begins]),
                                 "bytes")
        out["rpc.position_deletes"] = (
            median([s.attrs["position_deletes"] for s in begins]), "count")
        for name in ("integrations.attach", "integrations.duckdb_query",
                     "backend.query_vector_index"):
            out[f"{name}_s"] = (
                median([s.dur for s in tracer.by_name(name)]), "s")
        return out

    def close(self) -> None:
        for st in list(self._open):
            self._close_state(st)

    def _close_state(self, st: State) -> None:
        self._open.remove(st)
        st.rpc.stop()
        st.duck.close()


def _lookup_keys(rng: np.random.Generator, parts: list[np.ndarray],
                 upserted: set[int]) -> list[int]:
    """LOOKUP_KEYS keys spread evenly over LOOKUP_FILES bulk-loaded files,
    none of them upserted: every key set makes the key index select the
    same number of files, whatever the seed."""
    per = LOOKUP_KEYS // LOOKUP_FILES
    keys: list[int] = []
    for f in rng.choice(len(parts), LOOKUP_FILES, replace=False):
        free = [int(k) for k in parts[f] if int(k) not in upserted]
        keys.extend(int(k) for k in rng.choice(free, per, replace=False))
    return sorted(keys)


def _key_range(rng: np.random.Generator,
               parts: list[np.ndarray]) -> tuple[int, int]:
    """RANGE_WIDTH consecutive keys (at most half a file, at small
    scales) inside one bulk-loaded file."""
    part = parts[int(rng.integers(0, len(parts)))]
    width = min(RANGE_WIDTH, len(part) // 2)
    lo = int(part[0]) + int(rng.integers(0, len(part) - width + 1))
    return lo, lo + width


def _gen_rows(rng: np.random.Generator, ids: np.ndarray) -> dict[str, np.ndarray]:
    n = len(ids)
    return {
        "id": ids,
        "qty": rng.integers(1, 51, n, dtype=np.int64),
        "price_cents": rng.integers(100, 100_000, n, dtype=np.int64),
        "flag": FLAGS[rng.integers(0, len(FLAGS), n)].astype(object),
        "status": STATUSES[rng.integers(0, len(STATUSES), n)].astype(object),
        "comment": np.array([f"c{x:012x}" for x in
                             rng.integers(0, 2**48, n)], dtype=object),
    }


def _row(cols: dict[str, np.ndarray], k: int) -> tuple:
    return (int(cols["id"][k]), int(cols["qty"][k]), int(cols["price_cents"][k]),
            str(cols["flag"][k]), str(cols["status"][k]), str(cols["comment"][k]))
