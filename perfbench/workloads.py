"""The benchmark's workloads and the two ways an op is executed.

Untraced, an op goes over the paper's public surface: ingest and SQL as
Arrow IPC through ``serving.SqlServer`` on a client socket, CDC through
``streaming.ingest.apply_changes_batch`` (the body a ``foreachBatch``
sink calls; ``serving`` has no CDC op).  Traced, the same op makes the
same layer calls the server's handler makes, but in-process on the
tracing thread, each inside a span (see spans.py).

Each workload is a closed loop of cycles.  A cycle is a fixed list of
ops built from the seeded generator; the client model (gen.Model) is
updated as each write is acknowledged, and every read is checked
against it.
"""

from __future__ import annotations

import json
import socket
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import gen

# query shapes each workload can express over its table (Workload.shape_sql)
SHAPES = ["point", "count_all", "count_range", "rollup", "topk"]


class Op:
    """One client request.  ``kind`` is upsert, cdc, delete, update or a
    query shape; ``apply(model)`` records an acknowledged write in the
    model; ``check(result, model)`` returns an error string or None."""

    def __init__(self, kind, cls, sql=None, batch=None, apply=None, check=None):
        self.kind, self.cls, self.sql = kind, cls, sql
        self.apply, self.check = apply, check
        self.chunk, self.rows, self.user_bytes = None, 0, 0
        if batch is not None:
            table = gen.to_arrow(batch)
            self.chunk = gen.ipc_bytes(table)
            self.rows, self.user_bytes = table.num_rows, table.nbytes


# ------------------------------------------------------------------ wire
class Client:
    """One persistent connection speaking serving.py's framing: a JSON
    header line, length-prefixed IPC chunks, and a length-prefixed JSON
    response header followed by ``nbytes`` of Arrow IPC."""

    def __init__(self, addr):
        self.sock = socket.create_connection(addr, timeout=300)
        self.f = self.sock.makefile("rb")

    def call(self, header: dict, chunks=()):
        buf = (json.dumps(header) + "\n").encode()
        buf += b"".join(struct.pack(">I", len(c)) + c for c in chunks)
        self.sock.sendall(buf)
        (n,) = struct.unpack(">I", self._read(4))
        head = json.loads(self._read(n))
        table = None
        if head.get("nbytes"):
            data = self._read(head["nbytes"])
            with pa.ipc.open_stream(pa.BufferReader(data)) as r:
                table = r.read_all()
        return head, table

    def _read(self, n: int) -> bytes:
        data = self.f.read(n)
        if len(data) != n:
            raise EOFError("server closed the connection")
        return data

    def close(self):
        self.f.close()
        self.sock.close()


def run_wire(ctx, op: Op, client: Client):
    """Untraced execution; returns the result table (or None)."""
    if op.kind == "upsert":
        head, table = client.call(
            {"op": "upsert", "table": ctx.table, "n_chunks": 1}, [op.chunk]
        )
    elif op.kind == "cdc":
        from polars_lake_spark.sources.ipc import dataframe_from_ipc
        from polars_lake_spark.streaming.ingest import apply_changes_batch

        df = dataframe_from_ipc(ctx.spark, op.chunk)
        apply_changes_batch(ctx.engine, ctx.table, df, sequence_by="seq")
        return None
    else:
        head, table = client.call({"op": "select", "sql": op.sql})
    if head.get("error"):
        raise RuntimeError(head["error"])
    return table


def run_traced(ctx, op: Op):
    """Traced execution on this thread: the handler's layer calls, each
    in its own span.  Returns the result table (or None)."""
    from polars_lake_spark.sources.ipc import arrow_table_to_ipc, dataframe_from_ipc
    from polars_lake_spark.streaming.ingest import apply_changes_batch

    tr, eng = ctx.tracer, ctx.engine
    if op.kind in ("upsert", "cdc"):
        with tr.span("ipc.decode"):
            df = dataframe_from_ipc(ctx.spark, op.chunk)
        if op.kind == "upsert":
            eng.upsert(ctx.table, df)  # spanned by spans.instrument
        else:
            with tr.span("cdc.apply"):
                apply_changes_batch(eng, ctx.table, df, sequence_by="seq")
        return None
    layer = f"dml.{op.kind}" if op.cls == "dml" else "engine.sql"
    with tr.span(f"{layer}.plan", shape=op.kind):
        df = eng.sql(op.sql)
    with tr.span(f"{layer}.exec", shape=op.kind):
        table = df.toArrow()
    with tr.span("ipc.encode", shape=op.kind) as sp:
        payload = arrow_table_to_ipc(table, compression="zstd")
        sp["bytes"] = len(payload)
    with pa.ipc.open_stream(pa.BufferReader(payload)) as r:
        return r.read_all()


# --------------------------------------------------------------- checks
def _sorted(table: pa.Table, keys: list[str], columns: list[str]) -> pa.Table:
    table = table.select(columns).sort_by([(k, "ascending") for k in keys])
    cols = []
    for c in table.columns:
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us"))  # tz-aware UTC or naive: same instant
        cols.append(c.combine_chunks())
    return pa.table(cols, names=columns)


def frames_equal(got: pa.Table, want: pd.DataFrame, keys: list[str]) -> str | None:
    """Exact comparison of a result table with model rows (order-free)."""
    cols = list(want.columns)
    missing = [c for c in cols if c not in got.column_names]
    if missing:
        return f"result lacks columns {missing}"
    if got.num_rows != len(want):
        return f"{got.num_rows} rows, model has {len(want)}"
    a = _sorted(got, keys, cols)
    b = _sorted(gen.to_arrow(want.reset_index(drop=True)), keys, cols)
    for c in cols:
        x, y = a[c], b[c]
        if x.type != y.type:
            y = y.cast(x.type)
        if not x.equals(y):
            diff = pc.not_equal(x, y).to_numpy(zero_copy_only=False)
            nulls = (x.is_null().to_numpy(zero_copy_only=False)
                     != y.is_null().to_numpy(zero_copy_only=False))
            i = int(np.flatnonzero(np.asarray(diff, dtype=bool) | nulls)[0])
            return f"column {c} row {i}: got {x[i].as_py()!r}, model {y[i].as_py()!r}"
    return None


# ------------------------------------------------------------ workloads
class Workload:
    """Shared loop plumbing; subclasses define the table and the cycle."""

    name = table = ""
    keys: list[str] = []
    record: dict = {}
    # the op kind whose latency is write_p50_ms
    write_kind = ""
    # warm-up cycles: a fixed count, so every run warms the same way
    warmup = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.seq = 1

    # -- SQL shapes over this table, answerable by DuckDB over the model
    def shape_sql(self, shape: str) -> str:
        raise NotImplementedError

    def shape_check(self, shape: str, sql: str) -> Op:
        """A read of ``shape`` checked against the model at that moment."""
        ctx = self.ctx

        def check(table, model):
            return ctx.oracle_check(sql, table, model)

        return Op(shape, "read", sql=sql, check=check)

    # (column DML statements filter on, column an UPDATE adds 1 to)
    dml_cols = ("", "")

    def probe(self, kind: str) -> Op:
        """One op of ``kind`` (cdc, delete or update) for a traced run
        whose loop had none, so every layer reports on every workload."""
        return self.cdc_op(self.ctx.cycle_no) if kind == "cdc" else self.dml_op(kind)

    # -- DML over the wire, checked via the affected-row count
    def dml_op(self, kind: str) -> Op:
        t, (col, set_col) = self.table, self.dml_cols
        value = int(self.rng.choice(self.ctx.model.df[col].values))
        if kind == "delete":
            sql = f"DELETE FROM {t} WHERE {col} = {value}"
        else:
            sql = f"UPDATE {t} SET {set_col} = {set_col} + 1.0 WHERE {col} = {value}"
        state = {}

        def apply(model):
            if kind == "delete":
                state["n"] = model.delete_where(col, value)
            else:
                state["n"] = model.add_where(set_col, 1.0, col, value)

        def check(table, model):
            got = table.column(table.num_columns - 1)[0].as_py() if table is not None else None
            return None if got == state["n"] else f"{kind} affected {got}, model {state['n']}"

        return Op(kind, "dml", sql=sql, apply=apply, check=check)

    def cdc(self, keys: pd.DataFrame, payload: pd.DataFrame, delete_every: int = 13) -> Op:
        """A CDC Type-1 micro-batch: about 1 row in ``delete_every`` is a
        delete, the rest upsert ``payload``; ``seq`` rises across batches."""
        n = len(payload)
        is_del = self.rng.random(n) < 1.0 / delete_every
        seqs = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        batch = payload.assign(_op=np.where(is_del, "delete", "upsert"), seq=seqs)
        ups = payload[~is_del].assign(__seq=pd.array(seqs[~is_del], dtype="Int64"))
        dels = keys[is_del]

        def apply(model):
            model.upsert(ups)
            model.delete_keys(dels)

        op = Op("cdc", "write", batch=batch, apply=apply)
        op.upserted, op.deleted = ups[self.keys], dels
        return op


class UpsertStream(Workload):
    name, table, headline = "upsert_stream", "lineitem", "upsert"
    write_kind = "upsert"
    # latency is still falling at the fourth cycle; more does not fit
    # the time budget
    warmup = 4
    keys = gen.LINEITEM_KEYS
    dml_cols = ("l_orderkey", "l_quantity")
    record = {
        "shape": "one producer connection sends rpc(op='upsert'); each call is one "
        "Arrow IPC chunk of ~20k rows (sf0.1): ~80% update existing keys, skewed "
        "toward recent l_orderkey, ~20% insert new orders; write only",
        "table": "versioned lineitem (~600k rows at sf0.1), partition_by=l_returnflag, "
        "bucket_by=l_orderkey, 8 buckets, keys (l_orderkey, l_linenumber)",
        "clients": 1,
        "loop": "closed: one upsert per cycle, the next is sent after the ack",
        "why": "the write path does the work (ipc decode, engine.upsert, merge, layout, "
        "snapshot commit, zone-map sidecar); reads are idle",
    }

    def base(self) -> pd.DataFrame:
        n = gen.n_orders(self.ctx.sf)
        df = gen.new_lineitems(self.rng, 0, 4 * n)
        self.next_orderkey = int(df.l_orderkey.max()) + 1
        return df

    def create(self, engine, name, source):
        engine.create_table(
            name,
            source,
            partition_by=["l_returnflag"],
            bucket_by=["l_orderkey"],
            n_buckets=8,
            keys=self.keys,
            versioned=True,
        )

    def upsert_op(self) -> Op:
        model, rng = self.ctx.model, self.rng
        n = max(20, int(round(200_000 * self.ctx.sf)))  # ~20k rows at sf0.1
        n_upd = int(round(0.8 * n))
        pos = gen.skewed_sample(rng, len(model.df), n_upd)
        old = model.df.iloc[pos]
        upd = gen.lineitem_rows(rng, old.l_orderkey.values, old.l_linenumber.values,
                                old.l_returnflag.values)
        new = gen.new_lineitems(rng, self.next_orderkey, n - n_upd)
        self.next_orderkey = int(new.l_orderkey.max()) + 1
        rows = pd.concat([upd, new], ignore_index=True)
        return Op("upsert", "write", batch=rows, apply=lambda m: m.upsert(rows))

    def cycle(self, i: int) -> list[Op]:
        return [self.upsert_op()]

    def cdc_op(self, i: int) -> Op:
        """A CDC batch over existing rows (the traced run's probe)."""
        model, rng = self.ctx.model, self.rng
        n = max(10, int(round(37_000 * self.ctx.sf)))
        old = model.df.iloc[gen.skewed_sample(rng, len(model.df), n)]
        keys = old[self.keys].reset_index(drop=True)
        pay = gen.lineitem_rows(rng, keys.l_orderkey.values, keys.l_linenumber.values,
                                old.l_returnflag.values)
        return self.cdc(keys, pay)

    def shape_sql(self, shape: str) -> str:
        t = self.table
        if shape == "point":
            k = int(self.rng.choice(self.ctx.model.df.l_orderkey.values))
            # the model's columns: SELECT * would add the derived bucket_id
            cols = ", ".join(self.ctx.model.df.columns)
            return f"SELECT {cols} FROM {t} WHERE l_orderkey = {k}"
        if shape == "count_all":
            return f"SELECT COUNT(*) AS n FROM {t}"
        if shape == "count_range":
            return (f"SELECT COUNT(*) AS n FROM {t} WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'"
                    " AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'")
        if shape == "rollup":
            return (f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
                    f"SUM(l_extendedprice) AS sum_price, MAX(l_shipdate) AS last_ship FROM {t} "
                    "GROUP BY l_returnflag, l_linestatus")
        return (f"SELECT l_orderkey, SUM(l_extendedprice) AS rev FROM {t} GROUP BY l_orderkey "
                "ORDER BY rev DESC, l_orderkey LIMIT 10")


class CdcMixed(Workload):
    name, table, headline = "cdc_mixed", "orders", "point"
    write_kind = "cdc"
    keys = gen.ORDERS_KEYS
    dml_cols = ("o_custkey", "o_totalprice")
    # a cycle takes 7-12 s; CDC latency still falls ~10% per cycle after
    # two, but more warm-up does not fit the time budget
    warmup = 2
    record = {
        "shape": "one client runs a fixed interleave: each cycle applies a CDC Type-1 "
        "micro-batch (~3.7k rows at sf0.1 over a narrow o_orderkey window that walks the "
        "table, ~1 in 13 a delete, rising seq) via apply_changes_batch, then SQL DELETE "
        "(even cycles) or UPDATE (odd cycles) WHERE o_custkey = k, point reads of a key "
        "the batch upserted and one it deleted, then COUNT(*) (even) or a GROUP BY "
        "rollup (odd)",
        "table": "versioned orders (150k rows at sf0.1), cluster_by=o_orderkey, "
        "deletion_vectors=True, keys (o_orderkey)",
        "clients": 1,
        "loop": "closed: the next op is sent after the previous one returns",
        "why": "writes beside reads: a write gain that leaves more small files or more "
        "deletion vectors, and so costs reads, shows",
    }

    def base(self) -> pd.DataFrame:
        self.n = gen.n_orders(self.ctx.sf)
        self.n_cust = max(10, self.n // 10)
        return gen.orders_rows(self.rng, np.arange(self.n), self.n_cust)

    def create(self, engine, name, source):
        engine.create_table(
            name,
            source,
            keys=self.keys,
            versioned=True,
            cluster_by=["o_orderkey"],
            deletion_vectors=True,
        )

    def cdc_op(self, i: int) -> Op:
        """A batch over a narrow key window that walks the table."""
        rng = self.rng
        size = max(10, int(round(37_000 * self.ctx.sf)))
        width = int(size * 1.08)
        lo = (i * 7 * width) % max(1, self.n - width)
        keys = pd.DataFrame(
            {"o_orderkey": np.sort(rng.choice(np.arange(lo, lo + width), size, replace=False))}
        )
        return self.cdc(keys, gen.orders_rows(rng, keys.o_orderkey.values, self.n_cust))

    def cycle(self, i: int) -> list[Op]:
        cdc = self.cdc_op(i)
        even = i % 2 == 0
        ops = [cdc, self.dml_op("delete" if even else "update")]
        # read-your-writes: a key this batch upserted and one it deleted
        ups, dels = cdc.upserted.o_orderkey, cdc.deleted.o_orderkey
        for key in (ups.iloc[0], dels.iloc[0] if len(dels) else ups.iloc[-1]):
            ops.append(self.shape_check("point", self._point(int(key))))
        shape = "count_all" if even else "rollup"
        ops.append(self.shape_check(shape, self.shape_sql(shape)))
        return ops

    def _point(self, k: int) -> str:
        return f"SELECT * FROM {self.table} WHERE o_orderkey = {k}"

    def shape_sql(self, shape: str) -> str:
        t = self.table
        if shape == "point":
            return self._point(int(self.rng.choice(self.ctx.model.df.o_orderkey.values)))
        if shape == "count_all":
            return f"SELECT COUNT(*) AS n FROM {t}"
        if shape == "count_range":
            return (f"SELECT COUNT(*) AS n FROM {t} WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'"
                    " AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'")
        if shape == "rollup":
            return (f"SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS sum_price, "
                    f"MAX(o_orderdate) AS last_order FROM {t} GROUP BY o_orderstatus")
        return (f"SELECT o_custkey, SUM(o_totalprice) AS spend FROM {t} GROUP BY o_custkey "
                "ORDER BY spend DESC, o_custkey LIMIT 10")


WORKLOADS = {w.name: w for w in (UpsertStream, CdcMixed)}
