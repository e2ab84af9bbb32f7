"""Seeded input generator and client-side table model.

Everything here is plain numpy/pyarrow/pandas: the inputs never pass
through the engine, so an engine change cannot change what the benchmark
sends.  Base tables follow the schema and value ranges of the TPC-H-like
``lineitem`` and ``orders`` test tables, but keys are unique (an upsert
needs one row per key) and prices are multiples of 0.25, so sums over
them are exact and results compare without a float tolerance.

Row counts scale with ``sf`` like the test tables: at sf=0.1, 150k
orders and about 600k lineitems.
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
import pyarrow as pa

EPOCH = np.datetime64("1995-01-01", "D")
LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]
ORDERS_KEYS = ["o_orderkey"]
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_OSTATUS = np.array(["F", "O", "P"])
_PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def n_orders(sf: float) -> int:
    return max(100, int(round(1_500_000 * sf)))


def _days(rng, n: int, span: int) -> np.ndarray:
    return (EPOCH + rng.integers(0, span, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _quarters(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 4), int(hi * 4), n) / 4.0


def lineitem_rows(rng, orderkey, linenumber, returnflag=None) -> pd.DataFrame:
    """Fresh payload for the given keys; ``returnflag`` keeps an existing
    row's partition value (upserts must not move a row's partition)."""
    n = len(orderkey)
    if returnflag is None:
        returnflag = _FLAGS[rng.integers(0, 3, n)]
    return pd.DataFrame(
        {
            "l_orderkey": np.asarray(orderkey, dtype=np.int64),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": np.asarray(linenumber, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _quarters(rng, n, 900, 105_000),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.asarray(returnflag, dtype=object),
            "l_linestatus": _STATUS[rng.integers(0, 2, n)].astype(object),
            "l_shipdate": _days(rng, n, 2500),
        }
    )


def orders_rows(rng, orderkey, n_cust: int) -> pd.DataFrame:
    n = len(orderkey)
    return pd.DataFrame(
        {
            "o_orderkey": np.asarray(orderkey, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": _OSTATUS[rng.integers(0, 3, n)].astype(object),
            "o_totalprice": _quarters(rng, n, 1_000, 500_000),
            "o_orderdate": _days(rng, n, 2400),
            "o_orderpriority": _PRIO[rng.integers(0, 5, n)].astype(object),
        }
    )


def new_lineitems(rng, first_orderkey: int, n_rows: int) -> pd.DataFrame:
    """Whole new orders (1-7 lines each) starting at ``first_orderkey``,
    trimmed to ``n_rows`` rows."""
    lines = rng.integers(1, 8, n_rows)
    ok = np.repeat(np.arange(first_orderkey, first_orderkey + n_rows), lines)[:n_rows]
    ln = (np.arange(len(ok)) - np.searchsorted(ok, ok) + 1).astype(np.int32)
    return lineitem_rows(rng, ok, ln)


def to_arrow(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, preserve_index=False)


def ipc_bytes(table: pa.Table) -> bytes:
    """One Arrow IPC stream chunk, ZSTD like the reference's producers."""
    sink = io.BytesIO()
    opts = pa.ipc.IpcWriteOptions(compression="zstd")
    with pa.ipc.new_stream(sink, table.schema, options=opts) as w:
        w.write_table(table)
    return sink.getvalue()


def skewed_sample(rng, n: int, k: int, power: float = 3.0) -> np.ndarray:
    """``k`` distinct positions out of ``n``, denser toward ``n - 1``
    (the most recent keys when positions are in key order)."""
    k = min(k, n)
    w = (np.arange(1, n + 1, dtype=np.float64) / n) ** power
    return np.sort(rng.choice(n, size=k, replace=False, p=w / w.sum()))


class Model:
    """The expected table, kept by the client: a pandas frame indexed by
    one int64 code per key, in key order.  Every acknowledged write is
    applied here too."""

    def __init__(self, df: pd.DataFrame, keys: list[str]):
        self.keys = list(keys)
        self.df = df.set_index(self._index(df), drop=False).sort_index()

    def _index(self, df: pd.DataFrame) -> pd.Index:
        code = df[self.keys[0]].to_numpy(np.int64)
        if len(self.keys) == 2:  # (l_orderkey, l_linenumber): linenumber < 8
            code = code * 8 + df[self.keys[1]].to_numpy(np.int64)
        return pd.Index(code)

    def upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index(self._index(rows), drop=False)
        for c in rows.columns.difference(self.df.columns):
            # a column the table gains by schema evolution: NULL for old rows
            self.df[c] = pd.Series(pd.NA, index=self.df.index, dtype=rows[c].dtype)
        for c in self.df.columns.difference(rows.columns):
            # columns the batch does not carry keep their old value
            rows[c] = self.df[c].reindex(rows.index)
        kept = self.df.drop(rows.index, errors="ignore")
        self.df = pd.concat([kept, rows[self.df.columns]]).sort_index()

    def delete_keys(self, keys: pd.DataFrame) -> None:
        self.df = self.df.drop(self._index(keys), errors="ignore")

    def delete_where(self, col: str, value) -> int:
        hit = self.df[col] == value
        self.df = self.df[~hit]
        return int(hit.sum())

    def add_where(self, target: str, delta: float, col: str, value) -> int:
        hit = self.df[col] == value
        self.df.loc[hit, target] = self.df.loc[hit, target] + delta
        return int(hit.sum())

    def arrow(self, columns: list[str]) -> pa.Table:
        return to_arrow(self.df.reset_index(drop=True)[columns])
