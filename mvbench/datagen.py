"""Seeded changelog batches over the ``orders`` base table.

The base tables are the fixed sf0.1 set in ``data/sf0.1`` (150k orders,
15k customers, 600k lineitem rows). Only the changes are generated: one
``numpy.random.Generator`` seeded from the run's ``--seed`` produces
every batch of a run. Batches follow the engine's changelog contract:

- ``__op`` is one of ``+I``, ``+U``, ``-D``;
- ``__seq`` increases across the whole run;
- a key changes at most once per batch;
- ``+I`` keys are new, ``-D`` and ``+U`` keys exist.

The traffic shape is an assumption, not taken from a measured or
cited source: 60% ``+U`` (half of them moving ``o_custkey``), 20%
``+I`` and 20% ``-D``, with the ``+U``/``-D`` keys drawn uniformly
from all live orders and new or moved orders given a uniformly drawn
customer. The change kinds are the ones the flagship scenario names;
the shares only keep the table's size constant. Uniform keys spread
every batch over all buckets and row groups, so changes that prune
by key (bucket or min/max pruning) gain little here, while changes to
per-batch or per-row cost show in full.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# Keys of inserted orders start here, far above every base key.
NEW_KEY_BASE = 10_000_000
N_CUSTOMERS = 15_000
# Share of +U rows that also move the order to another customer.
MOVE_CUSTKEY = 0.5

_EPOCH = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH).astype(int))
_STATUSES = np.asarray(["F", "O", "P"], dtype=object)
_PRIORITIES = np.asarray(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)

BATCH_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
        ("__op", pa.string()),
        ("__seq", pa.int64()),
    ]
)


def _price(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(1000.0, 500000.0, n), 2)


class OrderChurn:
    """Writes changelog batches for ``orders``.

    Keeps the generator's own copy of the live table so that every
    batch honours the contract. A batch is 60% ``+U`` (new price; a
    ``MOVE_CUSTKEY`` share also moves ``o_custkey`` to another
    customer), 20% ``+I`` of new keys and 20% ``-D``, in random order.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        live = pq.read_table(os.path.join(DATA_DIR, "orders.parquet")).to_pandas()
        self.live = live.set_index("o_orderkey", drop=False)
        self.next_key = NEW_KEY_BASE
        self.next_seq = 0

    def batch(self, n_changes: int, path: str) -> int:
        """Write one batch of ``n_changes`` rows to ``path``; return
        the row count."""
        rng = self.rng
        n_ins = n_del = n_changes // 5
        n_upd = n_changes - n_ins - n_del
        picked = rng.choice(self.live.index.to_numpy(), n_upd + n_del, replace=False)
        upd = self.live.loc[picked[:n_upd]].copy()
        dele = self.live.loc[picked[n_upd:]].copy()

        upd["o_totalprice"] = _price(rng, n_upd)
        move = rng.random(n_upd) < MOVE_CUSTKEY
        upd.loc[move, "o_custkey"] = rng.integers(0, N_CUSTOMERS, int(move.sum()))

        keys = np.arange(self.next_key, self.next_key + n_ins, dtype=np.int64)
        self.next_key += n_ins
        days = rng.integers(0, _ORDER_DAYS + 1, n_ins).astype("timedelta64[D]")
        ins = pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, N_CUSTOMERS, n_ins).astype(np.int64),
                "o_orderstatus": _STATUSES[rng.integers(0, 3, n_ins)],
                "o_totalprice": _price(rng, n_ins),
                "o_orderdate": (_EPOCH + days).astype("datetime64[us]"),
                "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ins)],
            }
        ).set_index("o_orderkey", drop=False)

        self.live = pd.concat([self.live.drop(index=dele.index), ins])
        self.live.loc[upd.index, ["o_totalprice", "o_custkey"]] = upd[
            ["o_totalprice", "o_custkey"]
        ]

        upd["__op"], ins["__op"], dele["__op"] = "+U", "+I", "-D"
        rows = pd.concat([upd, ins, dele]).reset_index(drop=True)
        rows = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
        rows["__seq"] = np.arange(self.next_seq, self.next_seq + len(rows), dtype=np.int64)
        self.next_seq += len(rows)
        table = pa.Table.from_pandas(rows, schema=BATCH_SCHEMA, preserve_index=False)
        pq.write_table(table, path)
        return len(rows)
