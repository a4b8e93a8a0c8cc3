"""Seeded input generators and their ground truth.

Every input the benchmark feeds the engine comes from here, derived
only from the ``--seed`` argument, so the same seed gives the same
inputs.  Each generator also keeps the ground truth the correctness
checks compare the engine's results against.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_US = 3_600 * 10**6

_STATUS = np.array(["O", "F", "P"], dtype=object)
_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
_CLERKS = np.array([f"Clerk#{i:09d}" for i in range(1, 1000)], dtype=object)
_WORDS = (
    "furiously regular deposits sleep carefully final packages haggle "
    "quickly ironic accounts boost blithely pending requests nag slyly "
    "express theodolites wake bold foxes".split()
)


def ts_string(base: dt.datetime, offset_us: int) -> str:
    """ISO-8601 UTC timestamp with microseconds, as the JSON reader parses it."""
    return (base + dt.timedelta(microseconds=int(offset_us))).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ"
    )


def _base_time(rng: np.random.Generator) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))


class OrdersSnapshots:
    """Full snapshots of a TPC-H ``orders``-shaped table (a third of sf0.1).

    Upload 0 is the full table; each later upload changes ``CHANGE_SHARE``
    of the live keys: mostly updates, plus some inserts of new keys and
    deletes.  The live state is kept in numpy arrays, so the last upload
    is the ground truth of the SCD2 current view.
    """

    KEY = "o_orderkey"
    N_ROWS = 25_000
    CHANGE_SHARE = 0.01
    # fortnightly uploads: from the first upload on, the daily change
    # series spans at least the anomaly scorer's 12-point minimum
    UPLOAD_EVERY_DAYS = 14

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.base = _base_time(self.rng)
        words = self.rng.choice(_WORDS, (1024, 4))
        self.comments = np.array([" ".join(w) for w in words], dtype=object)
        self.next_key = 4
        self.cols = self.new_rows(self.N_ROWS)
        self.uploads = 0
        self.last_counts = {"update": 0, "insert": 0, "delete": 0}

    def new_rows(self, n: int) -> dict[str, np.ndarray]:
        """``n`` new orders with fresh keys."""
        rng = self.rng
        keys = np.arange(self.next_key, self.next_key + 4 * n, 4, dtype=np.int64)
        self.next_key += 4 * n
        return {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 15_000, n, dtype=np.int64),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, n), 2),
            "o_orderdate": rng.integers(8035, 10_440, n).astype(np.int32),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
            "o_clerk": _CLERKS[rng.integers(0, len(_CLERKS), n)],
            "o_shippriority": np.zeros(n, dtype=np.int32),
            "o_comment": self.comments[rng.integers(0, len(self.comments), n)],
        }

    @property
    def n_live(self) -> int:
        return len(self.cols["o_orderkey"])

    @classmethod
    def day_of(cls, upload: int) -> int:
        """Day of upload ``upload``, counted from the first load's day."""
        return upload * cls.UPLOAD_EVERY_DAYS

    def event_time(self, upload: int) -> str:
        """Event time stamped on upload ``upload``'s CDC events."""
        return (
            self.base + dt.timedelta(days=self.day_of(upload), seconds=upload * 37)
        ).strftime("%Y-%m-%d %H:%M:%S")

    def table(self) -> pa.Table:
        c = dict(self.cols)
        c["o_orderdate"] = pa.array(c["o_orderdate"], pa.int32()).cast(pa.date32())
        return pa.table(c)

    def next_upload(self) -> None:
        """Advance the live state by one upload (~``CHANGE_SHARE`` of keys)."""
        rng, c = self.rng, self.cols
        n = self.n_live
        n_change = max(3, int(n * self.CHANGE_SHARE))
        n_ins = max(1, n_change // 10)
        n_del = max(1, n_change // 10)
        n_upd = n_change - n_ins - n_del
        picked = rng.choice(n, n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        price = c["o_totalprice"].copy()
        price[upd] = np.round(price[upd] + rng.integers(1, 5_000, n_upd) / 100.0, 2)
        c["o_totalprice"] = price
        status = c["o_orderstatus"].copy()
        status[upd] = _STATUS[rng.integers(0, 3, n_upd)]
        c["o_orderstatus"] = status
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        new = self.new_rows(n_ins)
        for k in c:
            c[k] = np.concatenate([c[k][keep], new[k]])
        self.uploads += 1
        self.last_counts = {"update": n_upd, "insert": n_ins, "delete": n_del}

    def write(self, path: str) -> None:
        pq.write_table(self.table(), path)


class EventBatches:
    """CDC event batches for the streaming SCD2 apply: the change feed of
    the ``snapshot_sync`` orders table.

    - each batch is one upload's worth of changes to a seeded
      :class:`OrdersSnapshots` table: ``CHANGE_SHARE`` of its rows, with
      the same 80/10/10 update/insert/delete mix as
      :meth:`OrdersSnapshots.next_upload`;
    - the consumer starts mid-feed, on an empty history: an update or
      delete may name a key the stream has not seen yet (the engine
      applies an update like an insert, and a delete of an unseen key is
      a no-op);
    - unlike a snapshot diff, a stream carries every version of a key:
      updates pick keys by a Zipfian distribution with YCSB's default
      constant 0.99, so hot keys get several versions in one batch;
      deletes pick live keys uniformly, inserts take new keys;
    - about ``DUP_SHARE`` of the lines repeat an ``event_id``: half within
      the batch, half re-sent from the previous batch;
    - timestamps are unique, inside the batch's own hour, and written in
      shuffled order (out of order, well within the 1-day watermark).

    Ground truth: the latest unique event per key the stream has touched
    (a delete removes the key from the current view) and the number of
    versions applied.
    """

    CHANGE_SHARE = OrdersSnapshots.CHANGE_SHARE
    DUP_SHARE = 0.01
    ZIPF_THETA = 0.99

    def __init__(self, seed: int):
        self.orders = OrdersSnapshots(seed)
        self.rng = self.orders.rng
        self.base = self.orders.base
        cols = self.orders.cols
        n = self.orders.n_live
        self.batch_events = int(n * self.CHANGE_SHARE)
        self.row_of = {int(k): i for i, k in enumerate(cols["o_orderkey"])}
        # Zipf rank -> key of the table
        self.rank_keys = cols["o_orderkey"][self.rng.permutation(n)]
        weights = 1.0 / np.arange(1, n + 1) ** self.ZIPF_THETA
        self.zipf_cdf = np.cumsum(weights) / weights.sum()
        self.table_keys = [int(k) for k in cols["o_orderkey"]]
        self.state: dict[int, dict | None] = {}  # rows changed so far, None: deleted
        self.batches = 0
        self.next_id = 0
        self.latest: dict[str, dict | None] = {}  # key -> payload of its latest event
        self.versions = 0
        self._prev_lines: list[str] = []

    def _row(self, key: int) -> dict | None:
        """Current row of ``key`` in the table, as the event payload."""
        if key in self.state:
            return self.state[key]
        i = self.row_of[key]
        c = self.orders.cols
        row = {k: str(v[i]) for k, v in c.items() if k != "o_orderdate"}
        row["o_orderdate"] = str(c["o_orderdate"][i].astype("datetime64[D]"))
        return row

    def _live(self, draw) -> int:
        """A live key from ``draw()``, redrawn while it names a deleted key."""
        while self._row(key := int(draw())) is None:
            pass
        return key

    def next_batch(self) -> list[str]:
        """JSON lines of the next batch, in arrival (shuffled) order."""
        rng, b, n = self.rng, self.batches, self.batch_events
        n_ins = n_del = n // 10
        types = rng.permutation(["update"] * (n - n_ins - n_del) + ["insert"] * n_ins
                                + ["delete"] * n_del)
        new = self.orders.new_rows(n_ins)
        new_keys = [int(k) for k in new["o_orderkey"]]
        for key in new_keys:
            self.row_of[key] = len(self.row_of)
        self.orders.cols = {k: np.concatenate([v, new[k]]) for k, v in self.orders.cols.items()}
        offs = np.sort(rng.choice(HOUR_US, n, replace=False)) + b * HOUR_US
        lines = []
        for etype, off in zip(types, offs):
            if etype == "insert":
                key = new_keys.pop()
                self.table_keys.append(key)
                payload = self._row(key)
            elif etype == "delete":
                key = self._live(lambda: self.table_keys[rng.integers(len(self.table_keys))])
                payload = None
            else:
                key = self._live(lambda: self.rank_keys[
                    np.searchsorted(self.zipf_cdf, rng.random())])
                payload = dict(self._row(key))
                price = float(payload["o_totalprice"]) + int(rng.integers(1, 5_000)) / 100.0
                payload["o_totalprice"] = str(round(price, 2))
                payload["o_orderstatus"] = str(_STATUS[rng.integers(0, 3)])
            self.state[key] = payload
            self.next_id += 1
            eid = f"s{self.next_id:09d}"
            if payload is not None:
                self.versions += 1
            self.latest[str(key)] = payload
            lines.append(json.dumps({
                "event_id": eid,
                "event_type": etype,
                "company_id": "acme",
                "table_name": "orders",
                "timestamp": ts_string(self.base, off),
                "key_column": OrdersSnapshots.KEY,
                "key_value": str(key),
                "old_values": None,
                "new_values": payload,
            }))
        n_dup = max(2, int(n * self.DUP_SHARE))
        dups = [lines[i] for i in rng.choice(n, n_dup // 2, replace=False)]
        if self._prev_lines:
            idx = rng.choice(len(self._prev_lines), n_dup - n_dup // 2, replace=False)
            dups += [self._prev_lines[i] for i in idx]
        self._prev_lines = lines
        out = lines + dups
        out = [out[i] for i in rng.permutation(len(out))]
        self.batches += 1
        return out

    def current(self) -> dict[str, dict]:
        """Ground truth current view: key -> payload of its latest event."""
        return {k: p for k, p in self.latest.items() if p is not None}

    def sample_keys(self, k: int) -> list[str]:
        """Seeded lookup keys: hot (head of the Zipf order) and cold."""
        n = len(self.rank_keys)
        hot = [str(self.rank_keys[i]) for i in self.rng.integers(0, 20, k - k // 2)]
        cold = [str(self.rank_keys[i]) for i in self.rng.integers(20, n, k // 2)]
        return hot + cold
