"""Seeded input generator for the benchmark.

Everything the program under test sees is made here from ``--seed``:
Debezium-envelope change events (FIXTURES.md section B): one JSON object
per line, ``{"key", "value", "topic", "partition", "offset",
"timestamp"}``, with the value already unwrapped to the after-image row,
``null`` for a tombstone and a truncated JSON string for a malformed event.
Decimals travel as strings and timestamps as epoch microseconds, the two
lossy encodings of the wire format.

The same seed gives byte-identical files; nothing here touches Spark.
"""

from __future__ import annotations

import json
import random

TOPIC_PREFIX = "dbserver1.ecommerce"
PRIMARY_KEYS = {
    "customers": "customer_id",
    "orders": "order_id",
    "order_items": "order_item_id",
    "products": "product_id",
}
BASE_TS_MS = 1_700_000_000_000
BASE_DATE_US = 1_700_000_000_000_000
STATUSES = ("pending", "processing", "shipped", "delivered", "cancelled")
MALFORMED_VALUE = '{"truncated": '

#: Share of each event kind in one increment; malformed events take the rest.
MIX = {"update": 0.60, "insert": 0.25, "tombstone": 0.10}
#: Mean distance, in keys back from the newest, of an update or tombstone.
SKEW_KEYS = 2000


class TopicStream:
    """One table-topic's change stream and the live rows it implies.

    ``increment`` draws the next batch of events: inserts take fresh keys,
    updates and tombstones pick live keys skewed toward the newest ones
    (an exponential draw over insertion order with mean ``SKEW_KEYS``), and
    malformed events carry a key but an unparseable value.  Offsets
    increase by one per event, as on a single-partition Kafka topic."""

    def __init__(self, table: str, seed: int):
        self.table = table
        self.pk = PRIMARY_KEYS[table]
        self.topic = f"{TOPIC_PREFIX}.{table}"
        self.rng = random.Random(f"{seed}:{table}")
        self.live: dict[int, dict] = {}
        self.order: list[int] = []  # keys in insertion order
        self.next_id = 1
        self.next_offset = 0

    def _row(self, key: int) -> dict:
        r = self.rng
        if self.table == "customers":
            return {"customer_id": key, "email": f"user{key}@example.com",
                    "first_name": f"First{key}", "last_name": f"Last{key}",
                    "phone": f"555-{r.randint(1000, 9999)}"}
        if self.table == "products":
            return {"product_id": key, "product_name": f"Product {key}",
                    "category": r.choice(("Electronics", "Furniture", "Toys")),
                    "price": f"{r.randint(100, 99999) / 100:.2f}",
                    "stock_quantity": r.randint(0, 100)}
        if self.table == "orders":
            return {"order_id": key, "customer_id": r.randint(1, 50_000),
                    "order_date": BASE_DATE_US + key * 3_600_000_000,
                    "status": r.choice(STATUSES),
                    "total_amount": f"{r.randint(1000, 500000) / 100:.2f}",
                    "shipping_address": f"{key} Elm St"}
        return {"order_item_id": key, "order_id": r.randint(1, 50_000),
                "product_id": r.randint(1, 5_000), "quantity": r.randint(1, 5),
                "unit_price": f"{r.randint(100, 99999) / 100:.2f}",
                "subtotal": f"{r.randint(100, 99999) / 100:.2f}"}

    def _changed(self, row: dict) -> dict:
        r = self.rng
        row = dict(row)
        if self.table == "orders":
            row["status"] = r.choice(STATUSES)
            row["total_amount"] = f"{r.randint(1000, 500000) / 100:.2f}"
        elif self.table == "customers":
            row["phone"] = f"555-{r.randint(1000, 9999)}"
        elif self.table == "products":
            row["stock_quantity"] = r.randint(0, 100)
            row["price"] = f"{r.randint(100, 99999) / 100:.2f}"
        else:
            row["quantity"] = r.randint(1, 9)
        return row

    def _pick_live(self) -> int:
        n = len(self.order)
        while True:
            back = min(n - 1, int(self.rng.expovariate(1.0 / SKEW_KEYS)))
            key = self.order[n - 1 - back]
            if key in self.live:
                return key

    def _event(self, key: int, value: str | None, kind: str) -> dict:
        off = self.next_offset
        self.next_offset += 1
        return {
            "key": json.dumps({self.pk: key}),
            "value": value,
            "topic": self.topic,
            "partition": 0,
            "offset": off,
            "timestamp": BASE_TS_MS + off * 1000 + self.rng.randint(0, 999),
            "_kind": kind,
        }

    def _insert(self) -> dict:
        key = self.next_id
        self.next_id += 1
        row = self._row(key)
        self.live[key] = row
        self.order.append(key)
        return self._event(key, json.dumps(row), "insert")

    def snapshot(self, n_rows: int) -> list[dict]:
        """The initial snapshot: one insert per seeded row."""
        return [self._insert() for _ in range(n_rows)]

    def increment(self, n_events: int) -> list[dict]:
        """The next ``n_events`` change events, kinds shuffled together."""
        kinds = []
        for kind, share in MIX.items():
            kinds += [kind] * int(round(n_events * share))
        kinds += ["malformed"] * (n_events - len(kinds))
        self.rng.shuffle(kinds)
        events = []
        for kind in kinds:
            if kind == "insert" or (kind != "malformed" and not self.live):
                events.append(self._insert())
            elif kind == "update":
                key = self._pick_live()
                self.live[key] = self._changed(self.live[key])
                events.append(self._event(key, json.dumps(self.live[key]), "update"))
            elif kind == "tombstone":
                key = self._pick_live()
                del self.live[key]
                events.append(self._event(key, None, "tombstone"))
            else:
                key = self.rng.randint(1, self.next_id)
                events.append(self._event(key, MALFORMED_VALUE, "malformed"))
        return events


def counts(events: list[dict]) -> tuple[int, int]:
    """(valid, malformed) event counts of one increment."""
    bad = sum(1 for e in events if e["_kind"] == "malformed")
    return len(events) - bad, bad


def write_jsonl(path: str, events: list[dict]) -> None:
    """Write events in the Kafka-envelope JSONL format (annotation dropped)."""
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps({k: v for k, v in e.items() if k != "_kind"}))
            f.write("\n")


def replay(events: list[dict], pk: str, live: dict | None = None) -> dict[int, dict]:
    """Latest-state oracle: fold events into ``live`` in offset order.

    The rule of ``cdc.fixtures.expected_live_rows``: malformed events are
    skipped, a tombstone removes its key, any other event replaces the
    key's row with its after-image."""
    live = {} if live is None else live
    for e in sorted(events, key=lambda e: e["offset"]):
        if e["_kind"] == "malformed":
            continue
        key = json.loads(e["key"])[pk]
        if e["value"] is None:
            live.pop(key, None)
        else:
            live[key] = json.loads(e["value"])
    return live
