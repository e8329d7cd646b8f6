#!/usr/bin/env python3
"""Seeded GoldenGate change-event generator and expected-state model.

The generator writes the four JSON-line streams the ingest pipeline reads
(ORDERS, ORDER_DETAILS, ORDER_LINE_ITEMS change events and transaction
metadata) as a list of drops: each drop is one set of files that lands in
the source directories at once. It shares no code with the engine's own
`cdcgen.CdcEventGen`.

While generating, it keeps its own model of what the engine must produce,
following the reference's rules:

- order, detail and line-item versions advance independently;
- a row of `orders_current` exists only once an order image is merged
  (the insert guard), so a child-only update of an unknown order is dropped;
- deletes are skipped;
- a transaction shows only once every event its metadata announces has
  arrived, so incomplete transactions never show;
- on a version tie the row already in the target wins.

Updates only target orders that were visible before their drop landed, and
every generated image carries a fresh version except redeliveries, which
repeat the target's current version. That keeps the expected state
independent of how the engine cuts drops into micro-batches.

Rebuild every expected digest and query answer from a seed, without
running the program:

    python3 cdcbench/workload.py --workload trickle --seed 1 --seconds 20
"""

import argparse
import hashlib
import json
import os
import random
import sys

STREAMS = ("orders", "details", "lineitems", "metadata")
TABLE_OF = {"orders": "ORDERS", "details": "ORDER_DETAILS", "lineitems": "ORDER_LINE_ITEMS"}
STREAM_OF_KIND = {"o": "orders", "d": "details", "l": "lineitems"}

STATUSES = ("NEW", "PAID", "PACKED", "SHIPPED", "DELIVERED", "CANCELLED")
ORDER_TYPES = ("ONLINE", "STORE", "PHONE")
METHODS = ("STANDARD", "EXPRESS", "OVERNIGHT")
CARRIERS = ("UPS", "FEDEX", "DHL", "USPS")
DSTATUSES = ("PENDING", "LABELLED", "IN_TRANSIT", "OUT_FOR_DELIVERY", "DELIVERED", "RETURNED")
PRODUCTS = 40
CUSTOMERS = 2000
FIRST_ORDER_ID = 100001

# Workload make-up. The shares follow the shape of the engine's own
# `cdcgen.CdcEventGen`, which follows the reference's seed generator: a base
# transaction inserts ORDERS_PER_TX orders, each with 1-7 line items (TPC-H's
# lineitem range); per order, 1 in 7 gets an order update, 1 in 9 a
# detail-only update, 1 in 13 a delete and 1 in 17 a redelivery at its
# current version; 1 in 11 base transactions never completes, and the
# detail-only updates that hit its orders are the insert-guard case. So each
# weight is a count per base transaction. CdcEventGen has no line-item
# update; ITEM_UPD_RATE assumes the detail-only rate, the other child table.
# The README lists the resulting shares.
ORDERS_PER_TX = 5
ITEMS_PER_ORDER = (1, 7)
ITEM_UPD_RATE = 1 / 9
NEVER_SHARE = 1 / 11
TRICKLE_MIX = (
    ("new", 1 - NEVER_SHARE), ("never", NEVER_SHARE),
    ("order_upd", ORDERS_PER_TX / 7),
    ("detail_upd", ORDERS_PER_TX / 9 * (1 - NEVER_SHARE)), ("guard", ORDERS_PER_TX / 9 * NEVER_SHARE),
    ("item_upd", ORDERS_PER_TX * ITEM_UPD_RATE),
    ("delete", ORDERS_PER_TX / 13), ("redelivery", ORDERS_PER_TX / 17),
)
# The backfill backlog is clean catch-up traffic: new transactions and order,
# detail-only and line-item updates at the same rates; it has no
# never-completing, delete or redelivery transactions.
BACKLOG_MIX = (("new", 1.0), ("order_upd", ORDERS_PER_TX / 7), ("detail_upd", ORDERS_PER_TX / 9),
               ("item_upd", ORDERS_PER_TX * ITEM_UPD_RATE))
# Assumptions where the reference gives no figure (the README says why):
# the share of new transactions split over two drops, and the share of
# trickle updates aimed at the orders inserted in about the last two drops.
TRICKLE_STRADDLE = 0.10
TRICKLE_RECENT = 0.70
TRICKLE_RECENT_WINDOW = 500
# Untimed SQL rounds after the warm-up drop: both travel variants run, and
# the JIT has compiled the SQL path before the first timed round.
WARMUP_ROUNDS = 2


def sizes(workload, seconds):
    """Work per run, fixed by the workload and the run length, so every run
    with the same arguments does the same operations."""
    if workload == "trickle":
        return {"history_orders": 3000, "drop_txs": 200, "warmup_drops": 2,
                "timed_drops": max(2, round(seconds / 4.5)), "history_files": 4}
    if workload == "backfill":
        return {"history_orders": 3000, "warmup_drops": 1, "drains": 3,
                "backlog_txs": 100 * seconds, "backlog_files": 8, "history_files": 4}
    raise ValueError("unknown workload: %s" % workload)


def money(cents):
    return "%d.%02d" % divmod(cents, 100)


def ts_of(t):
    day, rest = divmod(t, 86400)
    h, rest = divmod(rest, 3600)
    m, s = divmod(rest, 60)
    return "2026-03-%02d %02d:%02d:%02d" % (1 + day % 28, h, m, s)


def order_json(o):
    return ('{"ORDER_ID":"%d","ORDER_REF":"ORD-%d","VERSION":"%d","ORDER_DATE":"%s",'
            '"ORDER_TS":"%s","ORDER_STATUS":"%s","ORDER_TYPE":"%s","TOTAL_AMOUNT":"%s",'
            '"CURRENCY":"%s","CUSTOMER_ID":"CUST-%d","SHIPPING_ADDRESS_ID":"ADDR-%d",'
            '"CREATED_TS":"%s"}') % (
        o["id"], o["id"], o["v"], o["ts"][:10], o["ts"], o["status"], o["type"],
        money(o["cents"]), o["cur"], o["cust"], o["cust"] % 97, o["created"])


def detail_json(d):
    return ('{"ORDER_ID":"%d","VERSION":"%d","SHIPPING_METHOD":"%s","TRACKING_NUMBER":"TRK-%d-%d",'
            '"SHIPPED_TS":"%s","ESTIMATED_DELIVERY_DATE":"%s","CARRIER":"%s","DELIVERY_STATUS":"%s"}') % (
        d["id"], d["v"], d["method"], d["id"], d["v"], d["ts"], d["ts"][:10],
        d["carrier"], d["status"])


def item_json(li):
    return ('{"LINE_ITEM_ID":"%d","ORDER_ID":"%d","VERSION":"%d","PRODUCT_ID":"PROD-%02d",'
            '"ITEM_QTY":"%d","ITEM_PRICE":"%s","ITEM_AMOUNT":"%s","ITEM_CURRENCY":"%s"}') % (
        li["lid"], li["id"], li["v"], li["prod"], li["qty"], money(li["price"]),
        money(li["price"] * li["qty"]), li["cur"])


def canonical_row(r):
    """The digest's canonical projection of one `orders_current` row; the
    cdcbench.Main renders the engine's rows the same way."""
    o, d = r["o"], r["d"]
    items = ",".join(
        "%d:%d:PROD-%02d:%d:%d" % (li["lid"], li["v"], li["prod"], li["qty"], li["price"] * li["qty"])
        for li in sorted(r["items"].values(), key=lambda x: x["lid"]))
    return "%d|ORD-%d|%d|%s|%s|%d|%s|CUST-%d|%d|%s|%s|%s" % (
        o["id"], o["id"], o["v"], o["status"], o["type"], o["cents"], o["cur"], o["cust"],
        d["v"], d["status"], d["carrier"], items)


def digest(rows):
    lines = sorted(canonical_row(r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Tx:
    __slots__ = ("xid", "csn", "events", "rows", "images", "has_meta", "meta")

    def __init__(self, xid, csn):
        self.xid, self.csn = xid, csn
        self.events = []      # (stream, kind, line) in emission order
        self.rows = {}        # orderId -> [n_orders, n_details, n_items] of order_stream
        self.images = []      # (kind, image) applied to the model on completion
        self.has_meta = True
        self.meta = None


class Workload:
    def __init__(self, name, seed, seconds):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.size = sizes(name, seconds)
        self.rng = random.Random("%s/%d" % (name, seed))
        self.next_id = FIRST_ORDER_ID
        self.seq = 1000
        self.clock = 0
        self.gen = {}        # orderId -> latest generated images (incl. in-flight)
        self.model = {}      # orderId -> {"o", "d", "items"}: expected orders_current
        self.recent = []     # visible orderIds in insertion order
        self.phantoms = []   # orderIds only ever inserted by never-completing txs
        self.history_rows = {}   # orderId -> [(xid, csn, n_o, n_d, n_l)] of order_stream
        self.stream_rows = 0
        self.drops = []      # {"phase", "lines": {stream: [..]}, "n_lines", "visible_events", ..}
        self.boundary = []   # per drop: aggregates of the model after it
        self.changes = []    # per drop: {"insert": n, "update": n}
        self.rounds = []     # {"after", "phase", "queries": [{"shape", "sql", "expect"}]}
        self.carry = []      # straddling txs: their events still to land
        self.touched = set()      # existing orders a drop's transactions reached
        self.new_in_drop = set()  # orders a drop inserts
        self.inserted = 0
        self.build()

    # ---------------------------------------------------------------- ids
    def new_tx(self):
        self.seq += 1
        self.clock += 3
        return Tx("x%d" % self.seq, "%012d" % self.seq)

    def op_ts(self):
        return ts_of(self.clock) + ".000000"

    def event(self, tx, kind, op, before, after):
        stream = STREAM_OF_KIND[kind]
        ts = self.op_ts()
        line = ('{"table":"APPUSER.%s","op_type":"%s","op_ts":"%s","current_ts":"%s",'
                '"pos":"%020d","csn":"%s","xid":"%s","before":%s,"after":%s}') % (
            TABLE_OF[stream], op, ts, ts, self.seq * 16 + len(tx.events), tx.csn, tx.xid,
            before if before is not None else "null", after if after is not None else "null")
        tx.events.append((stream, kind, line))

    def row(self, tx, oid, kind):
        r = tx.rows.setdefault(oid, [0, 0, 0])
        r["odl".index(kind)] += 1

    def finish(self, tx):
        counts = {}
        for stream, _, _ in tx.events:
            counts[stream] = counts.get(stream, 0) + 1
        colls = ",".join('{"data_collection":"APPUSER.%s","event_count":%d}' % (TABLE_OF[s], counts[s])
                         for s in ("orders", "details", "lineitems") if s in counts)
        tx.meta = '{"xid":"%s","csn":"%s","tx_ts":"%s","event_count":%d,"data_collections":[%s]}' % (
            tx.xid, tx.csn, ts_of(self.clock), len(tx.events), colls)

    # ------------------------------------------------------ transaction kinds
    def tx_new(self, never=False):
        rng = self.rng
        tx = self.new_tx()
        for _ in range(ORDERS_PER_TX):
            oid = self.next_id
            self.next_id += 1
            ts = ts_of(self.clock)
            items = {}
            for n in range(1, rng.randint(*ITEMS_PER_ORDER) + 1):
                li = {"lid": oid * 10 + n, "id": oid, "v": 1, "prod": rng.randint(1, PRODUCTS),
                      "qty": rng.randint(1, 9), "price": rng.randint(199, 19999), "cur": "USD"}
                items[li["lid"]] = li
            o = {"id": oid, "v": 1, "ts": ts, "status": "NEW", "type": rng.choice(ORDER_TYPES),
                 "cents": sum(li["price"] * li["qty"] for li in items.values()), "cur": "USD",
                 "cust": rng.randint(1, CUSTOMERS), "created": ts}
            d = {"id": oid, "v": 1, "method": rng.choice(METHODS), "ts": ts,
                 "carrier": rng.choice(CARRIERS), "status": "PENDING"}
            self.gen[oid] = {"o": o, "d": d, "items": dict(items)}
            self.event(tx, "o", "I", None, order_json(o))
            self.event(tx, "d", "I", None, detail_json(d))
            self.row(tx, oid, "o")
            self.row(tx, oid, "d")
            tx.images += [("o", o), ("d", d)]
            for li in items.values():
                self.event(tx, "l", "I", None, item_json(li))
                self.row(tx, oid, "l")
                tx.images.append(("l", li))
            if never:
                self.phantoms.append(oid)
        tx.has_meta = not never
        return tx

    def tx_order_upd(self, oid):
        rng = self.rng
        tx = self.new_tx()
        g = self.gen[oid]
        before = order_json(g["o"])
        o = dict(g["o"], v=g["o"]["v"] + 1, status=rng.choice(STATUSES),
                 cents=max(100, g["o"]["cents"] + rng.randint(-2000, 2000)), ts=ts_of(self.clock))
        g["o"] = o
        self.event(tx, "o", "U", before, order_json(o))
        self.row(tx, oid, "o")
        tx.images.append(("o", o))
        return tx

    def tx_detail_upd(self, oid):
        rng = self.rng
        tx = self.new_tx()
        g = self.gen[oid]
        before = detail_json(g["d"])
        d = dict(g["d"], v=g["d"]["v"] + 1, status=rng.choice(DSTATUSES),
                 carrier=rng.choice(CARRIERS), ts=ts_of(self.clock))
        g["d"] = d
        self.event(tx, "d", "U", before, detail_json(d))
        self.row(tx, oid, "d")
        tx.images.append(("d", d))
        return tx

    def tx_item_upd(self, oid):
        """One line item's quantity changes: a single-event transaction,
        like CdcEventGen's order and detail-only updates."""
        rng = self.rng
        tx = self.new_tx()
        g = self.gen[oid]
        lid = rng.choice(sorted(g["items"]))
        before = item_json(g["items"][lid])
        li = dict(g["items"][lid], v=g["items"][lid]["v"] + 1, qty=rng.randint(1, 9))
        g["items"][lid] = li
        self.event(tx, "l", "U", before, item_json(li))
        self.row(tx, oid, "l")
        tx.images.append(("l", li))
        return tx

    def tx_redelivery(self, oid):
        """Re-send the visible images at their current versions with other
        content: the target must win every tie."""
        tx = self.new_tx()
        m = self.model[oid]
        o = dict(m["o"], status="REDELIVERED")
        d = dict(m["d"], status="REDELIVERED")
        self.event(tx, "o", "I", None, order_json(o))
        self.event(tx, "d", "I", None, detail_json(d))
        self.row(tx, oid, "o")
        self.row(tx, oid, "d")
        tx.images += [("o", o), ("d", d)]
        for lid in sorted(m["items"]):
            li = dict(m["items"][lid], qty=m["items"][lid]["qty"] + 100)
            self.event(tx, "l", "I", None, item_json(li))
            self.row(tx, oid, "l")
            tx.images.append(("l", li))
        return tx

    def tx_delete(self, oid):
        tx = self.new_tx()
        self.event(tx, "o", "D", order_json(self.model[oid]["o"]), None)
        return tx

    def tx_guard(self, oid):
        """A detail update for an order no complete transaction ever
        inserted: lands in order_stream, never in orders_current."""
        return self.tx_detail_upd(oid)

    # ------------------------------------------------------------ the model
    def apply(self, tx):
        """Merge one complete transaction into the model; returns the images
        it wrote into orders_current."""
        for oid, (n_o, n_d, n_l) in tx.rows.items():
            self.history_rows.setdefault(oid, []).append((tx.xid, tx.csn, n_o, n_d, n_l))
            self.stream_rows += 1
        written = []
        for kind, img in tx.images:
            oid = img["id"]
            row = self.model.get(oid)
            if row is None:
                if kind != "o":
                    continue
                row = {"o": img, "d": None, "items": {}}
                self.model[oid] = row
                self.recent.append(oid)
                self.inserted += 1
                written.append((kind, img))
                continue
            if oid not in self.new_in_drop:
                self.touched.add(oid)
            if kind == "o":
                if img["v"] > row["o"]["v"]:
                    row["o"] = img
                    written.append((kind, img))
            elif kind == "d":
                if row["d"] is None or img["v"] > row["d"]["v"]:
                    row["d"] = img
                    written.append((kind, img))
            else:
                cur = row["items"].get(img["lid"])
                if cur is None or img["v"] > cur["v"]:
                    row["items"][img["lid"]] = img
                    written.append((kind, img))
        return written

    def holds(self, kind, img):
        row = self.model[img["id"]]
        slot = row[kind] if kind in "od" else row["items"].get(img["lid"])
        return slot is img

    def land(self, phase, txs, files):
        """Emit one drop: the carried-in straddlers' remaining events and the
        given transactions; apply every transaction that completes in it."""
        drop = len(self.drops)
        lines = {s: [] for s in STREAMS}
        completing, carry_out = [], []
        for tx, part in self.carry:
            for stream, _, line in part:
                lines[stream].append(line)
            lines["metadata"].append(tx.meta)
            completing.append(tx)
        for tx, straddle in txs:
            if straddle:
                cut = max(1, len(tx.events) // 2)
                now, later = tx.events[:cut], tx.events[cut:]
                for stream, _, line in now:
                    lines[stream].append(line)
                carry_out.append((tx, later))
            else:
                for stream, _, line in tx.events:
                    lines[stream].append(line)
                if tx.has_meta:
                    lines["metadata"].append(tx.meta)
                    completing.append(tx)
        self.carry = carry_out
        self.touched, self.new_in_drop = set(), set()
        inserted_before = self.inserted
        completing.sort(key=lambda t: t.csn)
        for tx in completing:
            for kind, img in tx.images:
                if kind == "o" and img["id"] not in self.model:
                    self.new_in_drop.add(img["id"])
        written = [w for tx in completing for w in self.apply(tx)]
        # A change event is visible when its image is in orders_current
        # once the drop is merged: deletes, child events the insert guard
        # drops, redeliveries that lose the tie and images a later one in
        # the same drop overwrites are not.
        visible = sum(1 for kind, img in written if self.holds(kind, img))
        self.drops.append({"phase": phase, "lines": lines, "files": files,
                           "n_lines": sum(len(v) for v in lines.values()),
                           "visible_events": visible,
                           "stream_rows": sum(len(tx.rows) for tx in completing)})
        self.changes.append({"insert": self.inserted - inserted_before,
                             "update": len(self.touched)})
        self.boundary.append(self.aggregate())
        return drop

    def aggregate(self):
        n = len(self.model)
        sv = sum(r["o"]["v"] for r in self.model.values())
        cents = sum(r["o"]["cents"] for r in self.model.values())
        return (n, sv, cents)

    # ------------------------------------------------------------- targets
    def pick_visible(self):
        rng = self.rng
        if self.name == "trickle" and rng.random() < TRICKLE_RECENT:
            window = self.recent[-TRICKLE_RECENT_WINDOW:]
            return window[rng.randrange(len(window))]
        return self.recent[rng.randrange(len(self.recent))]

    def mixed_txs(self, n, mix, straddle_share):
        rng = self.rng
        kinds = [k for k, _ in mix]
        weights = [w for _, w in mix]
        out = []
        for _ in range(n):
            kind = rng.choices(kinds, weights)[0]
            if kind == "guard" and not self.phantoms:
                kind = "detail_upd"
            if kind == "new":
                tx = self.tx_new()
            elif kind == "never":
                tx = self.tx_new(never=True)
            elif kind == "order_upd":
                tx = self.tx_order_upd(self.pick_visible())
            elif kind == "detail_upd":
                tx = self.tx_detail_upd(self.pick_visible())
            elif kind == "item_upd":
                tx = self.tx_item_upd(self.pick_visible())
            elif kind == "redelivery":
                tx = self.tx_redelivery(self.pick_visible())
            elif kind == "delete":
                tx = self.tx_delete(self.pick_visible())
            else:
                tx = self.tx_guard(self.phantoms[rng.randrange(len(self.phantoms))])
            self.finish(tx)
            straddle = kind == "new" and rng.random() < straddle_share
            out.append((tx, straddle))
        return out

    # ------------------------------------------------------------ answers
    def q_point(self, oid):
        sql = ("SELECT CAST(orderId AS BIGINT) AS id, CAST(version AS BIGINT) AS v, orderStatus, "
               "CAST(round(totalAmount * 100) AS BIGINT) AS cents, "
               "CAST(orderDetails.version AS BIGINT) AS dv, orderDetails.deliveryStatus AS ds, "
               "size(lineItems) AS n_items FROM orders_current WHERE orderId = %d" % oid)
        r = self.model.get(oid)
        expect = [] if r is None else ["%d|%d|%s|%d|%d|%s|%d" % (
            oid, r["o"]["v"], r["o"]["status"], r["o"]["cents"], r["d"]["v"], r["d"]["status"],
            len(r["items"]))]
        return {"shape": "point", "sql": sql, "expect": expect}

    def q_status(self):
        sql = ("SELECT orderStatus, count(*) AS n, sum(CAST(round(totalAmount * 100) AS BIGINT)) AS cents "
               "FROM orders_current GROUP BY orderStatus ORDER BY orderStatus")
        acc = {}
        for r in self.model.values():
            a = acc.setdefault(r["o"]["status"], [0, 0])
            a[0] += 1
            a[1] += r["o"]["cents"]
        return {"shape": "status", "sql": sql,
                "expect": ["%s|%d|%d" % (s, a[0], a[1]) for s, a in sorted(acc.items())]}

    def q_items(self):
        sql = ("SELECT li.productId, count(*) AS n, sum(CAST(li.itemQty AS BIGINT)) AS qty "
               "FROM (SELECT explode(lineItems) AS li FROM orders_current) "
               "GROUP BY li.productId ORDER BY li.productId")
        acc = {}
        for r in self.model.values():
            for li in r["items"].values():
                a = acc.setdefault("PROD-%02d" % li["prod"], [0, 0])
                a[0] += 1
                a[1] += li["qty"]
        return {"shape": "items", "sql": sql,
                "expect": ["%s|%d|%d" % (p, a[0], a[1]) for p, a in sorted(acc.items())]}

    def q_history(self, oid):
        sql = ("SELECT xid, csn, size(orders) AS n_o, size(orderDetails) AS n_d, size(lineItems) AS n_l "
               "FROM order_stream WHERE orderId = %d ORDER BY csn, xid" % oid)
        rows = sorted(self.history_rows.get(oid, []), key=lambda r: (r[1], r[0]))
        return {"shape": "history", "sql": sql, "expect": ["%s|%s|%d|%d|%d" % r for r in rows]}

    def q_travel(self, round_no, prev, cur):
        """`cur` is always the drop right after `prev`."""
        if round_no % 2 == 0:
            sql = ("SELECT count(*) AS n, sum(CAST(version AS BIGINT)) AS sv, "
                   "sum(CAST(round(totalAmount * 100) AS BIGINT)) AS cents "
                   "FROM orders_current VERSION AS OF {v:%d}" % prev)
            return {"shape": "travel", "sql": sql, "expect": ["%d|%d|%d" % self.boundary[prev]]}
        sql = ("SELECT _change_type, count(*) AS n FROM table_changes('orders_current', {v:%d}, {v:%d}) "
               "GROUP BY _change_type ORDER BY _change_type" % (prev, cur))
        ins, upd = self.changes[cur]["insert"], self.changes[cur]["update"]
        expect = []
        if ins:
            expect.append("insert|%d" % ins)
        if upd:
            expect += ["update_postimage|%d" % upd, "update_preimage|%d" % upd]
        return {"shape": "travel", "sql": sql, "expect": expect}

    def sql_round(self, phase, after, prev):
        rng = self.rng
        round_no = len(self.rounds)
        if rng.random() < 0.1 and self.phantoms:
            point = self.phantoms[rng.randrange(len(self.phantoms))]
        else:
            point = self.pick_visible()
        hist = self.pick_visible()
        qs = [self.q_point(point), self.q_status(), self.q_items(), self.q_history(hist),
              self.q_travel(round_no, prev, after)]
        self.rounds.append({"after": after, "phase": phase, "queries": qs})

    # ------------------------------------------------ building a workload
    def build(self):
        s = self.size
        history = []
        while self.next_id < FIRST_ORDER_ID + s["history_orders"]:
            tx = self.tx_new()
            self.finish(tx)
            history.append((tx, False))
        self.land("history", history, s["history_files"])
        trickle = self.name == "trickle"
        # backfill warms up on a whole backlog, so the bulk paths have run
        # once at full size before timing.
        for _ in range(s["warmup_drops"]):
            if trickle:
                warm = self.land("warmup", self.mixed_txs(s["drop_txs"], TRICKLE_MIX, TRICKLE_STRADDLE), 1)
            else:
                warm = self.land("warmup", self.mixed_txs(s["backlog_txs"], BACKLOG_MIX, 0.0),
                                 s["backlog_files"])
        for _ in range(WARMUP_ROUNDS):
            self.sql_round("warmup", warm, warm - 1)
        if trickle:
            n = s["timed_drops"]
            for i in range(n):
                last = i == n - 1
                d = self.land("timed", self.mixed_txs(s["drop_txs"], TRICKLE_MIX,
                                                      0.0 if last else TRICKLE_STRADDLE), 1)
                self.sql_round("timed", d, d - 1)
        else:
            for _ in range(s["drains"]):
                d = self.land("timed", self.mixed_txs(s["backlog_txs"], BACKLOG_MIX, 0.0),
                              s["backlog_files"])
                self.sql_round("timed", d, d - 1)
        assert not self.carry

    # -------------------------------------------------------------- output
    def expected(self):
        rows = list(self.model.values())
        return {
            "workload": self.name, "seed": self.seed, "seconds": self.seconds,
            "orders_current_rows": len(rows),
            "orders_current_digest": digest(rows),
            "order_stream_rows": self.stream_rows,
            "phantom_orders": len(self.phantoms),
            "drops": [{"phase": d["phase"], "lines": d["n_lines"], "visible_events": d["visible_events"],
                       "stream_rows": d["stream_rows"],
                       "boundary": list(self.boundary[i]), "changes": self.changes[i]}
                      for i, d in enumerate(self.drops)],
            "rounds": [{"after": r["after"], "phase": r["phase"],
                        "queries": [{"shape": q["shape"], "sql": q["sql"], "expect": q["expect"]}
                                    for q in r["queries"]]} for r in self.rounds],
        }

    def write(self, stage):
        """Write every drop's files under `stage/<drop>/` and return the
        drops as (file, stream) lists for cdcbench.Main to rename into the
        source dirs, one drop at a time."""
        out = []
        for i, d in enumerate(self.drops):
            ddir = os.path.join(stage, "%04d" % i)
            os.makedirs(ddir)
            files = []
            for stream in STREAMS:
                lines = d["lines"][stream]
                parts = d["files"]
                for p in range(parts):
                    chunk = lines[p::parts]
                    if not chunk:
                        continue
                    path = os.path.join(ddir, "d%04d-%s-%d.json" % (i, stream, p))
                    with open(path, "w") as f:
                        f.write("\n".join(chunk))
                        f.write("\n")
                    files.append([path, stream])
            out.append({"phase": d["phase"], "files": files})
        return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "trickle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    json.dump(Workload(a.workload, a.seed, a.seconds).expected(), sys.stdout, indent=1)
    sys.stdout.write("\n")


if __name__ == "__main__":
    main()
