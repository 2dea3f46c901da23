"""Seeded input generator for the benchmark.

Two products, both pure functions of ``(scale, seed)``:

- ``write_tables``: the ten TPC-H-like parquet tables the registry
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``), with the column names, types and value
  ranges of the engine's test tables, one row group per table.
- ``Landing``: the medallion workload's raw JSON, in the reference's
  nested shapes (customers with an ``address`` struct, products, orders
  with a ``customer`` struct, an ``items`` array, a ``payment`` struct
  and a two-entry ``metadata`` array), split into an initial load plus
  k drops.  Each drop holds fresh records, identical re-sends of keys
  that already landed and a seeded share of records that break a
  data-quality rule.

Only numpy, pyarrow and the standard library are used; Spark never
runs here, so generation is never part of a timed section.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "large", "hot", "cold", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PAY_METHODS = ["card", "paypal", "transfer", "voucher"]
FILES_PER_ROUND = 2  # JSON files per entity and round
RESEND_FRAC = 0.2  # identical re-sends, as a share of a drop's fresh records
BAD_FRAC = 0.02  # fresh records that break a DQ rule
CHANNELS = ["web", "app", "store", "phone"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(days: np.ndarray, start: np.datetime64 = EPOCH_1995) -> pa.Array:
    return pa.array(start + days.astype("timedelta64[D]"), pa.timestamp("us"))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf 0.1 = 150k
    orders, as in the engine's largest test tables)."""
    return {
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in (sf, seed)."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) // 5, pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, 8, npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, npart)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": rng.integers(9000, 10000, npart) / 10.0,
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
            "o_orderdate": _ts(rng.integers(0, 2405, no)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = 4 * no
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(rng.integers(1, 2500, nl)),
        }
    )
    ne = n["events"]
    users = max(20, ne * 3 // 200)
    offs = np.sort(rng.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"  # planted near-dups
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One single-row-group parquet file per table, like the engine's
    test tables."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return out_dir


# ------------------------------------------------------------ landing


@dataclass
class Landing:
    """Raw JSON records of the medallion workload: the initial load is
    round 0 and drops are rounds 1..k.  ``rounds[r][entity]`` is the
    list of records landed in round r (fresh + re-sent + violating)."""

    rounds: list[dict[str, list[dict]]] = field(default_factory=list)

    def write_round(self, r: int, landing_root: str) -> int:
        """Write round r as multi-file JSON arrays under
        ``landing_root/<entity>/``; returns bytes written."""
        total = 0
        for entity, recs in self.rounds[r].items():
            d = os.path.join(landing_root, entity)
            os.makedirs(d, exist_ok=True)
            parts = np.array_split(np.arange(len(recs)), FILES_PER_ROUND)
            for i, idx in enumerate(parts):
                if len(idx) == 0:
                    continue
                path = os.path.join(d, f"r{r:03d}_{i}.json")
                with open(path, "w") as fh:
                    json.dump([recs[j] for j in idx], fh)
                total += os.path.getsize(path)
        return total

    def order_lines(self, r: int) -> int:
        """Order-line records (order x item) landed in round r."""
        return sum(len(o["items"]) for o in self.rounds[r]["orders"])


def _customer(t: dict, i: int, nation: list[str]) -> dict:
    ck = int(t["c_custkey"][i])
    return {
        "customer_id": ck,
        "name": str(t["c_name"][i]),
        "email": f"customer{ck}@example.com",
        "address": {
            "city": f"city {int(t['c_nationkey'][i])}-{ck % 7}",
            "postal_code": f"{10000 + ck % 90000}",
            "country": nation[int(t["c_nationkey"][i])],
        },
    }


def _product(t: dict, i: int) -> dict:
    return {
        "product_id": f"P{int(t['p_partkey'][i]):07d}",
        "product_name": str(t["p_name"][i]),
        "category": str(t["p_type"][i]).capitalize(),
        "price": float(t["p_retailprice"][i]),
    }


def make_landing(
    tables: dict[str, pa.Table],
    seed: int,
    drops: int,
    drop_frac: float,
) -> Landing:
    """Split the customer/part/orders+lineitem universe into ``drops``
    drops of ``drop_frac`` of the orders each (a quarter of that share of
    customers and products) and an initial load of the rest.

    Invariants the oracle relies on:

    - every landed key is landed once as a fresh record; re-sends are
      byte-identical copies of a record from an earlier round, so the
      silver dedup has one right survivor whichever copy it keeps;
    - an order only references customers and products landed in the
      same round or earlier (the fact's stream-static join would drop
      it forever otherwise), and never the same product twice, so the
      silver grain key ``(order_id, items_item_id, metadata_key)`` is
      unique per fresh order line;
    - DQ violations are planted on fresh keys only (an invalid email
      or padded name on customers, a non-positive price on products,
      a non-positive quantity or an out-of-range timestamp on orders).
    """
    rng = np.random.default_rng([seed, 2])
    cust = tables["customer"].to_pydict()
    part = tables["part"].to_pydict()
    orders = tables["orders"].to_pydict()
    li = tables["lineitem"]
    nation = tables["nation"].column("n_name").to_pylist()
    nc, npart, no = len(cust["c_custkey"]), len(part["p_partkey"]), len(orders["o_orderkey"])

    # items per order from the lineitem table, each product once
    lk = li.column("l_orderkey").to_numpy()
    order_idx = np.argsort(lk, kind="stable")
    bounds = np.searchsorted(lk[order_idx], np.arange(no + 1))
    l_part = li.column("l_partkey").to_numpy()[order_idx]
    l_qty = li.column("l_quantity").to_numpy()[order_idx]

    n_rounds = drops + 1
    # landing round per key; customers and products get a smaller fresh
    # slice per drop, since orders mostly reference known dims
    def rounds_for(n: int, frac: float) -> np.ndarray:
        r = np.zeros(n, dtype=np.int64)
        per = int(round(n * frac))
        perm = rng.permutation(n)
        for d in range(drops):
            r[perm[d * per : (d + 1) * per]] = d + 1
        return r

    c_round = rounds_for(nc, drop_frac / 4)
    p_round = rounds_for(npart, drop_frac / 4)
    o_round = rounds_for(no, drop_frac)
    c_by_round = [np.flatnonzero(c_round <= r) for r in range(n_rounds)]
    p_by_round = [np.flatnonzero(p_round <= r) for r in range(n_rounds)]

    landing = Landing([{"customers": [], "products": [], "orders": []} for _ in range(n_rounds)])
    cust_rec: dict[int, dict] = {}
    for i in range(nc):
        rec = _customer(cust, i, nation)
        if rng.random() < BAD_FRAC:
            if rng.random() < 0.5:
                rec["email"] = rec["email"].replace("@", " at ")
            else:
                rec["name"] = " " + rec["name"]
        cust_rec[i] = rec
        landing.rounds[c_round[i]]["customers"].append(rec)
    for i in range(npart):
        rec = _product(part, i)
        if rng.random() < BAD_FRAC:
            rec["price"] = 0.0 if rng.random() < 0.5 else -rec["price"]
        landing.rounds[p_round[i]]["products"].append(rec)
    prod_price = {int(part["p_partkey"][i]): float(part["p_retailprice"][i]) for i in range(npart)}

    for o in range(no):
        a, b = bounds[o], bounds[o + 1]
        if a == b:
            continue  # no lines: the reference's inner explode drops it
        r = int(o_round[o])
        elig_c, elig_p = c_by_round[r], p_by_round[r]
        ci = int(elig_c[int(orders["o_custkey"][o]) % len(elig_c)])
        seen: set[int] = set()
        items = []
        for pk, q in zip(l_part[a:b], l_qty[a:b]):
            pi = int(elig_p[int(pk) % len(elig_p)])
            if pi in seen:
                continue
            seen.add(pi)
            items.append(
                {
                    "item_id": f"P{pi:07d}",
                    "product_name": str(part["p_name"][pi]),
                    "quantity": int(q),
                    "price": prod_price[pi],
                }
            )
        day = orders["o_orderdate"][o]
        ts = f"{day.isoformat()[:10]}T{o % 24:02d}:{o % 60:02d}:00Z"
        if rng.random() < BAD_FRAC:
            if rng.random() < 0.5:
                items[0]["quantity"] = 0
            else:
                ts = "1899-12-31T00:00:00Z"
        c = cust_rec[ci]
        rec = {
            "order_id": f"O{int(orders['o_orderkey'][o]):08d}",
            "timestamp": ts,
            "customer": {k: c[k] for k in ("customer_id", "name", "email", "address")},
            "items": items,
            "payment": {
                "method": PAY_METHODS[o % len(PAY_METHODS)],
                "transaction_id": f"T{o:09d}",
            },
            "metadata": [
                {"key": "channel", "value": CHANNELS[o % len(CHANNELS)]},
                {"key": "priority", "value": str(orders["o_orderpriority"][o])},
            ],
        }
        landing.rounds[r]["orders"].append(rec)

    # identical re-sends: a RESEND_FRAC share of each drop's size,
    # copied from records that landed in earlier rounds
    for r in range(1, n_rounds):
        for entity, recs in landing.rounds[r].items():
            earlier = [x for rr in range(r) for x in landing.rounds[rr][entity]]
            k = min(len(earlier), max(1, int(len(recs) * RESEND_FRAC)))
            for j in rng.choice(len(earlier), k, replace=False):
                recs.append(earlier[int(j)])
    return landing
