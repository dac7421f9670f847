"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng([seed, stream])`` so
one seed always yields byte-identical inputs.  The star schema mimics the
shape of the engine's TPC-H-like test tables (same columns, types and
value ranges); the workload-specific inputs (pipeline deltas)
are derived from it.  Each generator also returns the traffic dimensions
of what it produced (rows, bytes, redelivery / invalid / late share, key
skew), which ``run.py`` records next to the cached inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3,
                 4, 2, 3, 3, 1]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "panel", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def days_between(r, n, start, end):
    """n random midnight timestamps (µs since epoch) in [start, end]."""
    d0 = (start - EPOCH).days
    d1 = (end - EPOCH).days
    return r.integers(d0, d1 + 1, n).astype(np.int64) * DAY_US


def money(r, n, lo, hi):
    return np.round(r.uniform(lo, hi, n), 2)


def ts_us(values, tz=None):
    return pa.array(values, pa.timestamp("us", tz=tz))


def key_skew(keys):
    """Rows of the most frequent key over rows of the mean key."""
    _, counts = np.unique(np.asarray(keys, dtype=np.int64), return_counts=True)
    return float(counts.max() / counts.mean())


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def star_schema(out, seed, sf):
    """The retail star schema at scale factor ``sf`` (sf=1 ≈ 6M lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    start, end = dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array(NATION_REGION, pa.int32())})
    r = rng(seed, 1)
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(SEGMENTS, n_cust)})
    r = rng(seed, 2)
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, n_supp, -999.99, 9999.99)})
    r = rng(seed, 3)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{c} {n}" for c, n in zip(r.choice(COLORS, n_part),
                                              r.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    r = rng(seed, 4)
    tables["orders"] = orders_table(r, np.arange(n_ord), n_cust, start, end)
    r = rng(seed, 5)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(r, n_line, 900, 105_000),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": ts_us(days_between(r, n_line, start, end))})
    r = rng(seed, 6)
    t0 = (dt.datetime(2024, 1, 1) - EPOCH) // dt.timedelta(microseconds=1)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(np.sort(t0 + r.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(r.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": money(r, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    size = sum(write(t, os.path.join(out, f"{name}.parquet"))
               for name, t in tables.items())
    return {"rows": sum(t.num_rows for t in tables.values()), "bytes": size,
            "table_rows": {k: t.num_rows for k, t in tables.items()},
            "redelivery_share": 0.0, "invalid_share": 0.0, "late_share": 0.0,
            "near_duplicate_share": 0.0,
            "key_skew": key_skew(tables["lineitem"].column("l_orderkey").to_numpy())}


def orders_table(r, keys, n_cust, start, end, custkeys=None):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n) if custkeys is None
                              else custkeys, pa.int64()),
        "o_orderstatus": r.choice(STATUSES, n),
        "o_totalprice": money(r, n, 1000, 500_000),
        "o_orderdate": ts_us(days_between(r, n, start, end)),
        "o_orderpriority": r.choice(PRIORITIES, n)})


def elt_inputs(out, seed, increments, delta_rows=1000, cust_rows=100,
               event_rows=500, docs_per_increment=60, sf=0.01):
    """Base orders/customers plus ``increments`` landed delta sets.

    Each order delta mixes new keys (60 %), updates of existing keys
    (30 %), redeliveries of the previous delta's rows (7 %) and invalid
    rows with a null customer key (3 %).  Customer deltas are attribute
    changes of existing customers plus a tenth of new customers, each
    with a change timestamp; event deltas continue the event clock so
    the pipeline's watermark read picks up exactly the new events.  The
    event stream (``stream_events``) and the document corpus
    (``documents``) land beside them, one set per increment."""
    base = os.path.join(out, "base")
    info = star_schema(base, seed, sf)
    n_cust = info["table_rows"]["customer"]
    n_ord = info["table_rows"]["orders"]
    target_tables(pq.read_table(os.path.join(base, "orders.parquet")),
                  pq.read_table(os.path.join(base, "customer.parquet")),
                  os.path.join(out, "targets"))
    start, end = dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)
    r = rng(seed, 10)
    next_order, next_cust, next_event = n_ord, n_cust, info["table_rows"]["events"]
    ev_clock = (dt.datetime(2024, 1, 31) - EPOCH) // dt.timedelta(microseconds=1)
    chg_clock = (dt.datetime(2001, 8, 2) - EPOCH) // dt.timedelta(microseconds=1)
    prev = None
    prev_stream = None
    next_doc = 0
    originals = []
    stream_totals = {"rows": 0, "redelivered": 0, "invalid": 0, "late": 0, "users": []}
    doc_totals = {"rows": 0, "near": 0, "exact": 0}
    ordered_by = []
    totals = {"rows": 0, "bytes": 0, "redelivered": 0, "invalid": 0}
    per_inc, per_inc_orders = {}, {}
    for k in range(1, increments + 1):
        name = f"inc={k:03d}"
        d = os.path.join(out, "deltas", name)
        n_upd = int(delta_rows * 0.30)
        n_red = int(delta_rows * 0.07) if prev is not None else 0
        n_bad = int(delta_rows * 0.03)
        n_new = delta_rows - n_upd - n_red - n_bad
        new_keys = np.arange(next_order, next_order + n_new + n_bad)
        next_order += n_new + n_bad
        upd_keys = r.choice(next_order - n_new - n_bad, n_upd, replace=False)
        if prev is not None:
            avoid = set(prev.column("o_orderkey").to_pylist())
            upd_keys = np.array([x for x in upd_keys if x not in avoid])
        keys = np.concatenate([new_keys, upd_keys])
        cust = r.integers(0, next_cust, len(keys)).astype(object)
        cust[n_new:n_new + n_bad] = None
        fresh = orders_table(r, keys, next_cust, start, end, custkeys=list(cust))
        if n_red:
            red = prev.take(r.choice(prev.num_rows, n_red, replace=False))
            red = red.filter(pa.compute.is_valid(red.column("o_custkey")))
            fresh = pa.concat_tables([fresh, red])
        totals["bytes"] += write(fresh, os.path.join(d, "orders", "part-0.parquet"))
        totals["rows"] += fresh.num_rows
        totals["redelivered"] += fresh.num_rows - len(keys)
        totals["invalid"] += n_bad
        prev = fresh
        ordered_by.extend(c for c in fresh.column("o_custkey").to_pylist() if c is not None)
        n_cnew = cust_rows // 10
        ckeys = np.concatenate([r.choice(next_cust, cust_rows - n_cnew, replace=False),
                                np.arange(next_cust, next_cust + n_cnew)])
        next_cust += n_cnew
        chg = chg_clock + k * 3_600_000_000 + np.arange(len(ckeys)) * 1_000_000
        ctab = pa.table({
            "c_custkey": pa.array(ckeys, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ckeys],
            "c_nationkey": pa.array(r.integers(0, 25, len(ckeys)), pa.int32()),
            "c_acctbal": money(r, len(ckeys), -999.99, 9999.99),
            "c_mktsegment": r.choice(SEGMENTS, len(ckeys)),
            "changed_at": ts_us(chg),
            "change_seq": pa.array(k * 100_000 + np.arange(len(ckeys)), pa.int64())})
        totals["bytes"] += write(ctab, os.path.join(d, "customers", "part-0.parquet"))
        totals["rows"] += ctab.num_rows
        ets = ev_clock + np.sort(r.integers(0, 3_600_000_000, event_rows))
        ev_clock += 3_600_000_000
        etab = pa.table({
            "event_id": pa.array(np.arange(next_event, next_event + event_rows), pa.int64()),
            "ts": ts_us(ets),
            "user_id": pa.array(r.integers(0, max(1, n_cust // 10), event_rows), pa.int64()),
            "event_type": r.choice(EVENT_TYPES, event_rows),
            "value": money(r, event_rows, 0.01, 490.0),
            "props": [f'{{"k": {x}}}' for x in r.integers(0, 100, event_rows)]})
        next_event += event_rows
        totals["bytes"] += write(etab, os.path.join(d, "events", f"part-{k:03d}.parquet"))
        totals["rows"] += etab.num_rows
        files, stream_info = stream_events(r, k, next_event, ev_clock - 3_600_000_000,
                                           max(1, n_cust // 10), prev_stream)
        next_event += stream_info["new"]
        prev_stream = files[-1]
        n_stream = 0
        for i, f in enumerate(files):
            totals["bytes"] += write(f, os.path.join(d, "stream", f"part-{k:03d}-{i}.parquet"))
            n_stream += f.num_rows
        for key in ("redelivered", "invalid", "late"):
            stream_totals[key] += stream_info[key]
        stream_totals["rows"] += n_stream
        stream_totals["users"].extend(stream_info["users"])
        dtab, doc_info = documents(r, k, next_doc, docs_per_increment, originals)
        next_doc += dtab.num_rows
        totals["bytes"] += write(dtab, os.path.join(d, "docs", f"part-{k:03d}.parquet"))
        for key in ("near", "exact"):
            doc_totals[key] += doc_info[key]
        doc_totals["rows"] += dtab.num_rows
        per_inc[name] = fresh.num_rows + ctab.num_rows + etab.num_rows + n_stream + dtab.num_rows
        per_inc_orders[name] = fresh.num_rows
    write(eval_documents(originals), os.path.join(base, "eval_docs.parquet"))
    return {"rows": totals["rows"], "bytes": totals["bytes"],
            "increments": increments,
            "redelivery_share": totals["redelivered"] / (increments * delta_rows),
            "invalid_share": totals["invalid"] / (increments * delta_rows),
            "key_skew": key_skew(ordered_by),
            "stream_rows": stream_totals["rows"],
            "stream_redelivery_share": stream_totals["redelivered"] / stream_totals["rows"],
            "stream_invalid_share": stream_totals["invalid"] / stream_totals["rows"],
            "late_share": stream_totals["late"] / stream_totals["rows"],
            "stream_key_skew": key_skew(stream_totals["users"]),
            "docs": doc_totals["rows"],
            "near_duplicate_share": doc_totals["near"] / doc_totals["rows"],
            "exact_repeat_share": doc_totals["exact"] / doc_totals["rows"],
            "base_rows": info["table_rows"], "per_increment_rows": per_inc,
            "per_increment_orders": per_inc_orders}


STREAM_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                           ("user_id", pa.int64()), ("event_type", pa.string()),
                           ("value", pa.float64())])


def stream_events(r, k, first_id, clock, n_users, prev, rows=400):
    """One increment of the event stream, as two files landed one after
    the other.  Event times fall in the half hour after ``clock`` (one
    hour per increment), shuffled, so the second file holds events older
    than the newest of the first (late, but inside the stream's 60-minute
    dedup window).  User ids are Zipf-skewed; 4 % of the events are
    invalid (no user, or a negative value); 5 % of each file are exact
    redeliveries of rows landed before (the previous file)."""
    n_red = rows // 20
    n_new = rows - 2 * n_red
    ts = clock + r.integers(0, 1_800_000_000, n_new)
    users = (r.zipf(1.5, n_new) - 1) % n_users
    value = money(r, n_new, 0.01, 490.0)
    bad = r.choice(n_new, n_new // 25, replace=False)
    user_col = users.astype(object)
    user_col[bad[: len(bad) // 2]] = None
    value[bad[len(bad) // 2:]] *= -1
    fresh = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n_new), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(list(user_col), pa.int64()),
        "event_type": r.choice(EVENT_TYPES, n_new),
        "value": value}, schema=STREAM_SCHEMA)
    half = n_new // 2
    a, b = fresh.slice(0, half), fresh.slice(half)
    late = int(np.sum(b.column("ts").cast(pa.int64()).to_numpy()
                      < a.column("ts").cast(pa.int64()).to_numpy().max()))
    files = []
    for part, source in ((a, prev), (b, a)):
        if source is not None:
            part = pa.concat_tables([part, source.take(
                r.choice(source.num_rows, n_red, replace=False))])
        files.append(part.take(r.permutation(part.num_rows)))
    return files, {"new": n_new, "late": late, "invalid": len(bad),
                   "redelivered": sum(f.num_rows for f in files) - n_new,
                   "users": list(users)}


VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "value", "vector", "window"]


def sentence_text(r):
    lines = [" ".join(r.choice(VOCAB, r.integers(6, 13))) + "."
             for _ in range(r.integers(5, 10))]
    return "\n".join(lines)


def documents(r, k, first_id, n, originals):
    """One increment of the document corpus, ids above every earlier
    increment's.  About 15 % are near-duplicates (one word changed) of an
    earlier original and 10 % exact repeats of one; each original gets at
    most one variant, so every duplicate cluster is a star around its
    original.  A few documents carry template filler for the blocklist."""
    ids, sources, texts = [], [], []
    near = exact = 0
    for i in range(n):
        doc_id = first_id + i
        u = r.random()
        free = [j for j, o in enumerate(originals) if not o[2]]
        if u < 0.15 and free:
            j = free[r.integers(len(free))]
            src, text, _ = originals[j]
            words = text.split(" ")
            inner = [i for i, t in enumerate(words) if "." not in t]
            words[inner[r.integers(len(inner))]] = str(r.choice(VOCAB)) + "x"
            text = " ".join(words)
            originals[j] = (src, originals[j][1], True)
            near += 1
        elif u < 0.25 and free:
            j = free[r.integers(len(free))]
            src, text, _ = originals[j]
            originals[j] = (src, text, True)
            exact += 1
        else:
            src = f"src{r.integers(0, 8)}"
            text = sentence_text(r)
            if u > 0.97:
                text = "Lorem ipsum dolor sit amet, slow slow slow.\n" + text
            else:
                originals.append((src, text, False))
        ids.append(doc_id)
        sources.append(src)
        texts.append(text)
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "source": sources,
                     "text": texts}), {"near": near, "exact": exact}


def eval_documents(originals):
    """The decontamination set: every twentieth original, verbatim."""
    picked = [t for _, t, _ in originals[::20]]
    return pa.table({"text": picked})


def target_tables(orders, customers, out):
    """The pipeline's target tables before the first increment, in the
    layout the engine writes: ``fact_orders`` (the staged orders at
    version 0, partitioned by order year) and the customer change history
    that ``dim_customers`` is derived from.  The base tables need no
    cleaning (no padding, upper-case codes), so staging is a rename."""
    years = pa.compute.year(orders.column("o_orderdate"))
    fact = pa.table({
        "order_id": orders.column("o_orderkey"),
        "customer_id": orders.column("o_custkey"),
        "order_status": orders.column("o_orderstatus"),
        "total_amount": orders.column("o_totalprice"),
        "order_date": orders.column("o_orderdate"),
        "order_priority": orders.column("o_orderpriority"),
        "version": pa.array(np.zeros(orders.num_rows, dtype=np.int32))})
    for y in sorted(set(years.to_pylist())):
        part = fact.filter(pa.compute.equal(years, y))
        write(part, os.path.join(out, "fact_orders", f"order_year={y}", "part-0.parquet"))
    n = customers.num_rows
    write(pa.table({
        "customer_id": customers.column("c_custkey"),
        "customer_name": customers.column("c_name"),
        "nation_id": customers.column("c_nationkey"),
        "account_balance": customers.column("c_acctbal"),
        "market_segment": customers.column("c_mktsegment"),
        "changed_at": ts_us(np.full(n, (dt.datetime(2001, 8, 1) - EPOCH)
                                    // dt.timedelta(microseconds=1))),
        "change_seq": customers.column("c_custkey")}),
        os.path.join(out, "customer_history", "part-0.parquet"))


def save_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
