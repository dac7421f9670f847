"""Expected outputs, computed with DuckDB, and the result digest shared
with the Scala side (``Digest.scala``): columns sorted by name, canonical
cell text, MD5 row hashes summed modulo 2^64.  Nothing here is timed."""
import datetime as dt
import decimal
import glob
import hashlib
import os

import duckdb

_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _number(d):
    if d == 0:
        return "0"
    if d == d.to_integral_value():
        return str(int(d))
    return format(_CTX.plus(d).normalize(), "f")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dt.datetime):
        base = _EPOCH_UTC if v.tzinfo else _EPOCH
        return str((v - base) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return str((v - _EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def _hash8(s):
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + _hash8("\x1f".join(cell(r[i]) for i in order))) % (1 << 64)
        n += 1
    header = _hash8("\x1f".join(sorted(columns)))
    return f"{n}:{total:016x}:{header:016x}"


def _connect(views):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def retail_expected(tables_dir, oracles):
    """Digest of every oracle twin over the generated star schema."""
    con = _connect({os.path.basename(p)[:-8]: p
                    for p in glob.glob(os.path.join(tables_dir, "*.parquet"))})
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        out[name] = digest([d[0] for d in cur.description], cur.fetchall())
    return out


def elt_expected(inputs, increments):
    """The fingerprint of fact_orders, dim_customers and the event
    stream's target and quarantine tables after each increment:
    latest-wins by version over base ∪ deltas, SCD2 over the customer
    change history (ties on the change time break on the change
    sequence), and the validation rules over the distinct events
    (redeliveries are exact copies)."""
    con = _connect({"base_orders": f"{inputs}/base/orders.parquet",
                    "base_customers": f"{inputs}/base/customer.parquet"})
    out = []
    for k in range(1, increments + 1):
        incs = [(i, f"{inputs}/deltas/inc={i:03d}") for i in range(1, k + 1)]
        deltas = " UNION ALL ".join(
            f"SELECT *, {i} AS version FROM read_parquet('{d}/orders/part-0.parquet', hive_partitioning = false)"
            for i, d in incs)
        changes = " UNION ALL ".join(
            f"SELECT * FROM read_parquet('{d}/customers/part-0.parquet', hive_partitioning = false)" for _, d in incs)
        fact = con.execute(f"""
          WITH o AS (SELECT *, 0 AS version FROM base_orders UNION ALL {deltas}),
          s AS (SELECT o_orderkey AS order_id, o_custkey AS customer_id,
                       upper(trim(o_orderstatus)) AS order_status,
                       o_totalprice AS total_amount, o_orderdate AS order_date, version
                FROM o WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL),
          l AS (SELECT * FROM s QUALIFY row_number() OVER
                  (PARTITION BY order_id ORDER BY version DESC) = 1)
          SELECT count(*), sum(order_id), sum(customer_id),
                 sum(CAST(round(total_amount * 100) AS BIGINT)), sum(version),
                 sum(year(order_date)), sum(ascii(order_status)),
                 sum(CAST(epoch(order_date) AS BIGINT))
          FROM l""").fetchone()
        dim = con.execute(f"""
          WITH h AS (
            SELECT *, TIMESTAMP '2001-08-01 00:00:00' AS changed_at,
                   c_custkey AS change_seq FROM base_customers
            UNION ALL {changes}),
          s AS (SELECT c_custkey AS customer_id, c_nationkey AS nation_id,
                       c_acctbal AS account_balance,
                       upper(trim(c_mktsegment)) AS market_segment,
                       changed_at AS valid_from,
                       lead(changed_at) OVER (PARTITION BY c_custkey
                         ORDER BY changed_at, change_seq) AS valid_to
                FROM h WHERE c_custkey IS NOT NULL)
          SELECT count(*), sum(customer_id), sum(CAST(valid_to IS NULL AS BIGINT)),
                 sum(CAST(round(account_balance * 100) AS BIGINT)),
                 sum(CAST(epoch(valid_from) AS BIGINT)),
                 sum(coalesce(CAST(epoch(valid_to) AS BIGINT), 0)),
                 sum(nation_id), sum(ascii(market_segment))
          FROM s""").fetchone()
        stream = " UNION ALL ".join(
            f"SELECT * FROM read_parquet('{d}/stream/*.parquet', hive_partitioning = false)"
            for _, d in incs)
        events = []
        for where in ("", "NOT "):
            events += con.execute(f"""
              WITH e AS (SELECT DISTINCT * FROM ({stream}))
              SELECT count(*), sum(event_id), sum(coalesce(user_id, 0)),
                     sum(CAST(round(value * 100) AS BIGINT)), sum(epoch_us(ts))
              FROM e WHERE {where}(user_id IS NOT NULL AND coalesce(value >= 0, true))
            """).fetchone()
        out.append(",".join(cell(v) for v in fact + dim + tuple(events)))
    return out
