"""DuckDB twin digests for the query workloads.

Each query's oracle SQL (graft.SparkEntry.oracleSql) runs in DuckDB over
the original single-file tables, and its result is digested exactly as
perfbench/src/main/scala/perfbench/Digest.scala digests Spark's result.
Digests are cached per (data, SQL text), so each input is computed once.
"""
import calendar
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH_DAY = datetime.date(1970, 1, 1).toordinal()


def _double(x, out):
    if math.isnan(x):
        out.append("nan")
    elif math.isinf(x):
        out.append("inf" if x > 0 else "-inf")
    else:
        if x == 0.0:
            x = 0.0
        out.append("f" + struct.pack(">d", x).hex())


def _render(v, out):
    if v is None:
        out.append("N")
    elif isinstance(v, bool):
        out.append("T" if v else "F")
    elif isinstance(v, int):
        out.append("i" + str(v))
    elif isinstance(v, float):
        _double(v, out)
    elif isinstance(v, decimal.Decimal):
        out.append("d" + format(abs(v) if v == 0 else v, "f"))
    elif isinstance(v, str):
        out.append("s%d:%s" % (len(v), v))
    elif isinstance(v, (bytes, bytearray)):
        out.append("b" + bytes(v).hex())
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        secs = calendar.timegm(v.timetuple())
        out.append("t%d" % (secs * 1000000 + v.microsecond))
    elif isinstance(v, datetime.date):
        out.append("D%d" % (v.toordinal() - EPOCH_DAY))
    elif isinstance(v, dict):
        out.append("{")
        for k in sorted(v):
            out.append(k + "=")
            _render(v[k], out)
            out.append(",")
        out.append("}")
    elif isinstance(v, list) and v and all(isinstance(e, tuple) and len(e) == 2 for e in v):
        entries = []
        for k, x in v:
            kb, xb = [], []
            _render(k, kb)
            _render(x, xb)
            entries.append(("".join(kb), "".join(xb)))
        out.append("M{")
        for k, x in sorted(entries):
            out.append(k + "=>" + x + ",")
        out.append("}")
    elif isinstance(v, (list, tuple)):
        out.append("[")
        for e in v:
            _render(e, out)
            out.append(",")
        out.append("]")
    else:
        out.append("?%s:%s" % (type(v).__name__, v))


def digest(table):
    """(rows, digest) of a pyarrow table, matching Digest.scala."""
    cols = sorted(table.column_names)
    h = hashlib.sha256(("cols:" + ",".join(cols) + "\n").encode())
    data = [table.column(c).to_pylist() for c in cols]
    for i in range(table.num_rows):
        out = []
        for col in data:
            _render(col[i], out)
            out.append("|")
        out.append("\n")
        h.update("".join(out).encode())
    return table.num_rows, h.hexdigest()


def data_stamp(sf_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        h.update(("%s:%d\n" % (t, os.path.getsize(p))).encode())
    return h.hexdigest()[:16]


def ensure(sf_dir, sql_path, cache_path, log):
    """Fill the digest cache for every query in sql_path; return it."""
    import duckdb
    sqls = json.load(open(sql_path))
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    stamp = data_stamp(sf_dir)
    todo = {}
    for name, sql in sqls.items():
        key = hashlib.sha256((stamp + "\n" + sql).encode()).hexdigest()[:24]
        if cache.get(name, {}).get("key") != key:
            todo[name] = (key, sql)
    if not todo:
        return cache
    con = duckdb.connect()
    con.execute("SET threads=%d" % (os.cpu_count() or 4))
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(sf_dir, t + ".parquet")))
    t0 = time.time()
    for name in sorted(todo):
        key, sql = todo[name]
        try:
            rows, dg = digest(con.execute(sql).fetch_arrow_table())
            cache[name] = {"key": key, "rows": rows, "digest": dg}
        except Exception as e:  # a twin that cannot run is a failed check
            cache[name] = {"key": key, "rows": -1, "digest": "error: %s" % e}
    log("oracle: %d DuckDB twins digested in %.1f s" % (len(todo), time.time() - t0))
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cache, f, indent=0, sort_keys=True)
    os.replace(tmp, cache_path)
    return cache
