"""Expected per-column result hashes from DuckDB, and the canonical value
form they are built from.

The rules mirror `perfbench/scala/Canon.scala` (and the project's own
`scripts/check.py`): columns sorted by name, one md5 per column over the
NUL-joined canonical value stream in row order.
"""
import datetime
import hashlib
import json
import math
import os
import struct
from decimal import Decimal

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(struct.unpack(">Q", struct.pack(">d", v))[0], "016x")
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return str((v - epoch) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def hashes(cols, rows):
    """(sorted column names, md5 per column, row count)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = [hashlib.md5() for _ in order]
    for row in rows:
        for d, i in zip(digests, order):
            d.update(canon(row[i]).encode("utf-8"))
            d.update(b"\x00")
    return [cols[i] for i in order], [d.hexdigest() for d in digests], len(rows)


class Oracle:
    """DuckDB runs the engine's oracle SQL over the same parquet. The
    expected hashes depend only on the data and the SQL, so they are
    cached on disk keyed by both."""

    def __init__(self, sf_dir, cache_dir):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.con = None

    def expected(self, sql):
        key = hashlib.sha256((self.sf_dir + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key[:32] + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            self.con.sql("SET threads TO 4")
            for t in TABLES:
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{self.sf_dir}/{t}.parquet'")
        rel = self.con.sql(sql)
        cols, hs, n = hashes(rel.columns, rel.fetchall())
        out = {"cols": cols, "hashes": hs, "rows": n}
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out
