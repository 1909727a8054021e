"""DuckDB side of the benchmark's result check.

Renders DuckDB rows exactly as `Digest.scala` renders Spark rows (type
tags, floating and decimal values rounded by `tools/compare.py`'s rule,
columns in lower-cased name order), so a DuckDB digest compares directly with the
engine's. Used to confirm the stored expected digests and to replay the
`dml_sf0.01` statement sequence.
"""
import datetime
import decimal
import hashlib
import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def _num(x):
    if math.isnan(x):
        return "f:nan"
    if math.isinf(x):
        return "f:inf" if x > 0 else "f:-inf"
    if x == 0:
        return "f:0"
    d = decimal.Decimal(x)
    places = 9 if d.adjusted() < 0 else 9 - d.adjusted()
    d = d.quantize(decimal.Decimal(1).scaleb(-places), rounding=decimal.ROUND_HALF_EVEN,
                   context=decimal.Context(prec=400))
    return "f:0" if d == 0 else "f:" + format(d.normalize(decimal.Context(prec=400)), "f")


def _iso(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return t.isoformat()


def render(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return _num(float(v))
    if isinstance(v, datetime.datetime):
        return "dt:" + _iso(v)
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise TypeError(f"cannot render {type(v).__name__}")


def row_hash(rendered):
    return int.from_bytes(hashlib.sha256(rendered.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        total = (total + row_hash("\x1f".join(render(r[i]) for i in order))) % (1 << 64)
    return ",".join(sorted(cols)) + "|" + str(len(rows)) + ":" + format(total, "016x")


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def query_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def _count(con, sql):
    return con.execute(sql).fetchone()[0]


def _merge_replay(sql):
    """MERGE of the mix's one shape -> (UPDATE ... FROM, INSERT ... SELECT)."""
    import re
    m = re.match(r"(?is)^MERGE INTO (\w+) USING \((.+)\) s ON (.+?) WHEN MATCHED THEN UPDATE SET "
                 r"(.+?) WHEN NOT MATCHED THEN INSERT \((.+?)\) VALUES \((.+)\)\s*$", sql)
    if not m:
        raise ValueError("unsupported MERGE shape: " + sql)
    table, src, on, sets, cols, vals = m.groups()
    target_key, source_key = (x.strip() for x in on.split("="))
    update = f"UPDATE {table} SET {sets} FROM ({src}) s WHERE {on}"
    insert = (f"INSERT INTO {table} ({cols}) SELECT {vals} FROM ({src}) s "
              f"WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE t.{target_key} = {source_key})")
    return update, insert


def replay_dml(data_dir, setup, log, final_state):
    """Replay the run's statements in DuckDB; return the mismatches."""
    con = connect(data_dir)
    for sql in setup:
        con.execute(sql)
    bad = []
    for i, e in enumerate(log):
        sql, op = " ".join(e["sql"].split()), e["op"]
        if op.startswith("merge"):
            upd, ins = _merge_replay(sql)
            u = _count(con, upd)
            n = _count(con, ins)
            want = digest(["updated", "deleted", "inserted"], [(u, 0, n)])
        elif op.startswith(("insert", "update", "delete")):
            want = digest(["rows"], [(_count(con, sql),)])
        else:
            want = query_digest(con, sql)
        if want != e["digest"]:
            bad.append({"index": i, "op": op, "want": want, "got": e["digest"]})
    for f in final_state:
        want = query_digest(con, f"SELECT * FROM {f['table']}")
        if want != f["digest"]:
            bad.append({"op": "final_" + f["table"], "want": want, "got": f["digest"]})
    return bad
