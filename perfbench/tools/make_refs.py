#!/usr/bin/env python3
"""Build refs/lake.json, the expected results of the lake workload.

    python3 perfbench/run.py --workload lake --seed 1 --seconds 1 --dump DIR
    python3 perfbench/tools/make_refs.py DIR

The dump holds the generated lake tables (a fixed generator seed, so every
run of the workload reads the same tables), the oracle SQL of each query
and this engine's result fingerprints. For each query with oracle SQL the
reference is DuckDB's result, fingerprinted exactly as
perfbench/src/main/scala/perfbench/ResultHash.scala does; a query without
oracle SQL (and the streaming corpus) takes this engine's own fingerprint
and is marked "source": "engine". Engine/DuckDB disagreements are printed.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
SIX = decimal.Decimal("0.000001")


def num(d):
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        q = d.quantize(SIX, rounding=decimal.ROUND_HALF_EVEN)
    return "0.000000" if q == 0 else format(q, "f")


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return num(decimal.Decimal(v))
    if isinstance(v, float):
        return "N" if math.isnan(v) or math.isinf(v) else num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        delta = v - EPOCH
        return "T%d" % ((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "B" + v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big", signed=True)
    return {"columns": [columns[i] for i in order], "rows": len(rows),
            "hash": format(total % (1 << 64), "x")}


def main(dump_dir, out_file):
    dump = json.load(open(os.path.join(dump_dir, "dump.json")))
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{dump_dir}/{t}.parquet/*.parquet'")
    results, disagree = {}, 0
    for name, entry in dump["results"].items():
        engine = entry.get("spark")
        sql = entry.get("oracle_sql")
        if sql:
            rel = con.sql(sql)
            ref = dict(fingerprint(rel.columns, rel.fetchall()), source="duckdb")
            if engine and {k: engine[k] for k in ("columns", "rows", "hash")} != \
                    {k: ref[k] for k in ("columns", "rows", "hash")}:
                disagree += 1
                print(f"DISAGREE {name}: duckdb {ref} engine {engine}")
            else:
                print(f"ok       {name} ({ref['rows']} rows)")
        else:
            ref = dict(engine, source="engine")
            print(f"engine   {name} ({ref['rows']} rows, no oracle SQL)")
        results[name] = ref
    with open(out_file, "w") as fh:
        json.dump({"scale": dump["scale"], "results": results}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(results)} references, {disagree} disagreements -> {out_file}")
    return 1 if disagree else 0


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main(sys.argv[1], sys.argv[2] if len(sys.argv) == 3
                  else os.path.join(here, "refs", "lake.json")))
