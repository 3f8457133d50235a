#!/usr/bin/env python3
"""Record the golden digests of the sql_suite and llm_pipeline entries and
cross-check them against the DuckDB oracle.

    python3 benchmark/golden.py            # record, cross-check, write golden.json
    python3 benchmark/golden.py --check    # cross-check golden.json only

For each scale factor (sf0.001 for --smoke runs, sf0.1 for timed runs) the
harness runs every entry once and prints the digest of its output
(`bench.Digest`). Wherever `SparkEntry.oracleSql` has an oracle, the same
digest is computed here from DuckDB's result over the same parquet
tables, with the hash below mirroring `Digest.scala` value for value.
golden.json keeps the digests and, under "oracle_check", the outcome per
entry: "match", "mismatch" or "no oracle".
"""
import argparse
import datetime
import decimal
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")
M64 = (1 << 64) - 1
TAG = dict(null=0x11, bool=0x12, int=0x13, float=0x14, decimal=0x15, string=0x16,
           binary=0x17, date=0x18, timestamp=0x19, array=0x1a, struct=0x1b, map=0x1c,
           other=0x1d)
ROW_SEED = 0x5eed
EPOCH = datetime.datetime(1970, 1, 1)


def mix(z):
    z &= M64
    z = ((z ^ (z >> 30)) * 0xbf58476d1ce4e5b9) & M64
    z = ((z ^ (z >> 27)) * 0x94d049bb133111eb) & M64
    return z ^ (z >> 31)


def combine(h, v):
    return mix(h * 31 + (v & M64))


def fnv(b):
    h = 0xcbf29ce484222325
    for x in b:
        h = ((h ^ x) * 0x100000001b3) & M64
    return combine(h, len(b))


def value_hash(v):
    import struct
    if v is None:
        return combine(TAG["null"], 0)
    if isinstance(v, bool):
        return combine(TAG["bool"], 1 if v else 0)
    if isinstance(v, int):
        return combine(TAG["int"], v)
    if isinstance(v, float):
        if v != v:
            bits = 0x7ff8000000000000
        elif v == 0.0:
            bits = 0
        else:
            bits = struct.unpack(">Q", struct.pack(">d", v))[0]
        return combine(TAG["float"], bits)
    if isinstance(v, decimal.Decimal):
        sign, digits, exp = v.as_tuple()
        unscaled = int("".join(map(str, digits)) or "0") * (-1 if sign else 1)
        return combine(combine(TAG["decimal"], -exp),
                       combine(TAG["decimal"], fnv(str(unscaled).encode())))
    if isinstance(v, str):
        return combine(TAG["string"], fnv(v.encode("utf-8")))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return combine(TAG["binary"], fnv(bytes(v)))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return combine(TAG["timestamp"], (d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return combine(TAG["date"], (v - EPOCH.date()).days)
    if isinstance(v, (list, tuple)):
        h = TAG["array"]
        for x in v:
            h = combine(h, value_hash(x))
        return combine(h, len(v))
    if isinstance(v, dict):
        h = TAG["struct"]
        for x in v.values():
            h = combine(h, value_hash(x))
        return combine(TAG["struct"], h)
    return combine(TAG["other"], fnv(str(v).encode("utf-8")))


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: (columns[i], i))
    total = 0
    for r in rows:
        h = ROW_SEED
        for i in order:
            h = combine(h, value_hash(r[i]))
        total = (total + h) & M64
    return f"{len(rows)}:{total:016x}"


def duckdb_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def harness(workload, mode, smoke):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--mode", mode] + (["--smoke"] if smoke else [])
    out = subprocess.run(cmd, stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true", help="cross-check golden.json only")
    a = ap.parse_args()
    import duckdb

    golden = {}
    if os.path.isfile(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    data_root = os.environ.get("BENCH_DATA_ROOT", os.path.join(os.path.expanduser("~"), "testdata"))
    checks = {}
    bad = 0
    for sf, smoke in (("sf0.001", True), ("sf0.1", False)):
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_root}/{sf}/{t}.parquet'")
        recorded = dict(golden.get(sf, {}))
        checks[sf] = {}
        for w in ("sql_suite", "llm_pipeline"):
            if not a.check:
                recorded.update(harness(w, "record", smoke))
            for eid, sql in sorted(harness(w, "oracle", smoke).items()):
                try:
                    got = duckdb_digest(con, sql)
                except duckdb.Error as e:
                    print(f"{sf} {eid}: oracle error {e}", file=sys.stderr)
                    got = None
                ok = got == recorded.get(eid)
                checks[sf][eid] = "match" if ok else "mismatch"
                bad += not ok
                print(f"{sf} {eid}: {'match' if ok else 'MISMATCH'} "
                      f"spark={recorded.get(eid)} duckdb={got}", file=sys.stderr)
        for eid in recorded:
            checks[sf].setdefault(eid, "no oracle")
        golden[sf] = dict(sorted(recorded.items()))
    golden["oracle_check"] = checks
    if not a.check:
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
            f.write("\n")
    print(f"{bad} oracle mismatches", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
