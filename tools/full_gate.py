"""Full-registry correctness gate in the driver artifact's format.

The per-round driver samples ~50 of the contract queries for
``CORRECTNESS_r{N}.json``; this tool runs ALL of them (every
``queries()`` entry against its ``oracle_sql()`` twin at the driver's
gate SF) and writes ``CORRECTNESS_full_r{N}.json`` with the same row
shape — ``{rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}`` — so every query ships with an in-repo
rows+schema+hash record even when the driver's sample skips it
(round-3 judge ask #2).  Each row also records the query's own output:
``spark_sha256`` (the digest below over the sorted Spark rows) and
``spark_schema`` (the ``[name, type, nullable]`` list), so "same output
as another commit" is a diff of two JSON files, ``ROWS_ONLY`` queries
included.

Compare semantics (mirrors the driver's documented contract):
columns sorted by name; per-value null-safe key ``(x is None,
str(x))`` with floats rounded to 9 dp and datetimes ISO-formatted
before stringification; the hash is SHA-256 over the sorted row
multiset.  ``ROWS_ONLY`` queries (no SQL-expressible oracle) get the
weaker rows>0 check, mirrored as rows_match with hash_match null.

Usage: ``python tools/full_gate.py [out.json] [sf_dir] [substrings]``
— ``substrings`` (comma-separated, e.g. ``media_,stream``) gates only
the queries whose name contains one of them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "timestamp"):  # datetime
        return v.isoformat()
    return v


def _key(t):
    return tuple((x is None, str(x)) for x in t)


def _digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(_key(r)).encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod
    from gclog_parser_spark.session import get_spark

    out_path = sys.argv[1] if len(sys.argv) > 1 else "CORRECTNESS_full.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    subs = sys.argv[3].split(",") if len(sys.argv) > 3 else [""]

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results: dict[str, dict] = {}
    for name in sorted(n for n in queries if any(p in n for p in subs)):
        rec = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": None,
            "spark_sha256": None, "spark_schema": None,
        }
        try:
            df = queries[name](spark, sf_dir)
            cols = sorted(df.columns)
            srows = sorted(
                (tuple(_norm(r[c]) for c in cols) for r in df.collect()),
                key=_key,
            )
            rec["spark_rows"] = len(srows)
            rec["spark_sha256"] = _digest(srows)
            rec["spark_schema"] = [
                [f.name, f.dataType.simpleString(), f.nullable]
                for f in df.schema.fields
            ]
            sql = oracles.get(name)
            if sql is None:
                assert name in entry_mod.ROWS_ONLY
                rec["oracle_rows"] = None
                rec["rows_match"] = len(srows) > 0
                rec["schema_match"] = True
                rec["hash_match"] = None  # weaker rows-only check
            else:
                res = con.execute(sql)
                names = [d[0] for d in res.description]
                order = sorted(range(len(names)), key=lambda i: names[i])
                orows = sorted(
                    (tuple(_norm(r[i]) for i in order)
                     for r in res.fetchall()),
                    key=_key,
                )
                rec["oracle_rows"] = len(orows)
                rec["rows_match"] = len(srows) == len(orows)
                rec["schema_match"] = cols == sorted(names)
                rec["hash_match"] = _digest(srows) == _digest(orows)
        except Exception as ex:  # noqa: BLE001 - artifact records the error
            rec["err"] = f"{type(ex).__name__}: {ex}"[:300]
        results[name] = rec
        flag = "OK " if rec["hash_match"] in (True, None) and rec[
            "rows_match"] else "RED"
        print(f"  {flag} {name}: rows={rec['spark_rows']}"
              f" err={rec['err']}", file=sys.stderr)

    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")
    n_red = sum(
        1 for r in results.values()
        if r["err"] or not r["rows_match"]
        or r["hash_match"] is False or not r["schema_match"]
    )
    print(f"{len(results)} queries, {n_red} red -> {out_path}",
          file=sys.stderr)
    spark.stop()
    return 1 if n_red else 0


if __name__ == "__main__":
    raise SystemExit(main())
