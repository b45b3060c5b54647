#!/usr/bin/env python3
"""Regenerates `perfbench/pins.tsv`, the expected outputs the benchmark
checks every run against.

    python3 perfbench/pins.py

A catalog item that `SparkEntry.oracleSql` covers is pinned to the DuckDB
oracle's result on the benchmark's own tables. Any other item, and the
generated SQL and encodings of `estimator_loop`, are pinned to this
commit's output. Where this commit's Spark result disagrees with the
oracle, the pin stays the oracle's and the disagreement is printed.
"""
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CATALOG_SCALE = "sf0.01"


def oracle_digests(oracle_sql):
    import duckdb
    con = duckdb.connect()
    d = HERE / "data" / CATALOG_SCALE
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out = {}
    for name, sql in oracle_sql.items():
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        out[name] = M.digest_rows(cols, cur.fetchall())
    return out


def main():
    classes = build.ensure()
    work = build.build_dir() / "work" / f"pins-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    dump = work / "dump.json"
    log = build.build_dir() / "out" / "pins.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        rc = run.jvm(classes, work, ["--dump", str(dump), "--data", str(HERE / "data")], log)
        if rc != 0:
            raise SystemExit(f"pins: JVM exited {rc}; log in {log}")
        got = json.loads(dump.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    oracle = oracle_digests(got["oracle_sql"])

    lines = ["# kind\tkey\trows\tdigest\tsource"]
    disagree = []
    for name, d in got["catalog"].items():
        if name in oracle:
            rows, digest = oracle[name]
            if (rows, digest) != (d["rows"], d["digest"]):
                disagree.append(f"{name}: spark {d['rows']} rows {d['digest']}, "
                                f"oracle {rows} rows {digest}")
            lines.append(f"catalog\t{name}\t{rows}\t{digest}\toracle")
        else:
            lines.append(f"catalog\t{name}\t{d['rows']}\t{d['digest']}\tseed-commit")
    for seed, e in got["estimator"].items():
        lines.append(f"sql\t{seed}\t{e['sql_rows']}\t{e['sql']}\tseed-commit")
        lines.append(f"enc\t{seed}\t{e['enc_rows']}\t{e['enc']}\tseed-commit")
    text = "\n".join(lines) + "\n"
    for d in disagree:
        print(f"pins: engine disagrees with oracle: {d}")
    (HERE / "pins.tsv").write_text(text)
    print(f"pins: wrote {len(lines) - 1} pins; {len(oracle)} from the oracle")
    return 1 if disagree else 0


if __name__ == "__main__":
    sys.exit(main())
