#!/usr/bin/env python3
"""Output check against the DuckDB oracle, through stored digests.

Each result is reduced to the canonical form of tools/check_oracle.py
(columns sorted by name with their type kinds, rows as sorted reprs) and
hashed. perfbench/oracle_digests.json holds, per declared query, a hash of
its oracle SQL and the digest of the oracle's result on perfbench/data/sf0.1.
A result whose digest differs, or a query whose oracle SQL changed since the
digests were made, is compared with DuckDB directly, which names the first
differing row.

Regenerate the digests after an oracle SQL change (builds the harness, dumps
every query's oracle SQL, runs each in DuckDB):
  python3 perfbench/oracle.py
"""
import hashlib
import json
import sys
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent / "tools"))
import check_oracle  # noqa: E402

DIGESTS = BENCH / "oracle_digests.json"


def connect(data_dir):
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def canonical(rel):
    """(sorted columns, their type kinds, sorted canonical rows)."""
    cols, rows = check_oracle.canon(rel.fetchall(), rel.columns)
    types = dict(zip(rel.columns, rel.types))
    return cols, [check_oracle.kind(types[c]) for c in cols], rows


def digest(form):
    return hashlib.sha256(json.dumps(form).encode()).hexdigest()


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def compare(got, exp):
    """None when equal, else the first difference."""
    (gcols, gkinds, grows), (ecols, ekinds, erows) = got, exp
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    for c, g, e in zip(gcols, gkinds, ekinds):
        if g != e:
            return f"type mismatch on '{c}': spark {g} vs duckdb {e}"
    if len(grows) != len(erows):
        return f"rows {len(grows)} != {len(erows)}"
    for i, (a, b) in enumerate(zip(grows, erows)):
        if a != b:
            return f"value mismatch at sorted row {i}: spark {a} duckdb {b}"
    return None


def check(data_dir, results_dir, oracle_sql):
    """{query: None if its result matches the oracle, else the reason}."""
    stored = json.loads(DIGESTS.read_text()) if DIGESTS.exists() else {}
    con = connect(data_dir)
    verdict = {}
    for q, sql in sorted(oracle_sql.items()):
        path = Path(results_dir) / q
        if not path.is_dir():
            verdict[q] = "no result written"
            continue
        try:
            got = canonical(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
            known = stored.get(q)
            if known and known["sql"] == sql_hash(sql) \
                    and known["digest"] == digest(got):
                verdict[q] = None
            else:
                verdict[q] = compare(got, canonical(con.sql(sql)))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            verdict[q] = f"error {e}"
    return verdict


def main():
    sys.path.insert(0, str(BENCH))
    import run  # noqa: E402
    run.build()
    dump = run.STATE / "oracle_sql.json"
    dump.parent.mkdir(parents=True, exist_ok=True)
    if run.run(run.java() + ["--oracle-dump", str(dump)], run.ROOT,
               None, 120) != 0:
        sys.exit("oracle: dumping the oracle SQL failed")
    con = connect(run.DATA)
    digests = {q: {"sql": sql_hash(sql),
                   "digest": digest(canonical(con.sql(sql)))}
               for q, sql in sorted(json.loads(dump.read_text()).items())}
    DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(digests)} digests to {DIGESTS.relative_to(run.ROOT)}")


if __name__ == "__main__":
    main()
