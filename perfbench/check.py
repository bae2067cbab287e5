"""Correctness checks, run on the untimed outputs of a run.

olap_mix and curation_corpus: each key's result is compared in DuckDB
with SparkEntry's oracle SQL over the same data directory; a key with no
oracle must return at least one row. ddl_ingest: the script is replayed
in DuckDB without graft, and every read, the final table and the
materialized view are compared with the replay."""
import json
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data: Path, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        f = data / f"{t}.parquet"
        if f.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def _cols(con, rel):
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def compare(con, name, got, want):
    """None when the relations `got` and `want` hold the same multiset of
    rows, columns matched by name and cells compared as text; else a
    one-line description of the difference."""
    gc, wc = sorted(_cols(con, got)), sorted(_cols(con, want))
    if gc != wc:
        return f"{name}: columns {gc} != oracle {wc}"
    sel = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in gc)
    g, w = f"(SELECT {sel} FROM {got})", f"(SELECT {sel} FROM {want})"
    extra = con.execute(f"SELECT * FROM ({g} EXCEPT ALL {w}) LIMIT 1").fetchall()
    missing = con.execute(f"SELECT * FROM ({w} EXCEPT ALL {g}) LIMIT 1").fetchall()
    if extra or missing:
        n_got = con.execute(f"SELECT count(*) FROM {got}").fetchone()[0]
        n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
        return (f"{name}: {n_got} rows vs oracle {n_want}; a row only in graft's: "
                f"{extra[:1]}, only in the oracle's: {missing[:1]}")
    return None


def _parquet(path: Path):
    return f"read_parquet('{path}/*.parquet')"


def check_keys(data: Path, check_dir: Path, keys, threads):
    """Mismatches of the key results written for the check. A key whose
    run failed has no result; its failure is already counted."""
    oracles = json.loads((check_dir / "oracle_sql.json").read_text())
    con = connect(data, threads)
    bad = []
    for k in keys:
        out = check_dir / k
        if not out.exists():
            continue
        got = _parquet(out)
        if k not in oracles:
            if con.execute(f"SELECT count(*) FROM {got}").fetchone()[0] == 0:
                bad.append(f"{k}: rows-only key returned no rows")
            continue
        diff = compare(con, k, got, f"({oracles[k].strip().rstrip(';')})")
        if diff:
            bad.append(diff)
    return bad


def replay_ddl(data: Path, script, src_view, threads):
    """Runs the script's replay SQL in DuckDB. Returns the result of each
    read, keyed by statement index, and the connection for the final
    state."""
    con = connect(data, threads)
    con.execute(f"CREATE VIEW src_orders AS {src_view}")
    reads = {}
    for i, (cls, _, replay) in enumerate(script):
        if cls == "read":
            reads[i] = con.execute(replay[0]).fetchall()
        else:
            for sql in replay:
                con.execute(sql)
    return reads, con


def check_ddl(data: Path, check_dir: Path, script, src_view, read_rows, table, threads):
    """Mismatches between graft's reads and final table and the replay."""
    want_reads, con = replay_ddl(data, script, src_view, threads)
    bad = []
    for r in read_rows:
        i = r["stmt"]
        got = [tuple(row.values()) for row in r["rows"]]
        want = [tuple(x) for x in want_reads.get(i, [])]
        if [tuple(map(str, g)) for g in got] != [tuple(map(str, w)) for w in want]:
            bad.append(f"round {r['round']} statement {i}: {got} != replay {want}")
    final = check_dir / "final_table"
    if not final.exists():
        bad.append("final table was not written")
    else:
        diff = compare(con, "final table", _parquet(final), table)
        if diff:
            bad.append(diff)
    return bad
