"""DuckDB side of the correctness check.

Evaluates the library's declared oracle SQL (`SparkEntry.oracleSql`,
dumped by the harness) over a workload's generated inputs and reduces
each result to the same order-independent digest the harness computes
for its Spark outputs (perfbench/src/main/scala/perfbench/Digest.scala;
the canonical form below must stay identical to it).
"""
import decimal
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        s = f"{float(v):.6f}"
        return "0.000000" if s == "-0.000000" else s
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def row_hash(row):
    h = hashlib.sha256("\x1f".join(canon(v) for v in row).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def digest(rows):
    n, total = 0, 0
    for r in rows:
        total = (total + row_hash(r)) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def connect(tables_dir, threads, temp_dir):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{temp_dir}'")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def variant(con, tables_dir, name):
    """`<key>@<variant>` digests run the key's SQL over a variant of the
    inputs. `region`: nations renamed to their region, so the trade-rank
    SQL ranks the region rollup of the nation trade graph."""
    if name == "region":
        p = os.path.join(tables_dir, "nation.parquet")
        con.execute("CREATE OR REPLACE VIEW nation AS SELECT n.n_nationkey, "
                    "r.r_name AS n_name, n.n_regionkey "
                    f"FROM read_parquet('{p}') n JOIN region r "
                    "ON n.n_regionkey = r.r_regionkey")
    else:
        raise ValueError(f"unknown input variant {name}")


def oracle_digests(tables_dir, sqls, keys, threads, temp_dir):
    """Digest of every oracle key in `keys` (`<sql key>[@<variant>]`)."""
    out = {}
    by_variant = {}
    for k in keys:
        base, _, var = k.partition("@")
        by_variant.setdefault(var, []).append((k, base))
    for var, items in sorted(by_variant.items()):
        con = connect(tables_dir, threads, temp_dir)
        if var:
            variant(con, tables_dir, var)
        for k, base in items:
            out[k] = digest(con.execute(sqls[base]).fetchall())
        con.close()
    return out
