"""Local replica of the driver's correctness gate: run every
harness.QUERIES record on Spark and its oracle on DuckDB at sf0.01
(driver rows first), compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/compare_oracle.py [--agg] [--skip NAME]... [sf_dir] [query ...]

--agg moves the value comparison into the engines (see agg_hash.py):
each side reduces its result to (count, sum(md5_lower64),
sum(md5_upper64)) over identically-canonicalised rows, so nothing
row-scale crosses the driver — the mode the sf100 gate needs, where
the largest spot outputs are ~26M rows and collect-and-compare spends
tens of GB of driver heap on verification.  Queries whose result
schema has non-primitive columns fall back to the collect path
automatically (printed as "PASS name (... rows, collect)").
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if val != val:
            return "NaN"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return f"{val:.4f}"
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main():
    args = sys.argv[1:]
    # --skip NAME excludes a query (repeatable) — used by the large-sf
    # gates where an ORACLE (not the operator) is super-linear in
    # DuckDB, e.g. pack_sequences' recursive CTE re-scans the corpus
    # per recursion step (BASELINE.md "Round-4 scale-up gate" details
    # the exact-Python-replay fallback that covers it there).
    skip: set[str] = set()
    while "--skip" in args:
        i = args.index("--skip")
        skip.add(args[i + 1])
        del args[i : i + 2]
    agg_mode = "--agg" in args
    if agg_mode:
        args.remove("--agg")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from ocr_project_spark import caching, harness
    from ocr_project_spark.session import get_spark

    # large-sf gates want more cores/partitions than the sf0.01 default;
    # the driver-replica default stays local[8]/16 for comparability
    spark = get_spark(
        app_name="compare_oracle",
        master=os.environ.get("COMPARE_ORACLE_MASTER", "local[8]"),
        shuffle_partitions=int(
            os.environ.get("COMPARE_ORACLE_SHUFFLE", "16")),
    )
    con = duckdb.connect()
    # Large-sf gates: an in-memory DuckDB cannot spill, and at sf10 the
    # all-pairs-per-cluster oracles (semdedup) materialize >100 GB and
    # take the host to the OOM killer.  Cap the oracle engine and give
    # it a temp directory so it offloads instead of dying.
    con.execute("SET memory_limit='48GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = 0
    for name, q in harness.QUERIES.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP {name}: --skip")
            continue
        # every query shares this session: drop each query's
        # operator-internal persists before the next so cached
        # corpus/vocabulary-scale tables don't accumulate at large sf
        caching.release_all(blocking=True)
        try:
            sdf = q.build(spark, sf_dir)
            s_cols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue

        if agg_mode and q.oracle is not None:
            import agg_hash

            s_canon = agg_hash.spark_canon_expr(sdf.schema)
            try:
                d_desc = con.execute(f"DESCRIBE {q.oracle}").fetchall()
                d_canon = agg_hash.duck_canon_expr(d_desc)
            except Exception as e:
                print(f"FAIL {name}: DUCKDB ERROR {str(e)[:300]}")
                n_fail += 1
                continue
            if s_canon is not None and d_canon is not None:
                d_cols = [r[0] for r in d_desc]
                problems = []
                if sorted(s_cols) != sorted(d_cols):
                    problems.append(
                        f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
                else:
                    try:
                        digest, aggs = agg_hash.spark_agg_exprs(s_canon)
                        s_n, s_lo, s_hi = sdf.selectExpr(digest).selectExpr(
                            *aggs).collect()[0]
                    except Exception as e:
                        print(f"FAIL {name}: SPARK ERROR "
                              f"{type(e).__name__}: {str(e)[:300]}")
                        n_fail += 1
                        continue
                    try:
                        d_n, d_lo, d_hi = con.execute(
                            agg_hash.duck_agg_sql(d_canon, q.oracle)
                        ).fetchone()
                    except Exception as e:
                        print(f"FAIL {name}: DUCKDB ERROR {str(e)[:300]}")
                        n_fail += 1
                        continue
                    if s_n != d_n:
                        problems.append(f"rows spark={s_n} duck={d_n}")
                    elif (int(s_lo), int(s_hi)) != (int(d_lo), int(d_hi)):
                        problems.append(
                            f"agghash spark=({s_lo},{s_hi}) "
                            f"duck=({d_lo},{d_hi})")
                if problems:
                    print(f"FAIL {name}: " + "; ".join(problems))
                    n_fail += 1
                else:
                    print(f"PASS {name} ({s_n} rows, agg)")
                    n_pass += 1
                continue
            # unsupported schema -> fall through to the collect path

        try:
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"SKIP {name}: no oracle (rows={len(s_rows)})")
            continue
        try:
            res = con.execute(q.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: DUCKDB ERROR {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs, hd = hash_rows(s_cols, s_rows), hash_rows(d_cols, d_rows)
            if hs != hd:
                problems.append(f"hash {hs} != {hd}")
                # show first differing rows for debugging
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {tuple(canon(r[i]) for i in order_s) for r in s_rows}
                set_d = {tuple(canon(r[i]) for i in order_d) for r in d_rows}
                only_s = list(set_s - set_d)[:2]
                only_d = list(set_d - set_s)[:2]
                problems.append(f"spark-only={only_s} duck-only={only_d}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            mode = ", collect" if agg_mode else ""
            print(f"PASS {name} ({len(s_rows)} rows{mode})")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
