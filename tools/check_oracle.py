#!/usr/bin/env python3
"""Local dev-loop mimic of the driver's correctness gate: run DuckDB oracle
SQL against the testdata tables, compare against Verify's parquet output.
Dev tooling only — not part of the engine (the engine is Scala/Spark)."""
import duckdb, glob, json, math, os, shutil, sys, tempfile, threading

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# DuckDB's bounds: a runaway oracle query ends with an error instead of
# exhausting the host's memory or disk.
MEMORY_LIMIT = "4GB"
THREADS = 2
SPILL_LIMIT = 4 << 30  # bytes


def spill_bytes(d):
    total = 0
    for e in os.scandir(d):
        try:
            total += e.stat().st_blocks * 512
        except FileNotFoundError:
            pass
    return total


def watch_spill(con, spill, stop, tripped):
    """Interrupts the running query once the spill directory outgrows
    SPILL_LIMIT. DuckDB's own max_temp_directory_size (also set) does not
    bound every operator's spill files: q60's sf0.1 oracle wrote 18 GB
    under a 4 GB setting."""
    while not stop.wait(0.2):
        if not tripped.is_set() and spill_bytes(spill) > SPILL_LIMIT:
            tripped.set()
            con.interrupt()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return repr(v)


def canon(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[c]) for c in cols)
            for r in df.to_dict("records")]
    return cols, sorted(rows)


def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = sys.argv[3:] or None
    # spill goes to a fresh directory under the system temp dir (not the
    # working tree), removed on exit
    spill = tempfile.mkdtemp(prefix="graft-oracle-spill-")
    con = duckdb.connect(config={
        "memory_limit": MEMORY_LIMIT, "threads": THREADS,
        "temp_directory": spill,
        "max_temp_directory_size": f"{SPILL_LIMIT >> 30}GB"})
    stop, tripped = threading.Event(), threading.Event()
    watcher = threading.Thread(target=watch_spill,
                               args=(con, spill, stop, tripped), daemon=True)
    watcher.start()
    try:
        return compare(con, sfdir, out, only, tripped)
    finally:
        stop.set()
        watcher.join()
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def compare(con, sfdir, out, only, tripped):
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = con.sql(
                f"SELECT * FROM read_parquet({files!r})").df()
            ora_df = con.sql(oracle[name]).df()
        except Exception as e:
            if tripped.is_set():
                e = f"spilled more than {SPILL_LIMIT >> 30} GB; stopped ({e})"
                tripped.clear()
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        sc, sr = canon(spark_df)
        oc, orows = canon(ora_df)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            n_fail += 1
        elif sr != orows:
            n_fail += 1
            print(f"FAIL {name}: rows spark={len(sr)} oracle={len(orows)}")
            diff_s = [r for r in sr if r not in set(orows)][:3]
            diff_o = [r for r in orows if r not in set(sr)][:3]
            print(f"  spark-only: {diff_s}")
            print(f"  oracle-only: {diff_o}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(sr)} rows)")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
