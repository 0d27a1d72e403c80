"""DuckDB oracle gate over a graft.Verify dump.

Usage: python3 tools/check_oracle.py [sfDir] [verifyOutDir]

For every key in oracle_sql.json, run the oracle SQL in DuckDB against
the sfDir tables and compare it with the Spark dump: column set, typed
parity, row count and values. Every dumped key with no oracle entry is
reported as no_oracle with its row count; an empty one is a failure.
Exits 1 on any failure, 0 otherwise.
"""
import duckdb, json, glob, sys, os
sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_m3"
con = duckdb.connect()
# testdata tables are single files; MakeScale rehearsal dirs are
# Spark-written directories — DuckDB needs an explicit glob for those
def src(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src(f'{sfdir}/{t}.parquet')}'")
# MakeScale-generated dirs store events.ts as a raw ns BIGINT (Spark's
# nanosAsLong write); rebuild the view with the same ns→µs truncation
# Spark applies so the oracles see a timestamp either way
ts_type = [r[1] for r in con.execute("DESCRIBE events").fetchall() if r[0] == "ts"][0]
if ts_type == "BIGINT":
    con.execute("DROP VIEW events")
    con.execute(f"CREATE VIEW events AS SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) FROM '{src(f'{sfdir}/events.parquet')}'")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# Verify records which queries it intentionally did not dump (env-skipped,
# ONLY-excluded) in skipped.json; only THOSE may be skipped here. Watchdog
# timeouts land in cancelled.json and are FAILURES — a formerly-passing
# query that starts hanging must not surface as a policy skip. Any other
# missing output means the query crashed before writing and is a FAIL.
try:
    known_skips = set(json.load(open(f"{outdir}/skipped.json")))
except FileNotFoundError:
    known_skips = None  # pre-round-3 dump: fall back to skip-on-missing
try:
    known_cancels = set(json.load(open(f"{outdir}/cancelled.json")))
except FileNotFoundError:
    known_cancels = set()
fails = []
skipped = 0
for name, sql in sorted(oracle.items()):
    try:
        if not glob.glob(f"{outdir}/{name}/*.parquet"):
            if name in known_cancels:
                fails.append((name, "watchdog TIMEOUT in Verify — query hung, not a policy skip"))
            elif known_skips is None or name in known_skips:
                print(f"SKIP {name} (declared skipped by Verify)" if known_skips is not None
                      else f"SKIP {name} (no spark output — watchdog-cancelled?)")
                skipped += 1
            else:
                fails.append((name, "no spark output and not in skipped.json — query crashed in Verify"))
            continue
        odf = con.execute(sql).fetchdf()
        sdf = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").fetchdf()
        o = odf[sorted(odf.columns)]
        s = sdf[sorted(sdf.columns)]
        if list(o.columns) != list(s.columns):
            fails.append((name, f"cols {list(o.columns)} vs {list(s.columns)}")); continue
        # Typed parity: the driver hashes values WITH their types, so a
        # value-identical DECIMAL(26,4) vs DOUBLE divergence (round-8 b12c)
        # is a hash FAIL there even though str()-comparison here passes.
        # Compare DuckDB's DESCRIBE of the oracle SQL vs of the Spark dump.
        otypes = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
        stypes = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{outdir}/{name}/*.parquet'").fetchall()}
        # Known-benign normalizations (each verified against the driver's
        # actual hash behavior in CORRECTNESS_r08):
        #  - TIMESTAMPTZ vs TIMESTAMP: Spark writes TIMESTAMP_MICROS
        #    adjusted-to-UTC; session TZ is UTC so values agree.
        #  - integer widths: 12 registry queries dump INTEGER where the
        #    oracle computes BIGINT (rank(), year(), length() …) and ALL
        #    hash-match in the driver — it coerces ints before hashing.
        #    DECIMAL vs DOUBLE/FLOAT stays STRICT (the b12c failure class).
        _ints = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
        def norm(t):
            if t == "TIMESTAMP WITH TIME ZONE": return "TIMESTAMP"
            if t in _ints: return "INT"
            return t
        tdiff = [(c, otypes[c], stypes[c]) for c in sorted(otypes)
                 if norm(otypes[c]) != norm(stypes.get(c, "?"))]
        if tdiff:
            fails.append((name, f"TYPE mismatch (driver hash risk): {tdiff}")); continue
        if len(o) != len(s):
            fails.append((name, f"rows {len(o)} vs {len(s)}")); continue
        ov, sv = o.values.tolist(), s.values.tolist()
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(ov, sv)) if str(a) != str(b)]
        if bad:
            fails.append((name, f"{len(bad)} mismatched rows, first: {bad[0]}"))
        else:
            print(f"OK   {name} ({len(o)} rows)")
    except Exception as e:
        fails.append((name, f"ERROR {e}"))
# keys DuckDB cannot oracle: a dump with rows is all this gate can check
no_oracle = sorted(d for d in os.listdir(outdir)
                   if d not in oracle and os.path.isdir(os.path.join(outdir, d)))
for name in no_oracle:
    try:
        n = con.execute(f"SELECT count(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0]
    except Exception as e:
        fails.append((name, f"ERROR reading no-oracle dump: {e}")); continue
    if n == 0:
        fails.append((name, "no_oracle dump is EMPTY"))
    else:
        print(f"no_oracle {name} rows={n}")
for name, msg in fails: print(f"FAIL {name}: {msg}")
print(f"\n{len(oracle)-len([f for f in fails if f[0] in oracle])-skipped}/{len(oracle)} matched "
      f"({skipped} skipped), {len(no_oracle)} no_oracle, {len(fails)} failed")
sys.exit(1 if fails else 0)
