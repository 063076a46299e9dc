#!/usr/bin/env python3
"""Local correctness checker mimicking the driver's DuckDB-oracle
compare: run graft.Verify output against oracle_sql.json on the same
sf dir. Usage: check.py [sfDir] [outDir] [--skip-verify] [names...]

Builds and runs the tree this script lives in. Query names limit both
the Verify dump (SPARK_GRAFT_ONLY) and the compare."""
import json, math, sys, subprocess, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
rest = sys.argv[3:]
skip = "--skip-verify" in rest
names = [a for a in rest if not a.startswith("--")]

if not skip:
    # a fresh outDir per run: Verify skips past per-query failures, and
    # a leftover parquet from an earlier (passing) run would otherwise
    # make the comparator silently grade STALE output as current
    import shutil
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names)) if names else None
    r = subprocess.run(["sbt", "-batch", f'runMain graft.Verify {sf} {out}'],
                       capture_output=True, text=True, cwd=ROOT, env=env)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stdout.write(r.stderr[-3000:]); sys.exit(1)

import duckdb
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
todo = names or sorted(oracle.keys())

def norm(v):
    # sortable, type-tagged representation (None/float/str mix-safe);
    # repr(float) is round-trip exact so equality is bit-exact.
    if v is None: return ("0none",)
    if isinstance(v, bool): return ("b", v)
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, int): return ("i", v)
    return ("s", str(v))

ok = fail = 0
for name in todo:
    if name not in oracle:
        print(f"{name}: NO ORACLE (rows-only)"); continue
    try:
        got = con.execute(
            f"SELECT * FROM '{out}/{name}/*.parquet'").fetchall()
        gcols = [d[0] for d in con.description]
        # materialize the oracle ONCE (types preserved, HUGEINT
        # included) — the dtype lint below needs a second, pandas-typed
        # read, and re-executing heavy unrolled oracles doubles the
        # whole check's DuckDB cost
        con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {oracle[name]}")
        want = con.execute("SELECT * FROM __oracle").fetchall()
        wcols = [d[0] for d in con.description]
    except Exception as e:
        print(f"{name}: ERROR {e}"); fail += 1; continue
    # driver sorts columns by name before hashing values
    gi = sorted(range(len(gcols)), key=lambda i: gcols[i])
    wi = sorted(range(len(wcols)), key=lambda i: wcols[i])
    if sorted(gcols) != sorted(wcols):
        print(f"{name}: SCHEMA MISMATCH spark={sorted(gcols)} oracle={sorted(wcols)}")
        fail += 1; continue
    # Dtype lint (round 13): the driver's comparator hashes PANDAS
    # frames, where DuckDB HUGEINT (e.g. an uncast SUM(BIGINT))
    # materializes as float64 — fetchall() above returns Python ints
    # and masked exactly that artifact twice (r11 q_bpe_merges, r12
    # q_rolling: values equal, hash_match false). Compare dtype KINDS
    # through the same pandas path the driver uses; any int-vs-float
    # (or other kind) divergence fails even when values match.
    def kinds(df):
        return {c: ("i" if k in "iu" else k)
                for c, k in ((c, df[c].dtype.kind) for c in df.columns)}
    gk = kinds(con.execute(
        f"SELECT * FROM '{out}/{name}/*.parquet'").df())
    wk = kinds(con.execute("SELECT * FROM __oracle").df())
    dtbad = [f"{c}: spark={gk[c]} oracle={wk[c]}"
             for c in sorted(gk) if c in wk and gk[c] != wk[c]]
    if dtbad:
        print(f"{name}: DTYPE LINT FAIL {'; '.join(dtbad)}")
        fail += 1; continue
    g = sorted([tuple(norm(r[i]) for i in gi) for r in got])
    w = sorted([tuple(norm(r[i]) for i in wi) for r in want])
    if g == w:
        print(f"{name}: OK ({len(g)} rows)"); ok += 1
    else:
        print(f"{name}: MISMATCH rows spark={len(g)} oracle={len(w)}")
        shown = 0
        for a, b in zip(g, w):
            if a != b:
                print(f"   spark : {a}\n   oracle: {b}")
                shown += 1
                if shown >= 3: break
        if len(g) != len(w):
            og = [r for r in g if r not in set(w)][:2]
            ow = [r for r in w if r not in set(g)][:2]
            print(f"   only-spark: {og}\n   only-oracle: {ow}")
        fail += 1
print(f"== {ok} ok / {fail} fail / {len(todo)} checked")
sys.exit(1 if fail else 0)
