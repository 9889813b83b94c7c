#!/usr/bin/env python3
"""Compare two runs of the query fleet, key by key.

Usage:
  python3 tools/compare_runs.py verify <verifyOutA> <verifyOutB>
  python3 tools/compare_runs.py plans <planDirA> <planDirB>

verify: two `graft.Verify` output dirs. Each key of `oracle_sql.json` is
compared exactly (after the path normalization below, since an oracle
may read a registry artifact by its absolute path), then with all
whitespace removed; every query's frame
(the parquet files under `<dir>/<key>/`, read in file-name order through
DuckDB, as selfcheck.py does) is compared on its schema (column names
and types) and its rows, in order (NaN equals NaN).

plans: two dirs of formatted plans (`graft.Probe plan`, one
`<query>_<suffix>.txt` per query; the suffix may differ between the
dirs). Each plan is normalized first: expression, plan and RDD ids, RDD
call sites (file and line), lambda variable numbers and closure
identities, absolute paths up to the
registry artifact, warehouse table or temp directory they name, temp
directory suffixes and part-file names (numbers and UUIDs).

Prints one line per differing key and a summary; exits 1 if any key
differs (whitespace-only oracle differences are listed, but do not fail).
"""
import glob, json, os, re, sys

import duckdb


def verify(a, b):
    fails, ws_only = [], []
    oa = json.load(open(f"{a}/oracle_sql.json"))
    ob = json.load(open(f"{b}/oracle_sql.json"))
    oa = {k: normalize_paths(v) for k, v in oa.items()}
    ob = {k: normalize_paths(v) for k, v in ob.items()}
    for k in sorted(set(oa) | set(ob)):
        if k not in oa or k not in ob:
            fails.append(f"oracle {k}: only in {'B' if k not in oa else 'A'}")
        elif oa[k] != ob[k]:
            if re.sub(r"\s+", "", oa[k]) == re.sub(r"\s+", "", ob[k]):
                ws_only.append(k)
            else:
                fails.append(f"oracle {k}: text differs")
    con = duckdb.connect()
    ka = {os.path.basename(d) for d in glob.glob(f"{a}/*") if os.path.isdir(d)}
    kb = {os.path.basename(d) for d in glob.glob(f"{b}/*") if os.path.isdir(d)}
    for k in sorted(ka | kb):
        if k not in ka or k not in kb:
            fails.append(f"frame {k}: only in {'B' if k not in ka else 'A'}")
            continue
        frames = []
        for root in (a, b):
            files = sorted(glob.glob(f"{root}/{k}/*.parquet"))
            rel = con.read_parquet(files) if files else None
            frames.append((rel.columns, rel.types, rel.df()) if rel else None)
        fa, fb = frames
        if fa is None or fb is None:
            if fa is not fb:
                fails.append(f"frame {k}: parquet files on one side only")
        elif (fa[0], [str(t) for t in fa[1]]) != (fb[0], [str(t) for t in fb[1]]):
            fails.append(f"frame {k}: schema {list(zip(fa[0], map(str, fa[1])))}"
                         f" vs {list(zip(fb[0], map(str, fb[1])))}")
        elif not fa[2].equals(fb[2]):
            fails.append(f"frame {k}: rows differ ({len(fa[2])} vs {len(fb[2])})")
    for k in ws_only:
        print(f"WHITESPACE oracle {k}")
    summary = (f"{len(set(oa) | set(ob))} oracles ({len(ws_only)} whitespace-only), "
               f"{len(ka | kb)} frames")
    return fails, summary


def normalize_paths(text):
    """Absolute paths cut back to the registry artifact, warehouse table or
    temp directory they name (temp directory suffixes dropped)."""
    def path(m):
        p = m.group(0)
        art = re.search(r"/([a-z0-9]+_[0-9a-f]{32}(?:/.*)?)$", p)
        if art:
            return "<registry>/" + art.group(1)
        wh = re.search(r"/(spark-warehouse/.*)$", p)
        if wh:
            return "<checkout>/" + wh.group(1)
        return re.sub(r"^(?:file:)?/(?:tmp|dev/shm)/([A-Za-z_.-]+?)-?\d+", r"<tmp>/\1", p)

    return re.sub(r"(?:file:)?/[^\s,\]\)\"']+", path, text)


def normalize_plan(text):
    t = re.sub(r"#\d+", "#", text)
    t = re.sub(r"plan_id=\d+", "plan_id=", t)
    t = re.sub(r"RDD\[\d+\] at \w+ at \w+\.scala:\d+", "RDD[] at <call site>", t)
    t = re.sub(r"\b(lambda \w+?)_\d+", r"\1_", t)
    t = re.sub(r"\$Lambda\$?\d*/0x[0-9a-f]+@[0-9a-f]+", "$Lambda", t)
    t = re.sub(r"@[0-9a-f]{6,8}\b", "@", t)
    # a committed artifact's part files are listed in name order, so
    # the first one shown depends on its UUID
    t = re.sub(r"part-\d+-[0-9a-f]{8}-[0-9a-f-]{27}", "part-UUID", t)
    return normalize_paths(t)


def plans(a, b):
    def load(d):
        out = {}
        for f in glob.glob(f"{d}/*.txt"):
            key = os.path.basename(f)[:-4].rsplit("_", 1)[0]
            out[key] = normalize_plan(open(f).read())
        return out
    pa, pb = load(a), load(b)
    fails = []
    for k in sorted(set(pa) | set(pb)):
        if k not in pa or k not in pb:
            fails.append(f"plan {k}: only in {'B' if k not in pa else 'A'}")
        elif pa[k] != pb[k]:
            fails.append(f"plan {k}: differs")
    return fails, f"{len(set(pa) | set(pb))} plans"


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in ("verify", "plans"):
        sys.exit(__doc__)
    fails, summary = (verify if sys.argv[1] == "verify" else plans)(sys.argv[2], sys.argv[3])
    for f in fails:
        print(f"DIFF {f}")
    print(f"{'EQUAL' if not fails else f'{len(fails)} DIFFER'}: {summary}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
