"""Output checks of the benchmark, made apart from the program.

* Registry queries: every pass's output is compared with the DuckDB answer
  of `SparkEntry.oracleSql` on the same parquet, by the rule of
  scripts/dev_check.py (columns by name, type classes, rows in order,
  exact values). Answers are cached in perfbench/oracles/, one gzipped JSON
  file per query, keyed by the SQL text and the input-file hashes; a stale
  or missing answer leaves the output unchecked and the run incorrect, and
  `python3 perfbench/run.py --rebuild-oracles` recomputes them.
* etl_files: the generator's record of every cell against the exported
  CSVs, the Derby tables (expected rows computed by DuckDB through the
  program's SQL twins `RefFunctions.*Oracle`), the reject channel, the
  skipped-row count and the invoice search's copies and write-back; the
  VARCHAR probe's table once its import no longer fails.
* corpus_churn: the maintained kNN lists against a fresh drain, no deleted
  id in them, and every cosine recomputed with numpy.
"""
import csv
import gzip
import hashlib
import json
import math
import sys
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa

CHECKED_QUERIES = ["semdedup_knn", "asof_join_native"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


# ---------------------------------------------------------------- oracles

def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{Path(data) / (t + '.parquet')}')")
    return con


def input_hashes(data):
    return {t: hashlib.sha256((Path(data) / f"{t}.parquet").read_bytes())
            .hexdigest() for t in TABLES}


def cache_key(sql, hashes):
    h = hashlib.sha256(sql.encode())
    for t in sorted(hashes):
        h.update(f"{t}={hashes[t]}".encode())
    return h.hexdigest()


def norm(v):
    """One comparable, JSON-stable form per value."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): norm(x) for k, x in v.items()}
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return f"{type(v).__name__}:{v}"


def tclass(t):
    """Type class as the correctness gate compares it: integer widths
    alike, everything else by name."""
    arr = t.endswith("[]")
    base = t[:-2] if arr else t
    cls = "INT" if base in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else base
    return cls + ("[]" if arr else "")


def answer_of(con, sql):
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
    return {"columns": cols, "types": {c: tclass(types[c]) for c in cols},
            "rows": json.loads(json.dumps([[norm(v) for v in r] for r in rows]))}


def cached_answer(name, key, cache_dir):
    """The cached answer, or None when it is missing or stale."""
    f = Path(cache_dir) / f"{name}.json.gz"
    if f.exists():
        a = json.loads(gzip.decompress(f.read_bytes()))
        if a.get("key") == key:
            return a
    return None


def rebuild_cache(sqls, data, cache_dir):
    """Recompute every answer with DuckDB: the only writer of the cache."""
    con = connect(data)
    hashes = input_hashes(data)
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    for old in cache_dir.glob("*.json.gz"):
        old.unlink()
    for name in sorted(sqls):
        a = dict(answer_of(con, sqls[name]),
                 key=cache_key(sqls[name], hashes), query=name)
        (cache_dir / f"{name}.json.gz").write_bytes(
            gzip.compress(json.dumps(a).encode(), mtime=0))
        print(f"perfbench: cached {name}", file=sys.stderr)


def compare(con, got_dir, want):
    src = f"read_parquet('{got_dir}/*.parquet')"
    try:
        got = con.execute(f"SELECT * FROM {src}").fetchall()
    except duckdb.Error as e:
        return f"unreadable output: {e}"
    cols = [d[0] for d in con.description]
    types = {r[0]: tclass(r[1]) for r in
             con.execute(f"DESCRIBE (SELECT * FROM {src})").fetchall()}
    if sorted(cols) != sorted(want["columns"]):
        return f"columns {sorted(cols)} != {sorted(want['columns'])}"
    diff = {c: (types[c], want["types"][c]) for c in cols
            if types[c] != want["types"][c]}
    if diff:
        return f"type classes differ: {diff}"
    if len(got) != len(want["rows"]):
        return f"{len(got)} rows, oracle {len(want['rows'])}"
    gi = [cols.index(c) for c in sorted(cols)]
    wi = [want["columns"].index(c) for c in sorted(cols)]
    got = json.loads(json.dumps([[norm(r[j]) for j in gi] for r in got]))
    for i, (g, w) in enumerate(zip(got, want["rows"])):
        w = [w[j] for j in wi]
        if g != w:
            return f"row {i}: {g} != oracle {w}"
    return None


def check_queries(res, out, data, cache_dir):
    con = connect(data)
    hashes = input_hashes(data)
    problems = []
    passes = range(1 + len(res["warm_pass_s"]))
    for name, sql in sorted(res["oracle_sql"].items()):
        want = cached_answer(name, cache_key(sql, hashes), cache_dir)
        if want is None:
            problems.append(f"{name}: the cached oracle answer is stale or "
                            "missing, so the output is unchecked; run "
                            "python3 perfbench/run.py --rebuild-oracles")
            continue
        if not want["rows"]:
            problems.append(f"{name}: the oracle answer is empty")
        for p in passes:
            d = Path(out) / f"p{p}" / name
            if not d.is_dir():
                continue  # the operation failed; counted in `failed`
            msg = compare(con, d, want)
            if msg:
                problems.append(f"{name} pass {p}: {msg}")
    return problems


# -------------------------------------------------------------- etl_files

def check_etl(res, out, work, truth):
    problems = []
    root = Path(work) / "etl"
    twins = res["twins"]
    sheets = truth["sheets"]
    cols, imported = truth["columns"], truth["imported"]

    # 1. every exported CSV equals the cells the generator wrote
    processed = {p.name.split(" ", 2)[-1]: p
                 for p in (root / "processed").glob("*.csv")}
    if sorted(processed) != sorted(f"{s}.csv" for s in sheets):
        problems.append(f"processed CSVs {sorted(processed)}")
    for sheet, t in sheets.items():
        p = processed.get(f"{sheet}.csv")
        if p is None:
            continue
        with open(p, newline="", encoding="utf-8") as f:
            got = list(csv.reader(f))
        want = [cols] + [[c if c is not None else "" for c in r] for r in t["rows"]]
        if got != want:
            bad = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w),
                       min(len(got), len(want)))
            problems.append(f"{sheet}.csv differs from the cells at line {bad}")

    # 2. Derby rows and rejects, computed by DuckDB through the SQL twins
    con = duckdb.connect()
    def san(c):
        return twins["sanitize"].replace("__X__", f'"{c}"')
    def mapped(c):
        e = san(c)
        return twins["excel_date"].replace("__X__", e) if c in truth["datetime"] else e
    derby = json.loads((Path(out) / "derby.json").read_text())
    rejects = json.loads((Path(out) / "rejects.json").read_text())
    want_rejects = Counter()
    dups = 0
    for sheet, t in sheets.items():
        cells = pa.table({c: pa.array([r[i] for r in t["rows"]], pa.string())
                          for i, c in enumerate(cols)})
        con.register("cells", cells)
        pk_bad = f"({san('ID')} IS NULL OR {san('ID')} = '')"
        distinct = "DISTINCT" if t["sink"] == "resilient" else ""
        want = con.execute(
            f"SELECT {distinct} {', '.join(mapped(c) for c in imported)} "
            f"FROM cells WHERE NOT {pk_bad}").fetchall()
        got = derby.get(t["table"], [])
        if Counter(map(tuple, got)) != Counter(want):
            problems.append(f"Derby {t['table']}: {len(got)} rows, expected "
                            f"{len(want)}; contents differ")
        for r in con.execute(
                f"SELECT {', '.join(mapped(c) + ' AS ' + c for c in cols)} "
                f"FROM cells WHERE {pk_bad}").fetchall():
            row = {c: v for c, v in zip(cols, r) if v is not None}
            want_rejects[(f"import:{sheet}", json.dumps(row, sort_keys=True))] += 1
        con.unregister("cells")
        if t["sink"] == "resilient":
            dups += t["duplicates"]
    got_rejects = Counter((s, json.dumps(json.loads(j), sort_keys=True))
                          for s, j in rejects)
    if got_rejects != want_rejects:
        problems.append(f"rejected_rows: {sum(got_rejects.values())} rows, "
                        f"expected the {sum(want_rejects.values())} null-key rows")

    # 3. per-pass counts: identical in every pass; skips = injected duplicates
    counts = res["etl_counts"]
    if any(c != counts[0] for c in counts):
        problems.append(f"etl counts differ between passes: {counts}")
    if counts and counts[-1]["sink_skipped"] != dups:
        problems.append(f"skipped {counts[-1]['sink_skipped']} rows, "
                        f"injected {dups} duplicates")

    # 4. invoice search: copied documents and the Found write-back
    tracked = {inv for inv, _ in truth["invoices"]}
    already = {inv for inv, f in truth["invoices"] if f == "Yes"}
    searched = tracked - already
    def scrub(s):
        return s.replace("\\", " ").replace("/", " ")
    want_files = {f"{inv} - {scrub(ref)} - {name}"
                  for inv, _, name, ref, exists in truth["manifest"]
                  if inv in searched and exists}
    got_files = {p.name for p in (root / "dest").iterdir()} \
        if (root / "dest").is_dir() else set()
    if got_files != want_files:
        problems.append(f"copied {len(got_files)} files, expected {len(want_files)}")
    if counts and counts[-1]["files_copied"] != len(want_files):
        problems.append(f"search reported {counts[-1]['files_copied']} files")
    matched = {m[0] for m in truth["manifest"]} & searched
    with open(root / "invoices.csv", newline="") as f:
        flags = {r["InvoiceNumber"]: r["Found"] for r in csv.DictReader(f)}
    want_flags = {inv: "Yes" if inv in already or inv in matched else ""
                  for inv in tracked}
    if flags != want_flags:
        problems.append("invoices.csv Found flags differ from the documents found")

    # 5. the VARCHAR probe, checked once its import no longer fails
    probe = truth["probe"]
    if not any(" import_varchar:" in f for f in res["failures"]):
        pcols = probe["columns"]
        con.register("cells", pa.table(
            {c: pa.array([r[i] for r in probe["rows"]], pa.string())
             for i, c in enumerate(pcols)}))
        want = con.execute(
            f"SELECT {', '.join(san(c) for c in pcols)} FROM cells").fetchall()
        con.unregister("cells")
        if Counter(map(tuple, derby.get(probe["table"], []))) != Counter(want):
            problems.append(f"Derby {probe['table']}: contents differ")
    return problems


# ----------------------------------------------------------- corpus_churn

def check_corpus(res, out, data, truth):
    problems = []
    if not all(res["knn_compact_fired"]):
        problems.append(f"maybeCompact did not fire: {res['knn_compact_fired']}")
    if not all(res["knn_equals_fresh_drain"]):
        problems.append("maintained lists differ from a fresh drain of the "
                        f"survivors: {res['knn_equals_fresh_drain']}")
    if res["knn_fresh_rows"] == 0:
        problems.append("the fresh drain produced no lists")
    dead = set(truth["deletes"])
    lists = np.loadtxt(Path(out) / "knn_lists.csv", delimiter=",", skiprows=1,
                       dtype=np.float64, ndmin=2)
    node, nbr, ncos = lists[:, 0].astype(np.int64), lists[:, 1].astype(np.int64), lists[:, 2]
    if dead & (set(node.tolist()) | set(nbr.tolist())):
        problems.append("the lists hold deleted ids")
    con = duckdb.connect()
    ids, vecs = con.execute(
        "SELECT vec_id, embedding FROM read_parquet(?) ORDER BY vec_id",
        [str(Path(data) / "embeddings.parquet")]).fetchnumpy().values()
    m = np.array([np.asarray(v, dtype=np.float32).astype(np.float64) for v in vecs])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pos = {int(i): k for k, i in enumerate(ids)}
    cos = np.einsum("ij,ij->i", m[[pos[i] for i in node]], m[[pos[i] for i in nbr]])
    err = float(np.max(np.abs(cos - ncos))) if len(cos) else 0.0
    if err > 1e-9:
        problems.append(f"ncos differs from numpy cosine by up to {err:.3g}")
    return problems


def check(workload, res, out, work, data, truth, cache_dir):
    problems = []
    if workload == "etl_files":
        problems += check_etl(res, out, work, truth)
    else:
        problems += check_queries(res, out, data, cache_dir)
    if workload == "corpus_churn":
        problems += check_corpus(res, out, data, truth)
    return problems
