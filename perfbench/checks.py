"""Output checks of the graft benchmark.

- Steps with an entry in graft's `SparkEntry.oracleSql`: an
  order-independent digest of the Spark output is compared with
  DuckDB's result of the oracle SQL on the same inputs (the method of
  tools/check_oracle.py: columns sorted by name, each row rendered as
  text, rows sorted). DuckDB's digest is computed once per workload and
  seed and cached beside the inputs.
- curate_e2e (rows only) against the generator's truth: every input
  document appears exactly once, and no two documents with the same
  text are both kept.
- Ingest decisions of every tick of every pass against the truth:
  every shard document is decided exactly once, every copy of a
  history document is rejected as an exact duplicate, and every
  cross-tick copy of a document accepted in an earlier tick of the
  same pass is rejected.
- dedup_pipeline against the truth, not its oracle: the oracle replays
  xxhash64 minhash signatures in SQL and takes minutes per seed even
  at 500 documents. Every document appears once; each cluster has
  exactly one keeper, its smallest doc_id, which is also the cluster
  id; documents with the same text share a cluster.
- A step with neither an oracle nor a truth check fails.

`check` returns the failing (pass, step) pairs (pass None: the step's
cold-pass output was wrong, which fails every execution of the step)
and the outcome ratios read from the output frames.
"""
import glob
import hashlib
import json
import os

import duckdb

# DuckDB's oracles take long; running them serially after the JVM
# keeps them off the measured interval, so they may use every core.
THREADS = os.cpu_count() or 1


def digest(df):
    cols = sorted(df.columns)
    rows = sorted(df[cols].astype(str).apply(lambda r: "|".join(r), axis=1)) \
        if len(df) else []
    return {"rows": len(df), "cols": cols,
            "sha": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def connect(inputs, work):
    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    d = os.path.join(inputs, "documents.parquet")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/*.parquet')")
    return con


def oracle_digest(con, inputs, name, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(inputs, f"oracle-{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    d = digest(con.execute(sql).fetchdf())
    with open(path, "w") as f:
        json.dump(d, f)
    return d


def read_output(con, work, name):
    files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
    if not files:
        return None
    return con.execute("SELECT * FROM read_parquet("
                       f"'{os.path.join(work, 'out', name)}/*.parquet')").fetchdf()


def check_curate(df, truth, n_docs):
    ids = df["doc_id"].tolist()
    if len(ids) != n_docs or set(ids) != set(range(n_docs)):
        return False
    kept = set(df.loc[df["stage"] == "kept", "doc_id"])
    return all(sum(1 for d in g if d in kept) <= 1
               for g in truth["exact_groups"])


def check_dedup(df, truth, n_docs):
    ids = df["doc_id"].tolist()
    if len(ids) != n_docs or set(ids) != set(range(n_docs)):
        return False
    cluster = dict(zip(df["doc_id"], df["cluster_id"]))
    for cid, g in df.groupby("cluster_id"):
        keepers = g.loc[g["is_keeper"] == 1, "doc_id"].tolist()
        if keepers != [g["doc_id"].min()] or keepers[0] != cid:
            return False
    return all(len({cluster[d] for d in g}) == 1
               for g in truth["exact_groups"])


def check_ingest(work, truth):
    """Returns the failing (pass, tick) pairs and the outcome ratios."""
    bad = set()
    by = {}
    with open(os.path.join(work, "decisions.csv")) as f:
        for line in f:
            p, tick, doc, acc, bloom, exact = line.strip().split(",")
            by.setdefault((int(p), tick), []).append(
                (int(doc), int(acc), int(bloom), int(exact)))
    cross = {int(k): v for k, v in truth["cross_tick_copies"].items()}
    hist = {int(k) for k in truth["history_copies"]}
    n = acc_n = bloom_n = exact_n = 0
    for p in sorted({p for p, _ in by}):
        accepted = set()
        for t, ids in enumerate(truth["shards"]):
            tick = f"tick_{t:02d}"
            rows = by.get((p, tick))
            if rows is None:       # the tick threw; counted by the runner
                continue
            ok = sorted(r[0] for r in rows) == sorted(ids)
            for doc, acc, bloom, exact in rows:
                if doc in hist and not (exact == 1 and acc == 0):
                    ok = False
                if doc in cross and cross[doc] in accepted and acc != 0:
                    ok = False
            accepted |= {r[0] for r in rows if r[1] == 1}
            if not ok:
                bad.add((p, tick))
            n += len(rows)
            acc_n += sum(r[1] for r in rows)
            bloom_n += sum(r[2] for r in rows)
            exact_n += sum(r[3] for r in rows)
    return bad, {"ingest.accept_ratio": acc_n / max(n, 1),
                 "ingest.bloom_precision": exact_n / max(bloom_n, 1)}


TRUTH_CHECKS = {"curate_e2e": check_curate, "dedup_pipeline": check_dedup}


def check(workload, inputs, work, rec):
    with open(os.path.join(inputs, "truth.json")) as f:
        truth = json.load(f)
    with open(os.path.join(inputs, "props.json")) as f:
        props = json.load(f)
    if workload == "ingest_ticks":
        return check_ingest(work, truth)
    bad, outcomes = set(), {}
    con = connect(inputs, work)
    for s in rec["cold"]["steps"]:
        name = s["name"]
        if not s["ok"]:
            continue
        out = read_output(con, work, name)
        sql = rec["oracle_sql"].get(name)
        if out is None:
            ok = False
        elif name in TRUTH_CHECKS:
            ok = TRUTH_CHECKS[name](out, truth, props["main_table_rows"])
        elif sql is not None:
            ok = digest(out) == oracle_digest(con, inputs, name, sql)
        else:
            ok = False
        if name == "dedup_pipeline" and out is not None and len(out):
            outcomes["dedup.keep_ratio"] = float(out["is_keeper"].sum()) / \
                props["main_table_rows"]
        if not ok:
            bad.add((None, name))
    return bad, outcomes
