#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark workloads.

Usage: gen.py OUTDIR WORKLOAD SEED

Writes every table as a directory `<name>.parquet/` of FILES_PER_TABLE
part files (several row groups each), so every scan splits into at
least as many tasks as a 16-core local master has threads, and no
scan is one task. Beside the tables it writes `truth.json` (planted
duplicate groups, cross-tick copies, shard membership) and
`props.json` (measured input properties). The same seed gives
byte-identical inputs. A `_DONE` marker makes the output a cache.
"""
import json
import os
import shutil
import sys
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_TABLE = 16
ROW_GROUPS_PER_FILE = 2

STOPWORDS = ("the of and to a in is that for it as was with be by on not "
             "he this are or his from at which but have an they you were "
             "her she there been one all we their has would when if so no "
             "will more can its also than them into only other some").split()
VOCAB_SIZE = 20000
ZIPF_S = 1.1
LANGS = ["en", "en", "zh", "es", "fr", "de"]

# Input sizes. They are chosen so one warm pass takes a few seconds on
# a 4-core box and a run fits its time budget; METRICS.md describes the
# shapes (tails, duplicate shares, tick structure).
SIZES = {
    "mapreduce_longdoc": dict(docs=120, median_tokens=800, sigma=1.0),
    "curate_dedup": dict(docs=1000, exact_share=0.10, near_share=0.10),
    "ingest_ticks": dict(history=1000, ticks=2, shard=200,
                         cross_tick_share=0.15, history_copy_share=0.10),
}


def vocabulary():
    """A fixed Zipf vocabulary: stopwords at the head (real text is
    mostly function words), then random letter strings. Letters only,
    so the BPE-ish chunk regex sees one token per word."""
    rng = np.random.default_rng(7)
    words = list(dict.fromkeys(STOPWORDS))
    seen = set(words)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < VOCAB_SIZE:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 10)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    return np.array(words), p / p.sum()


VOCAB, VOCAB_P = vocabulary()


def tokens(rng, n):
    return VOCAB[rng.choice(VOCAB_SIZE, size=n, p=VOCAB_P)].tolist()


def render(rng, toks):
    """Words with sentence punctuation and capitals, ASCII only, so the
    normalizers have work and the DuckDB oracles replay them exactly."""
    out = []
    cap = True
    for t in toks:
        w = t.capitalize() if cap else t
        r = rng.random()
        cap = r < 0.06
        out.append(w + ("." if cap else "," if r < 0.09 else ""))
    return " ".join(out)


def write_table(out, name, table):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, FILES_PER_TABLE + 1).astype(int)
    for i in range(FILES_PER_TABLE):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // ROW_GROUPS_PER_FILE))
        pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"),
                       row_group_size=rg)


def doc_table(ids, texts, rng):
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def quantiles(xs):
    q = np.quantile(np.asarray(xs), [0.5, 0.9, 0.99, 1.0])
    return {"p50": float(q[0]), "p90": float(q[1]), "p99": float(q[2]),
            "max": float(q[3])}


def short_doc(rng):
    return render(rng, tokens(rng, int(rng.integers(10, 101))))


def near_copy(rng, text):
    """gen_sf's near-duplicate rule: one word in 25 replaced."""
    words = text.split(" ")
    for p in range(0, len(words), 25):
        words[p] = tokens(rng, 1)[0]
    return " ".join(words)


def lognormal_lengths(rng, z):
    """Document lengths at evenly spaced quantiles of the lognormal, in
    seeded order: every seed gets the same length multiset (the same
    amount of work), only the order and the text differ."""
    n = z["docs"]
    zq = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lens = np.exp(np.log(z["median_tokens"]) + z["sigma"] * zq)
    return rng.permutation(lens.astype(int))


def gen_mapreduce(out, rng, z):
    lens = lognormal_lengths(rng, z)
    texts = [render(rng, tokens(rng, int(n))) for n in lens]
    write_table(out, "documents", doc_table(range(len(texts)), texts, rng))
    return {}, {"main_table_rows": len(texts),
                "tokens_total": int(lens.sum()),
                "tokens_per_doc": quantiles(lens)}


def kinds(rng, n, shares):
    """A seeded order of exactly round(share * n) items of each kind
    1, 2, ... (kind 0 fills the rest), so planted shares do not vary
    by seed."""
    counts = [int(round(s * n)) for s in shares]
    ks = np.concatenate([np.full(c, k + 1) for k, c in enumerate(counts)]
                        + [np.zeros(n - sum(counts), int)])
    return rng.permutation(ks)


def planted_corpus(rng, n, exact_share, near_share):
    """n docs of which the given shares are exact and near copies of
    earlier originals. Returns texts and the planted groups."""
    texts, originals = [], []
    exact, near = {}, {}
    # the first document must be an original
    order = np.concatenate([[0], kinds(rng, n - 1, [exact_share, near_share])])
    for i, kind in enumerate(order):
        if kind == 0:
            texts.append(short_doc(rng))
            originals.append(i)
            continue
        o = originals[int(rng.integers(0, len(originals)))]
        if kind == 1:
            texts.append(texts[o])
            exact.setdefault(o, []).append(i)
        else:
            texts.append(near_copy(rng, texts[o]))
            near.setdefault(o, []).append(i)
    return texts, exact, near


def gen_curate(out, rng, z):
    texts, exact, near = planted_corpus(rng, z["docs"], z["exact_share"],
                                        z["near_share"])
    write_table(out, "documents", doc_table(range(len(texts)), texts, rng))
    # ground truth of exactness is text equality, planted or by chance
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    groups = [g for g in by_text.values() if len(g) > 1]
    n_exact = sum(len(v) for v in exact.values())
    n_near = sum(len(v) for v in near.values())
    lens = [len(t.split(" ")) for t in texts]
    truth = {"exact_groups": groups}
    props = {"main_table_rows": len(texts), "tokens_total": int(sum(lens)),
             "tokens_per_doc": quantiles(lens),
             "planted_exact_share": n_exact / len(texts),
             "planted_near_share": n_near / len(texts),
             "planted_dup_share": (n_exact + n_near) / len(texts)}
    return truth, props


def gen_ingest(out, rng, z):
    hist = [short_doc(rng) for _ in range(z["history"])]
    write_table(out, "history", doc_table(range(len(hist)), hist, rng))
    next_id = len(hist)
    fresh_before = []            # (id, text) of fresh docs of earlier ticks
    shards, cross, hist_copy = [], {}, {}
    for t in range(z["ticks"]):
        ids, texts = [], []
        fresh_now = []
        # tick 0 has no earlier tick: its cross-tick share is fresh
        shares = [z["cross_tick_share"] if t else 0.0, z["history_copy_share"]]
        for kind in kinds(rng, z["shard"], shares):
            if kind == 1:
                o, txt = fresh_before[int(rng.integers(0, len(fresh_before)))]
                cross[str(next_id)] = o
            elif kind == 2:
                o = int(rng.integers(0, len(hist)))
                txt = hist[o]
                hist_copy[str(next_id)] = o
            else:
                txt = short_doc(rng)
                fresh_now.append((next_id, txt))
            ids.append(next_id)
            texts.append(txt)
            next_id += 1
        fresh_before += fresh_now
        write_table(out, f"shard_{t:02d}", doc_table(ids, texts, rng))
        shards.append(ids)
    lens = [len(t.split(" ")) for t in hist]
    truth = {"shards": shards, "cross_tick_copies": cross,
             "history_copies": hist_copy}
    props = {"main_table_rows": z["ticks"] * z["shard"],
             "history_docs": len(hist), "ticks": z["ticks"],
             "shard_docs": z["shard"], "tokens_per_doc": quantiles(lens),
             "cross_tick_copy_share":
                 len(cross) / (z["ticks"] * z["shard"]),
             "history_copy_share":
                 len(hist_copy) / (z["ticks"] * z["shard"])}
    return truth, props


GENERATORS = {"mapreduce_longdoc": gen_mapreduce, "curate_dedup": gen_curate,
              "ingest_ticks": gen_ingest}


def generate(out, workload, seed):
    """Writes the workload's inputs to `out` unless they are cached."""
    if os.path.exists(os.path.join(out, "_DONE")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the workload name is mixed into the seed so workloads never share
    # a random stream
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth, props = GENERATORS[workload](out, rng, SIZES[workload])
    props["files_per_table"] = FILES_PER_TABLE
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f, indent=1)
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
