#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --workload ingest --seed 7 --out DIR

Everything a run feeds the engine comes from here: the tables and the op
schedule. The same (workload, seed) gives byte-identical files; a different
seed changes the seed corpus, the inserted texts, the mutated and read keys,
the served terms and the dedup sample. The engine only ever sees these
files.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes change, so cached inputs are regenerated
GEN_VERSION = 9

WORKLOADS = ("ingest", "dedup")

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()

# dedup: a fixed corpus the per-seed sample is drawn from
CORPUS_SEED = 20240917
CORPUS_DOCS = 6000
DEDUP_SAMPLE = 500

# ingest sizing
INGEST_SEED_DOCS = 1500
INGEST_CYCLES = 30


def _write(table, path):
    # fixed writer options: the file bytes depend only on the table
    pq.write_table(table, path, compression="snappy", version="2.6",
                   use_dictionary=True, write_statistics=True)


def _doc(rng, lo=40, hi=90):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi)))


def _near_copy(rng, text):
    w = text.split()
    for _ in range(int(rng.integers(1, 4))):
        w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    if rng.random() < 0.5:
        w = w[: len(w) - int(rng.integers(1, 5))]
    return " ".join(w) + " dup"


def gen_corpus():
    """The fixed document corpus: random text over VOCAB, ~10% near-copies of
    an earlier doc (some copies of copies, so duplicate clusters chain).
    Returns the texts and, per doc, the index of the doc it copies (or -1)."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts, parent = [], []
    for i in range(CORPUS_DOCS):
        if i > 20 and rng.random() < 0.10:
            j = int(rng.integers(max(0, i - 200), i))
            texts.append(_near_copy(rng, texts[j]))
            parent.append(j)
        else:
            texts.append(_doc(rng))
            parent.append(-1)
    return texts, parent


def gen_dedup(seed, out):
    rng = np.random.default_rng([seed, 3])
    texts, parent = gen_corpus()
    langs = np.array(["en", "de", "fr", "es", "zh"])

    def docs(ids):
        ids = np.asarray(ids, dtype=np.int64)
        return pa.table({
            "doc_id": ids,
            "text": pa.array([texts[i] for i in ids]),
            "lang": langs[ids % 5],
            "source": pa.array([f"src{i % 5}" for i in ids]),
            "n_chars": np.array([len(texts[i]) for i in ids], dtype=np.int64),
        })
    # seeded sample in seeded order; a sampled copy brings the doc it copies,
    # so the sample keeps the corpus' duplicate pairs
    pick, seen = [], set()
    for i in rng.permutation(len(texts)):
        for j in (int(i), parent[i]):
            if j >= 0 and j not in seen and len(pick) < DEDUP_SAMPLE:
                seen.add(j)
                pick.append(j)
        if len(pick) >= DEDUP_SAMPLE:
            break
    _write(docs(pick), os.path.join(out, "documents.parquet"))


def gen_ingest(seed, out):
    """Seed corpus plus the step schedule. Steps (tab-separated):
      insert  <n>  then n lines: row_key, doc_id, text
      delete  key,key,...
      update  <suffix>  key,key,...
      point   key
      serve   term,term,term
      fold
      compact
    Keys chosen for delete/update/point are live at that point of the
    schedule, so every prefix of it is a valid op sequence."""
    rng = np.random.default_rng([seed, 2])
    live = []
    rows = []
    for d in range(INGEST_SEED_DOCS):
        key = f"k{d:08d}"
        rows.append((key, d, _doc(rng)))
        live.append(key)
    _write(pa.table({
        "row_key": pa.array([r[0] for r in rows]),
        "doc_id": pa.array([r[1] for r in rows], pa.int64()),
        "text": pa.array([r[2] for r in rows]),
    }), os.path.join(out, "seed.parquet"))
    next_id = INGEST_SEED_DOCS
    # one fixed interleaving per cycle (the seed picks keys, texts and
    # terms): 12 point reads to 4 serves puts the read p50 among the point
    # reads and the p90 among the serves, for one cycle or several. The
    # first serve after a fold and compaction runs slowest; with serves a
    # quarter of the reads, p90 falls among the other serves, not on the
    # edge between the two groups.
    mix = ["insert", "point", "point", "serve", "point", "delete", "point",
           "point", "serve", "insert", "point", "update", "point", "point",
           "serve", "point", "insert", "point", "point", "serve", "point"]
    lines = []
    for _ in range(INGEST_CYCLES):
        for kind in mix:
            if kind == "insert":
                n = 40
                lines.append(f"insert\t{n}")
                for _ in range(n):
                    key = f"k{next_id:08d}"
                    lines.append(f"{key}\t{next_id}\t{_doc(rng)}")
                    live.append(key)
                    next_id += 1
            elif kind in ("delete", "update"):
                idx = sorted(rng.choice(len(live), 12, replace=False).tolist(), reverse=True)
                keys = [live[i] for i in idx]
                if kind == "delete":
                    for i in idx:
                        live[i] = live[-1]
                        live.pop()
                    lines.append("delete\t" + ",".join(keys))
                else:
                    lines.append(f"update\t{VOCAB[int(rng.integers(0, len(VOCAB)))]}\t"
                                 + ",".join(keys))
            elif kind == "point":
                lines.append("point\t" + live[int(rng.integers(0, len(live)))])
            else:
                terms = rng.choice(len(VOCAB), 3, replace=False)
                lines.append("serve\t" + ",".join(VOCAB[t] for t in terms))
        lines.append("fold")
        lines.append("compact")
    with open(os.path.join(out, "steps.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


GENERATORS = {"ingest": gen_ingest, "dedup": gen_dedup}


def generate(workload, seed, out):
    """Write the inputs of (workload, seed) into `out` (created), skipping the
    work when a complete earlier generation of the same version is there."""
    marker = os.path.join(out, "DONE")
    stamp = f"{GEN_VERSION} {workload} {seed}\n"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return out
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
    with open(marker, "w") as f:
        f.write(stamp)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
