#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes, from one integer seed, everything the benchmark's workloads read:

* ``events.parquet``, the catalog's ``events`` table (the one table the
  stream_microbatch query reads) with the schema, physical parquet types
  (``ts`` as TIMESTAMP(NANOS)) and value distributions of the repository's
  fixtures (FIXTURES.md section B), at scale factor ``SF``, in one row
  group like the fixtures;
* the curation corpus (``corpus.parquet``): English prose documents built
  from the ``documents`` fixture's vocabulary plus common English words,
  with stated shares of near-duplicate copies and of documents built to
  fail the quality gate, and the survivor counts each pipeline stage must
  produce (``corpus_expect.json``).

The same seed always gives byte-identical inputs. Row counts and value
distributions do not depend on the seed, only the values do, so timings
from different seeds measure the same amount of work.

Usage: python3 perfbench/gen.py OUT_DIR --seed N
"""
import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 documents fixture's whole vocabulary (31 words).
FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window").split()

# Content words for the curation corpus prose, added to FIXTURE_WORDS.
PROSE_WORDS = (
    "time year people way day man thing woman life child world school state "
    "family student group country problem hand part place case week company "
    "system program question work government number night point home water "
    "room mother area money story fact month lot right study book eye job "
    "word business issue side kind head house service friend father power "
    "hour game line end member law car city community name president team "
    "minute idea kid body information back parent face others level office "
    "door health person art war history party result change morning reason "
    "research girl guy moment air teacher force education river market "
    "garden bridge letter engine signal window harbor winter summer village "
    "library doctor lesson engineer season museum forest island mountain "
    "kitchen station record picture corner account sample method answer "
    "report theory memory member season culture energy feature measure").split()
EN_STOP = "the of and to in a is that it for be have with".split()
DE_STOP = "der die das und ist nicht ein mit von zu".split()

# Scale factor of the events table and size of the curation corpus.
SF = 0.01
DOCS = 2500


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def events_table(out, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_ev = int(1_000_000 * SF)
    n_user = int(15_000 * SF)
    # unique, strictly increasing whole-microsecond timestamps over 30
    # days, stored as nanos
    t0 = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).days * 86_400_000_000
    span = 30 * 86_400_000_000
    ts = (np.sort(rng.choice(span, n_ev, replace=False)) + t0) * 1000
    etypes = np.array("click error purchase signup view".split())
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype(np.int64), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")


# Shares of the curation corpus, fixed so every seed does the same work.
NEAR_DUP_SHARE = 0.20   # copies of a clean document with one word appended
REJECT_SHARE = 0.10     # built to fail the quality gate (see _reject_doc)


def _sentence(rng, words, n):
    ws = [words[i] for i in rng.integers(0, len(words), n)]
    # every sentence carries English stopwords, so langId says "en"
    # and the Gopher stopword rule passes
    for s in rng.choice(EN_STOP, 3, replace=False):
        ws.insert(int(rng.integers(0, len(ws) + 1)), s)
    return " ".join(ws).capitalize() + "."


def _clean_doc(rng, words):
    return "\n".join(_sentence(rng, words, int(rng.integers(8, 13)))
                     for _ in range(int(rng.integers(7, 10))))


def _reject_doc(rng, words, kind):
    if kind == 0:   # too short: fails Gopher's 50-word minimum
        return _sentence(rng, words, 10)
    if kind == 1:   # German stopwords outnumber English: langId says "de"
        return "\n".join(
            " ".join(list(rng.choice(DE_STOP, 6)) +
                     [words[i] for i in rng.integers(0, len(words), 6)]) + "."
            for _ in range(6))
    # code-like: a brace fails C4's page rule
    return _clean_doc(rng, words) + "\nfunction f() { return 1; }"


def corpus(out, seed):
    """The curation corpus and the survivor counts it must produce."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    n_docs = DOCS
    words = FIXTURE_WORDS + PROSE_WORDS
    n_dup = int(n_docs * NEAR_DUP_SHARE)
    n_rej = int(n_docs * REJECT_SHARE)
    n_base = n_docs - n_dup - n_rej
    base = [_clean_doc(rng, words) for _ in range(n_base)]
    # each near-dup copies one base document and appends one word to its
    # last sentence: the copy's 8-char-shingle Jaccard with its base stays
    # above 0.95, far over the pipeline's 0.8 threshold
    src = rng.integers(0, n_base, n_dup)
    dups = [base[s][:-1] + " " + words[int(rng.integers(0, len(words)))] + "."
            for s in src]
    rejects = [_reject_doc(rng, words, k % 3) for k in range(n_rej)]
    texts = base + dups + rejects
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    # a near-dup cluster keeps exactly its smallest doc_id
    pos = np.empty(n_docs, np.int64)
    pos[order] = np.arange(n_docs)
    clusters = {}
    for k, s in enumerate(src):
        clusters.setdefault(int(s), {int(pos[s])}).add(int(pos[n_base + k]))
    dropped = sum(len(c) - 1 for c in clusters.values())
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
    }), f"{out}/corpus.parquet")
    expect = {
        "docs": n_docs,
        "near_dup_share": NEAR_DUP_SHARE,
        "reject_share": REJECT_SHARE,
        "clean": n_base + n_dup,
        "clusters": len(clusters),
        "kept": n_base + n_dup - dropped,
    }
    with open(f"{out}/corpus_expect.json", "w") as f:
        json.dump(expect, f)
    return expect


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    events_table(a.out, a.seed)
    print(json.dumps(corpus(a.out, a.seed)))


if __name__ == "__main__":
    main()
