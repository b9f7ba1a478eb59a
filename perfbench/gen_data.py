"""Seeded documents table and curation drops for the benchmark.

The documents table follows the engine's declared fixture schema with the
same value domains. Everything is drawn from numpy generators seeded with
`--seed`, and parquet is written with fixed writer settings, so one seed
gives byte-identical files.

    python3 perfbench/gen_data.py --seed 7 --out DIR [--docs N] [--drops N]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _write(table, path):
    # Fixed writer settings and no pandas metadata keep the bytes a pure
    # function of the data.
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _docs_text(n, rng):
    """Space-separated lowercase tokens, 10-100 words. About 5% of docs are
    near copies of an earlier doc tagged with a trailing `dup` word, and a
    few of those are exact copies of another such doc."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            if src[-1] == "dup":
                src = src[:-1]
            if rng.random() < 0.8:
                src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return texts


def documents(seed, n):
    rng = np.random.default_rng(seed)
    texts = _docs_text(n, rng)
    return docs_table(np.arange(n), texts, [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
                      [f"src{i % 20}" for i in range(n)])


def docs_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def cut_drops(docs, seed, n_drops, per_drop, reissue_frac):
    """Cut `n_drops` drops of `per_drop` docs from the table `docs`.

    Drop i takes the next fresh docs in doc_id order; a `reissue_frac`
    share of every drop after the first re-issues texts of earlier drops.
    Every doc of a drop gets a new id above all ids of earlier drops, so
    ids rise across drops and re-issued texts arrive under new ids.
    """
    rng = np.random.default_rng([seed, 1])
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    sources = docs.column("source").to_pylist()
    n_re = int(round(per_drop * reissue_frac))
    fresh_per = per_drop - n_re
    need = per_drop + fresh_per * (n_drops - 1)
    if need > len(texts):
        raise ValueError(f"{n_drops} drops need {need} documents, have {len(texts)}")
    drops, issued, nxt, next_id = [], [], 0, 0
    for i in range(n_drops):
        k = per_drop if i == 0 else fresh_per
        pick = list(range(nxt, nxt + k))
        nxt += k
        if i > 0:
            pick += [int(j) for j in rng.choice(issued, n_re, replace=False)]
        order = rng.permutation(len(pick))
        rows = [pick[j] for j in order]
        issued += [j for j in rows if j not in issued]
        ids = np.arange(next_id, next_id + len(rows))
        next_id += len(rows)
        drops.append(docs_table(ids, [texts[j] for j in rows],
                                [langs[j] for j in rows], [sources[j] for j in rows]))
    return drops


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=300)
    ap.add_argument("--drops", type=int, default=6)
    ap.add_argument("--drop-docs", type=int, default=60)
    ap.add_argument("--reissue", type=float, default=0.25)
    a = ap.parse_args()
    generate(a.seed, a.out, a.docs, a.drops, a.drop_docs, a.reissue)


def generate(seed, out, docs=300, drops=6, drop_docs=60, reissue=0.25):
    """Write documents.parquet, drops/dropNNN.parquet and corpus.parquet
    (the union of the drops) under `out`."""
    os.makedirs(out, exist_ok=True)
    table = documents(seed, docs)
    _write(table, os.path.join(out, "documents.parquet"))
    ddir = os.path.join(out, "drops")
    os.makedirs(ddir, exist_ok=True)
    cut = cut_drops(table, seed, drops, drop_docs, reissue)
    for i, d in enumerate(cut):
        _write(d, os.path.join(ddir, f"drop{i:03d}.parquet"))
    _write(pa.concat_tables(cut), os.path.join(out, "corpus.parquet"))


if __name__ == "__main__":
    main()
