"""Seeded benchmark inputs, generated once per (workload, seed, size).

Every generator is a pure function of its seed and size. Inputs land in
the benchmark's work directory under a key naming all three, and a later
run with the same key reuses them instead of generating again. A
generator writes into a temporary directory and renames it into place,
so an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)
N_USERS = 150


def cached(work: str, key: str, build) -> str:
    """Directory holding the input named `key`; `build(dir)` fills it on
    the first request."""
    final = os.path.join(work, "inputs", key)
    if os.path.isfile(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    props = build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(props, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def props_of(input_dir: str) -> dict:
    with open(os.path.join(input_dir, "_DONE")) as f:
        return json.load(f)


def webtext(work: str, seed: int, n_pages: int, partitions: int) -> str:
    """Path of the seeded webtext parquet file (url, warc_ts, html, text,
    lang) written by the package's own generator."""

    def build(out: str) -> dict:
        write_webtext(out, n_pages, seed=seed, partitions=partitions)
        return {"pages": n_pages}

    return os.path.join(cached(work, f"webtext-s{seed}-n{n_pages}", build), "webtext.parquet")


def _write_files(table: pa.Table, out: str, n_files: int) -> None:
    """Split a table into `n_files` parquet files, so the scan fans out
    over the cores the way a pre-split ingest table does."""
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out, f"part-{i:03d}.parquet")
        )


def events(work: str, seed: int, n_rows: int, n_files: int) -> str:
    """Events-shaped table (event_id, user_id, event_type, value), the
    input `sources.spans.spans_from_events` derives span pairs from.
    Event types are uniform over five kinds; values are log-normal with
    two decimals, so client latencies spread over the histogram bounds."""

    def build(out: str) -> dict:
        rng = np.random.default_rng(seed)
        table = pa.table(
            {
                "event_id": np.arange(n_rows, dtype=np.int64),
                "user_id": rng.integers(0, N_USERS, size=n_rows, dtype=np.int64),
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n_rows)],
                "value": np.round(rng.lognormal(3.5, 1.0, size=n_rows), 2),
            }
        )
        _write_files(table, out, n_files)
        return {"rows": n_rows, "users": N_USERS, "event_types": len(EVENT_TYPES)}

    return cached(work, f"events-s{seed}-n{n_rows}", build)


# near-dup corpus shape; recorded with every generated corpus
CORPUS_SHAPE = {
    "vocab": 4000,
    "tokens_min": 60,
    "tokens_max": 140,
    "copy_share": 0.25,
    "edit_rate": 0.12,
    "chain_depth": 4,
    "boilerplate_share": 0.4,
    "boilerplate_templates": 20,
    "boilerplate_tokens": 60,
}


def corpus(work: str, seed: int, n_docs: int, n_files: int) -> str:
    """Near-dup document corpus (doc_id, text, lang, source, n_chars).

    - Originals draw tokens uniformly from a fixed vocabulary;
      `boilerplate_share` of them end with one of a few shared
      boilerplate blocks. Such docs collide in LSH buckets far more often
      than they pass the exact-Jaccard check, so candidates outnumber
      verified pairs.
    - `copy_share` of the docs are edited copies, laid out as chains of
      `chain_depth` copies-of-copies from one original. Each copy
      substitutes `edit_rate` of its source's tokens: a link keeps bigram
      Jaccard near 0.63, two links drop it near 0.43, below the 0.5
      threshold. Every chain is then a path in the pair graph, so
      connected components needs `chain_depth` rounds on every seed.
    - Doc ids are shuffled, so chain members are not adjacent.
    """
    s = CORPUS_SHAPE

    def build(out: str) -> dict:
        rng = np.random.default_rng(seed)
        depth = s["chain_depth"]
        n_copies = int(n_docs * s["copy_share"])
        n_orig = n_docs - n_copies
        templates = rng.integers(0, s["vocab"], size=(s["boilerplate_templates"],
                                                      s["boilerplate_tokens"]))
        docs = []
        for _ in range(n_orig):
            toks = rng.integers(0, s["vocab"],
                                size=int(rng.integers(s["tokens_min"], s["tokens_max"] + 1)))
            if rng.random() < s["boilerplate_share"]:
                toks = np.concatenate([toks, templates[rng.integers(0, len(templates))]])
            docs.append(toks)
        for c in range(n_copies):
            # chain c // depth grows from original c // depth
            src = docs[c // depth] if c % depth == 0 else docs[-1]
            toks = src.copy()
            k = max(1, int(round(len(toks) * s["edit_rate"])))
            toks[rng.choice(len(toks), size=k, replace=False)] = rng.integers(
                0, s["vocab"], size=k)
            docs.append(toks)
        order = rng.permutation(n_docs)  # doc_id of the i-th generated doc
        vocab = np.array([f"w{i:04d}" for i in range(s["vocab"])], dtype=object)
        texts = np.empty(n_docs, dtype=object)
        texts[order] = [" ".join(vocab[t]) for t in docs]
        table = pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(["en", "de", "fr"], dtype=object)[
                    rng.integers(0, 3, size=n_docs)],
                "source": [f"src{i % 7}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
        _write_files(table, out, n_files)
        return {"docs": n_docs, "copies": n_copies, **s}

    return cached(work, f"corpus-s{seed}-n{n_docs}", build)
