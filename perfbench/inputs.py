"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + NumPy/pandas/pyarrow: inputs are made
before the Spark session starts, so neither ``setup_s`` nor any timed
operation pays for them. The same seed always gives byte-identical
files.

* ``make_lake`` writes a one-table lake in the
  ``<root>/<group>/<table>/{clean,dirty}.csv`` layout that
  ``catalog.discover_dataset_folders`` reads, plus ``manifest.csv``: the
  injected ``(table, row_id, column, kind)`` cells.
* ``make_corpus`` writes ``docs.parquet`` (the corpus) and
  ``stream/part-XXXXX.parquet`` (the same documents split into
  ascending-``doc_id`` files, one per stream trigger).

Run as a script to build one workload's inputs into a directory::

    python3 perfbench/inputs.py lake|corpus SEED OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

LAKE_GROUP = "bench"
# one TPC-H-shaped customer table; see README for why it is this small
CUSTOMER_ROWS = 3000
# cells injected per error kind
ERRORS_PER_KIND = 30
# kinds the shared rules can catch: blank cells, pattern breaks,
# out-of-range numbers; and kinds they cannot: a valid category swapped
# for another valid one, a small in-range numeric drift
CATCHABLE_KINDS = ("blank", "pattern", "range")
SILENT_KINDS = ("swap", "drift")
ERROR_KINDS = CATCHABLE_KINDS + SILENT_KINDS
# which column each error kind lands in
TARGETS = {
    "blank": "c_mktsegment",
    "pattern": "c_phone",
    "range": "c_acctbal",
    "swap": "c_mktsegment",
    "drift": "c_acctbal",
}

CORPUS_DOCS = 200
STREAM_FILES = 2
VOCAB = (
    "spark window merge table column vector stream value data small join filter"
    " big group hash customer sort order slow line part fast row the agg key"
    " query a scan batch"
).split()
# documents that copy an earlier one: byte-identical, or a formatting
# variant (one word upper-cased, one space doubled) with its
# own digest but the same lowercase word shingles. A variant therefore
# has Jaccard 1.0 with its source and identical MinHash signatures, so
# every LSH banding finds the pair and the exact checks never depend on
# a banding miss.
COPIES = 50
EXACT_COPIES = 15
MIN_WORDS, MAX_WORDS = 40, 90

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _customer(rng: np.random.Generator, n: int) -> pd.DataFrame:
    phones = rng.integers([200, 200, 0], [999, 999, 10_000], size=(n, 3))
    return pd.DataFrame(
        {
            "row_id": [str(i) for i in range(n)],
            "c_name": [f"Customer#{i + 1:09d}" for i in range(n)],
            "c_phone": [f"{a}-{b}-{c:04d}" for a, b, c in phones],
            "c_acctbal": [f"{v:.2f}" for v in rng.uniform(-999.99, 9999.99, n)],
            "c_mktsegment": list(rng.choice(SEGMENTS, n)),
        }
    )


def _corrupt(kind: str, value: str, rng: np.random.Generator) -> str:
    if kind == "blank":
        return ""
    if kind == "pattern":
        # one digit of "555-123-4567" becomes a letter
        pos = [i for i, ch in enumerate(value) if ch.isdigit()]
        i = pos[int(rng.integers(0, len(pos)))]
        return value[:i] + "ABCDEFGHJK"[int(value[i])] + value[i + 1:]
    if kind == "range":
        return f"{float(value) * 1000 + 10_000_000:.2f}"
    if kind == "swap":
        return str(rng.choice([s for s in SEGMENTS if s != value]))
    if kind == "drift":
        return f"{float(value) + 0.01 * int(rng.integers(1, 50)):.2f}"
    raise ValueError(kind)


def inject(clean: pd.DataFrame, table: str, rng: np.random.Generator):
    """(dirty frame, manifest rows): ERRORS_PER_KIND cells per kind at
    distinct (row, column) positions, each different from its clean
    value."""
    dirty = clean.copy()
    taken: set[tuple[int, str]] = set()
    manifest = []
    for kind in ERROR_KINDS:
        col = TARGETS[kind]
        free = [r for r in range(len(clean)) if (r, col) not in taken]
        for r in rng.choice(free, ERRORS_PER_KIND, replace=False):
            r = int(r)
            old = clean.at[r, col]
            new = _corrupt(kind, old, rng)
            if new == old:
                raise AssertionError(f"{kind} left {table}.{col}[{r}] unchanged")
            dirty.at[r, col] = new
            taken.add((r, col))
            manifest.append((table, clean.at[r, "row_id"], col, kind))
    return dirty, manifest


def make_lake(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 1])
    clean = _customer(rng, CUSTOMER_ROWS)
    dirty, manifest = inject(clean, "customer", rng)
    d = os.path.join(out, "lake", LAKE_GROUP, "customer")
    os.makedirs(d, exist_ok=True)
    clean.to_csv(os.path.join(d, "clean.csv"), index=False)
    dirty.to_csv(os.path.join(d, "dirty.csv"), index=False)
    pd.DataFrame(manifest, columns=["table", "row_id", "column", "kind"]).to_csv(
        os.path.join(out, "manifest.csv"), index=False
    )


def make_corpus(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 2])
    # fixed counts, so every seed has the same number of survivors
    copies = rng.choice(np.arange(10, CORPUS_DOCS), COPIES, replace=False)
    exact = set(copies[:EXACT_COPIES].tolist())
    copies = set(copies.tolist())
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        if i in copies:
            words = texts[int(rng.integers(0, i))].split(" ")
            if i not in exact:
                j, k = (int(x) for x in rng.integers(0, len(words), 2))
                words[j] = words[j].upper()
                words[k] = " " + words[k]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    os.makedirs(os.path.join(out, "stream"), exist_ok=True)
    docs.to_parquet(os.path.join(out, "docs.parquet"), index=False)
    # ascending-id split: stream admission order == batch greedy order
    for b, part in enumerate(np.array_split(np.arange(CORPUS_DOCS), STREAM_FILES)):
        docs.iloc[part][["doc_id", "text"]].to_parquet(
            os.path.join(out, "stream", f"part-{b:05d}.parquet"), index=False
        )


MAKERS = {"lake": make_lake, "corpus": make_corpus}


def main(argv: list[str]) -> int:
    kind, seed, out = argv
    MAKERS[kind](int(seed), out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
