"""Derive ``profile.json`` — the corpus statistics the generator samples
from — from a reference ``documents.parquet``.

    python3 perfbench/derive_profile.py <sf_dir>

Writes the word frequencies, the per-document word-count histogram and
the language mix of ``<sf_dir>/documents.parquet``. The benchmark itself
never reads the reference tables; it only reads the committed profile.
"""

from __future__ import annotations

import collections
import json
import os
import sys

import pyarrow.parquet as pq


def derive(sf_dir: str) -> dict:
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
    words: collections.Counter = collections.Counter()
    lengths: collections.Counter = collections.Counter()
    for text in docs["text"]:
        toks = text.split(" ")
        words.update(toks)
        lengths[len(toks)] += 1
    return {
        "source": os.path.basename(sf_dir.rstrip("/")) + "/documents.parquet",
        "docs": len(docs["text"]),
        "word_counts": dict(sorted(words.items())),
        "length_hist": {str(k): v for k, v in sorted(lengths.items())},
        "lang_counts": dict(sorted(collections.Counter(docs["lang"]).items())),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: derive_profile.py <sf_dir>")
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "profile.json")
    with open(out, "w") as f:
        json.dump(derive(sys.argv[1]), f, indent=1)
        f.write("\n")
