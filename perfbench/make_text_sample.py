"""Rebuild ``data/documents.txt.gz``, the text the corpus generator draws from.

The benchmark reads nothing outside its checkout, so the article text it
needs is a committed sample of the ``text`` column of a documents table
(one row per line, in table order)::

    python3 perfbench/make_text_sample.py <documents.parquet> [rows]
"""

from __future__ import annotations

import gzip
import os
import sys

import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.txt.gz")


def main() -> None:
    src = sys.argv[1]
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
    texts = pq.read_table(src, columns=["text"]).column("text").to_pylist()[:rows]
    # mtime=0: the committed file is byte-identical on every rebuild
    with open(OUT, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        for t in texts:
            f.write(" ".join(t.split()).encode("utf-8") + b"\n")


if __name__ == "__main__":
    main()
