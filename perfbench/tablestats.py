"""Statistics of a scale-factor `documents` / `embeddings` pair.

    python3 perfbench/tablestats.py DIR [DIR ...]

DIR holds `documents.parquet` and `embeddings.parquet`, as the scale-factor
test directories (`sf0.01`, `sf0.1`, ...) do. Prints, per table, what
perfbench's synthetic tables copy (gen.build_corpus_ops): row count, row
groups, file and uncompressed bytes, the word vocabulary, words per
document, the " dup" share, language shares and the source rule, and for
the vectors their dimension, norm and label structure. Run it on those
tables and on a generated `ops/` input directory to compare them.
"""

from __future__ import annotations

import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def _file(d: str, t: str):
    path = os.path.join(d, f"{t}.parquet")
    f = pq.ParquetFile(path)
    md = f.metadata
    raw = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    print(f"{t}: rows {md.num_rows}  row groups {md.num_row_groups}  "
          f"file bytes {os.path.getsize(path)}  uncompressed bytes {raw}")
    return f.read()


def documents(d: str) -> None:
    t = _file(d, "documents")
    text = t.column("text").to_pylist()
    ids = t.column("doc_id").to_pylist()
    words = collections.Counter(w for s in text for w in s.split())
    n = np.array([len(s.split()) for s in text])
    dup = [s.endswith(" dup") for s in text]
    # a " dup" row appends one word to a copy of another row's text
    n_base = n - np.array(dup, dtype=int)
    langs = collections.Counter(t.column("lang").to_pylist())
    src = t.column("source").to_pylist()
    print(f"  vocabulary {len(words)}: {' '.join(sorted(words))}")
    print(f"  words per doc (before ' dup') min {n_base.min()} median "
          f"{np.median(n_base):g} max {n_base.max()}; mean chars "
          f"{np.mean([len(s) for s in text]):.1f}")
    n_chars = t.column("n_chars").to_pylist()
    same = np.mean([a == len(b) for a, b in zip(n_chars, text)])
    print(f"  ' dup' rows {np.mean(dup):.4f}; n_chars == len(text) {same:.4f}")
    print("  langs " + ", ".join(f"{k} {v / len(text):.3f}"
                                 for k, v in langs.most_common()))
    print(f"  source == src{{doc_id % 20}} "
          f"{np.mean([s == f'src{i % 20}' for s, i in zip(src, ids)]):.4f}")


def embeddings(d: str) -> None:
    t = _file(d, "embeddings")
    x = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    lab = np.array(t.column("label").to_pylist())
    cos = x @ x.T
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    other = ~same
    np.fill_diagonal(other, False)
    norms = np.linalg.norm(x, axis=1)
    print(f"  dim {x.shape[1]}; norm min {norms.min():.6f} "
          f"max {norms.max():.6f}")
    print(f"  labels {len(set(lab))}; mean cosine same label "
          f"{cos[same].mean():.5f}, other label {cos[other].mean():.5f}")


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    for d in argv:
        print(f"== {d}")
        documents(d)
        embeddings(d)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
