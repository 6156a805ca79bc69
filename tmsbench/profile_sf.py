#!/usr/bin/env python3
"""Profile of a generated sf dataset's `documents` and `embeddings`
tables: the shares gen.py's corpus and stream generators are set from.

    python3 tmsbench/profile_sf.py <sf-dir>

On sf0.1 it prints (gen.py's SF_* constants): 5,000 documents; languages
en 0.412, zh 0.151, es 0.149, fr 0.148, de 0.140; 10-100 tokens, uniform;
a 31-word vocabulary whose only stopwords, "the" and "a", make 6.6% of
all tokens; texts already normalized; exact duplicates 0.16% of the
documents, near duplicates (Jaccard >= 0.5 over word 3-shingles; one token
added or dropped at the end) 5.1%; 2,000 unit-norm 64-d embeddings in 10
labels whose centroids lie ~0.1 apart, as far as random means do.
"""
import collections
import re
import sys

import numpy as np
import pyarrow.parquet as pq

STOPWORDS = {"der", "die", "das", "und", "ist", "nicht", "ein", "the", "a", "of",
             "and", "to", "in", "is", "that", "el", "la", "de", "que", "y", "los",
             "una", "le", "les", "des", "et", "est"}


def norm(t):
    return re.sub("  +", " ", re.sub(r"[\x00-\x1f\x7f]", " ", t.strip().lower()))


def main(sf):
    df = pq.read_table(f"{sf}/documents.parquet").to_pandas()
    n = len(df)
    toks = [t.split(" ") for t in df.text]
    lens = np.array([len(t) for t in toks])
    vocab = collections.Counter(w for t in toks for w in t)
    print(f"documents {n}")
    print("languages", df.lang.value_counts(normalize=True).round(3).to_dict())
    print(f"tokens min {lens.min()} max {lens.max()} "
          f"deciles {np.histogram(lens, bins=9, range=(10, 100))[0].tolist()}")
    print(f"vocabulary {len(vocab)}: {sorted(vocab)}")
    stops = {w: c for w, c in vocab.items() if w in STOPWORDS}
    print(f"stopwords {stops}, share {sum(stops.values()) / lens.sum():.4f}")
    print(f"texts already normalized: {all(norm(t) == t for t in df.text)}")
    print(f"sources {df.source.nunique()}, rows per source "
          f"{sorted(set(df.source.value_counts()))}")
    print(f"exact duplicate share {(n - df.text.nunique()) / n:.4f}")

    shingles = {i: {" ".join(t[k:k + 3]) for k in range(len(t) - 2)}
                for i, t in zip(df.doc_id, toks)}
    index = collections.defaultdict(list)
    for i, sh in shingles.items():
        for x in sh:
            index[x].append(i)
    inter = collections.Counter()
    for ids in index.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                inter[(ids[a], ids[b])] += 1
    near = [p for p, c in inter.items()
            if c / (len(shingles[p[0]]) + len(shingles[p[1]]) - c) >= 0.5]
    print(f"near-duplicate pairs (Jaccard >= 0.5) {len(near)}, share {len(near) / n:.4f}")

    e = pq.read_table(f"{sf}/embeddings.parquet").to_pandas()
    v = np.stack(e.embedding.values)
    cents = np.stack([v[e.label == lab].mean(0) for lab in sorted(e.label.unique())])
    gaps = [np.linalg.norm(a - b) for i, a in enumerate(cents) for b in cents[i + 1:]]
    print(f"embeddings {v.shape}, norm median {np.median(np.linalg.norm(v, axis=1)):.3f}, "
          f"labels {e.label.nunique()}, centroid gap median {np.median(gaps):.4f}, "
          f"random-mean gap {np.sqrt(2 * len(cents) / len(v)):.4f}")


if __name__ == "__main__":
    main(sys.argv[1])
