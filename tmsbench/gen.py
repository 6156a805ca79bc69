"""Seeded input generators for the three workloads, plus each one's truth.

Every generator is a pure function of (seed, op plan): the same arguments
write byte-identical inputs. The program under test only ever sees the
files written here; the truths stay on the Python side and are compared
against what the program produced (see run.py).
"""
import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator's output changes, so cached inputs are rebuilt.
GEN_VERSION = 11

# ---------------------------------------------------------------- loom_etl

LOOM_COLUMNS = 71
WINDOW_DAYS = 60
LOOMS = [f"T{i:02d}" for i in range(1, 13)]
SHIFTS = ["A", "B", "C"]
START = dt.date(2024, 1, 1)
ARTICLES = ["ALGODAO", "LINHO", "SARJA", "BRIM", "TELA"]
# latin-1 / cp1252 spellings: bytes >= 0xA0 decode the same in both; the
# smart quotes (0x93/0x94) exercise the cp1252 arm of the fallback
LATIN_EVERY = 15
LATIN_ARTICLES = ["ALGODÃO", "CAMBRAIA", "FLANELA ÇÉ", "“TELA”"]


def _loom_row(rng, day, loom, shift, version):
    """One 71-cell row; `version` perturbs metrics for re-exports."""
    powered_off = shift == "C" and rng.random() < 0.08
    rpm = 0 if powered_off else rng.randint(540, 680)
    cells = [f"{day.isoformat()}.{shift}", loom,
             rng.choice(ARTICLES), f"F{rng.randint(1, 4)}", "G"]
    running = 0 if powered_off else rng.randint(300, 480)
    stopped = rng.randint(400, 480) if powered_off else rng.randint(0, 120)
    metrics = [str(rpm), f"{rng.uniform(60, 99):.1f}", str(running), str(stopped)]
    metrics += [f"{rng.uniform(0, 2000):.1f}" if rng.random() < 0.7 else ""
                for _ in range(LOOM_COLUMNS - 5 - len(metrics))]
    if version:
        metrics[1] = f"{float(metrics[1]) + version * 0.3:.1f}"
    return cells + metrics


def _encode_loom_file(rng, rows, latin):
    """Render rows to bytes, with the reference's export blemishes:
    padded cells, a short row, a mid-file BOM line, a file-level BOM."""
    lines = []
    for r in rows:
        cells = list(r)
        if rng.random() < 0.05:
            cells = [f"  {c} " if c else c for c in cells]
        line = ",".join(cells)
        # never on the first line, which may follow a file-level BOM
        if lines and not latin and rng.random() < 0.01:
            line = "﻿" + line
        lines.append(line)
    # short rows: fewer than 3 populated leading cells
    lines.insert(rng.randrange(len(lines)), f"{rows[0][0]},{rows[0][1]}")
    lines.insert(rng.randrange(len(lines)), f"{rows[0][0]},,{rows[0][2]}")
    text = "\n".join(lines) + "\n"
    if latin:
        return text.encode("cp1252")
    data = text.encode("utf-8")
    return (b"\xef\xbb\xbf" + data) if rng.random() < 0.2 else data


def gen_loom(out, seed, n_ops_total):
    """Write one CSV per day for `WINDOW_DAYS + n_ops_total` days under
    `tree/YYYY-MM/daily/` and `plan.json` (per-op window, months)."""
    rng = random.Random(seed * 7919 + 1)
    days = [START + dt.timedelta(days=i) for i in range(WINDOW_DAYS + n_ops_total)]
    files = []
    # every 15th day is a cp1252 export, so every 60-day window holds
    # four: how many files take the reader's fallback arms decides its plan
    latin_offset = rng.randrange(LATIN_EVERY)
    for i, day in enumerate(days):
        latin = (i + latin_offset) % LATIN_EVERY == 0
        rows = []
        for loom in LOOMS:
            for shift in SHIFTS:
                row = _loom_row(rng, day, loom, shift, 0)
                if latin and rng.random() < 0.2:
                    row[2] = rng.choice(LATIN_ARTICLES)
                rows.append(row)
        if i > 0:
            # re-exported keys of the previous day, with changed metrics
            prev = days[i - 1]
            for loom in rng.sample(LOOMS, 2):
                rows.append(_loom_row(rng, prev, loom, rng.choice(SHIFTS), 1))
        ext = "CSV" if rng.random() < 0.1 else "csv"
        rel = f"{day:%Y-%m}/daily/tms_{day.isoformat()}.{ext}"
        path = os.path.join(out, "tree", rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(_encode_loom_file(rng, rows, latin))
        files.append(rel)
    ops = []
    for op in range(n_ops_total):
        window = files[op + 1: op + 1 + WINDOW_DAYS]
        months = sorted({f.split("/")[0] for f in window})
        ops.append({"add": files[op + WINDOW_DAYS], "drop": files[op],
                    "months": months})
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"initial": files[:WINDOW_DAYS], "ops": ops}, f)


def _decode_loom(data):
    """The reader's per-file fallback: utf-8, else cp1252 (all generated
    legacy files are cp1252-decodable)."""
    try:
        return data.decode("utf-8"), False
    except UnicodeDecodeError:
        return data.decode("cp1252"), True


def _parse_loom(path):
    text, fallback = _decode_loom(open(path, "rb").read())
    if text.startswith("﻿"):
        text = text[1:]
    rows = []
    for line in text.split("\n"):
        if line == "":
            continue
        cells = line.split(",")
        cells += [""] * (LOOM_COLUMNS - len(cells))
        norm = []
        for c in cells:
            if c == "":
                norm.append(None)  # the CSV reader's nullValue
            else:
                if c.startswith("﻿"):
                    c = c[1:]
                norm.append(c.strip(" "))
        if all(v is not None and v != "" for v in norm[:3]):
            rows.append(norm)
    return rows, fallback


def _float_or_zero(v):
    if v is None or v.strip(" ") == "":
        return 0.0
    return float(v)


def _powered_off(r):
    return (r[0].endswith(".C") and _float_or_zero(r[7]) == 0.0
            and _float_or_zero(r[8]) >= 400.0)


def loom_truth(out, n_ops_total):
    """Simulate the op sequence: per-op window import (fallback decode,
    normalize, powered-off gate against the sink, last-writer-wins by
    file path), upsert into the sink, dynamic-overwrite export."""
    plan = json.load(open(os.path.join(out, "plan.json")))
    parsed = {}

    def rows_of(rel):
        if rel not in parsed:
            parsed[rel] = _parse_loom(os.path.join(out, "tree", rel))
        return parsed[rel]

    window = list(plan["initial"])
    sink, export, rows_in = {}, {}, []
    for op in plan["ops"][:n_ops_total]:
        window.remove(op["drop"])
        window.append(op["add"])
        best, n = {}, 0
        for rel in window:
            rows, _ = rows_of(rel)
            for r in rows:
                n += 1
                key = (r[0], r[1])
                if _powered_off(r) and key in sink:
                    continue
                if key not in best or rel > best[key][0]:
                    best[key] = (rel, r)
        for key, (_, r) in best.items():
            sink[key] = r
        counts = {}
        for key in best:
            m = key[0][:7]
            if m in op["months"]:
                counts[m] = counts.get(m, 0) + 1
        export.update(counts)
        rows_in.append(n)
    return sink, export, rows_in


# ---------------------------------------------------------- corpus_release
#
# Documents and embeddings follow the profile of the sf0.1 `documents`
# (5,000 rows) and `embeddings` (2,000 rows) tables, as printed by
# `profile_sf.py`: every share below is a value measured there.

STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "una"],
    "fr": ["le", "la", "les", "des", "et", "est", "une"],
}
N_DOCS = 500
N_VECS = 500
DIM = 64
N_QUERIES = 20
# the sf0.1 vocabulary: 29 content words at equal frequency, plus "the"
# and "a" (the only stopwords there), each 3.3% of all tokens
SF_WORDS = ["agg", "batch", "big", "column", "customer", "data", "dup", "fast",
            "filter", "group", "hash", "join", "key", "line", "merge", "order",
            "part", "query", "row", "scan", "slow", "small", "sort", "spark",
            "stream", "table", "value", "vector", "window"]
SF_STOPWORDS = ["the", "a"]
SF_STOP_SHARE = 0.066
SF_TOKENS = (10, 100)  # uniform
SF_LANGS = [("en", 0.412), ("zh", 0.151), ("es", 0.149), ("fr", 0.148), ("de", 0.140)]
SF_SOURCES = 20  # round-robin, 250 documents each
# near duplicates: a copy of an earlier document with one token added at
# its end or its last token dropped (Jaccard 0.8-1.0); exact duplicates:
# byte-identical copies
SF_NEAR_DUP_SHARE = 0.051
SF_EXACT_DUP_SHARE = 0.0016


def _sf_tokens(rng):
    toks = []
    for _ in range(rng.randint(*SF_TOKENS)):
        if rng.random() < SF_STOP_SHARE:
            toks.append(rng.choice(SF_STOPWORDS))
        else:
            toks.append(rng.choice(SF_WORDS))
    return toks


def _sf_lang(rng):
    r = rng.random()
    for lang, share in SF_LANGS:
        if r < share:
            return lang
        r -= share
    return SF_LANGS[-1][0]


def _near_copy(rng, text):
    toks = text.split(" ")
    if rng.random() < 0.5 and len(toks) > SF_TOKENS[0]:
        return " ".join(toks[:-1])
    return " ".join(toks + [rng.choice(SF_WORDS)])


def gen_corpus(out, seed):
    rng = random.Random(seed * 104729 + 2)
    texts, langs = [], []
    for i in range(N_DOCS):
        r = rng.random()
        if i and r < SF_EXACT_DUP_SHARE:
            j = rng.randrange(i)
            texts.append(texts[j])
            langs.append(langs[j])
        elif i and r < SF_EXACT_DUP_SHARE + SF_NEAR_DUP_SHARE:
            j = rng.randrange(i)
            texts.append(_near_copy(rng, texts[j]))
            langs.append(langs[j])
        else:
            texts.append(" ".join(_sf_tokens(rng)))
            langs.append(_sf_lang(rng))
    ids = list(range(N_DOCS))
    rng.shuffle(ids)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % SF_SOURCES}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.join(out, "input"), exist_ok=True)
    pq.write_table(table, os.path.join(out, "input", "documents.parquet"),
                   row_group_size=N_DOCS)

    # sf0.1's embeddings are unit vectors whose 10 labels carry no
    # direction: the label centroids lie as far apart as the means of
    # 200 random unit vectors do (~0.1), so they are drawn isotropic
    nrng = np.random.default_rng(seed * 31 + 3)
    vecs = nrng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = nrng.integers(0, 10, size=N_VECS)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out, "input", "embeddings.parquet"),
                   row_group_size=N_VECS)
    queries = sorted(int(q) for q in nrng.choice(N_VECS, size=N_QUERIES, replace=False))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"queries": queries, "rows_per_op": N_DOCS + N_VECS}, f)

# ----------------------------------------------------------- stream_intake
#
# Documents follow the sf0.1 profile above. Each file has graft.StreamSoak's
# batch shape: fresh, re-fetched from the previous file (inside the
# 10-minute watermark) and re-fetched from 20 files back (the oldest file
# while there are fewer), 3 : 1 : 1.

DOCS_PER_FILE = 60
REFETCH_RECENT = DOCS_PER_FILE // 5
REFETCH_OLD = DOCS_PER_FILE // 5
REFETCH_OLD_LAG = 20
STREAM_T0 = dt.datetime(2024, 3, 1, 8, 0, 0)


def _passes_gate(text):
    """cleanDocs' gate on an already normalized text: at least 5 tokens
    and a stopword hit (otherwise the language is 'und')."""
    toks = text.split(" ")
    stops = {w for ws in STOPWORDS.values() for w in ws}
    return len(toks) >= 5 and any(t in stops for t in toks)


def gen_stream(out, seed, n_files):
    rng = random.Random(seed * 15485863 + 4)
    fresh_of = []  # per file: its fresh texts
    expected = set()
    os.makedirs(os.path.join(out, "files"), exist_ok=True)
    doc_id = 0
    for b in range(n_files):
        base = STREAM_T0 + dt.timedelta(seconds=60 * b)
        fresh = [" ".join(_sf_tokens(rng))
                 for _ in range(DOCS_PER_FILE - (REFETCH_RECENT + REFETCH_OLD if b else 0))]
        texts = list(fresh)
        if b:
            texts += [rng.choice(fresh_of[b - 1]) for _ in range(REFETCH_RECENT)]
            texts += [rng.choice(fresh_of[max(0, b - REFETCH_OLD_LAG)])
                      for _ in range(REFETCH_OLD)]
        rng.shuffle(texts)
        fresh_of.append(fresh)
        with open(os.path.join(out, "files", f"b{b:05d}.json"), "w") as f:
            for j, text in enumerate(texts):
                ts = base + dt.timedelta(seconds=j * 0.5)
                f.write(json.dumps({"doc_id": doc_id, "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                                    "text": text, "lang": _sf_lang(rng),
                                    "source": f"feed{rng.randrange(4)}"}) + "\n")
                if _passes_gate(text):
                    expected.add(hashlib.md5(text.encode("utf-8")).hexdigest())
                doc_id += 1
    with open(os.path.join(out, "expected_hashes.txt"), "w") as f:
        f.write("\n".join(sorted(expected)) + "\n")
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"files": n_files, "rows_per_op": DOCS_PER_FILE}, f)
