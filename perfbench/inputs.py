"""Seeded inputs of the benchmark. The same seed gives the same files.

- etl_anchor: raw CSVs in the shape of tools/gen_anchor.py (one file per
  collection, the same row recipe, anchor rows, duplicate rows and
  negative-price rows), with each collection's body scaled down. The
  planted facts the pipeline must report are returned with the files.
- operators_mix, catalog part: the tables the chosen catalog queries read
  (events, embeddings, documents), in the schemas and value domains of
  the repository's test tables.
- operators_mix, corpus part: base documents plus near-duplicate copies
  of each; the seed picks each copy's edit.
"""
import importlib.util
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (["en"] * 41 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15 + ["es"] * 15)


def _gen_anchor(root):
    spec = importlib.util.spec_from_file_location(
        "gen_anchor", Path(root) / "tools" / "gen_anchor.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def anchor_csvs(root, out_dir, seed, scale, warm_rows=0):
    """Writes the raw CSVs, and with warm_rows a truncated copy of each in
    a sibling directory `warm`; returns the facts a correct run reports."""
    ga = _gen_anchor(root)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rnd = random.Random(seed)
    row_id = 0
    body = 0
    for ci, (coll, full) in enumerate(ga.COLLECTIONS):
        n = max(1, round(full * scale))
        body += n
        has_rarity = coll == "milady"
        lines = [ga.HEADER + (",rarity_rank,rarity_score" if has_rarity else "")]
        for i in range(n):
            row_id += 1
            et = ("sale", "sale", "mint", "transfer", "transfer",
                  "transfer", "transfer")[i % 7]
            ts = ga.T0 + rnd.randrange(ga.T1 - ga.T0)
            lines.append(ga.mk_row(row_id, coll, et, et == "sale", ts,
                                   rarity=(i % 10_000 + 1) if has_rarity else None))
        if ci == 0:
            assert n >= ga.N_DUPS, "first collection must hold the duplicates"
            anchors = [ga.mk_row(row_id + 1, coll, "transfer", False, ga.T0),
                       ga.mk_row(row_id + 2, coll, "transfer", False, ga.T1)]
            row_id += 2
            dups = lines[1:1 + ga.N_DUPS]
            negatives = []
            for i in range(ga.N_NEGATIVE):
                ts = 100 + i if i < 300 else ga.T0 + i
                seller = "JUNK" if 300 <= i < 600 else ""
                c = "" if 600 <= i < 800 else coll
                et = "airdrop" if 800 <= i < 1000 else "sale"
                negatives.append(f"ethereum,{c},neg{i},{et},,{ts},0xN{i},"
                                 f"{seller},,,,1,-5.0,ETH,0xC1,tokneg{i},")
            lines += anchors + dups + negatives
        (out / f"{coll}.csv").write_text("\n".join(lines) + "\n")
        if warm_rows:  # the header and first rows: the warm-up's input
            warm = out.parent / "warm"
            warm.mkdir(exist_ok=True)
            (warm / f"{coll}.csv").write_text("\n".join(lines[:warm_rows + 1]) + "\n")
    return {
        "raw_rows": body + 2 + ga.N_DUPS + ga.N_NEGATIVE,
        "clean_rows": body + 2,
        "dup_keys": ga.N_DUPS,
        "negative_prices": ga.N_NEGATIVE,
        "date_min": ga.MIN_DATE,
        "date_max": ga.MAX_DATE,
    }


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def catalog_tables(out_dir, seed, n_events, n_users, n_emb, n_docs):
    """Writes the events, embeddings and documents parquet files."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_events))
    types = np.array(["click", "error", "purchase", "signup", "view"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(types[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }), out / "events.parquet")

    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.01, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), out / "embeddings.parquet")

    texts = _texts(rng, n_docs)
    for i in range(n_docs):  # one doc in twenty is a marked copy of another
        if i % 20 == 19:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, 100, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), out / "documents.parquet")


def _edit(rng, words):
    """One seeded edit: replace, insert, delete or swap a word."""
    w = list(words)
    i = int(rng.integers(0, len(w)))
    kind = int(rng.integers(0, 4))
    if kind == 0:
        w[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    elif kind == 1:
        w.insert(i, VOCAB[int(rng.integers(0, len(VOCAB)))])
    elif kind == 2 and len(w) > 1:
        del w[i]
    elif len(w) > 1:
        j = i + 1 if i + 1 < len(w) else i - 1
        w[i], w[j] = w[j], w[i]
    return " ".join(w)


def corpus_docs(out_dir, seed, n_base):
    """Writes docs.parquet: doc i*10 is a base doc, i*10+j (j = 1..9) its
    j-th near-duplicate copy."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids, texts, langs, sources = [], [], [], []
    for i, base in enumerate(_texts(rng, n_base)):
        lang = LANGS[int(rng.integers(0, 100))]
        words = base.split(" ")
        for j in range(10):
            ids.append(i * 10 + j)
            texts.append(base if j == 0 else _edit(rng, words))
            langs.append(lang)
            sources.append(f"src{i % 20}")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), out / "docs.parquet")
