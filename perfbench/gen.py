"""Seeded input generator for the benchmark.

Writes one table directory in the driver schema (the ten tables that
``cc_mapreducer_spark.tables.TABLE_NAMES`` names), so every registered
query and ``sql.register_views`` can read it unchanged. Only ``documents``
is sized for the workloads; the other nine tables are small, seeded and
well-formed, because ``register_views`` and the DuckDB oracle connection
open every table of the directory.

``documents`` (doc_id, text, lang, source, n_chars):
  - words follow a Zipf-Mandelbrot law over a vocabulary of syllable-built
    words, so the distinct-word table is thousands of rows, not the
    31 words of the driver fixture;
  - anagram families (two to four distinct permutations of one letter
    multiset) are planted in the vocabulary, so ``anagram_groups`` has
    real groups to find;
  - optionally, near-duplicate clusters: copies of a base document with a
    few words replaced, so the near-dedup queries have true positives;
  - a few possessives (``word's``) exercise the faithful apostrophe mode
    of ``word_profile``;
  - the file is written with several row groups.

The same (spec, seed) always gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOP = ("the", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")
ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
          "v", "w", "z", "br", "ch", "cl", "dr", "gr", "pl", "sh", "st", "th", "tr")
VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
CODAS = ("", "", "", "n", "r", "s", "t", "l", "m", "ng", "st", "rk")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of one generated ``documents`` table."""

    docs: int
    vocab: int  # distinct non-stop words before anagram families are added
    families: int  # planted anagram families
    words_min: int
    words_max: int
    dup_clusters: int = 0  # near-duplicate clusters
    dup_size: int = 0  # extra copies per cluster
    row_groups: int = 8
    zipf_s: float = 1.07


def _vocabulary(rng: np.random.Generator, spec: CorpusSpec) -> list[str]:
    words: set[str] = set()
    while len(words) < spec.vocab:
        n = int(rng.integers(1, 4))
        w = "".join(
            ONSETS[rng.integers(len(ONSETS))] + VOWELS[rng.integers(len(VOWELS))]
            + CODAS[rng.integers(len(CODAS))]
            for _ in range(n)
        )
        if len(w) > 1 and w not in STOP:
            words.add(w)
    vocab = sorted(words)
    rng.shuffle(vocab)
    # anagram families: permute the letters of a vocabulary word until
    # 1-3 new distinct members exist
    taken = set(vocab)
    planted: list[str] = []
    for base in vocab:
        if len(planted) >= spec.families * 2:
            break
        if len(base) < 4:
            continue
        want = int(rng.integers(1, 4))
        members = []
        for _ in range(20):
            perm = "".join(rng.permutation(list(base)))
            if perm not in taken:
                taken.add(perm)
                members.append(perm)
                if len(members) == want:
                    break
        planted.extend(members)
    return vocab + planted


def _documents(rng: np.random.Generator, spec: CorpusSpec) -> pa.Table:
    vocab = list(STOP) + _vocabulary(rng, spec)
    order = rng.permutation(len(vocab) - len(STOP)) + len(STOP)
    ranked = np.concatenate([np.arange(len(STOP)), order])  # stop words most frequent
    p = 1.0 / (np.arange(1, len(vocab) + 1) + 2.7) ** spec.zipf_s
    p /= p.sum()
    words = np.asarray(vocab, dtype=object)[ranked]

    n_base = spec.docs - spec.dup_clusters * spec.dup_size
    lengths = rng.integers(spec.words_min, spec.words_max + 1, size=n_base)
    draws = words[rng.choice(len(words), size=int(lengths.sum()), p=p)]
    possessive = rng.random(len(draws)) < 0.002
    draws[possessive] = draws[possessive] + "'s"
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(draws[bounds[i]:bounds[i + 1]]) for i in range(n_base)]

    # near-duplicate clusters: copies of a base document with ~5% of its
    # words replaced
    for c in range(spec.dup_clusters):
        base = texts[int(rng.integers(n_base))].split(" ")
        for _ in range(spec.dup_size):
            edit = list(base)
            k = max(1, len(edit) // 20)
            for pos in rng.integers(len(edit), size=k):
                edit[pos] = words[rng.choice(len(words), p=p)]
            texts.append(" ".join(edit))
    perm = rng.permutation(len(texts))
    texts = [texts[i] for i in perm]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(N_SOURCES, size=n)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def _side_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Small tables in the driver schema for the nine non-document tables."""
    n_cust, n_supp, n_part, n_ord = 300, 40, 200, 1500
    t0 = datetime(1995, 1, 1)
    n_li = n_ord * 3
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    ts = [t0 + timedelta(seconds=int(s)) for s in np.sort(rng.integers(0, 86400 * 30, 2000))]
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": regions}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": [f"Customer#{i}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"], n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
            "s_name": [f"Supplier#{i}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": pa.array(rng.choice([f"Brand#{i}" for i in range(1, 6)], n_part)),
            "p_type": pa.array(rng.choice(["STANDARD BRASS", "SMALL STEEL", "LARGE TIN"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
            "o_orderdate": pa.array([t0 + timedelta(days=int(d)) for d in rng.integers(0, 2000, n_ord)],
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], n_ord)),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(np.repeat(np.arange(1, n_ord + 1), 3), pa.int64()),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
            "l_linenumber": pa.array(np.tile([1, 2, 3], n_ord), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
            "l_shipdate": pa.array([t0 + timedelta(days=int(d)) for d in rng.integers(0, 2500, n_li)],
                                   pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(len(ts)), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(1, 200, len(ts)), pa.int64()),
            "event_type": pa.array(rng.choice(["view", "click", "purchase"], len(ts))),
            "value": pa.array(np.round(rng.uniform(0, 100, len(ts)), 2)),
            "props": pa.array(['{"k": %d}' % i for i in rng.integers(0, 9, len(ts))]),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(200), pa.int64()),
            "embedding": pa.array(list(rng.standard_normal((200, 16)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 4, 200), pa.int32()),
        }),
    }


def write_corpus(out_dir: str, spec: CorpusSpec, seed: int) -> dict:
    """Write the ten tables for (spec, seed) into ``out_dir`` unless they are
    already there, and return the manifest (rows, bytes, vocabulary)."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    docs = _documents(rng, spec)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"),
                   row_group_size=-(-docs.num_rows // spec.row_groups))
    for name, table in _side_tables(np.random.default_rng(seed + 1)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    distinct = {w for t in docs.column("text").to_pylist() for w in t.split(" ")}
    manifest = {
        "seed": seed,
        "spec": asdict(spec),
        "documents_rows": docs.num_rows,
        "documents_bytes": os.path.getsize(os.path.join(tmp, "documents.parquet")),
        "documents_words": sum(len(t.split(" ")) for t in docs.column("text").to_pylist()),
        "distinct_words": len(distinct),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, out_dir)
    return manifest
