"""Deterministic benchmark inputs.

The benchmark may read only its own checkout, so it builds every input
itself:

* ``write_tables`` writes the two testdata-shaped tables the flagship
  corpus and the query panel read (``documents``, ``embeddings``), with
  the schemas and value distributions of the sf0.1 testdata tables:
  5000 documents over 20 sources assigned round-robin by ``doc_id``,
  text of 10-100 words from a 30-word vocabulary (5% end in ``dup``),
  and 2000 unit-norm float32 embeddings of dimension 64 with 10 labels.
  The tables are the same for every workload seed (data seed 42), so
  the query row counts can be pinned.
* ``flagship_seeds`` / ``scale_seeds`` build the crawl seed lists; the
  workload seed picks their offset and rotation.
* ``unseen_urls`` makes enqueue URLs that no crawl can have admitted.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
N_DOCS = 5000
N_EMBEDDINGS = 2000
DATA_SEED = 42


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), int(lengths.sum()))]
    dup = rng.random(n) < 0.05
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - ln:e]) + (" dup" if d else "")
             for e, ln, d in zip(ends, lengths, dup)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir: str, n_docs: int = N_DOCS,
                 n_embeddings: int = N_EMBEDDINGS) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (one row
    group each, like the testdata's) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, table in (("documents", _documents(rng, n_docs)),
                        ("embeddings", _embeddings(rng, n_embeddings))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows)


SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])


def write_flagship_corpus(tables_dir: str, out_path: str) -> None:
    """The flagship's interleaved corpus, as ``flagship.interleaved_view``
    derives it from the documents table, built here without Spark: url
    ``http://{source}.example/d/{doc_id}``, a title span, the text span,
    and media links to the 1st, 3rd and 9th next doc of the same source
    (past the end: the source's first doc)."""
    docs = pq.read_table(os.path.join(tables_dir, "documents.parquet"),
                         columns=["doc_id", "text", "source"]).to_pylist()
    by_source: dict[str, list[dict]] = {}
    for d in docs:
        by_source.setdefault(d["source"], []).append(d)
    ids, spans = [], []
    url = lambda d: f"http://{d['source']}.example/d/{d['doc_id']}"
    for rows in by_source.values():
        rows.sort(key=lambda d: d["doc_id"])
        for i, d in enumerate(rows):
            lead = lambda k: url(rows[i + k] if i + k < len(rows) else rows[0])
            ids.append(url(d))
            spans.append([
                {"kind": "title", "text": f"Doc {d['doc_id']}",
                 "media_ref": None, "offset": 0},
                {"kind": "text", "text": d["text"], "media_ref": None,
                 "offset": 1},
                *({"kind": "media", "text": None, "media_ref": lead(k),
                   "offset": off} for k, off in ((1, 2), (3, 3), (9, 4))),
            ])
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string()),
                             "spans": pa.array(spans, pa.list_(SPAN))}),
                   out_path)


def flagship_seeds(seed: int, n_docs: int, n_hosts: int,
                   per_host: int) -> list[str]:
    """``per_host`` strided seeds on each of the first ``n_hosts``
    sources, as ``flagship.seed_urls`` picks them, shifted by a
    seed-chosen offset inside the stride."""
    docs_per_host = n_docs // N_SOURCES
    stride = max(1, docs_per_host // per_host)
    offset = seed % stride
    hosts = sorted(f"src{h}" for h in range(N_SOURCES))[:n_hosts]
    urls = []
    for src in hosts:
        h = int(src[3:])
        for j in range(per_host):
            rank = (offset + j * stride) % docs_per_host
            urls.append(f"http://{src}.example/d/{h + rank * N_SOURCES}")
    return urls


def bench_url(i: int, n_hosts: int) -> str:
    """The url of doc id ``i`` in ``sources.bench_corpus`` (the
    generator's id -> (host, doc_num) arithmetic)."""
    hh = n_hosts * n_hosts
    q, r = divmod(i, hh)
    h = math.isqrt(r)
    return f"http://bench{h}.example/d/{q * (2 * h + 1) + (r - h * h)}"


def scale_seeds(seed: int, n_docs: int, n_hosts: int,
                n_seeds: int) -> list[str]:
    """A dense seed list over the bench corpus: every ``n_docs //
    n_seeds``-th doc id from a seed-chosen offset, rotated by a
    seed-chosen amount (the rotation changes id assignment order)."""
    step = max(1, n_docs // n_seeds)
    ids = list(range(seed % step, n_docs, step))[:n_seeds]
    rot = (seed * 7919) % len(ids)
    return [bench_url(i, n_hosts) for i in ids[rot:] + ids[:rot]]


def unseen_urls(seed: int, batch: int, hosts: list[str], n: int) -> list[str]:
    """``n`` urls under a path no corpus page links to."""
    return [f"http://{hosts[i % len(hosts)]}/serve/{seed}/{batch}/{i}"
            for i in range(n)]
