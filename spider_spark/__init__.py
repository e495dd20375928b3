"""spider_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch re-expression of hyphanet/plugin-Spider's crawl semantics
(reference at /root/reference, Java) as batched DataFrame rounds over
snapshot-versioned tables with vectorized Arrow UDFs.  See SURVEY.md for the
full operator inventory and the file:line parity citations used throughout
the docstrings in this package.

Layout:
    functions/  — vectorized UDFs + pure-Python kernels (tokenizer, URL
                  canonicalizer, CJK tables, text analysis,
                  minhash/simhash)
    sources/    — deterministic synthetic corpus generator + testdata loaders
    state/      — snapshot-versioned parquet table store (Iceberg-semantics
                  commit protocol: atomic manifest swap, lineage checkpoints)
    operators/  — admission, scheduling, parse, postings, status merges,
                  dedup, similarity search, text analytics
    oracle/     — single-threaded Python reference simulator (the truth the
                  engine is tested against)
    engine.py   — the round-loop driver wiring it all together
"""

__version__ = "0.1.0"
