"""Reusable operators.

Parity operators (SURVEY.md §2 — every projection/filter/join/aggregation the
reference executes, factored into composable functions):

- :mod:`.project`    — JSON parse, derived columns, pruning (P1-P6, P11-P13)
- :mod:`.filters`    — range/disjunctive/null/discrepancy filters (P7-P10)
- :mod:`.aggregates` — windowed conditional aggregations + flattening (A1-A4)
- :mod:`.joins`      — broadcast dimension joins (J1)

Beyond-parity operators (LLM-training-data pipeline, BASELINE.json north
star; each designed for 100 TB scale):

- :mod:`.dedup`      — exact, MinHash-LSH, SimHash, n-gram Jaccard,
  embedding-cosine near-duplicate detection
- :mod:`.similarity` — brute-force and LSH-bucketed cosine top-k search
- :mod:`.text`       — language ID, quality scoring, token counting,
  fingerprinting
- :mod:`.multimodal` — binary media columns: typed metadata, chunking,
  and Arrow-batched decoders over eight real dependency-free codecs
  (PNM, WAV, tar, PNG, JPEG, GIF, ZIP, gzip; plus zlib, bzip2/xz tar
  shards and WARC/WET), each a row function over one ``mapInArrow`` hop
"""
