"""two_tier_document_parser_spark — a from-scratch, PySpark-native
two-tier document-extraction engine with the capabilities of the
reference `daddal001/two_tier_document_parser` (see SURVEY.md).

The reference is a pair of FastAPI microservices wrapping PDF parsers
(fast: pymupdf4llm, accurate: MinerU). This engine re-expresses the
same extraction semantics — tier routing, fast heuristic extraction,
deep layout extraction with XY-cut reading order, markdown
serialization, artifact id assignment, per-page error recovery — as a
Spark dataflow over an Iceberg-style table of interleaved text+media
documents, designed for 10^12-document scale.

Layout:
  spec.py         normative constants (kind vocabularies, thresholds)
  layout.py       box geometry + recursive XY-cut reading order
  markdown_ser.py span -> markdown rendering (shared with oracle/)
  synth.py        deterministic synthetic corpus generator
  schemas.py      one Arrow declaration per table; Spark types derive
  adapter.py      driver `documents` table -> documents_raw adapter
  routing.py      the one tier/quarantine rule
  tier1.py        fast extractor: per-document core + Arrow adapter
  tier2.py        deep extractor: per-document core + Arrow adapter
  pipeline.py     end-to-end job graph
  checkpoint.py   lineage + resume
  table_io.py     Iceberg | parquet+manifest table layer
  textstats.py    language-id, quality, token counts, fingerprints
  dedup.py        exact / minhash-LSH / simhash / ngram-jaccard dedup
  similarity.py   embedding ANN (brute-force cosine + LSH buckets)
  multimodal.py   binary media column plumbing (decode stubbed)
  bitstream.py    the codecs' bit primitives: LZW, bit readers/writers
"""

__version__ = "0.1.0"
