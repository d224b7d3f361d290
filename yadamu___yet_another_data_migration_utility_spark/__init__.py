"""PySpark-native CDC / incremental-ingest engine.

A brand-new engine (NOT a port) with the capabilities of the reference
YADAMU migration utility (/root/reference), re-imagined as a
binlog/WAL-tail -> lake-upsert CDC pipeline over Common-Crawl-style web
pages, per BASELINE.json#north_rule:

- ordered change events (op in {I,U,D}, lsn, url, warc_ts, html, lang)
- watermark + last-LSN-wins dedup (a map-side combined reduction, so hot
  keys collapse before the shuffle)
- idempotent, batch-id-fenced MERGE into a transactional bucketed lake
  table (``sources.laketable`` -- an Iceberg-shaped format implemented
  from scratch because the sandbox ships no Iceberg runtime jar; in
  production the same plan maps 1:1 onto Iceberg ``MERGE INTO``)
- additive schema evolution mid-stream
- Structured Streaming replay with checkpoint resume
- per-batch audit + per-partition lineage metrics
  (reference analogue: rowsRead == committed + lost + skipped,
  /root/reference/src/YADAMU/common/yadamuWriter.js:813-815)
- vectorized (Arrow / pandas-UDF) html -> text extraction, never
  per-row Python.

Subpackages
-----------
sources/    table formats + changelog readers (laketable, file changelog)
operators/  CDC batch apply, dedup reductions, fencing, metrics
functions/  column-level functions: text extraction, dedup signatures
            (minhash), md5/HyperLogLog sketch primitives
streaming/  Structured Streaming replay (foreachBatch, checkpoints),
            change tail and mirror, incremental rollup
fixtures/   deterministic synthetic changelog generator (seeded, pure
            Spark -- no external data)
"""

__version__ = "0.1.0"
