"""Column-level functions: html-to-text extraction, MinHash dedup
signatures and md5/HyperLogLog sketch primitives. JVM-side Catalyst
builtins where possible; Arrow-batched pandas UDFs for the rest (never
per-row Python UDFs)."""
