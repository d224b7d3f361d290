"""Column-level functions: extraction, dedup signatures, sketch
primitives, type conversion and spatial recode. All JVM-side Catalyst
builtins where possible; Arrow-batched pandas UDFs for the rest (never
per-row Python UDFs)."""
