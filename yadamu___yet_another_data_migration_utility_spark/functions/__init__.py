"""Column-level functions: extraction, dedup signatures, sketch
primitives, similarity, multimodal decode, type conversion. All JVM-side
Catalyst builtins where possible; Arrow-batched pandas UDFs for the rest
(never per-row Python UDFs)."""
