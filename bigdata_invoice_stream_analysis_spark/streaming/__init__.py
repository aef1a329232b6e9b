"""Structured Streaming rebuild of the reference's DStream pipeline
(InvoicePipeline.scala) — SURVEY.md §2.5 / §3.2 / §7 Stage 4.

Topology (one readStream, four outputs):

    raw lines (Kafka | file | rate)
      ├─ invalid lines  ───────────────→ sink `facturas_erroneas`
      ├─ cancelled → windowed count ───→ sink `cancelaciones`
      └─ good → parse → keyed state ──┬→ anomalies (KMeans)   → sink
                                      └→ anomalies (Bisecting)→ sink

Modules:
  sources   — Kafka / file / rate streaming sources (S3, test stand-ins)
  pipeline  — declarative branch builders (P1-P4, W1, A3/A4, W2 exact state)
  state     — Python keyed-state twins of W2 (applyInPandasWithState, v2)
  scoring   — stream-safe centroid scoring (M3/M4, pure column math)
  sinks     — Kafka / parquet / memory sinks + foreachBatch router (S4/W4/W6)
  runtime   — per-query state-partition sizing and the RocksDB scope
  app       — the four-sink topologies (InvoicePipeline.main twin)
  producer  — replay producer simulator (S7)
"""
