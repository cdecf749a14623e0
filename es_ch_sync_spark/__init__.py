"""es_ch_sync_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of DIMO-Network/es-ch-sync, re-expressed
Spark-first (DataFrame/SQL/Catalyst, optional Structured Streaming).

The reference (read-only at /root/reference/) is a Go batch ETL job that
syncs wide JSON status documents from Elasticsearch into a tall, typed
ClickHouse time-series table.  This package expresses that whole surface —
filtered time-range scans, top-k-by-time, projection pushdown, schema-driven
wide→tall unpivot with unit conversion and malformed-record quarantine,
dimension lookup joins, min/distinct maintenance queries, dedup-on-write,
incremental resume — as declarative Spark plans, and extends it with the
operators a large-scale training-data pipeline needs (dedup families,
similarity search, text analysis, multimodal column plumbing).

Design stance (see ARCHITECTURE.md):
- DataFrames + Spark SQL only; zero custom Catalyst rules (SURVEY.md §4
  shows stock Catalyst subsumes every hand-coded behavior in the reference).
- Catalog-driven transforms as *metadata*, not code.
- Pure column expressions in the hot path — no row-at-a-time Python UDFs;
  Python (one Arrow boundary, ``operators.util.map_arrow``) only where
  built-ins genuinely can't express the semantics.
- Partitioning, broadcast, and AQE posture chosen for a 1000-executor /
  100 TB deployment even though tests run on local[32].
"""

__version__ = "0.1.0"
