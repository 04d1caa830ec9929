"""Streaming ingest (the reference's only streaming surface).

GeoWave's streaming is ingest-only — Kafka plugins append rows through
the same adapter/index write path as batch
(test/src/test/java/org/locationtech/geowave/test/kafka/BasicKafkaIT.java;
extensions/formats/* plugins); there are no stream queries, watermarks
or stateful operators (SURVEY.md §2.10). The engine mirrors that:
Structured Streaming sources feed the identical cell-indexing
transformation and append to the IceTable snapshot store
(streaming.ingest.stream_ingest_icetable).
"""
