"""Streaming operators (SURVEY.md §2.5 W1-W6): windowed aggregation
builders shared between batch and streaming frames, pipeline wiring
(file/Kafka source -> enrich -> multi-sink fan-out), watermark-scoped
dedup, and stream-stream interval joins."""
