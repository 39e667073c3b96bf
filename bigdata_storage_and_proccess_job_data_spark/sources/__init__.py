"""Sources & sinks: partitioned parquet lake, JSON ingest with an explicit
schema, keyed upsert sinks (the engine-side replacements for the
reference's MinIO JSON lake, Elasticsearch doc-id upserts, and Cassandra
agg tables), the Kafka-to-lake archiver, and the versioned table format
(snapshot isolation, time travel, stats/bloom manifests, OPTIMIZE/Z-order,
small-file compaction, change feeds, copy-on-write MERGE/DELETE with file
reuse, clone, vacuum), plus cross-table atomic transactions
(transactions.py: staged snapshots, one manifest-pointer swap,
roll-forward recovery, txn_read snapshot isolation, txn_vacuum retention)
and ordered training-shard materialization (lake.write_training_shards)."""
