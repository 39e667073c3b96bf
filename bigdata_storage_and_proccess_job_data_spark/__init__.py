"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference job-postings pipeline
(baokieuv/bigdata_storage_and_proccess_job_data), re-expressed Spark-first.

Layout:
    session.py    -- tuned SparkSession builder (AQE, shuffle sizing, Arrow)
    catalog.py    -- testdata table loading + temp-view registration
    domain/       -- the reference job-postings pipeline: explicit
                     StructTypes (schemas.py), clean -> enrich -> cubes
    functions/    -- scalar expression library (clean, enrich, text, vectors)
    operators/    -- dataframe->dataframe operators (dedup, similarity,
                     aggregates, joins, graph, corpus, multimodal, ...)
    sources/      -- partitioned lake IO + versioned tables + transactions
    streaming/    -- windowed-agg builders shared batch/stream + pipelines
    plans/        -- driver-facing query registry (queries + DuckDB oracles)
"""

__version__ = "0.1.0"
