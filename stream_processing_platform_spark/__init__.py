"""PySpark-native analytics engine with the query surface of
uditanshutomar/stream-processing-platform (see SURVEY.md).

The engine is built Spark-first: declarative DataFrame/SQL plans optimized
by Catalyst, Structured Streaming for stream semantics, Pandas UDFs only
where built-ins cannot express the operator. Nothing here ports the
reference's execution machinery (JobManager/TaskManager/Kafka transport/
RocksDB snapshots) — Spark subsumes all of it.

Layout:
    session        SparkSession factory tuned for the local[32] harness
    tables         fixture-table loaders (/root/testdata/sf*)
    registry       named-query + duckdb-oracle registry (correctness gate)
    oracle         the Spark-vs-duckdb compare that gate applies
    operators/     relational operators (stateless, aggs, joins, dedup, topk)
    functions/     scalar/vector function library (text, similarity)
    sources/       batch + streaming source builders
    sinks          batch + streaming sink builders
    streaming/     watermarks, windows, keyed process, stream joins
    api/           fluent StreamExecutionEnvironment/DataStream facade
    multimodal/    binary-column (image/audio/video) plumbing, decode stubbed
    queries/       the declared query inventory checked by the oracle
"""

__version__ = "0.1.0"
