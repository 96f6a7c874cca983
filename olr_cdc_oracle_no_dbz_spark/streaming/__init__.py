"""Structured Streaming layer (SURVEY.md §7 M4, §2.8 ST1-ST7).

The reference's continuous path — OpenLogReplicator tailing redo into
Kafka, Connect materializing into Postgres (docker-compose-olr.yml:41-70,
README.md:775-798) — re-expressed as:

- ``source``: file/Kafka ``readStream`` wrappers + JSON serde (S1/S3/S4, K1)
- ``state``: bucketed parquet current-state store with partition-pruned
  incremental MERGE (the JDBC-upsert-sink role, K2-K5)
- ``pipeline``: checkpointed ``foreachBatch`` materializer, one query for
  one or many captured tables (ST1-ST4, P1)
- ``windowed``: watermarked tumbling/hopping/session aggregations (A5-A8)
"""

from olr_cdc_oracle_no_dbz_spark.streaming.pipeline import (  # noqa: F401
    Route,
    materialize_stream,
    progress_summary,
)
from olr_cdc_oracle_no_dbz_spark.streaming.source import (  # noqa: F401
    encode_events,
    read_kafka_change_stream,
    write_kafka_changelog,
)
from olr_cdc_oracle_no_dbz_spark.streaming.state import (  # noqa: F401
    ParquetStateTable,
)
from olr_cdc_oracle_no_dbz_spark.streaming.stateful import (  # noqa: F401
    running_profile,
)
from olr_cdc_oracle_no_dbz_spark.streaming.windowed import (  # noqa: F401
    hopping_agg,
    interval_join_streams,
    session_agg,
    tumbling_agg,
)
