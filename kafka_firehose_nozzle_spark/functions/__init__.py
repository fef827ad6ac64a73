"""Column-expression library (the engine's scalar-function surface).

Everything here is built from pyspark.sql.functions primitives so the hot
path stays inside JVM whole-stage codegen — no Python/pandas UDFs.
"""

from kafka_firehose_nozzle_spark.functions.routing import route_topic_expr
from kafka_firehose_nozzle_spark.functions.sonde_json import sonde_json
from kafka_firehose_nozzle_spark.functions.uuid_codec import uuid_to_str

__all__ = [
    "route_topic_expr",
    "sonde_json",
    "uuid_to_str",
]
