from spark_streaming_with_debezium_spark.storage.fs import (  # noqa: F401
    HadoopFS,
    LocalFS,
    StateFS,
    fs_for_path,
)
from spark_streaming_with_debezium_spark.storage.manifest import Manifest  # noqa: F401
