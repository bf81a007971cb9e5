from etl__project_spark.sources.readers import (  # noqa: F401
    read_jsonl,
    read_orc,
    read_raw_csv,
    write_csv,
    write_jsonl,
    write_orc,
)
from etl__project_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    normalize_timestamps,
)
