from re_data_pipeline_spark.sources.registry import (
    read_binary_dir,
    read_json_glob,
)

__all__ = ["read_json_glob", "read_binary_dir"]
