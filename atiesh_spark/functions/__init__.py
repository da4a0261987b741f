from atiesh_spark.functions.codec import (
    base64_decode,
    base64_encode,
)
from atiesh_spark.functions.maps import (
    header_lookup,
    header_prefix_filter,
    merge_headers,
)
from atiesh_spark.functions.text import (
    drop_long_lines,
    split_body,
    truncate_lines,
)

__all__ = [
    "base64_decode",
    "base64_encode",
    "header_lookup",
    "header_prefix_filter",
    "merge_headers",
    "drop_long_lines",
    "split_body",
    "truncate_lines",
]
