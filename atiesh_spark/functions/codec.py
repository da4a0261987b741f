"""Payload codecs.

Reference behaviors covered:
- base64 encode/decode of the dump-file codec
  (HttpLimitRequestSinkSemantics.scala:313-371) — pure builtins.

The reference's gzip body codec (core/.../utils/Compressor.scala) is not a
column function here: the http sink gzips its own request bodies
(``streaming/sinks.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def base64_encode(col: Column | str) -> Column:
    """string -> base64 string (UTF-8 bytes), like the dump-file writer.

    Spark's base64() uses the MIME encoder (CRLF every 76 chars); strip
    the soft breaks to produce canonical unchunked RFC 4648 output.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.replace(F.base64(F.encode(c, "UTF-8")), F.lit("\r\n"), F.lit(""))


def base64_decode(col: Column | str) -> Column:
    """base64 string -> original string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.decode(F.unbase64(c), "UTF-8")
