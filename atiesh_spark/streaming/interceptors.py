"""Interceptor chain: ordered per-event transforms as column expressions.

The reference applies interceptors in descending `priority` order; each
is Event => Event, returning the Empty tombstone to delete the record,
and an interceptor that throws passes the ORIGINAL event through
(Source.scala:306-334, Interceptor.scala:49,75-81).

Spark equivalents:
- transparent: identity (Transparent.scala:17-25)
- devnull: drop everything (DevNull.scala:17-28)
- filter: keep rows where the predicate holds (Empty ≅ filtered out)
- transform: SQL-expression column rewrites; the reference's
  error-passthrough policy maps to wrapping the rewrite in
  coalesce(try_expr, original) when on_error='keep_original'
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atiesh_spark.config import bind_component


def apply_transparent(df: DataFrame) -> DataFrame:
    return df


def apply_devnull(df: DataFrame) -> DataFrame:
    return df.filter(F.lit(False))


def apply_filter(df: DataFrame, predicate: str) -> DataFrame:
    return df.filter(F.expr(predicate))


def apply_transform(
    df: DataFrame, exprs: dict[str, str], on_error: str | None = None
) -> DataFrame:
    """Rewrite columns with SQL expressions.

    on_error='keep_original' mirrors the reference policy "interceptor
    exception => original event passes through" by coalescing the
    (null-on-error) try-expression with the previous value. Only sound
    for expressions with try_* semantics (casts, arithmetic, parsing);
    for others a raised error fails the task, which is Spark's honest
    default. Any other ``on_error`` value raises ValueError.
    """
    if on_error not in (None, "keep_original"):
        raise ValueError(f"on_error must be 'keep_original' or unset, got {on_error!r}")
    out = df
    for col, expr in exprs.items():
        e = F.expr(expr)
        if on_error == "keep_original" and col in out.columns:
            e = F.coalesce(e, F.col(col))
        out = out.withColumn(col, e)
    return out


def apply_blocklist(
    df: DataFrame, patterns: list[str], column: str = "value", engine: str = "auto"
) -> DataFrame:
    """Drop events whose payload contains any banned phrase — the batch
    ``operators/blocklist.py`` gate exposed as a streaming interceptor
    (the reference's registry-by-type extension seam: a new type name
    plus an Event => Event function)."""
    from atiesh_spark.operators.blocklist import blocklist_filter

    return blocklist_filter(df, column, patterns, engine=engine)


def apply_normalize(
    df: DataFrame,
    column: str = "value",
    form: str = "NFC",
    lowercase: bool = True,
    strip_accents: bool = False,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Unicode-normalize the payload in-stream (functions/text.py
    normalize_text — the q114 contract): canonical composition, case
    folding, whitespace collapse before any downstream hash/dedup/
    tokenize step."""
    from atiesh_spark.functions.text import normalize_text

    normalized = normalize_text(
        column, form=form, lowercase=lowercase, strip_accents=strip_accents,
        collapse_whitespace=collapse_whitespace,
    )
    return df.withColumn(column, normalized)


#: spec ``type`` -> builder, called as ``builder(df, **options)``.
INTERCEPTOR_BUILDERS = {
    "transparent": apply_transparent,
    "devnull": apply_devnull,
    "filter": apply_filter,
    "transform": apply_transform,
    "blocklist": apply_blocklist,
    "normalize": apply_normalize,
}


def build_interceptor_chain(df: DataFrame, chain: list[dict]) -> DataFrame:
    """Apply interceptors in descending priority (ties keep spec order),
    like the reference's priority sort at assembly (Source.scala:88)."""
    ordered = sorted(
        enumerate(chain), key=lambda t: (-t[1].get("priority", 0), t[0])
    )
    for _, cfg in ordered:
        df = bind_component("interceptor", INTERCEPTOR_BUILDERS, cfg)(df)
    return df
