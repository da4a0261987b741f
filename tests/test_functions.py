"""Unit + property tests for the scalar function library (SURVEY.md §5.2
items 2, 5): codec round-trips, header-map merge laws, split/join
inverses, line policies — edge cases distilled from reference behavior."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from atiesh_spark.functions.codec import (
    base64_decode,
    base64_encode,
)
from atiesh_spark.functions.maps import (
    header_lookup,
    header_prefix_filter,
    merge_headers,
)
from atiesh_spark.functions.text import drop_long_lines, split_body, truncate_lines


def events_df(spark, values):
    return spark.createDataFrame([(v,) for v in values], "value string")


def test_base64_roundtrip_multibyte(spark):
    vals = ["abc", "", "日本語", "line1\nline2", "a;b,c"]
    df = events_df(spark, vals)
    out = df.select(base64_decode(base64_encode("value")).alias("rt"), "value").collect()
    for r in out:
        assert r["rt"] == r["value"]


def test_base64_unchunked(spark):
    # >76 encoded chars must not contain MIME soft breaks
    df = events_df(spark, ["x" * 200])
    b64 = df.select(base64_encode("value").alias("b")).collect()[0]["b"]
    assert "\r" not in b64 and "\n" not in b64


def test_header_merge_upsert_last_wins(spark):
    """SimpleEvent.setHeaders fold: duplicate key takes the NEW value
    (SimpleEvent.scala:23-26)."""
    df = spark.createDataFrame([({"a": "1", "b": "2"},)], "headers map<string,string>")
    merged = df.select(
        merge_headers("headers", F.create_map(F.lit("b"), F.lit("9"), F.lit("c"), F.lit("3"))).alias("m")
    ).collect()[0]["m"]
    assert merged == {"a": "1", "b": "9", "c": "3"}


def test_header_prefix_filter_case_insensitive(spark):
    """HTTP header capture lowercases before prefix match
    (HttpSource.scala:119-126)."""
    df = spark.createDataFrame(
        [({"X-Atiesh-Id": "7", "x-atiesh-type": "t", "Content-Type": "x"},)],
        "headers map<string,string>",
    )
    out = df.select(header_prefix_filter("headers", "X-ATIESH-").alias("m")).collect()[0]["m"]
    assert set(out) == {"X-Atiesh-Id", "x-atiesh-type"}


def test_header_lookup_default(spark):
    df = spark.createDataFrame([({"t": "x"},), ({},)], "headers map<string,string>")
    out = [r[0] for r in df.select(header_lookup("headers", "t", "dflt")).collect()]
    assert sorted(out) == ["dflt", "x"]


def test_split_body_trailing_delimiter(spark):
    """The batch split keeps trailing empty segments (SQL split
    semantics, matching the DuckDB oracle of q04). Note this differs
    from the HTTP ingest path, which mirrors the reference's Scala
    split and DROPS trailing empties — see sources/http_push.py."""
    df = spark.createDataFrame([(1, "a\nb\n")], "id int, body string")
    out = split_body(df, "body", "\n", pos_col="pos").collect()
    assert [(r["pos"], r["value"]) for r in sorted(out, key=lambda r: r["pos"])] == [
        (0, "a"), (1, "b"), (2, ""),
    ]


def test_truncate_and_drop_policies(spark):
    df = spark.createDataFrame([("short",), ("x" * 50,)], "value string")
    truncated = df.select(truncate_lines("value", 10).alias("v")).collect()
    assert sorted(len(r["v"]) for r in truncated) == [5, 10]
    kept = drop_long_lines(df, "value", 10).collect()
    assert [r["value"] for r in kept] == ["short"]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(blacklist_characters="\n", blacklist_categories=("Cs",)), max_size=20), min_size=1, max_size=5))
def test_split_join_inverse_property(spark, parts):
    """join(sep) then split(sep) is the identity on delimiter-free parts."""
    body = "\n".join(parts)
    df = spark.createDataFrame([(body,)], "body string")
    out = split_body(df, "body", "\n", pos_col="pos").collect()
    recovered = [r["value"] for r in sorted(out, key=lambda r: r["pos"])]
    assert recovered == parts


def test_route_unmatched_discarded(spark):
    from atiesh_spark.operators.routing import route_first_accepted

    df = spark.createDataFrame([("a",), ("b",), ("c",)], "value string")
    routed = route_first_accepted(
        df, [("s1", F.col("value") == "a"), ("s2", F.col("value") == "b")]
    ).collect()
    assert {(r["value"], r["route"]) for r in routed} == {("a", "s1"), ("b", "s2")}


def test_batch_assembly_max_size(spark):
    from atiesh_spark.operators.batching import assemble_batches

    df = spark.createDataFrame(
        [("t", i) for i in range(5)], "tag string, value int"
    )
    out = assemble_batches(df, "tag", value_col="value", order_col="value", max_batch_size=2).collect()
    bodies = sorted(r["body"] for r in out)
    assert bodies == ["0\n1", "2\n3", "4"]
    assert sorted(r["n_events"] for r in out) == [1, 2, 2]


def test_to_events_canonical_shape(spark):
    from atiesh_spark.model import EVENT_SCHEMA, to_events

    df = spark.createDataFrame(
        [(1, "hello", "click"), (2, None, "view")],
        "event_id long, payload string, kind string",
    )
    out = to_events(df, "payload", {"id": "event_id", "type": "kind"})
    # same names/types; nullability flags differ by construction
    assert out.schema.simpleString() == EVENT_SCHEMA.simpleString()
    rows = {r["headers"]["id"]: r for r in out.collect()}
    assert rows["1"]["value"] == "hello" and rows["1"]["headers"]["type"] == "click"
    assert rows["2"]["value"] is None  # null payload preserved, headers stringified


def test_to_events_no_headers(spark):
    from atiesh_spark.model import to_events

    df = spark.createDataFrame([(42,)], "v int")
    out = to_events(df, "v").collect()
    assert out[0]["value"] == "42" and out[0]["headers"] == {}


def test_split_body_regex_metachar_delimiter(spark):
    """Delimiter is literal: '|' must split on pipes, not on every char."""
    df = spark.createDataFrame([(1, "a|b|c")], "id int, body string")
    out = sorted(r["value"] for r in split_body(df, "body", "|").collect())
    assert out == ["a", "b", "c"]


def test_epoch_nanos_to_ntz_including_pre_epoch(spark):
    """Session-tz-independent ns->NTZ conversion: exact micros, correct
    floor behavior for pre-epoch instants (div truncates toward zero,
    which would otherwise shift pre-epoch days and crash ANSI
    make_timestamp_ntz with negative seconds)."""
    from datetime import datetime

    from atiesh_spark.sources.tables import epoch_nanos_to_ntz

    cases = [
        0,
        1705312496123456789,       # 2024-01-15T...
        999,                       # sub-microsecond -> floors to 0 us
        -1,                        # 1 ns before epoch
        -86400000000000,           # exactly -1 day
        -1000,                     # -1 us
    ]
    df = spark.createDataFrame([(n,) for n in cases], "ns long")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = [r["ts"] for r in df.select(epoch_nanos_to_ntz("ns").alias("ts")).collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # compare against python's own floor-div epoch arithmetic
    from datetime import timedelta

    for n, ts in zip(cases, got):
        us = n // 1000
        expect = datetime(1970, 1, 1) + timedelta(microseconds=us)
        assert ts == expect, f"ns={n}: {ts} != {expect}"


def test_normalize_text_forms_and_ws(spark):
    from atiesh_spark.functions.text import normalize_text
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "Café   LATTE"),   # decomposed -> must compose
            (2, "ﬁne  PRINT"),        # fi ligature: NFKC-only fold
            (3, None),
            (4, " \t mixed \n WS "),
        ],
        "id long, text string",
    )
    out = {
        r["id"]: (r["nfc"], r["nfkc"], r["stripped"], r["keepcase"])
        for r in df.select(
            "id",
            normalize_text("text").alias("nfc"),
            normalize_text("text", form="NFKC").alias("nfkc"),
            normalize_text("text", strip_accents=True).alias("stripped"),
            normalize_text("text", lowercase=False).alias("keepcase"),
        ).collect()
    }
    assert out[1][0] == "café latte"          # single precomposed char
    assert out[1][2] == "cafe latte"               # accent stripped
    assert out[1][3] == "Café LATTE"
    assert out[2][0] == "ﬁne print"           # NFC keeps the ligature
    assert out[2][1] == "fine print"               # NFKC folds it
    assert out[3] == (None, None, None, None)
    assert out[4][0] == "mixed ws"


def test_normalize_text_rejects_unknown_form(spark):
    from atiesh_spark.functions.text import normalize_text

    import pytest as _pytest

    with _pytest.raises(ValueError):
        normalize_text("text", form="NFX")


def test_strip_markup_rules(spark):
    from atiesh_spark.functions.text import strip_markup

    cases = [
        # script/style dropped wholesale, incl. attributes and case
        ("<SCRIPT src=x>var a=1;</script>keep<style>p{}</STYLE>", "keep"),
        # comments dropped, block closers -> newline, tags stripped
        # adjacent block boundaries leave a paragraph break (2 newlines)
        ("<!-- c --><p>one</p><div>two</div><br>three", "one\ntwo\n\nthree"),
        # entity decode is single-level: &amp;lt; -> &lt;, never <
        ("a &amp;lt; b &lt;i&gt; &nbsp;c", "a &lt; b <i> c"),
        # whitespace collapse + trim
        ("  <b>x</b>\t\ty <p></p>\n\n\n\nz  ", "x y\n\nz"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], "id long, raw string"
    )
    got = {
        r["id"]: r["o"]
        for r in df.select("id", strip_markup("raw").alias("o")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


class TestMojibake:
    """fix_mojibake: the ftfy-core repair as pure codegen."""

    CASES = [
        "café naïve “quoted” €42 — done",
        "plain ascii text",
        "line one\nline two café\nwith newlines",
        "it’s clean — smart punctuation…",
        "русский text",
        "日本語のテキスト",
        "emoji \U0001f389 party",
    ]

    def test_round_trip_and_idempotence(self, spark):
        from pyspark.sql import functions as F

        from atiesh_spark.functions.text import fix_mojibake, to_mojibake

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.CASES)], "id long, t string"
        )
        out = df.select(
            "id", "t",
            fix_mojibake(to_mojibake("t")).alias("repaired"),
            fix_mojibake("t").alias("noop"),
            fix_mojibake(fix_mojibake(to_mojibake("t"))).alias("twice"),
        ).collect()
        for r in out:
            assert r.repaired == r.t, r.id      # breakage inverts
            assert r.noop == r.t, r.id          # clean text untouched
            assert r.twice == r.t, r.id         # idempotent after repair

    def test_clean_lookalikes_pass_through(self, spark):
        """A genuine accented capital before a space is NOT mojibake
        (no continuation-class char follows), and invalid
        reinterpretations never replace the input."""
        from atiesh_spark.functions.text import fix_mojibake

        rows = [
            (1, "Ã is a clean accented capital"),
            (2, "ééé all high latin1, no lead pattern"),
        ]
        df = spark.createDataFrame(rows, "id long, t string")
        for r in df.select("t", fix_mojibake("t").alias("f")).collect():
            assert r.f == r.t

    def test_plan_is_pure_codegen(self, spark):
        from atiesh_spark.functions.text import fix_mojibake

        df = spark.createDataFrame([(1, "x")], "id long, t string")
        out = df.select(fix_mojibake("t").alias("f"))
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "Exchange" not in plan
