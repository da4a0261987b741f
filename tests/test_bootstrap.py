"""File-based pipeline boot (atiesh_spark/bootstrap.py): the
Atiesh.main equivalent — parse atiesh.conf, assemble, run.

Reference: core/src/main/scala/atiesh/Atiesh.scala:19-47 (boot from a
config-file path), utils/ConfigParser.scala:16-30 (HOCON parse),
README's documented `atiesh { source/interceptor/sink }` layout.
"""

from __future__ import annotations

import json

import pytest

from atiesh_spark.bootstrap import (
    assemble,
    boot,
    load_spec,
    parse_hocon,
)


# ---------------------------------------------------------------------------
# HOCON-subset parser
# ---------------------------------------------------------------------------


def test_parse_hocon_readme_shape():
    # The exact constructs the reference README's example config uses:
    # nested blocks without '=', quoted keys with literal dots, arrays,
    # unquoted unit literals, '#' comments, bools and bare ints.
    text = """
    atiesh {
        # sources
        source {
            kafka-consumer {
                fqcn = "atiesh.source.KafkaSource"
                interceptors = ["records-logger"]
                sinks = ["devnull"]
                topics = ["incoming-channel"]
                poll-timeout = 1000 ms
                kafka-properties {
                    "group.id" = "cg-atiesh"
                    "enable.auto.commit" = true
                    "session.timeout.ms" = 30000
                }
            }
        }
        interceptor {
            records-logger {
                fqcn = "atiesh.interceptor.Transparent"
                priority = 90
            }
        }
        sink { devnull { fqcn = "atiesh.sink.DevNull" } }
    }
    """
    tree = parse_hocon(text)
    src = tree["atiesh"]["source"]["kafka-consumer"]
    assert src["fqcn"] == "atiesh.source.KafkaSource"
    assert src["topics"] == ["incoming-channel"]
    assert src["poll-timeout"] == "1000 ms"  # unit literal stays a string
    assert src["kafka-properties"]["group.id"] == "cg-atiesh"  # quoted key: literal dot
    assert src["kafka-properties"]["enable.auto.commit"] is True
    assert src["kafka-properties"]["session.timeout.ms"] == 30000
    assert tree["atiesh"]["interceptor"]["records-logger"]["priority"] == 90


def test_parse_hocon_dotted_keys_nest_and_merge():
    tree = parse_hocon(
        """
        a.b = 1
        a { c = 2 }          // object merge with the dotted entry
        a.b = 3              # last wins on scalars
        arr = [1, 2,
               3]            // newline-separated array elements
        s: "colon separator"
        """
    )
    assert tree == {
        "a": {"b": 3, "c": 2},
        "arr": [1, 2, 3],
        "s": "colon separator",
    }


def test_parse_hocon_loud_errors():
    with pytest.raises(ValueError, match="hit end of file"):
        parse_hocon("a { b = 1")
    with pytest.raises(ValueError, match="unterminated string"):
        parse_hocon('a = "oops')
    with pytest.raises(ValueError, match="expected"):
        parse_hocon("a =")


# ---------------------------------------------------------------------------
# Spec loading / layout translation
# ---------------------------------------------------------------------------


def _ref_conf(src_dir, out_dir) -> str:
    # dirwatch -> Transparent interceptor -> parquet, reference layout
    return f"""
    atiesh {{
        source {{
            watcher {{
                fqcn = "atiesh.source.DirectoryWatchSource"
                path = "{src_dir}"
                with_headers = false
                interceptors = ["passthrough"]
                sinks = ["store"]
            }}
        }}
        interceptor {{
            passthrough {{ fqcn = "atiesh.interceptor.Transparent", priority = 90 }}
        }}
        sink {{
            store {{ type = "parquet", path = "{out_dir}" }}
        }}
    }}
    """


def test_load_spec_reference_layout(tmp_path):
    conf = tmp_path / "atiesh.conf"
    conf.write_text(_ref_conf(tmp_path / "in", tmp_path / "out"))
    spec = load_spec(str(conf))
    assert spec["sources"]["watcher"]["type"] == "dirwatch"
    assert "fqcn" not in spec["sources"]["watcher"]
    assert spec["interceptors"]["passthrough"]["type"] == "transparent"
    assert spec["sinks"]["store"]["type"] == "parquet"
    assert spec["pipelines"] == [
        {
            "name": "watcher",
            "source": "watcher",
            "interceptors": ["passthrough"],
            "sinks": ["store"],
        }
    ]


def test_load_spec_native_json(tmp_path):
    native = {
        "sources": {"d": {"type": "devzero"}},
        "sinks": {"x": {"type": "devnull"}},
        "pipelines": [{"source": "d", "sinks": ["x"]}],
    }
    conf = tmp_path / "spec.json"
    conf.write_text(json.dumps(native))
    assert load_spec(str(conf)) == native


def test_load_spec_unknown_fqcn_raises(tmp_path):
    conf = tmp_path / "bad.conf"
    conf.write_text(
        'atiesh { source { s { fqcn = "atiesh.source.Nope", sinks = ["x"] } } '
        'sink { x { fqcn = "atiesh.sink.DevNull" } } }'
    )
    with pytest.raises(ValueError, match="unknown fqcn"):
        load_spec(str(conf))


def test_fqcn_types_are_registered():
    from atiesh_spark.bootstrap import _FQCN_TYPES
    from atiesh_spark.streaming.interceptors import INTERCEPTOR_BUILDERS
    from atiesh_spark.streaming.sinks import SINK_BUILDERS
    from atiesh_spark.streaming.sources import SOURCE_BUILDERS

    registries = {
        "source": SOURCE_BUILDERS,
        "interceptor": INTERCEPTOR_BUILDERS,
        "sink": SINK_BUILDERS,
    }
    for fqcn, ctype in _FQCN_TYPES.items():
        assert ctype in registries[fqcn.split(".")[1]], fqcn


def test_assemble_validates_wiring(spark, tmp_path):
    conf = tmp_path / "atiesh.conf"
    conf.write_text(
        """
        atiesh {
            source { s { fqcn = "atiesh.source.DevZero",
                         interceptors = ["missing"], sinks = ["x"] } }
            sink { x { fqcn = "atiesh.sink.DevNull" } }
        }
        """
    )
    with pytest.raises(ValueError, match="unknown interceptor"):
        assemble(spark, str(conf))


# ---------------------------------------------------------------------------
# End to end: boot the dirwatch -> interceptor -> parquet pipeline from
# a .conf FILE (the verdict's operational-parity gap).
# ---------------------------------------------------------------------------


def test_boot_from_conf_file_end_to_end(spark, tmp_path):
    src = tmp_path / "in"
    out = tmp_path / "out"
    src.mkdir()
    (src / "a.log").write_text("hello\nworld\n")
    conf = tmp_path / "atiesh.conf"
    conf.write_text(_ref_conf(src, out))

    p = boot(spark, str(conf))
    try:
        p.await_all(timeout=60)
    finally:
        p.stop()
    got = sorted(r["value"] for r in spark.read.parquet(str(out)).collect())
    assert got == ["hello", "world"]
