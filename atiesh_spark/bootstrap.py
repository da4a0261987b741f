"""File-based pipeline boot: ``atiesh.conf`` -> running pipelines.

The reference boots from a config FILE: ``Atiesh.main`` takes a path,
parses it with Typesafe-Config HOCON (core ``Atiesh.scala:19-47``,
``utils/ConfigParser.scala:16-30``) and hands the tree to
``AtieshServer`` which instantiates named sources/interceptors/sinks
and wires pipelines. The engine's :class:`atiesh_spark.pipeline.
Pipeline` already does the wiring from a spec dict; this module closes
the remaining operational gap — ``assemble(spark, "pipeline.conf")``.

Two on-disk layouts are accepted:

- **native**: the engine's own spec shape, as JSON or HOCON —
  ``{sources: {...}, interceptors: {...}, sinks: {...},
  pipelines: [...]}`` where each component section is
  ``{type: ..., **options}``.
- **reference**: the shape the reference documents in its README — an
  ``atiesh { source {...} interceptor {...} sink {...} }`` tree where
  every *source* block names its ``interceptors`` and ``sinks`` and
  components are selected by ``fqcn``. Translated by
  :func:`_from_reference_layout`: each source block becomes one
  pipeline (the reference has no separate pipeline section — a source
  IS a pipeline head), and known fqcns map to native ``type`` keys.

The HOCON parser below is a deliberate SUBSET (objects, arrays,
``=``/``:`` assignment, ``//``/``#`` comments, dotted and quoted keys,
newline-separated entries, unquoted scalars incl. unit literals like
``1000 ms`` or ``512K``, last-wins with object merge) — enough for
every config in the reference's README and tests, with loud errors
otherwise. JSON files parse on the JSON fast path first, since HOCON
is a superset.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import SparkSession

from atiesh_spark.pipeline import PIPELINE_KEYS, Pipeline

# ---------------------------------------------------------------------------
# HOCON-subset parser
# ---------------------------------------------------------------------------

_PUNCT = set("{}[],=:")
_UNQUOTED_END = _PUNCT | {"\n", '"', "#"}


def _tokenize(text: str) -> list[tuple[str, Any]]:
    """(kind, value) tokens; kind in {punct, newline, string, raw}."""
    toks: list[tuple[str, Any]] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            toks.append(("newline", None))
            i += 1
        elif c in " \t\r":
            i += 1
        elif c == "#" or text[i : i + 2] == "//":
            while i < n and text[i] != "\n":
                i += 1
        elif c in _PUNCT:
            toks.append(("punct", c))
            i += 1
        elif c == '"':
            j = i + 1
            out = []
            while j < n and text[j] != '"':
                if text[j] == "\\" and j + 1 < n:
                    esc = text[j + 1]
                    out.append(
                        {"n": "\n", "t": "\t", "r": "\r"}.get(esc, esc)
                    )
                    j += 2
                else:
                    out.append(text[j])
                    j += 1
            if j >= n:
                raise ValueError(f"unterminated string at offset {i}")
            toks.append(("string", "".join(out)))
            i = j + 1
        else:
            j = i
            while j < n and text[j] not in _UNQUOTED_END and text[j : j + 2] != "//":
                j += 1
            raw = text[i:j].strip()
            if raw:
                toks.append(("raw", raw))
            i = j
    return toks


_NUM = re.compile(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$")


def _scalar(raw: str) -> Any:
    if raw == "true":
        return True
    if raw == "false":
        return False
    if raw in ("null", "none"):
        return None
    if _NUM.match(raw):
        f = float(raw)
        return int(f) if f.is_integer() and "." not in raw and "e" not in raw.lower() else f
    return raw  # unquoted string, incl. unit literals like "1000 ms"


class _Parser:
    def __init__(self, toks: list[tuple[str, Any]]) -> None:
        self.toks = toks
        self.i = 0

    def _peek(self) -> tuple[str, Any] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _skip_newlines(self) -> None:
        while (t := self._peek()) and t[0] == "newline":
            self.i += 1

    def parse_root(self) -> dict[str, Any]:
        self._skip_newlines()
        t = self._peek()
        if t and t == ("punct", "{"):
            obj = self.parse_object()
        else:
            obj = self.parse_object_body(until=None)  # braceless HOCON root
        self._skip_newlines()
        if self._peek() is not None:
            raise ValueError(f"trailing content at token {self.i}: {self._peek()}")
        return obj

    def parse_object(self) -> dict[str, Any]:
        assert self.toks[self.i] == ("punct", "{")
        self.i += 1
        obj = self.parse_object_body(until="}")
        if self._peek() != ("punct", "}"):
            raise ValueError("unclosed '{'")
        self.i += 1
        return obj

    def parse_object_body(self, until: str | None) -> dict[str, Any]:
        obj: dict[str, Any] = {}
        while True:
            self._skip_newlines()
            t = self._peek()
            if t is None:
                if until is None:
                    return obj
                raise ValueError(f"expected '{until}', hit end of file")
            if t == ("punct", until):
                return obj
            if t == ("punct", ","):
                self.i += 1
                continue
            # key: quoted (dots literal) or unquoted (dots nest)
            kind, val = t
            if kind == "string":
                path = [val]
            elif kind == "raw":
                path = val.split(".")
            else:
                raise ValueError(f"expected a key, got {t}")
            self.i += 1
            t = self._peek()
            if t in (("punct", "="), ("punct", ":")):
                self.i += 1
                value = self.parse_value()
            elif t == ("punct", "{"):  # key { ... } without separator
                value = self.parse_object()
            else:
                raise ValueError(f"key {'.'.join(path)!r}: expected '=', ':' or '{{', got {t}")
            self._assign(obj, path, value)

    @staticmethod
    def _assign(obj: dict[str, Any], path: list[str], value: Any) -> None:
        cur = obj
        for p in path[:-1]:
            nxt = cur.get(p)
            if not isinstance(nxt, dict):
                nxt = {}
                cur[p] = nxt
            cur = nxt
        leaf = path[-1]
        if isinstance(value, dict) and isinstance(cur.get(leaf), dict):
            _deep_merge(cur[leaf], value)  # HOCON object merge, last wins
        else:
            cur[leaf] = value

    def parse_value(self) -> Any:
        t = self._peek()
        if t is None:
            raise ValueError("expected a value, hit end of file")
        kind, val = t
        if t == ("punct", "{"):
            return self.parse_object()
        if t == ("punct", "["):
            return self.parse_array()
        if kind == "string":
            self.i += 1
            return val
        if kind == "raw":
            self.i += 1
            return _scalar(val)
        raise ValueError(f"expected a value, got {t}")

    def parse_array(self) -> list[Any]:
        assert self.toks[self.i] == ("punct", "[")
        self.i += 1
        out: list[Any] = []
        while True:
            self._skip_newlines()
            t = self._peek()
            if t is None:
                raise ValueError("unclosed '['")
            if t == ("punct", "]"):
                self.i += 1
                return out
            if t == ("punct", ","):
                self.i += 1
                continue
            out.append(self.parse_value())


def _deep_merge(dst: dict[str, Any], src: dict[str, Any]) -> None:
    for k, v in src.items():
        if isinstance(v, dict) and isinstance(dst.get(k), dict):
            _deep_merge(dst[k], v)
        else:
            dst[k] = v


def parse_hocon(text: str) -> dict[str, Any]:
    """Parse the HOCON subset documented in the module docstring."""
    return _Parser(_tokenize(text)).parse_root()


# ---------------------------------------------------------------------------
# Reference-layout translation
# ---------------------------------------------------------------------------

#: Reference component fqcn -> native ``type`` key. The reference
#: selects implementations reflectively by class name
#: (AtieshServer.scala component boot); the engine selects by the
#: registry key of the equivalent Spark-native builder.
_FQCN_TYPES = {
    # sources (core + semantics modules)
    "atiesh.source.DevZero": "devzero",
    "atiesh.source.KafkaSource": "kafka",
    "atiesh.source.DirectoryWatchSource": "dirwatch",
    "atiesh.source.HttpSource": "http_push",
    # interceptors
    "atiesh.interceptor.Transparent": "transparent",
    "atiesh.interceptor.DevNull": "devnull",
    # sinks
    "atiesh.sink.DevNull": "devnull",
    "atiesh.sink.HttpSink": "http",
    "atiesh.sink.SyslogSink": "syslog",
    "atiesh.sink.AliyunSLSSink": "logservice",
}


def _native_type(cfg: dict[str, Any], section: str, name: str) -> dict[str, Any]:
    out = dict(cfg)
    fqcn = out.pop("fqcn", None)
    if "type" not in out:
        if fqcn is None:
            raise ValueError(f"{section} {name!r}: needs 'type' or 'fqcn'")
        if fqcn not in _FQCN_TYPES:
            raise ValueError(
                f"{section} {name!r}: unknown fqcn {fqcn!r}; known: "
                f"{sorted(_FQCN_TYPES)} (or give a native 'type' directly)"
            )
        out["type"] = _FQCN_TYPES[fqcn]
    return out


def _from_reference_layout(atiesh: dict[str, Any]) -> dict[str, Any]:
    """``atiesh { source/interceptor/sink { name {...} } }`` -> native
    spec. Each source block is one pipeline: the reference wires
    interceptors and sinks per-source (README config; Source.scala
    assembly), there is no separate pipeline section."""
    sources = atiesh.get("source", {}) or {}
    interceptors = atiesh.get("interceptor", {}) or {}
    sinks = atiesh.get("sink", {}) or {}
    if not sources:
        raise ValueError("reference layout: 'atiesh.source' block is empty")
    spec: dict[str, Any] = {
        "sources": {},
        "interceptors": {
            n: _native_type(c, "interceptor", n) for n, c in interceptors.items()
        },
        "sinks": {n: _native_type(c, "sink", n) for n, c in sinks.items()},
        "pipelines": [],
    }
    for name, cfg in sources.items():
        cfg = _native_type(cfg, "source", name)
        pipe: dict[str, Any] = {"name": name, "source": name}
        for k in PIPELINE_KEYS:
            if k in cfg and k not in pipe:
                pipe[k] = cfg.pop(k)
        spec["sources"][name] = cfg
        spec["pipelines"].append(pipe)
    return spec


# ---------------------------------------------------------------------------
# Boot entry points (Atiesh.main equivalents)
# ---------------------------------------------------------------------------


def load_spec(path: str) -> dict[str, Any]:
    """Read a pipeline spec file (JSON or HOCON subset, native or
    reference layout) into the dict shape ``Pipeline`` validates."""
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    try:
        tree = json.loads(text)
    except ValueError:
        tree = parse_hocon(text)
    if not isinstance(tree, dict):
        raise ValueError(f"{path}: top level must be an object, got {type(tree).__name__}")
    if "atiesh" in tree:
        return _from_reference_layout(tree["atiesh"])
    return tree


def assemble(spark: SparkSession, path_or_spec: str | dict[str, Any]) -> Pipeline:
    """``AtieshServer.assemble`` equivalent: validated, NOT started."""
    spec = load_spec(path_or_spec) if isinstance(path_or_spec, str) else path_or_spec
    return Pipeline(spark, spec)


def boot(spark: SparkSession, path: str) -> Pipeline:
    """``Atiesh.main`` equivalent minus the process lifecycle: parse the
    config file, assemble, start every pipeline. Caller owns shutdown
    (``Pipeline.drain_and_stop`` ≅ the reference's shutdown hook)."""
    p = assemble(spark, path)
    p.start()
    return p
