"""Config-plane helpers: spec components bound to their builders, and
HOCON-style duration literals.

The reference's Configuration wrapper exposes typed getters including
durations (Configuration.scala:76-139: getDuration); pipeline specs here
accept the same human-written literals ("30s", "5 minutes") anywhere a
duration is expected. No option takes a byte size, so getBytes has no
counterpart.
"""

from __future__ import annotations

import functools
import inspect
import re
from collections.abc import Callable
from typing import Any

_DURATION_UNITS = {
    "ms": 0.001, "millis": 0.001, "millisecond": 0.001, "milliseconds": 0.001,
    "s": 1.0, "sec": 1.0, "second": 1.0, "seconds": 1.0,
    "m": 60.0, "min": 60.0, "minute": 60.0, "minutes": 60.0,
    "h": 3600.0, "hour": 3600.0, "hours": 3600.0,
    "d": 86400.0, "day": 86400.0, "days": 86400.0,
}

_LITERAL = re.compile(r"^\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]*)\s*$")


def parse_duration_seconds(value: int | float | str) -> float:
    """'30s' / '5 minutes' / '250ms' -> seconds; bare numbers are seconds."""
    if isinstance(value, (int, float)):
        return float(value)
    m = _LITERAL.match(value)
    if not m:
        raise ValueError(f"bad duration literal {value!r}")
    num, unit = m.group(1), m.group(2).lower()
    if unit == "":
        return float(num)
    if unit not in _DURATION_UNITS:
        raise ValueError(f"unknown duration unit {unit!r} in {value!r}")
    return float(num) * _DURATION_UNITS[unit]


#: spec section -> (keys the pipeline keeps back from the builder, number
#: of leading builder arguments the caller supplies: session or frame)
_SECTIONS = {
    "source": (("type",), 1),
    "interceptor": (("type", "priority"), 1),
    "sink": (("type", "accept"), 0),
}


def bind_component(
    section: str, registry: dict[str, Callable[..., Any]], cfg: dict[str, Any]
) -> Callable[..., Any]:
    """Bind one spec component to the builder its ``type`` names: every
    other key the pipeline does not keep back is a keyword argument of
    the builder. An unknown type, unknown option or missing required
    option raises ValueError before anything is built."""
    kept, leading = _SECTIONS[section]
    ctype = cfg.get("type")
    if ctype not in registry:
        raise ValueError(f"unknown {section} type {ctype!r}; known: {sorted(registry)}")
    options = {k: v for k, v in cfg.items() if k not in kept}
    sig = inspect.signature(registry[ctype])
    params = list(sig.parameters.values())[leading:]
    try:
        sig.replace(parameters=params).bind(**options)
    except TypeError as exc:
        raise ValueError(
            f"{section} type {ctype!r}: {exc}; options: {[p.name for p in params]}"
        ) from None
    return functools.partial(registry[ctype], **options)
