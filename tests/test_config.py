"""EngineConfig hygiene: every knob must be read by the package."""

import dataclasses
import pathlib
import re

from nvimagecodec_spark.config import EngineConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "nvimagecodec_spark"


def test_every_engine_config_field_is_read():
    """A field that no code reads as ``config.<name>`` is a dead knob: the
    caller sets it and nothing changes."""
    source = "\n".join(
        p.read_text() for p in PKG.rglob("*.py") if p.name != "config.py"
    )
    unread = [
        f.name
        for f in dataclasses.fields(EngineConfig)
        if not re.search(rf"\bconfig\.{f.name}\b", source)
    ]
    assert unread == [], f"EngineConfig fields never read: {unread}"
