"""EngineConfig validation: a mistyped backend or a trap cap that can
never schedule a row fails at construction, not mid-crawl."""

from __future__ import annotations

import pytest

from ironspark.config import EngineConfig


@pytest.mark.parametrize(
    "kwargs",
    [
        {"seen_backend": "blom"},
        {"seen_backend": ""},
        {"trap_template_cap": 0},
        {"trap_template_cap": -3},
    ],
    ids=["backend-typo", "backend-empty", "trap-cap-0", "trap-cap-negative"],
)
def test_engine_config_rejects(kwargs):
    with pytest.raises(ValueError, match=next(iter(kwargs))):
        EngineConfig(**kwargs)

