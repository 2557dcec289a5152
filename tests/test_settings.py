"""Environment configuration defaults."""

import importlib
import os
import re

from ftm_columnstore_spark import settings


def test_driver_memory_default_is_a_quarter_of_the_box(monkeypatch):
    """Unset, ``FTMCS_DRIVER_MEMORY`` defaults to a quarter of physical
    memory in MiB, between 1 and 16 GiB; set, it wins as given."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    try:
        monkeypatch.delenv("FTMCS_DRIVER_MEMORY", raising=False)
        importlib.reload(settings)
        m = re.fullmatch(r"(\d+)m", settings.DRIVER_MEMORY)
        assert m, settings.DRIVER_MEMORY
        mb = int(m.group(1))
        assert 1024 <= mb <= 16384
        assert mb == max(1024, min(16384, phys_mb // 4))
        monkeypatch.setenv("FTMCS_DRIVER_MEMORY", "3g")
        importlib.reload(settings)
        assert settings.DRIVER_MEMORY == "3g"
    finally:
        monkeypatch.undo()
        importlib.reload(settings)
