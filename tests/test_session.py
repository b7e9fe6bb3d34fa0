"""session.driver_memory: the default driver heap is sized to the host."""

import io

import pytest

from ocr_spark import session


def _fake_meminfo(monkeypatch, kb: int) -> None:
    monkeypatch.setattr(
        session, "open",
        lambda *a, **k: io.StringIO(f"MemFree: 1 kB\nMemTotal: {kb} kB\n"),
        raising=False,
    )


@pytest.mark.parametrize(
    "mem_gib, heap",
    [(16, "4096m"), (2, "1024m"), (256, "8192m")],
)
def test_default_is_quarter_of_memtotal_clamped(monkeypatch, mem_gib, heap):
    """Unset: MemTotal/4 between 1 and 8 GiB (a 16 GiB host gets 4 GiB,
    never the 64g that let the JVM outgrow the host's RAM)."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_meminfo(monkeypatch, mem_gib * 1024 * 1024)
    assert session.driver_memory() == heap


def test_default_on_this_host_within_bounds(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session.driver_memory()
    assert heap.endswith("m") and 1024 <= int(heap[:-1]) <= 8192


def test_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    _fake_meminfo(monkeypatch, 64 * 1024 * 1024)
    assert session.driver_memory() == "3g"
