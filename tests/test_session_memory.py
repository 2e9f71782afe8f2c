"""The driver-heap check in ``build_session``: a pre-touched heap larger
than the host's available memory is named in a warning before the JVM
starts, instead of surfacing later as a killed JVM."""

from __future__ import annotations

import logging

from binlog_es_go_spark import session


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       16000000 kB\nMemFree:        1000 kB\n"
                 f"MemAvailable:   {kb} kB\n")
    return str(p)


def test_heap_bytes_parses_jvm_sizes():
    assert session.heap_bytes("8g") == 8 << 30
    assert session.heap_bytes("2048M") == 2 << 30
    assert session.heap_bytes("512k") == 512 << 10
    assert session.heap_bytes("1073741824") == 1 << 30
    assert session.heap_bytes("lots") is None


def test_warns_when_heap_exceeds_mem_available(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(session, "MEMINFO", _meminfo(tmp_path, 4 * 1024 * 1024))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._warn_if_heap_exceeds_available("8g")
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1 and "SPARK_DRIVER_MEM" in warnings[0].getMessage()

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._warn_if_heap_exceeds_available("2g")
    assert not caplog.records, "a heap that fits is not warned about"


def test_unreadable_meminfo_skips_the_check(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(session, "MEMINFO", str(tmp_path / "missing"))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session._warn_if_heap_exceeds_available("8t")
    assert not caplog.records
