"""Call spies for tests that assert which branch a fit took."""

from __future__ import annotations


def record_calls(monkeypatch, module, name: str, calls: list, tag: str) -> None:
    """Wrap ``module.name`` so each call appends ``tag`` to ``calls``.
    The program resolves these names at call time, so the wrapper sees
    every call."""
    real = getattr(module, name)

    def wrapped(*args, **kwargs):
        calls.append(tag)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapped)
