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


def force_fit_path(monkeypatch, path: str) -> None:
    """Send exact fits down ``path`` ("packed" or "melt") by moving the
    width at which ``tree`` switches exact fits to the packed level loop.
    Binned fits take the packed loop whatever the width."""
    from efficient_trees_spark import tree

    width = {"packed": 0, "melt": 1 << 30}[path]
    monkeypatch.setattr(tree, "_AUTO_PACKED_MIN_FEATURES", width)
