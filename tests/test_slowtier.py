"""Guard for tests/conftest.py::SLOWTIER: every key must name a test
that is actually collected. A key that stops matching (a renamed or
removed test) would otherwise go unnoticed, and a renamed slow test
would silently move back into the default tier."""

from __future__ import annotations

from tests.conftest import COLLECTED_KEYS, SLOWTIER


def test_every_slowtier_key_names_a_collected_test(request):
    collected = request.config.stash[COLLECTED_KEYS]
    # only files this run collected can be checked: a run over a subset
    # of tests/ leaves the other files' keys unverifiable
    files = {key.split("::", 1)[0] for key in collected}
    stale = sorted(
        key for key in SLOWTIER
        if key.split("::", 1)[0] in files and key not in collected
    )
    assert not stale, f"SLOWTIER keys naming no collected test: {stale}"
