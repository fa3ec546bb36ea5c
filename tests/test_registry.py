"""Registry load contract (r12 verdict "what's wrong" #2).

The registry's ``_load_all`` used to wrap the extension/streaming
module imports in ``except ImportError: pass`` — a real import failure
would silently deregister ~130 queries with no loud signal.  These
tests pin the fixed contract: a poisoned module import fails the WHOLE
registry load, loudly.

Subprocess-based (no Spark session needed): poisoning is simulated by
pre-seeding ``sys.modules`` with ``None`` for one query module, which
makes ``import`` raise ImportError exactly as a broken module would.
"""

import subprocess
import sys

_POISON = (
    "import sys; "
    "sys.modules['bigdata_20251_steam_spark.plans.{mod}'] = None; "
    "import bigdata_20251_steam_spark.plans.registry"
)


def _run(code: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )


def test_poisoned_extension_module_fails_registry_load():
    res = _run(_POISON.format(mod="extension_queries"))
    assert res.returncode != 0
    assert "ImportError" in res.stderr or "ModuleNotFoundError" in res.stderr


def test_poisoned_streaming_module_fails_registry_load():
    res = _run(_POISON.format(mod="streaming_queries"))
    assert res.returncode != 0
    assert "ImportError" in res.stderr or "ModuleNotFoundError" in res.stderr


def test_clean_registry_load_registers_everything():
    """Control: the unpoisoned load succeeds and the registry holds the
    full query surface (>= 147 as of r12 — a lower bound, not an exact
    pin, so adding queries never breaks this test)."""
    res = _run(
        "from bigdata_20251_steam_spark.plans.registry import QUERIES; "
        "assert len(QUERIES) >= 147, len(QUERIES); print(len(QUERIES))"
    )
    assert res.returncode == 0, res.stderr
    assert int(res.stdout.strip()) >= 147
