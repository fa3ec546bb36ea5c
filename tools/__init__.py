"""Audit and measurement tools, run as ``python -m tools.<name>`` from
the repo root (see ``tools/harness.py``)."""
