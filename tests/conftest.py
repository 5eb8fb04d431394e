"""Shared test fixtures.

The reference repo (docling-project/docling-core, read-only at
/root/reference) provides ground-truth fixture files under test/data/.  We
read them in place — they are DATA (the spec of what to compute), never code.
Tests touching them are skipped when the reference checkout is absent.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

REF_DATA = Path("/root/reference/test/data")
GT_SKIP_REASON = "reference GT fixtures not available"


def require_ref_data() -> Path:
    """REF_DATA, or skip: usable in a test body and at module level."""
    if not REF_DATA.is_dir():
        pytest.skip(GT_SKIP_REASON, allow_module_level=True)
    return REF_DATA


def load_gt(relpath: str) -> str:
    """Read a ground-truth text file from the reference fixture corpus."""
    return (require_ref_data() / relpath).read_text(encoding="utf-8")


def load_doc_json(relpath: str) -> dict:
    p = require_ref_data() / relpath
    text = p.read_text(encoding="utf-8")
    if relpath.endswith((".yaml", ".yml", ".yaml.gt", ".yml.gt")):
        import yaml

        return yaml.safe_load(text)
    return json.loads(text)


@pytest.fixture(scope="session")
def spark():
    """Local SparkSession shared by all Spark tests."""
    from docling_core_spark.session import get_spark

    s = get_spark(app_name="docling-core-spark-tests", cpus=4, shuffle_partitions=8)
    yield s


def pytest_terminal_summary(terminalreporter):
    """Say how many GT parity tests skipped, so green is not read as parity."""
    skipped = terminalreporter.stats.get("skipped", [])
    n_gt = sum(1 for r in skipped if "reference" in str(r.longrepr))
    terminalreporter.write_line(
        f"GT tests skipped (no reference fixtures): {n_gt} of {len(skipped)} skips"
    )
