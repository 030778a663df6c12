from __future__ import annotations

import sys
import warnings
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from radares_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("radares-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


# --- warn when the default marker filter empties a named file --------
# pytest.ini's ``-m "not slow"`` applies even to files named on the
# command line, so `pytest tests/test_refresh.py` (a wholly slow
# module) collects nothing and exits green-looking. Record what the
# filter dropped and warn per named file it emptied.

_DESELECTED: list = []


def pytest_deselected(items):
    _DESELECTED.extend(items)


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(session, config, items):
    root = config.invocation_params.dir
    named = {
        (root / arg.split("::", 1)[0]).resolve()
        for arg in config.args
        if (root / arg.split("::", 1)[0]).is_file()
    }
    kept = {item.path.resolve() for item in items}
    dropped = {item.path.resolve() for item in _DESELECTED}
    emptied = sorted((dropped & named) - kept)
    for path in emptied:
        warnings.warn(
            f"{path.name}: every test was deselected by the marker filter "
            f"(-m {config.option.markexpr!r}); add -m slow to run them",
            pytest.PytestWarning,
        )
