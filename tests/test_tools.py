"""Every root ``tools_*.py`` script imports cleanly and does nothing at
import: no Spark session, no ``sys.argv`` parsing. The tools are run by
hand, so this is what keeps a broken import from going unnoticed."""

import glob
import importlib.util
import os

import pytest
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = sorted(glob.glob(os.path.join(REPO, "tools_*.py")))


class _UntouchableArgv(list):
    """Stands in for ``sys.argv``: any read of it fails the import."""

    def _refuse(self, *args, **kwargs):
        raise AssertionError("sys.argv read at import")

    __getitem__ = __len__ = __iter__ = __bool__ = _refuse


def test_tools_are_found():
    assert len(TOOLS) >= 5


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports_without_side_effects(path, monkeypatch):
    def no_session(self):
        raise AssertionError("Spark session started at import")

    monkeypatch.syspath_prepend(REPO)
    monkeypatch.setattr("sys.argv", _UntouchableArgv())
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    name = os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(f"_tool_{name}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
