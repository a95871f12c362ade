from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.session import get_spark
from flinkstreametl_spark.streaming import versioned

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("flinkstreametl-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def torn_swap(monkeypatch):
    """``with torn_swap(path): <commit>`` crashes the commit between the
    two renames of its directory swap: ``os.rename`` in the swap module
    raises on the rename onto ``path`` (the swap's second call), after
    the stored version has been moved aside."""

    @contextlib.contextmanager
    def torn(path: str):
        real = versioned.os.rename

        def rename(src, dst):
            if os.fspath(dst) == path:
                raise RuntimeError("crash mid-swap")
            real(src, dst)

        with monkeypatch.context() as m:
            m.setattr(versioned.os, "rename", rename)
            with pytest.raises(RuntimeError, match="crash mid-swap"):
                yield
        assert not os.path.exists(path), "the crash did not fall between the renames"

    return torn


@pytest.fixture
def torn_flip(monkeypatch):
    """``with torn_flip(state_dir): <commit>`` crashes a version commit
    at its ``CURRENT`` flip: ``os.replace`` in the swap module raises on
    the rename onto ``state_dir/CURRENT``, after the new version has
    been written."""

    @contextlib.contextmanager
    def torn(state_dir: str):
        current = os.path.join(state_dir, versioned.CURRENT_FILE)
        real = versioned.os.replace

        def replace(src, dst):
            if os.fspath(dst) == current:
                raise RuntimeError("crash at flip")
            real(src, dst)

        with monkeypatch.context() as m:
            m.setattr(versioned.os, "replace", replace)
            with pytest.raises(RuntimeError, match="crash at flip"):
                yield

    return torn
