from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flinkstreametl_spark.session import get_spark
from flinkstreametl_spark.streaming import versioned

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The status store keeps the last `spark.ui.retainedJobs` jobs (1,000 by
# default) and evicts the oldest 100 each time a new job passes that
# count, so a test that reads a job tag's ids before and after a call
# (tests/test_pin.py) would see old ids vanish in between. The test
# session keeps every job: such a read sees only what the call did.
os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.retainedJobs=100000 " + os.environ.get(
    "PYSPARK_SUBMIT_ARGS", "pyspark-shell"
)


def py4j_root_cause(text: str) -> str:
    """From a Java stack trace: the failed task's error, the root
    ``Caused by:`` message and, when that carries a Python worker
    traceback, its last frame and final line — at most 1,000
    characters."""
    lines = text.splitlines()
    task = [line.split("most recent failure: ", 1)[1] for line in lines if "most recent failure: " in line]
    causes = [i for i, line in enumerate(lines) if line.startswith("Caused by:")]
    msg = []
    for line in lines[causes[-1] if causes else 0 :]:
        if line.startswith(("\tat ", "\t... ")):
            break
        msg.append(line)
    frames = [i for i, line in enumerate(msg) if line.lstrip().startswith('File "')]
    root = msg[:1] + [line for line in msg[frames[-1] :] if line.strip()] if frames else msg
    return "\n".join(task[:1] + root)[:1000]


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    """A test that fails with a ``Py4JJavaError`` prints mostly JVM
    frames, and Spark's teardown warnings repeat them after it; the
    Python worker's own error sits deep in the ``Caused by:`` chain.
    Print that root cause as the test's last report section (it rides
    on the teardown report, which pytest prints after the failure), so
    a truncated log tail still shows it."""
    report = (yield).get_result()
    if call.when == "call" and report.failed and call.excinfo is not None:
        from py4j.protocol import Py4JError, Py4JJavaError

        if isinstance(call.excinfo.value, Py4JJavaError):
            try:
                item.py4j_root_cause = py4j_root_cause(str(call.excinfo.value))
            except Py4JError as e:  # the JVM that held the trace is gone
                item.py4j_root_cause = f"(stack trace unavailable: {e!r})"
    elif call.when == "teardown" and hasattr(item, "py4j_root_cause"):
        report.sections.append(("Py4J root cause (after teardown)", item.py4j_root_cause))


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
