import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = "/root/reference"
REFERENCE_MODULE = "extendedjsonschema"  # importable from REFERENCE

# scratch dir for mkdtemp fixtures (the round driver cleans it between rounds)
os.makedirs(os.path.join(REPO, ".tmp"), exist_ok=True)

if REPO not in sys.path:
    sys.path.insert(0, REPO)
if REFERENCE not in sys.path:
    sys.path.append(REFERENCE)


@pytest.fixture(scope="session")
def spark():
    from xjs.session import get_spark

    s = get_spark(app_name="xjs-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def job_main():
    """Loader of ``main`` from ``jobs/<name>.py`` (a script, not a
    package module), for running a job in-process."""
    import importlib.util

    def load(name):
        spec = importlib.util.spec_from_file_location(
            f"job_{name}", os.path.join(REPO, "jobs", f"{name}.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.main

    return load


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def pytest_terminal_summary(terminalreporter):
    """A skipped check says so: list what dropped out of the run because
    the reference validator could not be imported."""
    gated = [
        r.nodeid
        for r in terminalreporter.stats.get("skipped", [])
        if REFERENCE_MODULE in str(r.longrepr)
    ]
    if gated:
        terminalreporter.write_sep(
            "-", f"{len(gated)} skipped: reference validator not importable"
            f" ({REFERENCE} absent)"
        )
        for nodeid in gated:
            terminalreporter.write_line(f"  {nodeid}")
