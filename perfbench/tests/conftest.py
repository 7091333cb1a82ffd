import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.run import isolate, make_session, stop_spark

    run_dir = tmp_path_factory.mktemp("spark")
    (run_dir / "tmp").mkdir()
    isolate(str(run_dir / "tmp"))
    s = make_session("tests", str(run_dir), None)
    yield s
    stop_spark(s)
