import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run_dir = str(tmp_path_factory.mktemp("perfbench-run"))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    session = run.start_session(run_dir, int(os.environ["SPARK_GRAFT_CPUS"]), trace=False)
    yield session
    run.stop_session(session)
