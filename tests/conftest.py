import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from logstash_spark.session import get_spark

    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def grok_engine():
    """``with grok_engine("expr"):`` builds every grok pattern on Java
    regex, ``grok_engine("arrow")`` on RE2, by faking grok's RE2 check:
    the engine-agreement tests pin both engines to each other on the
    patterns both can run."""

    @contextlib.contextmanager
    def force(engine: str):
        from logstash_spark.operators import grok

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(grok, "re2_compiles", lambda cg: engine == "arrow")
            yield

    return force
