"""bench.py is the registry headline suite only: it takes no options and
every name it times is a registry query. No Spark session is started."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_rejects_options_before_spark_starts():
    """An unknown flag (e.g. the removed ``--scaling``) exits 2 with usage
    instead of starting the multi-minute suite."""
    r = subprocess.run([sys.executable, "bench.py", "--scaling"], cwd=REPO,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 2
    assert "usage: bench.py" in r.stderr


def test_bench_headline_names_are_registry_queries():
    import bench
    from logstash_spark.queries import QUERIES

    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 186
    assert [n for n in bench.HEADLINE if n not in QUERIES] == []
