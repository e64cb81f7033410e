"""Suite queries leave nothing in TMPDIR once the process exits.

Streaming twins stage sources and ledgers in temp dirs, format round-trips
write their files there, and the package zip shipped to workers is a temp
file. A query returns a lazy DataFrame that still reads those files, so they
can only go at interpreter exit (suite/_twin.workspace, shipping._build_zip).
A child process with TMPDIR pointed at an empty dir runs two twins and one
format query, collects them, and exits; the dir must be empty afterwards.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

CHILD = """
import sys
from movie_genre_data_pipeline_spark.session import build_session
from movie_genre_data_pipeline_spark.suite import all_queries

spark = build_session(app_name="mgdp-temp-residue", master="local[2]",
                      shuffle_partitions=2)
queries = all_queries()
for name in sys.argv[2:]:
    assert queries[name].fn(spark, sys.argv[1]).collect()
"""


def test_queries_leave_no_temp_residue(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    subprocess.run(
        [
            sys.executable,
            "-c",
            CHILD,
            SF_DIR,
            "stream_hll_distinct",
            "stream_foreachbatch_merge",
            "jsonl_roundtrip",
        ],
        cwd=REPO,
        env=env,
        check=True,
        timeout=600,
    )
    assert sorted(os.listdir(tmp_path)) == []
