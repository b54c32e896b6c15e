"""The --py-files shipping mode: scripts/package.sh builds a zip from
which the crawl plan and the stream import with nothing else of the
package on the path."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_package_zip_imports_the_engine(tmp_path):
    out = tmp_path / "pkg" / "engine.zip"
    subprocess.run(["bash", str(REPO / "scripts" / "package.sh"), str(out)], check=True)
    assert out.is_file()
    probe = (
        "import python_crawler_spark.plans.crawl as c, "
        "python_crawler_spark.streaming.frontier_stream as s; "
        "print(c.__file__); print(s.__file__)"
    )
    # run outside the checkout, so the package can come only from the zip
    got = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env={**os.environ, "PYTHONPATH": str(out)},
        capture_output=True, text=True, check=True,
    ).stdout.split()
    assert got == [
        str(out / "python_crawler_spark" / "plans" / "crawl.py"),
        str(out / "python_crawler_spark" / "streaming" / "frontier_stream.py"),
    ]
