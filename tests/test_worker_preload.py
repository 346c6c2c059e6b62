"""Worker preload (preload/sitecustomize.py): on Python < 3.12 a zip
archive's directory is re-read by `importlib.invalidate_caches()` only
when the archive changed on disk; on 3.12+ zipimport is left alone; and
the Spark test session's Python workers run the preload."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

PRELOAD = (
    Path(__file__).resolve().parents[1]
    / "two_tier_document_parser_spark"
    / "preload"
)


def _run(code: str, *args: str) -> str:
    """Run `code` in a fresh interpreter whose PYTHONPATH is only the
    preload dir (so site imports the engine's sitecustomize)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYTHONPATH=str(PRELOAD), TTDP_PRELOAD="1")
    proc = subprocess.run(
        [sys.executable, *args, "-c", textwrap.dedent(code)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.11 zipimport only")
def test_unchanged_zip_is_not_reread(tmp_path):
    out = _run(
        f"""
        import importlib, os, sys, zipfile, zipimport

        path = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("zmod_a.py", "X = 1\\n")
        sys.path.insert(0, path)
        import zmod_a

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        importlib.invalidate_caches()  # first sight of the archive
        reads.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        print("unchanged", len(reads))

        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("zmod_a.py", "X = 1\\n")
            zf.writestr("zmod_b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        print("rewritten", len(reads))
        import zmod_b
        print("imported", zmod_b.Y)
        """
    )
    assert out.split("\n")[:3] == ["unchanged 0", "rewritten 1", "imported 2"]


def test_py312_leaves_zipimport_alone():
    """The gate reads sys.version_info: faking 3.12 before site runs
    the preload must leave the method untouched."""
    out = _run(
        f"""
        import sys
        sys.version_info = (3, 12, 0, "final", 0)
        import zipimport
        before = zipimport.zipimporter.invalidate_caches
        sys.path.insert(0, {str(PRELOAD)!r})
        import sitecustomize
        print(zipimport.zipimporter.invalidate_caches is before)
        """,
        "-S",
    )
    assert out.strip() == "True"


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="3.11 zipimport only")
def test_spark_worker_runs_the_preload(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"mod": [fn.__module__], "name": [fn.__qualname__]}
            )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "mod string, name string")
        .collect()
    )
    assert rows[0]["mod"] == "sitecustomize"
    assert rows[0]["name"].startswith("_stat_gated_invalidate_caches")
