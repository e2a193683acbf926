"""Shared fixtures: reference-detector oracle + SparkSession."""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile

import pytest

REFERENCE_PATH = "/root/reference/hidden-characters-detector.py"
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def _load_reference():
    spec = importlib.util.spec_from_file_location("reference_detector",
                                                  REFERENCE_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def refmod():
    if not os.path.exists(REFERENCE_PATH):
        pytest.skip(f"reference detector absent ({REFERENCE_PATH}); the "
                    "kernel cases are replayed from recorded outputs by "
                    "tests/test_kernel_golden.py")
    return _load_reference()


class Oracle:
    """Run the reference ``UnicodeMarkerDetector`` end-to-end on a text.

    Mirrors the in-process library lifecycle (ref web/app.py:247-297): write
    the text to a temp file, scan it, read back the cleaned temp file (or the
    original when unchanged), and surface the per-file counters.
    """

    def __init__(self, refmod):
        self.refmod = refmod

    def run(self, text: str, *, clean=True, check_typographic=True,
            check_ivs=True, exclude_word_chars=False, excluded=frozenset()):
        det = self.refmod.UnicodeMarkerDetector(
            clean_file=clean,
            check_typographic=check_typographic,
            check_ivs=check_ivs,
            exclude_word_chars=exclude_word_chars,
            user_excluded_chars={chr(cp) for cp in excluded},
            report_mode="quiet",
        )
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "doc.txt")
            with open(path, "w", encoding="utf-8", newline="") as f:
                f.write(text)
            stats = det.scan([path])
            result = det._results[path]
            assert result.error is None, result.error
            cleaned_path = det.cleaned_temp_paths().get(path, path)
            with open(cleaned_path, "r", encoding="utf-8", newline="") as f:
                cleaned = f.read()
        return {
            "cleaned": cleaned,
            "tokens_clean": [ord(c) for c in cleaned],
            "n_detected": result.detected_markers,
            "n_processed": result.processed_markers,
            "had_marker": result.had_marker_or_change,
            "stats": stats,
        }


@pytest.fixture(scope="session")
def oracle(refmod):
    return Oracle(refmod)


@pytest.fixture(scope="session")
def spark():
    # keep worker heaps resident so repeated Arrow batches don't re-fault
    # their pages every run (slow on lazily-backed VM memory)
    from hidden_characters_detector_spark.functions.kernel import (
        pin_allocator_env)
    from pyspark.sql import SparkSession

    pin_allocator_env()

    s = (SparkSession.builder.master("local[4]")
         .appName("hcd-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.default.parallelism", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "6g")
         .getOrCreate())
    yield s
    s.stop()


def write_stream_file(spark, rows, path, mtime, schema=None):
    """Write one stream-source *file* for the parquet file source.

    Shared by the streaming and CLI tests: the file source does NOT
    recurse into non-partition subdirs (CLAUDE.md landmine), so the
    part-file is promoted up to ``path``.parquet, and the mtime is pinned
    because the source processes files in modification order.
    """
    import os as _os

    if schema is None:
        from hidden_characters_detector_spark.streaming import pipeline
        schema = pipeline.TOKEN_STREAM_SCHEMA
    df = spark.createDataFrame(rows, schema).coalesce(1)
    tmp = path + "__stage"
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in _os.listdir(tmp)
                if f.endswith(".parquet") and not f.startswith("_"))
    dest = path if path.endswith(".parquet") else path + ".parquet"
    _os.replace(_os.path.join(tmp, part), dest)
    import shutil as _shutil
    _shutil.rmtree(tmp, ignore_errors=True)  # _SUCCESS/.crc leftovers would
    # clutter the stream-source dir (harmless only because the file source
    # ignores subdirs — keep the dir containing only intended *.parquet)
    _os.utime(dest, (mtime, mtime))
