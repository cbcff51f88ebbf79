"""The job CLI's dedup modes, run as ``python -m tesserocr_spark`` in a
subprocess (``main()`` stops its session): each written output must equal
the matching ``*_frame`` function run in-process on the same input, and the
printed JSON counts must agree with what was written."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tesserocr_spark.queries import dedup
from tesserocr_spark.queries.registry import release_cache
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

#: CLI mode -> (argv tail, output suffix, the in-process frame it must equal)
MODES = {
    "jaccard": (["--dedup-campaign", "jaccard"], "keep",
                lambda d: dedup.campaign_keep_frame(d, "jaccard")),
    "minhash_lsh": (["--dedup-campaign", "minhash_lsh"], "keep",
                    lambda d: dedup.campaign_keep_frame(d, "minhash_lsh")),
    "sentence": (["--sentence-dedup"], "clean", dedup.sentence_dedup_frame),
    "substring": (["--substring-dedup"], "clean", dedup.substring_dedup_frame),
}

#: one local[3] JVM per mode, so the CLI spreads the two-file input; the
#: C1-only JIT and serial GC halve the start-up of four concurrent JVMs
SUBMIT_ARGS = ("--master local[3] --conf spark.ui.enabled=false "
               "--driver-java-options '-XX:TieredStopAtLevel=1 -XX:+UseSerialGC' "
               "pyspark-shell")


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def cli_runs(spark, tmp_path_factory):
    """A 200-document parquet written as two files, every dedup mode run
    over it concurrently, and meanwhile each mode's ``*_frame`` function
    run in-process on the same input: mode -> (printed report, written
    rows, in-process rows)."""
    root = tmp_path_factory.mktemp("cli_dedup")
    docs_path = str(root / "docs.parquet")
    (spark.read.parquet(f"{SF_DIR}/documents.parquet")
     .filter("doc_id < 200").select("doc_id", "text")
     .repartition(2).write.parquet(docs_path))
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=SUBMIT_ARGS, PYTHONPATH=str(REPO))
    procs = {}
    for mode, (flags, _, _) in MODES.items():
        argv = [sys.executable, "-m", "tesserocr_spark", "--input", docs_path,
                "--output", str(root / mode), *flags]
        with open(root / f"{mode}.stderr", "w") as err:
            procs[mode] = subprocess.Popen(
                argv, cwd=root, env=env, text=True,
                stdout=subprocess.PIPE, stderr=err,
            )
    runs = {}
    try:
        docs = spark.read.parquet(docs_path)
        expected = {mode: _rows(frame(docs)) for mode, (_, _, frame) in MODES.items()}
        for mode, proc in procs.items():
            stdout, _ = proc.communicate(timeout=600)
            assert proc.returncode == 0, (root / f"{mode}.stderr").read_text()[-2000:]
            report = json.loads(
                [ln for ln in stdout.splitlines() if ln.startswith("{")][-1]
            )
            out = str(root / f"{mode}.{MODES[mode][1]}")
            runs[mode] = (report, out, _rows(spark.read.parquet(out)), expected[mode])
    finally:
        release_cache()
        for proc in procs.values():
            if proc.poll() is None:
                proc.kill()
    return runs


@pytest.mark.parametrize("pair_source", ["jaccard", "minhash_lsh"])
def test_cli_dedup_campaign_equals_frame(cli_runs, pair_source):
    report, out, written, expected = cli_runs[pair_source]
    assert written == expected
    assert report == {
        "keep": out,
        "pair_source": pair_source,
        "n_docs": 200,
        "n_kept": len(written),
        "n_dropped": 200 - len(written),
    }


@pytest.mark.parametrize("mode", ["sentence", "substring"])
def test_cli_clean_modes_equal_frame(cli_runs, mode):
    report, out, written, expected = cli_runs[mode]
    assert written == expected
    assert report == {"clean": out, "n_docs": len(written)}
