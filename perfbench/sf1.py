"""The sf1 input of the ``headline-sf1`` workload: ten key-disjoint copies of
the sf0.1 fixture, built by ``scripts/make_sf1.py`` and cached under the
benchmark's work directory.

A cached copy is reused only if every table holds the row count expected
from the source fixture (ten times the source for keyed tables, the same
for ``region`` and ``nation``) and the source has not changed since the
copy was built; anything else, including a build cut short, is rebuilt.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

COPIES = 10
UNSCALED = ("region", "nation")  # bounded dimensions, copied once
MARKER = "_perfbench_source.json"
SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "make_sf1.py"
)


def script_source() -> str:
    """The fixture ``scripts/make_sf1.py`` copies; it takes no other."""
    spec = importlib.util.spec_from_file_location("make_sf1", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.SRC


def row_count(path: str) -> int:
    """Rows of a parquet file or of a directory of parquet part files."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    else:
        parts = [path]
    return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)


def expected_counts(src: str) -> dict[str, int]:
    from distributed_graph_database_system_spark.sources.catalog import TABLES

    return {
        t: row_count(os.path.join(src, f"{t}.parquet")) * (1 if t in UNSCALED else COPIES)
        for t in TABLES
    }


def is_valid(out: str, src: str) -> bool:
    from perfbench.checks import fixture_fingerprint

    try:
        with open(os.path.join(out, MARKER)) as fh:
            marker = json.load(fh)
        if marker["source"] != fixture_fingerprint(src):
            return False
        want = expected_counts(src)
        return all(row_count(os.path.join(out, f"{t}.parquet")) == n for t, n in want.items())
    except (OSError, ValueError, KeyError):
        return False


def ensure(src: str, work: str) -> str:
    """Path of a valid sf1 copy of ``src`` under ``work``, building it
    first if needed. The build time is printed to standard error. Refuses
    a ``src`` other than the one ``scripts/make_sf1.py`` reads."""
    from perfbench.checks import fixture_fingerprint

    made_from = script_source()
    if os.path.realpath(src) != os.path.realpath(made_from):
        raise RuntimeError(
            f"the sf1 copy is made from {made_from} by {SCRIPT}, not from {src}"
        )
    out = os.path.join(work, "sf1")
    if is_valid(out, src):
        return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, SCRIPT, out, str(COPIES)], check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(out, MARKER), "w") as fh:
        json.dump({"source": fixture_fingerprint(src)}, fh)
    if not is_valid(out, src):
        raise RuntimeError(f"sf1 build at {out} does not hold the expected row counts")
    print(f"perfbench: built sf1 in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return out
