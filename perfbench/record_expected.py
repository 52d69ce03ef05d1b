#!/usr/bin/env python3
"""Record reference digests for headline queries whose registered oracle is
pinned to one scale factor (``QuerySpec.oracle_sf``), so the benchmark can
check them at other scale factors.

    python3 perfbench/record_expected.py <sf_dir> [<sf_dir> ...]

Before recording, each such query is run at its pinned scale factor (the
sibling directory ``sf<oracle_sf>``) and must match its oracle there; only
then are its results on the given fixtures written to
``perfbench/expected.json``.
"""

from __future__ import annotations

import json
import os
import sys

from run import ROOT, pin_environment, shutdown_jvm


def main(sf_dirs: list[str]) -> int:
    pin_environment(len(os.sched_getaffinity(0)))
    from bench import HEADLINE
    from distributed_graph_database_system_spark.queries.registry import all_queries
    from distributed_graph_database_system_spark.session import get_spark
    from perfbench import checks
    from perfbench.workloads import EXPECTED_PATH

    registry = all_queries()
    pinned = [n for n in HEADLINE if registry[n].oracle_sf]
    spark = get_spark(app_name="perfbench-record", extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        expected = {}
        if os.path.exists(EXPECTED_PATH):
            with open(EXPECTED_PATH) as fh:
                expected = json.load(fh)
        for name in pinned:
            spec = registry[name]
            home = os.path.join(os.path.dirname(sf_dirs[0].rstrip("/")), f"sf{spec.oracle_sf}")
            oracles = checks.OracleCache(home, os.path.join(ROOT, "perfbench", ".work", "oracle"))
            want = oracles.expected(name, spec.oracle)
            oracles.close()
            got = checks.digest(spec.fn(spark, home).toPandas())
            if got != want:
                print(f"{name}: {got} != pinned oracle {want} at {home}; not recording", file=sys.stderr)
                return 1
            print(f"{name}: matches its pinned oracle at {home}")
            for sf_dir in sf_dirs:
                tag = os.path.basename(sf_dir.rstrip("/"))
                expected.setdefault(tag, {})[name] = checks.digest(spec.fn(spark, sf_dir).toPandas())
                print(f"{name}: recorded {expected[tag][name]} for {tag}")
        with open(EXPECTED_PATH, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    finally:
        spark.stop()
        shutdown_jvm()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
