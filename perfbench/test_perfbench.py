"""Self-test of the benchmark driver at the tiny (sf0.001) scale.

    python3 -m pytest perfbench -q

Checks that every metric is printed by name with its unit, that a
corrupted output row trips the oracle and raises failed_frac, and that the
seed alone determines the generated inputs.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.run import E2E, E2E_INFO, LAYER  # noqa: E402

LINE = re.compile(r"^# (\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def run(*args: str):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--scale", "tiny", "--seconds", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    printed = {m.group(1): (float(m.group(2)), m.group(3), int(m.group(4)))
               for m in map(LINE.match, lines) if m}
    return p.returncode, printed, json.loads(lines[-1]) if lines else None, p.stderr


@pytest.mark.parametrize("workload", ["tile_ingest", "geosparql_mix", "curate_batch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    rc, printed, result, err = run("--workload", workload, "--seed", "1", "--trace", str(trace))
    assert rc == 0, err[-3000:]
    want = LAYER if trace else E2E
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(want)
    for name, unit in want.items():
        assert result["metrics"][name]["unit"] == unit
        assert printed[name][1] == unit
    for name, unit in ({} if trace else E2E_INFO).items():
        assert printed[name][1] == unit
    assert printed["failed_frac"][:2] == (0.0, "ratio")


def test_corrupted_row_trips_oracle():
    rc, printed, result, _ = run("--workload", "tile_ingest", "--seed", "1", "--corrupt", "flagship")
    assert rc != 0
    assert result["correct"] is False
    # the corrupted output is caught on the warm pass and in the last timed cycle
    assert result["failed"] >= 2
    assert printed["failed_frac"][0] == pytest.approx(result["failed"] / result["attempted"], rel=1e-4)


def test_seed_determines_inputs():
    def make(seed):
        inputs.clear(seed, "tiny")
        inputs.ensure(seed, "tiny", "tile_ingest")
        return inputs.fingerprint(inputs.ensure(seed, "tiny", "curate_batch"))

    try:
        first, again, other = make(9001), make(9001), make(9002)
    finally:
        inputs.clear(9001, "tiny")
        inputs.clear(9002, "tiny")
    assert first == again
    assert set(first) == set(other)
    assert all(first[k] != other[k] for k in first)
