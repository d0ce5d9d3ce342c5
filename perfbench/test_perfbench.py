"""Tests of the benchmark itself (not part of the project's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The output checker is tested without Spark; one test runs a real
migration with a corrupted collection and requires the failure to show
as ``error_rate > 0`` and ``correct: false``.
"""

from __future__ import annotations

import argparse
import pathlib
import shutil
import subprocess
import sys
from collections import Counter
from dataclasses import dataclass

import pytest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen_dump  # noqa: E402


@dataclass
class FakeTable:
    table: str
    rows_written: int
    rows_skipped: int
    error: str | None = None


@dataclass
class FakeReport:
    tables: list


def _render(series: str, ts: int, fields) -> str:
    """Line protocol as the Influx sink writes it."""
    out = []
    for key, (kind, val) in fields:
        if kind == "i":
            out.append(f"{key}={val}i")
        elif kind == "f":
            out.append(f"{key}={val!r}")
        else:
            esc = val.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
            out.append(f'{key}="{esc}"')
    return f"{series} {','.join(out)} {ts}"


@pytest.fixture(scope="module")
def small_dump(tmp_path_factory):
    out = tmp_path_factory.mktemp("dump") / "dump"
    return out, gen_dump.generate(5, out)


def test_generator_is_seeded(tmp_path, small_dump):
    _, exp = small_dump
    again = gen_dump.generate(5, tmp_path / "dump")
    assert again["points"] == exp["points"]
    other = gen_dump.generate(6, tmp_path / "other")
    assert other["points"] != exp["points"]
    assert sum(exp["points"].values()) == sum(exp["docs"].values()) - sum(
        exp["no_date"].values()
    )
    for coll, n in exp["docs"].items():
        assert 0 < exp["no_date"][coll] < n


def test_parse_line_round_trips_escapes():
    fields = (
        ("count", ("i", 1 << 45)),
        ("meta", ("s", '{"site": "dock \\"7\\"", "x": "a\\\\b"}')),
        ("note", ("s", 'line one\nline two, "q" \\n')),
        ("value", ("f", -1.5e-05)),
    )
    line = _render("readings", 1_700_000_000_000_000_000, fields)
    assert checks.parse_line(line) == ("readings", 1_700_000_000_000_000_000, fields)


def _good(exp):
    report = FakeReport([
        FakeTable(t, n - exp["no_date"][t], exp["no_date"][t])
        for t, n in exp["docs"].items()
    ])
    lines = Counter({_render(*k): n for k, n in exp["points"].items()})
    return report, lines


def test_check_migration_accepts_expected_output(small_dump):
    _, exp = small_dump
    report, lines = _good(exp)
    assert checks.check_migration(report, exp, checks.parse_points(lines)) == {}


def test_check_migration_flags_each_failure_per_table(small_dump):
    _, exp = small_dump
    report, lines = _good(exp)
    report.tables[0].rows_skipped += 1
    report.tables[1].error = "boom"
    report.tables.append(FakeTable(exp["system_collection"], 3, 0))
    victim = next(line for line in lines if line.startswith("devices "))
    lines[victim.replace("level=", "level=1", 1)] = lines.pop(victim)
    problems = checks.check_migration(report, exp, checks.parse_points(lines))
    assert set(problems) == {"readings", "alerts", "devices", exp["system_collection"]}


def test_no_result_without_the_library(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        shutil.copy(f, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migrate_mongo_influx",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_induced_failure_gives_error_rate(tmp_path):
    """A collection the source cannot read fails its table inside
    Engine.migrate (isolated, silent with logging off); the benchmark must
    count it, never report the run as correct."""
    import run as bench

    args = argparse.Namespace(
        workload="migrate_mongo_influx", seed=3, seconds=0.0, trace=0
    )
    bench.prepare_env(tmp_path)
    run = bench.Run(args, tmp_path)
    try:
        run.generate()
        with open(run.dump / "devices" / "part-001.json", "a") as fh:
            fh.write("{not json\n")
        run.setup()
        run.measure()
        result = run.result(setup_s=1.0)
    finally:
        run.close()
    assert result["attempted"] >= 3
    assert result["failed"] / result["attempted"] > 0
    assert result["correct"] is False
    assert all(name == "devices" for _, name in run.failed)
