"""The benchmark's own tests: names, input determinism, failure counting.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, REPO)

import run  # noqa: E402
import tapegen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workload_and_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_metrics()


def test_benchmark_json_keeps_to_its_format():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"])
        assert m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert len(names) == len(set(names))
    assert len(spec["per_layer"]) <= 128
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_result_line_carries_exactly_the_emitted_metrics():
    outcome = run.Outcome()
    outcome.record(True, "query q")
    metrics = {k: (1.5, u) for k, u in run.END_TO_END.items()}
    line = json.loads(run.result_line(outcome, metrics))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}
    assert line["correct"] is True and line["attempted"] == 1


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_tape(tmp_path):
    a = tapegen.write_tape(str(tmp_path / "a"), seed=11, rounds=200, files=4)
    b = tapegen.write_tape(str(tmp_path / "b"), seed=11, rounds=200, files=4)
    c = tapegen.write_tape(str(tmp_path / "c"), seed=12, rounds=200, files=4)
    assert a == b == {"prices": 800, "trades": 100}
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))


def test_tape_files_are_time_ordered_with_distinct_stamps(tmp_path):
    tapegen.write_tape(str(tmp_path), seed=3, rounds=120, files=3)
    for topic in ("prices", "trades"):
        names = sorted(os.listdir(tmp_path / topic))
        mtimes = [os.stat(tmp_path / topic / n).st_mtime for n in names]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(names)
        stamps = []
        for n in names:
            with open(tmp_path / topic / n) as fh:
                stamps += [json.loads(line)["ts"] for line in fh]
        assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)


def test_same_seed_gives_identical_tables(tmp_path):
    tapegen.write_tables(str(tmp_path / "a"), seed=5, n_events=300, n_docs=40)
    tapegen.write_tables(str(tmp_path / "b"), seed=5, n_events=300, n_docs=40)
    for table in ("events", "documents"):
        a = pd.read_parquet(tmp_path / "a" / f"{table}.parquet")
        b = pd.read_parquet(tmp_path / "b" / f"{table}.parquet")
        pd.testing.assert_frame_equal(a, b)


def test_planted_wrong_row_makes_failed_share_positive():
    want = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
                         "hub": ["PJM-WEST", "CAISO-NP15"],
                         "total_pnl": [1.25, -3.5]})
    outcome = run.Outcome()
    outcome.check_frames("positions_pnl", want.iloc[::-1].copy(), want)
    assert outcome.failed == 0 and outcome.failed_share == 0

    planted = want.copy()
    planted.loc[1, "total_pnl"] = -3.25
    outcome.check_frames("positions_pnl", planted, want)
    assert outcome.failed == 1 and outcome.failed_share > 0
    line = json.loads(run.result_line(outcome, {}))
    assert line["correct"] is False and line["failed"] == 1
