"""CLI entry points (Migrator.main / Validator.main analog) — run as real
subprocesses so their session lifecycle can't disturb the shared test
session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import yaml

import pytest

# CLI integration: each test boots a fresh interpreter + SparkSession
pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(command: str, config: dict, tmp_path) -> subprocess.CompletedProcess:
    cfg_path = tmp_path / f"{command}.yaml"
    cfg_path.write_text(yaml.safe_dump(config))
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"}
    return subprocess.run(
        [sys.executable, "-m", "scylla_migrator_spark", command, str(cfg_path)],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )


def test_cli_migrate_then_validate_clean(tmp_path):
    target = str(tmp_path / "out")
    config = {
        "source": {"type": "parquet", "path": "/root/testdata/sf0.001/orders.parquet"},
        "target": {"type": "parquet", "path": target},
        "primaryKey": ["o_orderkey"],
    }
    mig = _run("migrate", config, tmp_path)
    assert mig.returncode == 0, mig.stderr[-2000:]
    assert json.loads(mig.stdout.strip().splitlines()[-1])["migrated_rows"] == 1500
    # the rendered config is logged and contains no unredacted secrets
    assert '"config"' in mig.stderr

    val = _run("validate", config, tmp_path)
    assert val.returncode == 0, val.stderr[-2000:]
    report = json.loads(val.stdout.strip().splitlines()[-1])
    assert report["counts_by_kind"] == {}
    assert report["exit_code"] == 0


def test_cli_validate_nonzero_exit_on_diff(tmp_path):
    target = str(tmp_path / "out")
    config = {
        "source": {"type": "parquet", "path": "/root/testdata/sf0.001/orders.parquet"},
        "target": {"type": "parquet", "path": target},
        "primaryKey": ["o_orderkey"],
    }
    # migrate only a subset, then validate against the full source -> missing rows
    subset_cfg = {
        "source": {
            "type": "parquet",
            "path": "/root/testdata/sf0.001/orders.parquet",
            "where": "o_orderkey % 2 = 0",
        },
        "target": {"type": "parquet", "path": target},
        "primaryKey": ["o_orderkey"],
    }
    assert _run("migrate", subset_cfg, tmp_path).returncode == 0
    val = _run("validate", config, tmp_path)
    assert val.returncode == 1
    report = json.loads(val.stdout.strip().splitlines()[-1])
    assert report["counts_by_kind"].get("MissingTargetRow", 0) > 0


def test_cli_usage_error():
    out = subprocess.run(
        [sys.executable, "-m", "scylla_migrator_spark", "frobnicate"],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert out.returncode == 2


def test_cli_migrate_resumable_selected(tmp_path):
    """savepoints.path on a file-based source routes the CLI through the
    resumable chunked loop and leaves a terminal savepoint."""
    config = {
        "source": {"type": "parquet", "path": "/root/testdata/sf0.001/orders.parquet"},
        "target": {"type": "parquet", "path": str(tmp_path / "out")},
        "primaryKey": ["o_orderkey"],
        "savepoints": {"path": str(tmp_path / "sp"), "intervalSeconds": 3600},
    }
    mig = _run("migrate", config, tmp_path)
    assert mig.returncode == 0, mig.stderr[-2000:]
    out = json.loads(mig.stdout.strip().splitlines()[-1])
    assert out["resumable"] is True and out["migrated_rows"] == 1500
    assert any(n.startswith("savepoint_") for n in os.listdir(tmp_path / "sp"))


def test_cli_resumable_migrate_validate_compact_validate(tmp_path):
    """The resumable loop's target (chunk generations named by a commit
    record) validates clean, compacts into one committed generation, and
    validates clean again."""
    target = str(tmp_path / "out")
    config = {
        "source": {"type": "parquet", "path": "/root/testdata/sf0.001/orders.parquet"},
        "target": {"type": "parquet", "path": target},
        "primaryKey": ["o_orderkey"],
        "savepoints": {"path": str(tmp_path / "sp"), "intervalSeconds": 3600},
    }
    mig = _run("migrate", config, tmp_path)
    assert mig.returncode == 0, mig.stderr[-2000:]
    assert json.loads(mig.stdout.strip().splitlines()[-1])["resumable"] is True
    for step in ("validate", "compact", "validate"):
        if step == "compact":
            proc = subprocess.run(
                [sys.executable, "-m", "scylla_migrator_spark", "compact", target, "8"],
                capture_output=True, text=True, timeout=300,
                env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"},
            )
        else:
            proc = _run(step, config, tmp_path)
        assert proc.returncode == 0, (step, proc.stderr[-2000:])
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        if step == "validate":
            assert out["counts_by_kind"] == {}, out
    live = json.loads((tmp_path / "out" / "_live.json").read_text())["live"]
    assert len(live) == 1 and live[0].startswith("g-")


def test_cli_compact(spark, tmp_path):
    """compact subcommand: merges small files, prints JSON stats, exit 0
    (subprocess — the session lifecycle must not disturb the shared one)."""
    path = str(tmp_path / "frag_cli")
    spark.range(0, 2000).repartition(16).write.parquet(path)
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "8"}
    proc = subprocess.run(
        [sys.executable, "-m", "scylla_migrator_spark", "compact", path, "8"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    assert stats["files_before"] >= 16 and stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(path).count() == 2000
    # bad usage exits 2 without starting a session
    from scylla_migrator_spark.__main__ import main

    assert main(["compact"]) == 2
