"""bench.py's named run (per-query layer record, ``--conf``) and
tools/replicate.py's key-shifted fixture writer."""

import importlib.util
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from conftest import ROOT, SF_DIR
from mr_dice_spark.catalog import Catalog

BENCH = os.path.join(ROOT, "bench.py")


def _bench(*args):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS="2")
    return subprocess.run(
        [sys.executable, BENCH, *args], env=env, capture_output=True, text=True, timeout=600
    )


def test_named_run_reports_conf_and_layers():
    proc = _bench("q01_pricing_summary", "--conf", "spark.sql.shuffle.partitions=3")
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert set(out["queries"]) == {"q01_pricing_summary"}
    assert out["conf"] == {"spark.sql.shuffle.partitions": "3"}
    rec = out["layers"]["q01_pricing_summary"]
    assert rec["spark.jobs"] >= 1
    assert rec["spark.tasks"] >= rec["spark.jobs"]
    assert "golden.construct_jobs" in rec


@pytest.mark.parametrize(
    "args", [("--conf", "foo", "q01_pricing_summary"), ("no_such_golden",)]
)
def test_bad_arguments_exit_nonzero(args):
    assert _bench(*args).returncode != 0


def test_replicate_shifts_keys_and_keeps_dimensions_single_copy(
    spark, sf_dir, tmp_path, monkeypatch
):
    spec = importlib.util.spec_from_file_location(
        "replicate", os.path.join(ROOT, "tools", "replicate.py")
    )
    replicate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(replicate)
    monkeypatch.setattr(replicate, "SF_DIR", sf_dir)
    replicate.build_scaled(spark, 2, str(tmp_path))
    src, rep = Catalog(spark, sf_dir), Catalog(spark, str(tmp_path))
    for table, copies in [
        ("lineitem", 2), ("orders", 2), ("events", 2), ("documents", 2),
        ("part", 1), ("supplier", 1), ("nation", 1), ("region", 1),
    ]:
        assert rep.table(table).count() == copies * src.table(table).count(), table

    def orderkeys(cat):
        return cat.lineitem.agg(F.countDistinct("l_orderkey")).first()[0]

    assert orderkeys(rep) == 2 * orderkeys(src)
